"""Byte-identical extraction invariant (north rule / FIXTURES.md §1) and
generator determinism."""

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import given, settings, strategies as st

from sketchlib.data.extract import extract_one, extract_series
from sketchlib.data.gen_pages import gen_chunk, write_pages


def test_extract_rule_fixed_points():
    html = b"<html><head><title>T1</title><script>var x=1;</script>" \
           b"<style>.a{}</style></head><body><p>hello  world</p><p>two</p></body></html>"
    assert extract_one(html) == "T1 hello world two"
    # vectorized path identical to scalar path
    assert extract_series(pd.Series([html]))[0] == "T1 hello world two"


def test_extract_edge_cases():
    assert extract_one(b"") == ""
    assert extract_one(b"no tags at all") == "no tags at all"
    assert extract_one(b"<p>a</p \t\n ><p>b</p>") == "a b"  # malformed tail tag
    # script spans with embedded tags are fully removed
    assert extract_one(b"<script>if (a<b) { x(); }</script>rest") == "rest"
    # case-insensitive script/style
    assert extract_one(b"<SCRIPT>x</SCRIPT><STYLE>y</STYLE>z") == "z"


def test_generator_deterministic_and_chunk_invariant():
    a = gen_chunk(0, 500)
    b = gen_chunk(0, 500)
    pd.testing.assert_frame_equal(a, b)
    # chunking by absolute row id: rows [100,200) equal regardless of chunking
    c = gen_chunk(100, 100)
    assert c["url"].iloc[0].endswith("000100")


def test_generated_text_matches_extraction():
    pdf = gen_chunk(0, 2000)
    extracted = extract_series(pdf["html"])
    assert (extracted == pdf["text"]).all()
    # skew properties: en is the hot language, hosts are Zipf
    frac_en = (pdf["lang"] == "en").mean()
    assert 0.45 < frac_en < 0.65
    hosts = pdf["url"].str.extract(r"site(\d+)")[0].astype(int)
    assert (hosts == hosts.mode()[0]).sum() > 100  # hot host exists


@pytest.mark.spark
def test_spark_extraction_byte_identical(spark, tmp_path):
    path = os.path.join(tmp_path, "pages.parquet")
    write_pages(path, 5000)
    from pyspark.sql import functions as F

    from sketchlib.spark.extract_ops import with_extracted_text

    df = spark.read.parquet(path)
    out = with_extracted_text(df)
    n_total = out.count()
    n_match = out.where(F.col("text_extracted") == F.col("text")).count()
    assert n_total == 5000
    assert n_match == n_total  # byte-identical per url
    # quantile pipeline over extracted length == over stored n_chars
    from sketchlib.spark.tdigest_ops import tdigest_aggregate

    a = tdigest_aggregate(
        out.select("lang", F.length("text_extracted").alias("L")), ["lang"], "L", delta=0.0
    ).collect()
    b = tdigest_aggregate(
        df.select("lang", F.length("text").alias("L")), ["lang"], "L", delta=0.0
    ).collect()
    assert {r["lang"]: bytes(r["digest"]) for r in a} == {
        r["lang"]: bytes(r["digest"]) for r in b
    }


def test_extract_len_path_identical():
    """The length-only projection pushdown (bytes fast path, VERDICT r03 #3)
    must agree with len(extract_one(...)) everywhere — including its
    fallback triggers (non-ASCII, \\x1c-\\x1f controls, unclosed
    script/style, malformed tags)."""
    import random

    from sketchlib.data.extract import extract_len_one, extract_len_series

    pdf = gen_chunk(0, 3000)
    got = extract_len_series(pdf["html"])
    want = pdf["text"].str.len().to_numpy(dtype="float64")
    assert (got == want).all()

    random.seed(11)
    frag = ["<script>", "</script>", "<style>", "</style>", "<p>", "</p>",
            "<", ">", "wörd", "word", " ", "\t", "\n", "\x1c", "\x1d",
            "\x85", "\xa0", "<SCRIPT>x</SCRIPT>", "a<b", "c>d",
            "<script>no close", "x</script>", ""]
    for _ in range(500):
        d = "".join(random.choices(frag, k=random.randint(0, 10))).encode("utf-8")
        assert extract_len_one(d) == len(extract_one(d)), repr(d)


# HTML fragments that stress every branch of the token-free length count:
# all six bytes.split() whitespace bytes (\x0b and \x0c included), tags next
# to whitespace, unclosed "<" / "<script", mixed-case, nested and
# interleaved spans (the script pass must run before the style pass), the
# \x1c-\x1f controls str.split() also splits on, and non-ASCII (\x85 and
# \xa0 are Unicode whitespace, "ö" and "€" are not)
_FRAGMENTS = [
    " ", "\t", "\n", "\r", "\x0b", "\x0c", "  \t\n ", "a", "word", "x y",
    "<p>", "</p>", " <p> ", "<br/>", "<", ">", "a<b", "c>d", "<p \t\n>",
    "<script>", "</script>", "<script>no close", "<ScRiPt>v=1</sCrIpT>",
    "<STYLE>.a{}</STYLE>", "<style>", "</style>",
    "<script><style>x</style>y</script>", "<style><script>z</script></style>",
    "<script>a<style>b</script>c</style>",
    "\x1c", "\x1d", "\x1e", "\x1f", "\x85", "\xa0", "ö", "€",
]


@settings(max_examples=300, deadline=None)
@given(st.lists(st.sampled_from(_FRAGMENTS), max_size=14))
def test_extract_len_one_matches_extract_one(parts):
    from sketchlib.data.extract import extract_len_one

    d = "".join(parts).encode("utf-8")
    assert extract_len_one(d) == len(extract_one(d))


@settings(max_examples=50, deadline=None)
@given(st.lists(st.lists(st.sampled_from(_FRAGMENTS), max_size=10), max_size=8))
def test_extract_len_series_accepts_bytes_bytearray_str(docs):
    from sketchlib.data.extract import extract_len_one, extract_len_series

    strs = ["".join(p) for p in docs]
    raw = [s.encode("utf-8") for s in strs]
    want = np.array([extract_len_one(b) for b in raw], dtype=np.float64)
    for col in (raw, [bytearray(b) for b in raw], strs):
        got = extract_len_series(pd.Series(col, dtype=object))
        assert got.dtype == np.float64
        np.testing.assert_array_equal(got, want)


#: the Arrow html types ``extract_len_series`` reads from the buffers
_ARROW_HTML = [pa.binary(), pa.large_binary(), pa.string(), pa.large_string()]


def _arrow_html(rows, typ):
    """``rows`` (str or None) as an Arrow array of ``typ``."""
    if pa.types.is_binary(typ) or pa.types.is_large_binary(typ):
        rows = [None if r is None else r.encode("utf-8") for r in rows]
    return pa.array(rows, type=typ)


@settings(max_examples=150, deadline=None)
@given(st.lists(st.none() | st.lists(st.sampled_from(_FRAGMENTS), max_size=10), max_size=12),
       st.sampled_from(_ARROW_HTML), st.integers(0, 12))
def test_extract_len_series_arrow_matches_list(docs, typ, cut):
    """The Arrow path (one copy of the data buffer, one batch-wide ASCII
    check) equals the list path row for row: every html type, NULL and
    empty rows, a sliced array (non-zero offset) and a ChunkedArray."""
    from sketchlib.data.extract import extract_len_series

    rows = [None if d is None else "".join(d) for d in docs]
    raw = [None if r is None else r.encode("utf-8") for r in rows]
    want = extract_len_series(raw)  # a NULL page is NaN, never len("None")
    np.testing.assert_array_equal(
        want, [np.nan if r is None else len(extract_one(r)) for r in raw])
    np.testing.assert_array_equal(extract_len_series(pd.Series(raw, dtype=object)), want)
    arr = _arrow_html(rows, typ)
    cut = min(cut, len(rows))
    for got, exp in ((arr, want), (arr.slice(cut), want[cut:]),
                     (arr.slice(cut, 2), want[cut:cut + 2]),
                     (pa.chunked_array([arr.slice(0, cut), arr.slice(cut)], type=typ), want),
                     (pa.chunked_array([], type=typ), want[:0])):
        lens = extract_len_series(got)
        assert lens.dtype == np.float64
        np.testing.assert_array_equal(lens, exp)


@pytest.mark.parametrize("typ", _ARROW_HTML, ids=str)
def test_extract_len_series_arrow_mixed_batch(typ):
    """One non-ASCII row and one \\x1c row among clean ones send the whole
    batch down the guarded per-row path; each of those rows counts
    differently on the bytes fast path, so a batch check that missed them
    would show here."""
    from sketchlib.data.extract import _ascii_len, extract_len_series

    rows = ["<p>one two</p>", None, "", "a\xa0\xa0b <p>x</p>", "<script>s</script>c",
            "a\x1c\x1cb", "  tail  "]
    want = [np.nan if r is None else len(extract_one(r.encode("utf-8"))) for r in rows]
    for r in ("a\xa0\xa0b <p>x</p>", "a\x1c\x1cb"):  # the bytes path would miscount them
        assert _ascii_len(r.encode("utf-8")) != len(extract_one(r.encode("utf-8")))
    arr = _arrow_html(rows, typ)
    np.testing.assert_array_equal(extract_len_series(arr), want)
    np.testing.assert_array_equal(extract_len_series(arr.slice(3)), want[3:])
    with pytest.raises(TypeError):
        extract_len_series(pa.array([1, 2]))


def test_kernel_and_extraction_import_no_pandas():
    """Importing the kernel and the extraction module (what a fused
    digest-build worker unpickles), the t-digest operators and the SQL
    surface loads no pandas."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = ("import sys; sys.path.insert(0, sys.argv[1]); "
            "import sketchlib.spark.sketch_ops, sketchlib.data.extract, sketchlib.spark, "
            "sketchlib.spark.tdigest_ops, sketchlib.spark.sql; "
            "assert 'pandas' not in sys.modules")
    out = subprocess.run([sys.executable, "-c", code, repo], capture_output=True, text=True)
    assert out.returncode == 0, out.stderr[-2000:]


@pytest.mark.spark
def test_fused_extract_len_never_ingests_null_html(spark):
    """A ``value_fn`` digest over html with NULL pages counts only the
    non-NULL pages, and equals the digest of their stored text lengths."""
    from pyspark.sql import functions as F

    from sketchlib.data.extract import extract_len_series
    from sketchlib.spark.tdigest_ops import tdigest_aggregate, tdigest_merge, tdigest_partials
    from sketchlib.tdigest.core import MergingDigest

    pdf = gen_chunk(0, 400)[["lang", "html", "text"]]
    pdf.loc[pdf.index % 7 == 0, "html"] = None
    df = spark.createDataFrame(pdf).repartition(3)
    got = tdigest_merge(
        tdigest_partials(df, ["lang"], None, delta=0.0,
                         value_fn=lambda b: extract_len_series(b["html"]), input_cols=["html"]),
        ["lang"], delta=0.0).collect()
    want = tdigest_aggregate(df.where(F.col("html").isNotNull())
                             .select("lang", F.length("text").alias("L")),
                             ["lang"], "L", delta=0.0).collect()
    pages = pdf[pdf["html"].notna()].groupby("lang").size().to_dict()
    got = {r["lang"]: bytes(r["digest"]) for r in got}
    assert {k: MergingDigest.deserialize(b).count for k, b in got.items()} == pages
    assert got == {r["lang"]: bytes(r["digest"]) for r in want}
