"""The two-phase sketch kernel: every registered family built four ways —
``sketch_aggregate``, a one-spec ``profile_aggregate``, a salted
``tree_merge`` (fanin=2) and ``TDigestCheckpointer.run`` + ``finalize`` —
over a frame with NULL values and a NULL key.  The order-insensitive
families must agree byte-for-byte on every key (the NULL key included);
KLL and Misra-Gries, whose merges depend on arrival order, must agree on
the ingested total, which must equal the exact non-NULL count."""

import numpy as np
import pytest

from sketchlib.aggregator import Aggregator
from sketchlib.cms import CMS
from sketchlib.ddsketch import DDSketch
from sketchlib.hashing import xxh64_long
from sketchlib.hll import HLL
from sketchlib.kll import KLL
from sketchlib.kmv import KMV
from sketchlib.mg import MisraGries
from sketchlib.tdigest.core import MergingDigest

N = 200

#: (kind, value column, params); s is a nullable string, x a nullable double
FAMILIES = [
    ("tdigest", "x", {"delta": 0.0}),
    ("tdigest", "x", {"discrete": True}),
    ("hll", "s", {"p": 10}),
    ("cms", "s", {"width": 64, "depth": 3}),
    ("bloom", "s", {"expected_n": 100}),
    ("kmv", "s", {"k": 64}),
    ("dd", "x", {"alpha": 0.01}),
    ("kll", "x", {"k": 16}),
    ("mg", "s", {"m": 8}),
]
ORDER_SENSITIVE = {"kll", "mg"}


def _total(kind, blob):
    """Ingested value count of one sketch (None where the family has none)."""
    if kind == "tdigest":
        return MergingDigest.deserialize(blob).count
    if kind == "cms":
        return CMS.deserialize(blob).total
    if kind == "kmv":  # exact below k: the distinct non-NULL count
        return KMV.deserialize(blob).estimate()
    cls = {"dd": DDSketch, "kll": KLL, "mg": MisraGries}.get(kind)
    return None if cls is None else cls.deserialize(blob).n


@pytest.fixture(scope="module")
def frame(spark):
    rows = [
        (i,
         None if i % 3 == 0 else ("a" if i % 3 == 1 else "b"),
         None if i % 7 == 0 else f"v{i % 23}",
         None if i % 5 == 0 else float((i * 37) % 101))
        for i in range(N)
    ]
    return spark.createDataFrame(rows, "id long, g string, s string, x double").repartition(8)


def _exact(frame, kind, col):
    out = {}
    for r in frame.collect():
        v = r[col]
        if v is not None:
            out.setdefault(r["g"], []).append(v)
    if kind == "kmv":
        return {g: float(len(set(vs))) for g, vs in out.items()}
    return {g: float(len(vs)) for g, vs in out.items()}


@pytest.mark.parametrize("kind,col,params", FAMILIES,
                         ids=[f"{k}-{'-'.join(map(str, p))}" for k, _, p in FAMILIES])
def test_four_paths_agree_with_nulls(spark, frame, tmp_path, kind, col, params):
    from sketchlib.spark.checkpoint import TDigestCheckpointer
    from sketchlib.spark.plan import tree_merge_sketch
    from sketchlib.spark.sketch_ops import profile_aggregate, sketch_aggregate, sketch_partials

    direct = {r["g"]: bytes(r["sketch"])
              for r in sketch_aggregate(frame, ["g"], col, kind, params).collect()}
    spec = [{"name": "one", "col": col, "kind": kind, "params": params}]
    profiled = {r["g"]: bytes(r["sketch"])
                for r in profile_aggregate(frame, ["g"], spec).collect()}
    tree = {r["g"]: bytes(r["sketch"]) for r in tree_merge_sketch(
        sketch_partials(frame, ["g"], col, kind, params), ["g"], kind, params,
        fanin=2).collect()}
    kw = (dict(delta=params.get("delta", 0.01), discrete=params.get("discrete", False))
          if kind == "tdigest" else dict(params=params))
    ck = TDigestCheckpointer(spark, str(tmp_path / "ck"), ["g"], col, "id",
                             n_parts=4, sketch=kind, **kw)
    assert ck.run(frame) == 4
    ckpt = {r["key"]: bytes(r["digest"]) for r in ck.finalize().collect()}

    assert set(direct) == {None, "a", "b"}
    paths = {"profile": profiled, "tree": tree, "checkpoint": ckpt}
    exact = _exact(frame, kind, col)
    for g, blob in direct.items():
        want = _total(kind, blob)
        if want is not None:
            assert want == exact[g], (g, want, exact[g])
        for name, got in paths.items():
            if g not in got:
                continue  # a lost key fails below, after every value check
            if kind in ORDER_SENSITIVE:
                assert _total(kind, got[g]) == want, (name, g)
            else:
                assert got[g] == blob, (name, g)
    for name, got in paths.items():
        assert set(got) == set(direct), name


# ---------------------------------------------------------------------------
# Segment kernels: the MergingDigest / HLL overrides of build_segments and
# merge_segments against the Aggregator default (the per-object loop) on the
# same segments, then the kernel's use of them across Arrow batches
# ---------------------------------------------------------------------------

SEGMENTED = [
    (MergingDigest, {"delta": 0.01}),
    (MergingDigest, {"delta": 0.25}),  # wide logit cells; 4·max_size = 400
    (MergingDigest, {"delta": 0.0}),
    (MergingDigest, {"discrete": True}),
    (HLL, {"p": 10}),
    (HLL, {"p": 14}),
]


def _default(cls, method):
    return getattr(Aggregator, method).__func__.__get__(cls)


def _runs(cls, rng):
    """Per-key inputs: 1, 2, 99, 100, 101 and 10^4 values, an empty run,
    a run of more than 10^4 distinct values, then small random runs.  For
    the t-digest: NaN (a NULL), both zeros and runs of at most three
    distinct values; for HLL one run below and one above p=10's density
    cutoff."""
    sizes = [1, 2, 99, 100, 101, 10_000, 0, 12_000, 300, 500]
    sizes += rng.integers(0, 40, 200).tolist()
    runs = []
    for i, n in enumerate(sizes):
        if cls is HLL:
            runs.append(rng.integers(0, 2**63, n, dtype=np.uint64) * np.uint64(2)
                        + np.uint64(i % 2))
            continue
        # tenths repeat, so a merged mean (Σ x·n)/n need not round to x
        x = (rng.standard_normal(n) * 1e3 if i == 7
             else rng.integers(-50, 50, n) / 10 if i % 2
             else rng.integers(0, 3, n) / 10)
        x[::5] = np.nan
        x[1::7] = -0.0
        x[2::7] = 0.0
        runs.append(x)
    if cls is MergingDigest:  # repeated tenths at both ends: the min/max
        # centroids keep their exact mean; at delta=0.25 (7, 1) and (8, 2)
        # put each end's two outer centroids in one logit cell
        for a, b in [(3, 1), (7, 1), (8, 2), (20, 9)]:
            runs.append(np.r_[[0.1] * a, [0.2] * b, np.arange(3, 60) / 10,
                              [7.6] * b, [7.7] * a])
    return runs


def _starts(runs):
    return np.cumsum([0] + [len(r) for r in runs[:-1]])


@pytest.mark.parametrize("cls,params", SEGMENTED,
                         ids=[f"{c.__name__}-{p}" for c, p in SEGMENTED])
def test_segment_overrides_match_default_loop(cls, params):
    rng = np.random.default_rng(7)
    runs = _runs(cls, rng)
    values, starts = np.concatenate(runs), _starts(runs)
    build = _default(cls, "build_segments")
    want = build(values, starts, **params)
    got = cls.build_segments(values, starts, **params)
    assert len(got) == len(runs)
    assert [i for i, (a, b) in enumerate(zip(got, want)) if a != b] == []

    # merge: every key's values in 1-5 partials (one of them empty)
    blobs, mstarts = [], []
    for i, x in enumerate(runs):
        mstarts.append(len(blobs))
        parts = np.array_split(x, 1 + i % 5)
        blobs += build(np.concatenate(parts), _starts(parts), **params)
    if cls is MergingDigest:  # a legacy blob with a -0.0 mean merges as +0.0
        blobs.append(np.array([-0.0, 2.0, 3.0, 1.0], "<f8").tobytes())
        blobs.append(np.array([0.0, 1.0], "<f8").tobytes())
        mstarts.append(len(blobs) - 2)
    mstarts = np.array(mstarts)
    want = _default(cls, "merge_segments")(blobs, mstarts, **params)
    got = cls.merge_segments(blobs, mstarts, **params)
    assert [i for i, (a, b) in enumerate(zip(got, want)) if a != b] == []
    if cls is HLL:
        assert got[5].startswith(b"HLD1")
    if params.get("p") == 10:  # sparse partials whose merge is dense
        assert got[9].startswith(b"HLD1")
        assert all(b.startswith(b"HLS1") for b in blobs[mstarts[9]:mstarts[10]])


def test_tdigest_segments_hand_back_batch_dependent_runs():
    """A run whose bytes depend on Arrow batch boundaries answers None: a
    fractional weight in the merge (its float sums depend on grouping),
    a partial that fills the ingest buffer with more than max_size
    distinct values (compressed mid-stream)."""
    d = MergingDigest()
    d.update_batch(np.array([1.0, 2.0]), np.array([0.5, 1.5]))
    frac, whole = d.serialize(), np.array([1.0, 3.0], "<f8").tobytes()
    got = MergingDigest.merge_segments([whole, frac, whole], np.array([0, 1]))
    assert got[1] is None
    assert got[0] == _default(MergingDigest, "merge_segments")([whole], np.array([0]))[0]

    params = {"buffer_size": 64, "max_size": 16}
    x = np.arange(200.0)
    got = MergingDigest.build_segments(x, np.array([0, 60, 100]), **params)
    assert got[0] is not None and got[2] is None
    assert got[1] == _default(MergingDigest, "build_segments")(x[60:100], [0], **params)[0]


@pytest.fixture
def small_batches(spark):
    """Arrow batches of 64 rows, restored afterwards."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "64")
    yield
    if old is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, old)


def test_kernel_keys_span_arrow_batches(spark, small_batches):
    """One partition of 640 rows in 64-row batches: every key (the NULL key
    too) spans at least three batches and must come out as ONE partial
    row whose bytes are the per-object loop's.  Covers the fallbacks
    (params_by_key, fractional weights, a full ingest buffer), an
    all-NULL value column and a merge key whose partials are all NULL."""
    from pyspark.sql import functions as F

    from sketchlib.spark.sketch_ops import sketch_merge, sketch_partials
    from sketchlib.spark.tdigest_ops import tdigest_aggregate, tdigest_partials

    n = 640
    g = [None if i % 3 == 0 else ("a" if i % 3 == 1 else "b") for i in range(n)]
    x = [None if i % 11 == 0 else (-0.0 if i % 13 == 0 else float((i * 37) % 97))
         for i in range(n)]
    h = [None if i % 7 == 0 else i * 2654435761 for i in range(n)]
    w = [0.25 * (1 + i % 4) + 0.5 for i in range(n)]
    df = spark.createDataFrame(
        list(zip(range(n), g, x, h, w, [None] * n)),
        "id long, g string, x double, h long, w double, z long").coalesce(1)

    def per_key(col):
        out = {}
        for gi, v in zip(g, col):
            out.setdefault(gi, []).append(v)
        return out

    xs, hs, ws = per_key(x), per_key(h), per_key(w)
    keys = {None, "a", "b"}

    def rows(frame, col="sketch"):
        got = [(r["g"], bytes(r[col]) if r[col] is not None else None)
               for r in frame.collect()]
        assert sorted(k or "" for k, _ in got) == sorted(k or "" for k in keys)
        return dict(got)

    def hll(p, vals):
        sk = HLL(p=p)
        sk.update_hashed(xxh64_long(np.array([v for v in vals if v is not None])))
        return sk.serialize()

    # t-digest and HLL partials: one row per key, per-object bytes
    td = rows(tdigest_partials(df, ["g"], "x", delta=0.01), "digest")
    for k in keys:
        d = MergingDigest(delta=0.01)
        d.update_batch(np.array(xs[k], dtype=float))
        assert td[k] == d.serialize(), k
    pk = {("a",): {"p": 12}}
    hl = rows(sketch_partials(df, ["g"], "h", "hll", {"p": 10}, params_by_key=pk))
    for k in keys:
        assert hl[k] == hll(12 if k == "a" else 10, hs[k]), k

    # a full ingest buffer: the per-object loop, batch by batch
    params = {"delta": 0.01, "buffer_size": 64, "max_size": 16}
    full = rows(sketch_partials(df, ["g"], "x", "tdigest", params))
    for k in keys:
        d = MergingDigest(**params)
        for lo in range(0, n, 64):
            chunk = [v for gi, v in zip(g[lo:lo + 64], x[lo:lo + 64]) if gi == k]
            if chunk:
                d.update_batch(np.array(chunk, dtype=float))
        assert full[k] == d.serialize(), k

    # fractional (dyadic: exact in any order) weights through the merge
    wtd = rows(tdigest_aggregate(df, ["g"], "x", delta=0.01, weight_col="w"), "digest")
    for k in keys:
        d = MergingDigest(delta=0.01)
        d.update_batch(np.array(xs[k], dtype=float), np.array(ws[k]))
        assert wtd[k] == d.compress().serialize(), k

    # all-NULL values make an empty sketch; all-NULL partials merge to NULL
    parts = sketch_partials(df, ["g"], "z", "hll", {"p": 10})
    empty = rows(sketch_merge(parts, ["g"], "hll", {"p": 10}))
    assert set(empty.values()) == {HLL(p=10).serialize()}
    nulls = parts.withColumn("sketch", F.when(F.col("g") == "a", None)
                             .otherwise(F.col("sketch")))
    merged = rows(sketch_merge(nulls, ["g"], "hll", {"p": 10}))
    assert merged["a"] is None and merged["b"] == empty["b"]


def test_key_codes_keep_groupby_row_order():
    """The kernel numbers a batch's new keys in pandas' groupby(sort=False)
    order, so kernel rows come out in the order they always had (the
    shuffle and stored files stay byte-for-byte the same); NULL is None."""
    import pandas as pd
    import pyarrow as pa

    from sketchlib.spark.sketch_ops import _KeyCodes

    rng = np.random.default_rng(3)
    for _ in range(100):
        n = int(rng.integers(0, 40))
        df = pd.DataFrame({"a": rng.choice(["x", "y", None, "z"], n),
                           "b": rng.choice([1.0, 2.0, np.nan], n),
                           "c": rng.choice(["p", "q"], n)})
        for keys in (["a"], ["b"], ["a", "b"], ["c", "a", "b"]):
            want = [tuple(None if pd.isna(v) else v for v in
                          (g if isinstance(g, tuple) else (g,)))
                    for g in df.groupby(keys, dropna=False, sort=False).indices]
            codes_of = _KeyCodes(keys)
            codes = codes_of(pa.RecordBatch.from_pandas(df, preserve_index=False))
            assert codes_of.tuples == want
            rows = [tuple(None if pd.isna(v) else v for v in r)
                    for r in df[keys].itertuples(index=False)]
            assert [codes_of.tuples[c] for c in codes] == rows


def test_time_keys_ignore_session_time_zone(spark):
    """Key columns cross the kernel as Arrow values, never as pandas
    timestamps localized to the session time zone: partials and merges
    keyed by a timestamp, a date and a decimal column give the same rows
    under UTC and America/Los_Angeles.  The timestamps include both
    instants of the hour Los Angeles repeats on 2021-11-07, which stay two
    keys, and a NULL key."""
    from pyspark.sql import functions as F

    from sketchlib.spark.sketch_ops import merge, partials

    specs = [{"name": "td", "kind": "tdigest", "col": "v", "params": {"delta": 0.0}},
             {"name": "h", "kind": "hll", "col": "v", "params": {"p": 10}}]
    keys = ["ts", "d", "dec"]
    df = spark.range(120).selectExpr(
        # 08:00, 08:30, 09:00, 09:30 UTC: 01:00 and 01:30 PDT, then PST
        "IF(id % 13 = 0, NULL, timestamp_micros(1636272000000000"
        " + (id % 4) * 1800000000)) AS ts",
        "date_add(DATE'2021-11-06', CAST(id % 3 AS INT)) AS d",
        "CAST(id % 5 AS DECIMAL(10, 2)) / 4 AS dec",
        "CAST(id AS DOUBLE) AS v",
    ).repartition(3)

    def rows(frame):
        out = frame.select(F.unix_micros("ts").alias("us"), "d", "dec", "td", "h")
        return sorted((tuple(r) for r in out.collect()), key=repr)

    conf = "spark.sql.session.timeZone"
    saved = spark.conf.get(conf)
    got = {}
    try:
        for tz in ("UTC", "America/Los_Angeles"):
            spark.conf.set(conf, tz)
            parts = partials(df, keys, specs)
            got[tz] = rows(parts), rows(merge(parts, keys, specs))
    finally:
        spark.conf.set(conf, saved)
    assert got["UTC"] == got["America/Los_Angeles"]
    merged = got["UTC"][1]
    assert len({r[0] for r in merged}) == 5  # four instants and NULL
    assert len(merged) == len({r[:3] for r in merged})
