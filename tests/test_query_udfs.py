"""Characterization of every public sketch query UDF: a NULL blob, an empty
sketch and a real one in (for two-blob UDFs also a NULL on either side),
the exact outputs out.  The SQL names that are the DataFrame UDF objects
themselves (``tdigest_ks``, ``hll_estimate``, ...) are covered by those."""

import numpy as np
import pytest
from pyspark.sql import Row, functions as F

from sketchlib.bloom import Bloom
from sketchlib.cms import CMS
from sketchlib.ddsketch import DDSketch
from sketchlib.hashing import xxh64_long
from sketchlib.hll import HLL
from sketchlib.kll import KLL
from sketchlib.kmv import KMV
from sketchlib.mg import MisraGries
from sketchlib.tdigest.core import (
    MergingDigest,
    bytes_to_centroids,
    cdf_of_centroids,
    ks_of_centroids,
    parse_tdigest_wire,
    psi_jsd_of_centroids,
    quantiles_of_centroids,
    trimmed_mean_of_centroids,
    w1_of_centroids,
    wrap_tdigest_wire,
)


def _digest(vals) -> bytes:
    d = MergingDigest(delta=0.01)
    d.update_batch(np.asarray(vals, dtype=np.float64))
    return d.serialize()


def _sketch(sk, vals=None, hashed=None) -> bytes:
    if hashed is not None:
        sk.update_hashed(xxh64_long(np.asarray(hashed, dtype=np.int64)))
    if vals is not None:
        sk.update_batch(vals)
    return sk.serialize()


KEYS = np.arange(300) % 37
WORDS = np.array([f"w{i % 11}" for i in range(200)], dtype=object)
#: family -> (empty sketch, real sketch, second real sketch)
BLOBS = {
    "tdigest": (b"", _digest(np.arange(1.0, 41.0) ** 1.5), _digest(np.arange(10.0, 61.0))),
    "hll": (_sketch(HLL(p=14)), _sketch(HLL(p=14), hashed=KEYS), None),
    "kmv": (_sketch(KMV(k=1024)), _sketch(KMV(k=1024), hashed=KEYS), None),
    "cms": (_sketch(CMS(width=64, depth=3)), _sketch(CMS(width=64, depth=3), hashed=KEYS),
            _sketch(CMS(width=64, depth=3), hashed=KEYS[:50])),
    "bloom": (_sketch(Bloom(expected_n=1000, fpr=0.01)),
              _sketch(Bloom(expected_n=1000, fpr=0.01), hashed=KEYS), None),
    "mg": (_sketch(MisraGries(m=8)), _sketch(MisraGries(m=8), vals=WORDS), None),
    "kll": (_sketch(KLL(k=200)), _sketch(KLL(k=200), vals=np.arange(50.0)), None),
    "dd": (_sketch(DDSketch(alpha=0.01, max_bins=2048)),
           _sketch(DDSketch(alpha=0.01, max_bins=2048), vals=np.arange(1.0, 51.0)), None),
}
TD, TD2 = BLOBS["tdigest"][1:]


def _td_compress(b: bytes) -> bytes:
    d = MergingDigest.deserialize(b, delta=0.2)
    d.compress()
    return d.serialize()


def _cases():
    """name -> (call(column names) -> Column, family, two-blob?, wanted
    outputs for the rows of ``_rows``)."""
    from sketchlib.spark import sketch_ops as S, tdigest_ops as T
    from sketchlib.spark.sql import FUNCTIONS

    m, n = bytes_to_centroids(TD)
    both = (m, n, *bytes_to_centroids(TD2))
    ps, qs = np.array([0.0, 0.25, 0.5, 1.0]), np.array([-1.0, 20.5, 100.0, 1e9])
    ks, w1 = ks_of_centroids(*both), w1_of_centroids(*both)
    psi, jsd = psi_jsd_of_centroids(*both, 10, 1e-6)
    cms_a, cms_b = (CMS.deserialize(b) for b in BLOBS["cms"][1:])
    h3 = xxh64_long(np.array([3], dtype=np.int64))
    empty_info = Row(count=0.0, size=0, min=None, max=None, bytes=0)

    def sql(name, *args):
        return lambda *cols: FUNCTIONS[name](*cols, *map(F.lit, args))

    return {
        "tdigest_quantiles_udf": (T.tdigest_quantiles_udf(list(ps)), "tdigest", False,
                                  [None, None, quantiles_of_centroids(m, n, ps).tolist()]),
        "tdigest_quantiles_udf_discrete": (
            T.tdigest_quantiles_udf(list(ps), discrete=True), "tdigest", False,
            [None, None, quantiles_of_centroids(m, n, ps, True).tolist()]),
        "tdigest_cdf_udf": (T.tdigest_cdf_udf(list(qs)), "tdigest", False,
                            [None, None, cdf_of_centroids(m, n, qs).tolist()]),
        "tdigest_size_udf": (T.tdigest_size_udf, "tdigest", False, [0, 0, len(m)]),
        "tdigest_count_udf": (T.tdigest_count_udf, "tdigest", False, [0.0, 0.0, 40.0]),
        "tdigest_info_udf": (T.tdigest_info_udf, "tdigest", False, [
            empty_info, empty_info,
            Row(count=40.0, size=len(m), min=1.0, max=float(m[-1]), bytes=len(TD))]),
        "tdigest_centroids_udf": (T.tdigest_centroids_udf, "tdigest", False, [
            None, [], [Row(mean=float(a), n=float(c)) for a, c in zip(m, n)]]),
        "tdigest_ks_udf": (T.tdigest_ks_udf, "tdigest", True, [None, None, None, ks]),
        "tdigest_w1_udf": (T.tdigest_w1_udf, "tdigest", True, [None, None, None, w1]),
        "tdigest_psi_jsd_udf": (T.tdigest_psi_jsd_udf(), "tdigest", True,
                                [None, None, None, [round(psi, 9), round(jsd, 9)]]),
        "tdigest_trimmed_mean_udf": (T.tdigest_trimmed_mean_udf(0.1, 0.9), "tdigest", False,
                                     [None, None, trimmed_mean_of_centroids(m, n, 0.1, 0.9)]),
        "tdigest_wire_udf": (T.tdigest_wire_udf(0.01, discrete=True), "tdigest", False, [
            None, wrap_tdigest_wire(b"", 0.01, True), wrap_tdigest_wire(TD, 0.01, True)]),
        "tdigest_unwire_udf": (T.tdigest_unwire_udf, "tdigest", False,
                               [None, parse_tdigest_wire(b"")[0], TD]),
        "tdigest_compress_udf": (T.tdigest_compress_udf(0.2), "tdigest", False,
                                 [None, _td_compress(b""), _td_compress(TD)]),
        "mg_items_udf": (S.mg_items_udf(), "mg", False, [None, [], [
            Row(item=k, est=v) for k, v in MisraGries.deserialize(BLOBS["mg"][1]).items()]]),
        "hll_estimate_udf": (S.hll_estimate_udf, "hll", False,
                             [None, 0.0, HLL.deserialize(BLOBS["hll"][1]).estimate()]),
        "kmv_estimate_udf": (S.kmv_estimate_udf, "kmv", False,
                             [None, KMV.deserialize(BLOBS["kmv"][0]).estimate(),
                              KMV.deserialize(BLOBS["kmv"][1]).estimate()]),
        "cms_total_udf": (S.cms_total_udf, "cms", False, [None, 0.0, 300.0]),
        # SQL functions with per-row arguments (here literals)
        "sql_tdigest_quantile": (sql("tdigest_quantile", 0.25), "tdigest", False,
                                 [None, None, quantiles_of_centroids(m, n, [0.25])[0]]),
        "sql_tdigest_cdf": (sql("tdigest_cdf", 20.5), "tdigest", False,
                            [None, None, cdf_of_centroids(m, n, [20.5])[0]]),
        "sql_tdigest_trimmed_mean": (sql("tdigest_trimmed_mean", 0.2, 0.7), "tdigest", False,
                                     [None, None, trimmed_mean_of_centroids(m, n, 0.2, 0.7)]),
        "sql_tdigest_winsor_bound": (sql("tdigest_winsor_bound", 0.05), "tdigest", False,
                                     [None, None, quantiles_of_centroids(m, n, [0.05], True)[0]]),
        "sql_kll_quantile": (sql("kll_quantile", 0.5), "kll", False, [
            None, None, float(KLL.deserialize(BLOBS["kll"][1]).quantile([0.5])[0])]),
        "sql_dd_quantile": (sql("dd_quantile", 0.5), "dd", False, [
            None, None, float(DDSketch.deserialize(BLOBS["dd"][1]).quantile([0.5])[0])]),
        "sql_mg_estimate": (sql("mg_estimate", "w3"), "mg", False, [
            None, 0, MisraGries.deserialize(BLOBS["mg"][1]).estimate("w3")]),
        "sql_cms_query": (sql("cms_query", F.lit(3).cast("long")), "cms", False,
                          [None, 0, int(CMS.deserialize(BLOBS["cms"][1]).query_hashed(h3)[0])]),
        "sql_bloom_contains": (sql("bloom_contains", F.lit(3).cast("long")), "bloom", False,
                               [None, False, True]),
        "sql_cms_inner_product": (FUNCTIONS["cms_inner_product"], "cms", True,
                                  [None, None, 0, int(cms_a.inner_product(cms_b))]),
    }


CASES = [
    "tdigest_quantiles_udf", "tdigest_quantiles_udf_discrete", "tdigest_cdf_udf",
    "tdigest_size_udf", "tdigest_count_udf", "tdigest_info_udf", "tdigest_centroids_udf",
    "tdigest_ks_udf", "tdigest_w1_udf", "tdigest_psi_jsd_udf", "tdigest_trimmed_mean_udf",
    "tdigest_wire_udf", "tdigest_unwire_udf", "tdigest_compress_udf", "mg_items_udf",
    "hll_estimate_udf", "kmv_estimate_udf", "cms_total_udf", "sql_tdigest_quantile",
    "sql_tdigest_cdf", "sql_tdigest_trimmed_mean", "sql_tdigest_winsor_bound",
    "sql_kll_quantile", "sql_dd_quantile", "sql_mg_estimate", "sql_cms_query",
    "sql_bloom_contains", "sql_cms_inner_product",
]


def _rows(family: str, two: bool) -> list[tuple]:
    empty, real, real2 = BLOBS[family]
    if not two:
        return [(None,), (empty,), (real,)]
    return [(None, real), (real, None), (empty, real), (real, real2)]


def test_cases_cover_every_public_udf(spark):
    from sketchlib.spark import sketch_ops, tdigest_ops
    from sketchlib.spark.sql import FUNCTIONS

    cases = _cases()
    assert sorted(CASES) == sorted(cases)
    udfs = {n for m in (sketch_ops, tdigest_ops) for n in dir(m)
            if n.endswith("_udf") and not n.startswith("_")
            and n not in ("pandas_udf", "arrow_udf")}  # imported factories
    assert udfs <= set(cases), udfs - set(cases)
    # a SQL name is either a case of its own or a DataFrame UDF's
    alias = {"tdigest_to_wire": "tdigest_wire", "tdigest_from_wire": "tdigest_unwire"}
    sql = {alias.get(n, n) for n in FUNCTIONS if not n.endswith("_agg")}
    covered = {n[len("sql_"):] for n in cases} | {n[:-len("_udf")] for n in cases}
    assert sql <= covered, sql - covered


@pytest.mark.parametrize("name", CASES)
def test_query_udf_outputs(spark, name):
    udf, family, two, want = _cases()[name]
    rows = [(i, *r) for i, r in enumerate(_rows(family, two))]
    cols = ["a", "b"] if two else ["a"]
    df = spark.createDataFrame(rows, "i int, " + ", ".join(f"{c} binary" for c in cols))
    got = [r["o"] for r in df.select("i", udf(*cols).alias("o")).orderBy("i").collect()]
    got = [bytes(g) if isinstance(g, (bytes, bytearray)) else g for g in got]
    assert got == want
