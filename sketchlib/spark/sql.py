"""SQL surface: every registered sketch family as plain ``spark.sql``
functions (SURVEY.md §2.9 "UDF/UDAF surface").

    from sketchlib.spark.sql import register_sql_functions
    register_sql_functions(spark)
    spark.sql('''
        SELECT lang,
               tdigest_quantile(tdigest_agg(CAST(n_chars AS DOUBLE)), 0.99) AS p99
        FROM docs GROUP BY lang
    ''')

Two aggregates are generated for every kind in ``sketch_ops.SKETCHES``,
built with that family's one parameter set in ``PARAMS``:

  ``<kind>_agg(col)``        ingests the group's values by the kernel's rule
      (``_Spec.values`` + ``_Spec.update``); NULLs are never ingested, so
      an all-NULL group gives an empty sketch;
  ``<kind>_merge_agg(blob)`` merges stored sketches (``merge_blobs`` +
      ``finish_merge``); a group whose sketches are all NULL merges to NULL.

Input types (checked per group; any other type fails the query with an
error naming the CAST to write):
  - hll, cms, bloom, kmv take BIGINT, hashed as Spark's ``xxhash64`` hashes
    a BIGINT.  Write ``hll_agg(CAST(id AS BIGINT))`` for an INT column:
    Spark hashes 4-byte ints differently, so an INT read as-is would not
    match the kernel's sketch of the same column;
  - mg takes STRING;
  - tdigest, kll, dd take any integer or floating column, read as DOUBLE
    (NaN is dropped like NULL).
So a sketch built here is the one ``sketch_aggregate(df, keys, col, kind,
PARAMS[kind])`` builds over the same rows — byte-identical for every
family whose merge ignores arrival order (KLL and Misra-Gries agree on
their ingested totals) — and sketches built either way mix freely in
``<kind>_merge_agg`` and the query functions.  ``cms_query`` and
``bloom_contains`` hash their BIGINT probe the same way.

The aggregates are Arrow grouped-aggregate UDFs (PySpark >= 4.1): a
pandas one would receive a nullable BIGINT as float64 and round the low
bits away.  Catalyst gives either kind **no partial aggregation** — every
group's rows shuffle to one reducer — so at scale build with the two-phase
kernel (``sketch_aggregate`` / ``tdigest_aggregate``) and use this module
over the stored sketch columns.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import SparkSession
from pyspark.sql.functions import arrow_udf, pandas_udf
from pyspark.sql.types import BinaryType, BooleanType, DataType, DoubleType, LongType

from sketchlib.bloom import Bloom
from sketchlib.cms import CMS
from sketchlib.ddsketch import DDSketch
from sketchlib.hashing import xxh64_long
from sketchlib.kll import KLL
from sketchlib.mg import MisraGries
from sketchlib.spark.sketch_ops import SKETCHES, _Spec, hll_estimate_udf, kmv_estimate_udf
from sketchlib.spark.tdigest_ops import (
    tdigest_count_udf,
    tdigest_ks_udf,
    tdigest_psi_jsd_udf,
    tdigest_size_udf,
    tdigest_unwire_udf,
    tdigest_w1_udf,
    tdigest_wire_udf,
)
from sketchlib.tdigest.core import (
    bytes_to_centroids,
    cdf_of_centroids,
    quantiles_of_centroids,
    trimmed_mean_of_centroids,
)

#: the parameters every SQL-built sketch of a family uses
PARAMS = {
    "tdigest": {"delta": 0.01},
    "hll": {"p": 14},
    "cms": {"width": 16384, "depth": 5},
    "bloom": {"expected_n": 100_000, "fpr": 0.01},
    "kll": {"k": 200},
    "kmv": {"k": 1024},
    "mg": {"m": 64},
    "dd": {"alpha": 0.01, "max_bins": 2048},
}

#: per kernel ingest rule: does an Arrow type qualify, and the SQL type to
#: CAST anything else to
_ACCEPTS = {
    "hash": (lambda t: t == pa.int64(), "BIGINT"),
    "raw": (lambda t: pa.types.is_string(t) or pa.types.is_large_string(t), "STRING"),
    "double": (lambda t: pa.types.is_integer(t) or pa.types.is_floating(t), "DOUBLE"),
}


def _check(name: str, rule: str, arr: pa.Array) -> None:
    ok, sql_type = _ACCEPTS[rule]
    if not ok(arr.type):
        raise TypeError(f"{name} takes {sql_type}, got Arrow type {arr.type}: "
                        f"pass CAST(<column> AS {sql_type})")


def _aggregates(kind: str) -> dict:
    """``<kind>_agg`` and ``<kind>_merge_agg`` for one registered family."""
    spec = _Spec({"name": kind, "kind": kind, "params": PARAMS[kind]}, 0)
    name = f"{kind}_agg"

    @arrow_udf(BinaryType())
    def agg(v: pa.Array) -> bytes:
        _check(name, spec.rule, v)
        vals, mask, _ = spec.values({spec._v: v, spec._m: v.is_null()})
        if spec.rule == "hash":  # the kernel hashes JVM-side, in its projection
            vals = xxh64_long(vals)
        sk = spec.new()
        spec.update(sk, vals, mask, None, slice(None))
        return spec.blob(sk, merged=True)

    @arrow_udf(BinaryType())
    def merge_agg(blobs: pa.Array) -> bytes | None:
        present = blobs.drop_null().to_pylist()
        acc = spec.cls.merge_blobs(None, present, **spec.params) if present else None
        return spec.blob(acc, merged=True)

    return {name: agg, f"{kind}_merge_agg": merge_agg}


# ---------------------------------------------------------------------------
# Query functions with per-row arguments.  Post-aggregation only: they loop
# over sketch rows in Python, never over row-scale data.
# ---------------------------------------------------------------------------


def _rowwise(rtype: DataType, fn):
    """``(blob, arg...) -> rtype``: ``fn(blob bytes, arg...)`` per row, NULL
    where the blob is NULL or empty or an argument is NULL."""

    @pandas_udf(rtype)
    def f(blob: pd.Series, *args: pd.Series) -> pd.Series:
        return pd.Series([
            None if b is None or len(b) == 0 or any(x is None for x in a)
            else fn(bytes(b), *a)
            for b, *a in zip(blob, *args)
        ], dtype="object")

    return f


def _probe(name: str, rtype: DataType, out_type: pa.DataType, fn):
    """``(blob, key BIGINT) -> rtype``: ``fn(blob bytes, hashed key)`` per
    row, the key hashed as the hash-family aggregates hash it; NULL where
    either side is NULL."""

    @arrow_udf(rtype)
    def f(blob: pa.Array, key: pa.Array) -> pa.Array:
        _check(name, "hash", key)
        h = xxh64_long(key.fill_null(0).to_numpy())
        return pa.array([
            None if b is None or k is None else fn(b, h[i:i + 1])
            for i, (b, k) in enumerate(zip(blob.to_pylist(), key.to_pylist()))
        ], type=out_type)

    return f


def _td_quantile(b: bytes, p, discrete: bool = False) -> float:
    return float(quantiles_of_centroids(*bytes_to_centroids(b), [float(p)], discrete)[0])


def _td_trimmed_mean(b: bytes, lo, hi) -> float | None:
    """Mean of the mass between rank quantiles [lo, hi); NULL for invalid
    bounds (NaN fails every comparison) instead of aborting the job."""
    lo, hi = float(lo), float(hi)
    if not 0.0 <= lo < hi <= 1.0:
        return None
    return trimmed_mean_of_centroids(*bytes_to_centroids(b), lo, hi)


def _td_winsor_bound(b: bytes, p) -> float | None:
    """The rank-``p`` clip value (discrete mode ⇒ an exact data value): use
    in pairs, ``greatest(lo, least(hi, v))``."""
    return _td_quantile(b, p, discrete=True) if 0.0 <= float(p) <= 1.0 else None


def _quantile(cls):
    return lambda b, p: float(np.atleast_1d(cls.deserialize(b).quantile([float(p)]))[0])


FUNCTIONS = {
    **{n: f for kind in SKETCHES for n, f in _aggregates(kind).items()},
    "tdigest_quantile": _rowwise(DoubleType(), _td_quantile),
    "tdigest_cdf": _rowwise(DoubleType(), lambda b, q: float(
        cdf_of_centroids(*bytes_to_centroids(b), [float(q)])[0])),
    "tdigest_trimmed_mean": _rowwise(DoubleType(), _td_trimmed_mean),
    "tdigest_winsor_bound": _rowwise(DoubleType(), _td_winsor_bound),
    "tdigest_ks": tdigest_ks_udf,
    "tdigest_w1": tdigest_w1_udf,
    "tdigest_psi_jsd": tdigest_psi_jsd_udf(),
    "tdigest_size": tdigest_size_udf,
    "tdigest_count": tdigest_count_udf,
    "tdigest_to_wire": tdigest_wire_udf(PARAMS["tdigest"]["delta"]),
    "tdigest_from_wire": tdigest_unwire_udf,
    "hll_estimate": hll_estimate_udf,
    "kmv_estimate": kmv_estimate_udf,
    "cms_query": _probe("cms_query", LongType(), pa.int64(),
                        lambda b, h: int(CMS.deserialize(b).query_hashed(h)[0])),
    "cms_inner_product": _rowwise(LongType(), lambda a, b: int(
        CMS.deserialize(a).inner_product(CMS.deserialize(bytes(b))))),
    "bloom_contains": _probe("bloom_contains", BooleanType(), pa.bool_(),
                             lambda b, h: bool(Bloom.deserialize(b).contains_hashed(h)[0])),
    "kll_quantile": _rowwise(DoubleType(), _quantile(KLL)),
    "dd_quantile": _rowwise(DoubleType(), _quantile(DDSketch)),
    "mg_estimate": _rowwise(LongType(), lambda b, item: (
        MisraGries.deserialize(b).estimate(str(item)))),
}


def register_sql_functions(spark: SparkSession) -> None:
    """Register every function in ``FUNCTIONS`` under its name
    (idempotent)."""
    from sketchlib.spark.shipping import ensure_on_workers

    ensure_on_workers(spark)
    for name, f in FUNCTIONS.items():
        spark.udf.register(name, f)
