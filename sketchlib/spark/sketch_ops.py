"""The two-phase sketch kernel: every registered Aggregator (t-digest, HLL++,
CMS, Bloom, KLL, KMV, Misra-Gries, DDSketch) is built by the same plan.

A *spec* names one sketch to build::

    {"name": "digest", "kind": "tdigest", "col": "n_chars",
     "params": {"delta": 0.01}}

plus optional ``value_fn`` + ``input_cols`` (compute the values in the
Python stage from raw columns instead of reading ``col``), ``weight_col``
(t-digest weights), ``params_by_key`` (per-key constructor overrides) and
``metrics`` (an object whose ``add_from(sketch)`` sees every emitted
sketch).  Kernel rows are wide: one row per key with one binary column per
spec, named by the spec.

  ``partials(df, keys, specs)`` — one JVM-side projection per spec (the
      family's ingest rule in ``_INGEST``), then ONE ``mapInPandas`` that
      keeps a per-partition ``{key: [sketch per spec]}`` table fed by
      vectorized batch updates and emits one row per (input partition ×
      key).  No shuffle; no per-row Python.
  ``merge(partials, keys, specs)`` — ONE Exchange on the keys, then a
      ``mapInPandas`` accumulator: one ``merge_blobs`` call per (key, spec,
      Arrow batch) and one ``finish_merge`` per key at end of partition.
      When every spec is a ``_LARGE_STATE`` family (Bloom/CMS, MB-scale),
      ``groupBy().applyInPandas`` holds one group in memory at a time
      instead.  A (key, spec) that received no sketch merges to NULL.
  ``tree_merge(partials, keys, specs, fanin)`` — salted intermediate merge
      levels that bound every reducer's fan-in (see ``spark/plan.py``).

The shuffle therefore carries one serialized sketch per (partition × key ×
spec), never raw rows.  The one-sketch APIs (``sketch_*`` here,
``tdigest_*`` in ``tdigest_ops``), the long-format ``profile_*``, the
checkpointer and the streaming operators are thin wrappers over these.

Ingest rules: hash families project ``xxhash64(value)`` JVM-side
(whole-stage codegen, no Python string hashing) and ingest int64 through
``update_hashed`` — the pre-hash is remixed with the sketch seed so query
paths agree (``query_hashed``/``contains_hashed``); Misra-Gries ingests the
raw string because it must report items back; the numeric families ingest
doubles and drop NaN.  NULL values are never ingested.
"""

from __future__ import annotations

import math
from typing import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import BinaryType, StructField, StructType

from sketchlib.bloom import Bloom
from sketchlib.cms import CMS
from sketchlib.ddsketch import DDSketch
from sketchlib.hll import HLL
from sketchlib.kll import KLL
from sketchlib.kmv import KMV
from sketchlib.mg import MisraGries
from sketchlib.tdigest.core import MergingDigest

SKETCHES = {"tdigest": MergingDigest, "hll": HLL, "cms": CMS, "bloom": Bloom,
            "kll": KLL, "kmv": KMV, "mg": MisraGries, "dd": DDSketch}
#: how each family ingests a column; every other family reads doubles
_INGEST = {"hll": "hash", "cms": "hash", "bloom": "hash", "kmv": "hash",
           "mg": "raw"}
#: families whose serialized state can be MBs per sketch: their merge keeps
#: ``groupBy().applyInPandas`` (one group materialized at a time) instead of
#: the per-partition accumulator, which would hold every co-located key's
#: sketch in memory at once
_LARGE_STATE = {"bloom", "cms"}


def _norm_key(key) -> tuple:
    return key if isinstance(key, tuple) else (key,)


def _groups(pdf: pd.DataFrame, keys: list[str]):
    """(normalized key, row selector) per key group of one Arrow batch."""
    if not keys:
        return [((), slice(None))]
    return ((_norm_key(k), idx) for k, idx in
            pdf.groupby(keys, dropna=False, sort=False).indices.items())


class _Spec:
    """One validated spec with its family's ingest rule."""

    def __init__(self, spec: dict, i: int) -> None:
        self.name, self.kind = spec["name"], spec["kind"]
        if self.kind not in SKETCHES:
            raise ValueError(f"unknown sketch kind {self.kind!r} in spec {self.name!r}")
        self.cls = SKETCHES[self.kind]
        self.params = dict(spec.get("params") or {})
        self.col = spec.get("col")
        self.value_fn = spec.get("value_fn")
        self.input_cols = list(spec.get("input_cols") or [])
        self.weight_col = spec.get("weight_col")
        self.params_by_key = spec.get("params_by_key")
        self.metrics = spec.get("metrics")
        self.rule = "fn" if self.value_fn is not None else _INGEST.get(self.kind, "double")
        self._v, self._m, self._w = f"_v{i}", f"_m{i}", f"_w{i}"

    def columns(self) -> list[tuple[str, object]]:
        """The JVM-side projection: (name, Column) pairs."""
        c = self.col
        if self.rule == "fn":
            cols = [(n, F.col(n)) for n in self.input_cols]
        elif self.rule == "hash":
            # xxhash64(NULL) is the seed (42), not NULL, so the NULL mask
            # rides as a separate boolean column — a nullable int64 would
            # cross Arrow→pandas as float64 and mangle the hash low bits
            cols = [(self._v, F.xxhash64(c)), (self._m, F.col(c).isNull())]
        elif self.rule == "raw":
            cols = [(self._v, F.col(c).cast("string"))]
        else:
            cols = [(self._v, F.col(c).cast("double"))]
        if self.weight_col:
            cols.append((self._w, F.col(self.weight_col).cast("double")))
        return cols

    def values(self, pdf: pd.DataFrame):
        """(values, NULL mask or None, weights or None) of one Arrow batch."""
        mask = None
        if self.rule == "fn":
            vals = np.asarray(self.value_fn(pdf), dtype="float64")
        elif self.rule == "hash":
            mask = pdf[self._m].to_numpy(dtype=bool)
            vals = pdf[self._v].to_numpy(dtype="int64").view(np.uint64)
        elif self.rule == "raw":
            vals = pdf[self._v].to_numpy(dtype=object)
            mask = pd.isna(vals)
        else:  # NaN/NULL are dropped by the numeric families' update_batch
            vals = pdf[self._v].to_numpy(dtype="float64", na_value=np.nan)
        wts = (pdf[self._w].to_numpy(dtype="float64", na_value=np.nan)
               if self.weight_col else None)
        return vals, (mask if mask is not None and mask.any() else None), wts

    def update(self, agg, vals, mask, wts, idx) -> None:
        v = vals[idx]
        if mask is not None:
            v = v[~mask[idx]]
        if self.rule == "hash":
            agg.update_hashed(v)
        elif wts is not None:
            agg.update_batch(v, wts[idx])
        else:
            agg.update_batch(v)

    def new(self, key: tuple = ()):
        pbk = self.params_by_key
        if pbk is None:
            return self.cls(**self.params)
        over = pbk.value if hasattr(pbk, "value") else pbk
        return self.cls(**{**self.params, **over.get(key, {})})

    def restore(self, blob: bytes | None):
        """A sketch holding ``blob`` (a fresh one for None) — streaming state."""
        return self.cls.merge_blobs(None, [blob], **self.params) if blob else self.new()

    def blob(self, agg, merged: bool) -> bytes | None:
        if agg is None:
            return None
        if merged:
            agg.finish_merge()
        out = agg.serialize()
        if self.metrics is not None:
            self.metrics.add_from(agg)
        return out


def _specs(specs: list[dict], keys: list[str]) -> list[_Spec]:
    names = [s["name"] for s in specs]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate spec names: {names}")
    if set(names) & set(keys):
        raise ValueError(f"spec names {sorted(set(names) & set(keys))} are also keys")
    return [_Spec(s, i) for i, s in enumerate(specs)]


def _project(df: DataFrame, keys: list[str], specs: list[_Spec]) -> DataFrame:
    """Narrow projection feeding the partial builder: keys plus each spec's
    ingest columns, so parquet column pruning happens before Python."""
    cols = dict.fromkeys(keys)
    for s in specs:
        for name, c in s.columns():
            cols.setdefault(name, c.alias(name))
    return df.select(*(c if c is not None else F.col(n) for n, c in cols.items()))


def _schema(frame: DataFrame, keys: list[str], specs: list[_Spec]) -> StructType:
    return StructType(
        [StructField(k, frame.schema[k].dataType, True) for k in keys]
        + [StructField(s.name, BinaryType(), True) for s in specs]
    )


def _emit(keys: list[str], specs: list[_Spec], table: dict, merged: bool) -> pd.DataFrame:
    rows = {k: [key[i] for key in table] for i, k in enumerate(keys)}
    for j, s in enumerate(specs):
        rows[s.name] = [s.blob(aggs[j], merged) for aggs in table.values()]
    return pd.DataFrame(rows, columns=keys + [s.name for s in specs])


def _partial_builder(keys: list[str], specs: list[_Spec]):
    """The per-partition partial loop over ``_project``ed Arrow batches."""

    def build(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        table: dict[tuple, list] = {}
        for pdf in batches:
            cols = [s.values(pdf) for s in specs]
            for key, idx in _groups(pdf, keys):
                aggs = table.get(key)
                if aggs is None:
                    aggs = table[key] = [s.new(key) for s in specs]
                for s, agg, (vals, mask, wts) in zip(specs, aggs, cols):
                    s.update(agg, vals, mask, wts, idx)
        if table:
            yield _emit(keys, specs, table, merged=False)

    return build


def partials(df: DataFrame, keys: list[str], specs: list[dict]) -> DataFrame:
    """Phase 1: one row per (input partition × key), one binary column per
    spec."""
    from sketchlib.spark.shipping import ensure_on_workers

    ensure_on_workers(df.sparkSession)
    sp = _specs(specs, keys)
    narrow = _project(df, keys, sp)
    return narrow.mapInPandas(_partial_builder(keys, sp), schema=_schema(narrow, keys, sp))


def merge(partials: DataFrame, keys: list[str], specs: list[dict]) -> DataFrame:
    """Phase 2: merge the partial rows of each key (module docstring)."""
    from sketchlib.spark.shipping import ensure_on_workers

    ensure_on_workers(partials.sparkSession)
    sp = _specs(specs, keys)
    names = [s.name for s in sp]
    schema = _schema(partials, keys, sp)

    if all(s.kind in _LARGE_STATE for s in sp):

        def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
            aggs = []
            for s in sp:
                blobs = [bytes(b) for b in pdf[s.name] if b is not None]
                aggs.append(s.cls.merge_blobs(None, blobs, **s.params) if blobs else None)
            key = tuple(pdf[k].iloc[0] for k in keys)
            return _emit(keys, sp, {key: aggs}, merged=True)

        grouping = keys or [F.lit(1).alias("_g")]
        return partials.groupBy(*grouping).applyInPandas(merge_group, schema=schema)

    def merge_stream(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        table: dict[tuple, list] = {}
        for pdf in batches:
            cols = [pdf[n].to_numpy() for n in names]
            for key, idx in _groups(pdf, keys):
                aggs = table.get(key)
                if aggs is None:
                    aggs = table[key] = [None] * len(sp)
                for j, s in enumerate(sp):
                    blobs = [bytes(b) for b in cols[j][idx] if b is not None]
                    if blobs:
                        aggs[j] = s.cls.merge_blobs(aggs[j], blobs, **s.params)
        if table:
            yield _emit(keys, sp, table, merged=True)

    shuffled = partials.repartition(*keys) if keys else partials.repartition(1)
    return shuffled.mapInPandas(merge_stream, schema=schema)


def tree_merge(partials: DataFrame, keys: list[str], specs: list[dict],
               fanin: int = 64) -> DataFrame:
    """``merge`` with every reducer's fan-in bounded by ``fanin``: salted
    intermediate merge levels sized from the largest per-key partial count
    (one aggregation over the small partials frame).  The salt is a hash of
    the sketch bytes — uniform, reproducible, no RNG."""
    cnt = partials.groupBy(*keys).count().agg(F.max("count")).collect()[0][0]
    levels = max(0, math.ceil(math.log(max(int(cnt or 1), 1), fanin)) - 1)
    blobs = [F.col(s["name"]) for s in specs]
    n_salts = fanin ** levels
    while n_salts > 1:
        salt = F.pmod(F.xxhash64(*blobs), F.lit(n_salts)).cast("int")
        partials = merge(partials.withColumn("_salt", salt), keys + ["_salt"],
                         specs).drop("_salt")
        n_salts //= fanin
    return merge(partials, keys, specs)


# ---------------------------------------------------------------------------
# One-sketch wrappers: the spec is named "sketch"
# ---------------------------------------------------------------------------


def _sketch(sketch: str, params: dict | None, **kw) -> list[dict]:
    return [{"name": "sketch", "kind": sketch, "params": params, **kw}]


def sketch_partials(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    sketch: str,
    params: dict | None = None,
    params_by_key=None,
) -> DataFrame:
    """Phase 1 for one sketch: keys + a ``sketch`` binary column.

    ``params_by_key``: optional per-group constructor overrides — a dict
    (or ``sparkContext.broadcast`` of one, preferred when the key domain is
    large) mapping the normalized key tuple to a params patch, e.g.
    ``{("cnn.com",): {"expected_n": 48211}}``.  Lets each group's sketch be
    sized to ITS cardinality instead of the global row count — without it,
    S Bloom groups each carry m ≈ n_total·9.6 bits and the collected filter
    set is S× larger than needed (the 100-TB failure mode)."""
    return partials(df, keys, _sketch(sketch, params, col=value_col,
                                      params_by_key=params_by_key))


def sketch_merge(
    partials: DataFrame,
    keys: list[str],
    sketch: str,
    params: dict | None = None,
) -> DataFrame:
    """Phase 2 for one sketch: the kernel ``merge`` over the ``sketch``
    column (Bloom/CMS take the one-group-at-a-time path)."""
    return merge(partials, keys, _sketch(sketch, params))


def sketch_aggregate(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    sketch: str,
    params: dict | None = None,
    params_by_key=None,
) -> DataFrame:
    return sketch_merge(
        sketch_partials(df, keys, value_col, sketch, params, params_by_key),
        keys, sketch, params,
    )


def mg_items_udf():
    """binary(MG sketch) → array<struct<item,est>> for exploding a
    frequent-items summary into rows.  Post-aggregation only: runs on
    ≤|distinct keys| sketch rows, never row-scale data."""
    from pyspark.sql.types import ArrayType, LongType, StringType

    schema = ArrayType(StructType([
        StructField("item", StringType(), True),
        StructField("est", LongType(), True),
    ]))

    @F.pandas_udf(schema)
    def f(sk: pd.Series) -> pd.Series:
        out = []
        for b in sk:
            if b is None:
                out.append(None)
            else:
                out.append([{"item": k, "est": v}
                            for k, v in MisraGries.deserialize(bytes(b)).items()])
        return pd.Series(out)

    return f


# ---------------------------------------------------------------------------
# One-pass multi-sketch profile, long format (keys, sk_name, sketch)
# ---------------------------------------------------------------------------


def _long(wide: DataFrame, keys: list[str], specs: list[dict]) -> DataFrame:
    """Wide kernel rows → one (keys, sk_name, sketch) row per non-NULL spec
    column, in spec order: a projection, no shuffle."""
    pairs = F.array(*[
        F.struct(F.lit(s["name"]).alias("sk_name"), F.col(s["name"]).alias("sketch"))
        for s in specs
    ])
    return (
        wide.select(*keys, F.explode(pairs).alias("_p"))
        .select(*keys, "_p.sk_name", "_p.sketch")
        .where(F.col("sketch").isNotNull())
    )


def profile_partials(df: DataFrame, keys: list[str], specs: list[dict]) -> DataFrame:
    """ONE scan builds partials for EVERY spec: the corpus-profile pattern.

    ``specs``: kernel specs (module docstring), e.g. ``{"name": str, "col":
    str, "kind": str, "params": dict}``.  A profile of S sketch families
    over K keys costs 1 scan + (in ``profile_aggregate``) 1 shuffle of
    KB-scale sketch rows — the single-sketch path costs S scans + S
    shuffles.  At 100 TB the scan IS the job; this is the difference
    between one pass over the corpus and six.

    Output is LONG format: ``keys + (sk_name string, sketch binary)``, one
    row per (partition × key × spec); ``profile_pivot`` widens it.
    """
    return _long(partials(df, keys, specs), keys, specs)


def profile_merge(partials: DataFrame, keys: list[str], specs: list[dict]) -> DataFrame:
    """Phase 2 over long-format partials: each row's sketch moves into its
    spec's column (a projection, no shuffle), the kernel merges, and the
    result goes back to long format — one row per (key, spec) present in
    the input.  The accumulator holds (keys-per-partition × specs) sketches
    in memory at once: size profile specs accordingly (KB-scale params; a
    dense 8 MB Bloom belongs on the single-sketch path)."""
    wide = partials.select(*keys, *[
        F.when(F.col("sk_name") == s["name"], F.col("sketch")).alias(s["name"])
        for s in specs
    ])
    return _long(merge(wide, keys, specs), keys, specs)


def profile_aggregate(df: DataFrame, keys: list[str], specs: list[dict]) -> DataFrame:
    """One scan + one shuffle → merged sketches for every spec (long format)."""
    return _long(merge(partials(df, keys, specs), keys, specs), keys, specs)


def profile_pivot(profile: DataFrame, keys: list[str], specs: list[dict]) -> DataFrame:
    """Widen the long profile: one binary column per spec name.  Runs on
    sketch rows only (K·S rows) — the pivot shuffle is KB-scale."""
    names = [s["name"] for s in specs]
    return (
        profile.groupBy(*keys)
        .pivot("sk_name", names)
        .agg(F.first("sketch"))
    )


def profile_table(
    df: DataFrame,
    columns: list[str] | None = None,
    delta: float = 0.01,
    discrete: bool = False,
    hll_p: int = 14,
    keys: list[str] | None = None,
) -> DataFrame:
    """Schema-driven ONE-PASS table profiler — the "describe my 100-TB
    table" operator.  Every selected column gets type-appropriate
    sketches built in a single scan + one KB-scale sketch shuffle
    (``profile_aggregate``):

    - numeric columns → a t-digest (``delta``; pass ``discrete=True``
      for exact nearest-rank quantiles on low-cardinality columns)
      + an HLL++ distinct estimate;
    - every other column → HLL++ distinct + a 1-row CMS whose exact
      ``total`` counts ingested values.

    Output: one row per column —
    ``(column, dtype, n_rows, n_vals, n_nulls, est_distinct, q50, q95)``
    with q50/q95 NULL for non-numeric columns.  ``n_rows`` rides the same
    pass (a 1-cell CMS over a constant — its ``total`` is the exact row
    count), so the whole operator is ONE lazy plan with no separate
    count() action even over filtered/joined inputs; ``n_vals`` is exact —
    the digest's total weight / the CMS total; NULLs are never ingested
    (and for floating-point columns NaN counts as missing too, the
    t-digest convention).  ``n_nulls = n_rows - n_vals``.  Metric
    extraction runs on C KB-scale sketch rows, never on the data: the
    scan cost is ONE pass regardless of how many columns are profiled
    (the dedicated single-sketch path would cost 2C scans).

    ``keys``: optional grouping columns — the per-GROUP profile (one row
    per group x column, keys prepended) from the same single pass; the
    sketch shuffle then carries one KB row per (group x spec).
    """
    from pyspark.sql.types import NumericType

    from sketchlib.spark.tdigest_ops import (
        tdigest_count_udf,
        tdigest_quantiles_udf,
    )

    keys = list(keys or [])
    fields = {f.name: f for f in df.schema.fields}
    cols = (list(columns) if columns is not None
            else [c for c in fields if c not in keys])
    overlap = [c for c in cols if c in keys]
    if overlap:
        raise ValueError(f"profile_table: columns {overlap} are also keys")
    unknown = [c for c in cols if c not in fields]
    if unknown:
        raise ValueError(f"profile_table: unknown columns {unknown}")
    numeric = {c for c in cols if isinstance(fields[c].dataType, NumericType)}
    specs = []
    for i, c in enumerate(cols):
        specs.append({"name": f"h{i}", "col": c, "kind": "hll",
                      "params": {"p": hll_p}})
        if c in numeric:
            specs.append({"name": f"t{i}", "col": c, "kind": "tdigest",
                          "params": {"delta": delta, "discrete": discrete}})
        else:
            specs.append({"name": f"c{i}", "col": c, "kind": "cms",
                          "params": {"width": 32, "depth": 1}})
    # row counter rides the SAME pass: a 1-cell-wide CMS over a constant
    # counts every row exactly in its ``total`` — no separate count()
    # action, so profiling a filtered/joined input never recomputes its
    # upstream, and the whole operator stays one lazy plan
    specs.append({"name": "_rows", "col": "_ones", "kind": "cms",
                  "params": {"width": 4, "depth": 1}})
    staged = df.select(*keys, *cols).withColumn("_ones", F.lit(1))
    wide = profile_pivot(profile_aggregate(staged, keys, specs), keys, specs)

    @F.pandas_udf("double")
    def _hll_est(blobs: pd.Series) -> pd.Series:
        return pd.Series(
            [None if b is None else HLL.deserialize(bytes(b)).estimate()
             for b in blobs],
            dtype="float64",
        )

    @F.pandas_udf("double")
    def _cms_total(blobs: pd.Series) -> pd.Series:
        return pd.Series(
            [None if b is None else float(CMS.deserialize(bytes(b)).total)
             for b in blobs],
            dtype="float64",
        )

    # ONE projection over the single wide sketch row, exploded to one row
    # per column — a union of per-column selects would re-execute the
    # whole scan+build subtree once per column (2C scans, exactly what
    # this operator exists to avoid)
    q = tdigest_quantiles_udf([0.5, 0.95], discrete=discrete)
    n_rows = F.coalesce(_cms_total("_rows"), F.lit(0.0))
    structs = []
    for i, c in enumerate(cols):
        if c in numeric:
            n_vals = tdigest_count_udf(f"t{i}")
            q50, q95 = q(f"t{i}")[0], q(f"t{i}")[1]
        else:
            n_vals = F.coalesce(_cms_total(f"c{i}"), F.lit(0.0))
            q50 = q95 = F.lit(None).cast("double")
        structs.append(F.struct(
            F.lit(c).alias("column"),
            F.lit(fields[c].dataType.simpleString()).alias("dtype"),
            n_rows.cast("long").alias("n_rows"),
            n_vals.cast("long").alias("n_vals"),
            (n_rows - n_vals).cast("long").alias("n_nulls"),
            F.coalesce(_hll_est(f"h{i}"), F.lit(0.0)).alias("est_distinct"),
            q50.alias("q50"),
            q95.alias("q95"),
        ))
    return (
        wide.select(*keys, F.explode(F.array(*structs)).alias("_r"))
        .select(*keys, "_r.*")
    )
