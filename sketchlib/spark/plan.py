"""Skew- and scale-aware aggregation plans (north rule: "partitioning /
shuffle / skew handled explicitly", "tree-style partial-sketch merges in the
shuffle reduce", "explicit salted-repartition skew handling on hot
languages/hosts").

Why this matters at 10^12 rows / 100 TB:

The partial stage emits one ≤40 KB digest per (input partition × key).  At
P = 800k input partitions (100 TB / 128 MB) a hot key ("en" ≈ 55% of the
web) receives up to P partial rows ≈ 30 GB into ONE reducer in the naive
``groupBy(key)`` plan.  The kernel's ``sketch_ops.tree_merge`` (wrapped
here per family) bounds every reducer's fan-in to ``fanin`` partials by
inserting salted intermediate merge levels:

  level 0:  merge by (key, salt = blob_hash % S) — S ≈ P/fanin reducers/key
  level k:  salt = salt % (S / fanin^k)          — fan-in ``fanin`` per node
  final:    merge by key                          — ≤ fanin rows per key

Each level is a shuffle of sketch rows only (KBs per row).  Because the
distributed merge is a lossless commutative union (compression only where a
node's union exceeds the size cap), tree shape does not change results in
exact mode, and changes them only within the error bound in compressed mode.

Salting here is *lossless* — unlike salted numeric aggs that need a second
exact pass, mergeable sketches recombine salted sub-sketches into exactly
the sketch the unsalted plan would build (same multiset union).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from sketchlib.spark.sketch_ops import _sketch, partials, tree_merge
from sketchlib.spark.tdigest_ops import _digest


def tree_merge_tdigest(
    partials: DataFrame,
    keys: list[str],
    delta: float = 0.01,
    discrete: bool = False,
    fanin: int = 64,
) -> DataFrame:
    """Merge partial digests with bounded reducer fan-in."""
    return tree_merge(partials, keys, _digest(delta, discrete), fanin)


def tree_merge_sketch(
    partials: DataFrame,
    keys: list[str],
    sketch: str,
    params: dict | None = None,
    fanin: int = 64,
) -> DataFrame:
    """``tree_merge_tdigest`` for every sibling family in the
    ``sketch_ops.SKETCHES`` registry.  Every registry sketch's merge is a
    commutative semilattice/monoid on the SAME serialized state the direct
    merge uses, so tree shape does not change the result: for the
    byte-canonical families (HLL register-max, Bloom bit-OR, CMS
    counter-sum, KMV bottom-k, dd bucket-sum) the output blob is
    byte-identical to the flat ``sketch_merge`` — pytest-proved — and for
    KLL/MG it is within the family's documented merge bound."""
    return tree_merge(partials, keys, _sketch(sketch, params), fanin)


def sketch_aggregate_skewed(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    sketch: str,
    params: dict | None = None,
    fanin: int = 64,
) -> DataFrame:
    """Full skew-safe sibling-sketch plan: partials → salted tree merge."""
    spec = _sketch(sketch, params, col=value_col)
    return tree_merge(partials(df, keys, spec), keys, spec, fanin)


def tdigest_aggregate_skewed(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    delta: float = 0.01,
    discrete: bool = False,
    fanin: int = 64,
) -> DataFrame:
    """Full skew-safe plan: partials → salted tree merge → final digest."""
    spec = _digest(delta, discrete, col=value_col)
    return tree_merge(partials(df, keys, spec), keys, spec, fanin)


def choose_salts_from_counts(df: DataFrame, key: str, rows_per_salt: int = 5_000_000,
                             max_salts: int = 1024,
                             max_keys: int = 4096) -> dict[str, int]:
    """Presample per-key row counts (or read them from table stats) and pick
    a salt count per key — the explicit-salting knob for *row-level* salted
    repartition when a downstream op (not a sketch) needs balanced groups.

    Only the ``max_keys`` HOTTEST keys are collected (keys below
    ``rows_per_salt`` never need salting, and callers default absent keys
    to salt 1), so the driver-side dict stays bounded on open key domains.
    """
    counts = (
        df.groupBy(key).count()
        .filter(F.col("count") > rows_per_salt)
        .orderBy(F.desc("count"))
        .limit(max_keys)
        .collect()
    )
    return {
        r[key]: int(min(max_salts, max(1, r["count"] // rows_per_salt + 1)))
        for r in counts
    }


# ---------------------------------------------------------------------------
# Digest-driven range partitioning
# ---------------------------------------------------------------------------


def digest_range_bounds(digest: bytes, n_parts: int,
                        discrete: bool = False) -> list[float]:
    """``n_parts - 1`` ascending range cut points at quantiles i/n_parts of
    the digest's distribution — the split points that give ``n_parts``
    equal-mass ranges.  Duplicate cuts (a single value carrying more than a
    partition's worth of mass — range bounds cannot split it) collapse, so
    the result may be shorter; callers get fewer, still-balanced-as-possible
    partitions rather than empty ones."""
    import numpy as np

    from sketchlib.tdigest.core import bytes_to_centroids, quantiles_of_centroids

    if n_parts < 2 or digest is None or len(digest) == 0:
        return []
    m, n = bytes_to_centroids(bytes(digest))
    if len(m) == 0:
        return []
    ps = np.arange(1, n_parts, dtype=np.float64) / float(n_parts)
    qs = quantiles_of_centroids(m, n, ps, discrete)
    out: list[float] = []
    for q in qs.tolist():
        if not out or q > out[-1]:
            out.append(float(q))
    return out


def assign_range_partition(df: DataFrame, value_col: str, bounds: list[float],
                           pid_col: str = "_range_pid") -> DataFrame:
    """Add ``pid_col`` = index of the range ``value_col`` falls in:
    ``count of bounds <= v`` (NULLs sort first into range 0, matching
    ``repartitionByRange``).  JVM-side codegen (literal-array filter) for
    small bound lists; Arrow-vectorized ``np.searchsorted`` beyond that."""
    if not bounds:
        return df.withColumn(pid_col, F.lit(0))
    v = F.col(value_col).cast("double")
    if len(bounds) <= 64:
        arr = F.array(*[F.lit(float(b)) for b in bounds])
        pid = F.size(F.filter(arr, lambda b: v >= b))
    else:
        import numpy as np
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        bnds = np.asarray(bounds, dtype=float)

        # no type hints: `from __future__ import annotations` stringifies
        # them module-wide, which pandas_udf's hint inference can't read —
        # an un-annotated function defaults to a scalar pandas UDF
        def _searchsorted(s):
            x = s.to_numpy(dtype=np.float64, na_value=-np.inf)
            return pd.Series(np.searchsorted(bnds, x, side="right").astype("int32"))

        pid = pandas_udf(_searchsorted, "int")(v)
    return df.withColumn(pid_col, pid)


def _identity_tokens(spark, n_parts: int) -> list[int]:
    """For each target partition p in 0..n_parts-1, the smallest int j with
    ``pmod(hash(j), n_parts) == p``.  ``repartition(n, col)`` places rows at
    ``pmod(murmur3(col), n)`` — NOT at ``col`` — so range ids must be remapped
    through murmur3 preimages or hash collisions would stack two ranges in
    one partition and leave others empty.  One KB-scale probe job (the only
    portable way to evaluate Spark's murmur3 with its seed); never scans
    caller data."""
    probe = 32 * n_parts
    rows = (
        spark.range(probe)
        .select(
            F.col("id").cast("int").alias("j"),
            F.pmod(F.hash(F.col("id").cast("int")), F.lit(n_parts)).alias("p"),
        )
        .groupBy("p").agg(F.min("j").alias("j"))
        .collect()
    )
    got = {r["p"]: r["j"] for r in rows}
    missing = [p for p in range(n_parts) if p not in got]
    if missing:  # astronomically unlikely at 32x oversampling; widen probe
        rows = (
            spark.range(probe * 64)
            .select(
                F.col("id").cast("int").alias("j"),
                F.pmod(F.hash(F.col("id").cast("int")), F.lit(n_parts)).alias("p"),
            )
            .groupBy("p").agg(F.min("j").alias("j"))
            .collect()
        )
        got = {r["p"]: r["j"] for r in rows}
    return [got[p] for p in range(n_parts)]


def repartition_by_digest(
    df: DataFrame,
    value_col: str,
    n_parts: int,
    digest: bytes | None = None,
    delta: float = 0.01,
    discrete: bool = False,
    sort_within: bool = True,
) -> DataFrame:
    """Range-repartition ``df`` on ``value_col`` into ``n_parts`` equal-MASS
    partitions using t-digest quantile cut points instead of
    ``repartitionByRange``'s per-job reservoir sampling.

    Why over ``repartitionByRange`` at 100 TB:

    - **zero extra scan** when a stored/checkpointed ``digest`` is passed —
      range sampling otherwise costs a full pass (or a sampled one that
      mis-splits skewed columns); corpus digests already exist as KB
      artifacts of the profile/build jobs;
    - **deterministic** bounds: the same digest gives the same layout on any
      cluster, any run — sampling gives a different layout per job;
    - **streaming-stable**: in ``foreachBatch`` the bounds come from the
      standing digest, not from re-sampling each micro-batch;
    - **shareable**: two datasets partitioned with the same bounds are
      range-aligned for merge joins / file pruning.

    Mechanics: bounds = ``digest_range_bounds`` (building the digest with
    one two-phase pass only if none is given), rows get their range id by
    codegen bound-count (or Arrow searchsorted when bounds are many), and
    the single hash shuffle lands each range id in its OWN partition via
    murmur3-preimage tokens (see ``_identity_tokens``) — partition i holds
    exactly value-range i, contiguous and in ascending partition order, so
    ``sort_within`` (default) yields globally range-sorted output whose
    files prune by parquet min/max.  Heavy single values collapse bounds and
    get a partition of their own — the range analog of the salting cap.
    """
    if digest is None:
        from sketchlib.spark.tdigest_ops import tdigest_aggregate

        row = (
            tdigest_aggregate(
                df.select(F.col(value_col).cast("double").alias("_v"))
                .withColumn("_g", F.lit(0)),
                ["_g"], "_v", delta=delta, discrete=discrete,
            ).collect()
        )
        digest = bytes(row[0]["digest"]) if row else b""
    bounds = digest_range_bounds(digest, n_parts, discrete)
    n_eff = len(bounds) + 1
    out = assign_range_partition(df, value_col, bounds)
    tokens = _identity_tokens(df.sparkSession, n_eff)
    tok_arr = F.array(*[F.lit(int(t)) for t in tokens])
    out = (
        out.withColumn("_range_tok",
                       F.element_at(tok_arr, F.col("_range_pid") + 1))
        .repartition(n_eff, "_range_tok")
    )
    if sort_within:
        out = out.sortWithinPartitions(value_col)
    return out.drop("_range_pid", "_range_tok")
