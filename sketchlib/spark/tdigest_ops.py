"""DataFrame-level t-digest operators: the scalable two-phase aggregation plan.

Why two explicit phases (SURVEY.md §4.5): Catalyst gives partial+final
aggregation automatically only to built-in aggregates; a pandas GROUPED_AGG
UDF shuffles *all group rows* to one reducer — unacceptable at 10^12 rows
and under key skew.  So we make the reference's partial/final split
(reference README.md:31-41 delegates it to SQL ``STRING_AGG`` + ``of_string``)
explicit:

  phase 1 — ``tdigest_partials``: ``mapInArrow`` over a narrow projection;
            one partial digest per (input partition × key).  Pure map side,
            no shuffle; the Arrow batches feed ``MergingDigest.update_batch``
            (vectorized numpy, no per-row Python).
  phase 2 — ``tdigest_merge``: ``repartition(keys)`` + one ``mapInArrow``
            accumulator; each key's ≤ P partial digests merge by
            byte-concatenation (a concat of serialized digests IS a valid
            digest) + one deterministic compress.  Shuffle volume is
            P × |keys| × ≤40 KB — independent of row count.

Both phases are the one-spec case of the sketch kernel in
``sketchlib.spark.sketch_ops`` (spec name ``digest``, kind ``tdigest``).

Skew: the shuffle carries one small row per (partition, key), so a hot key
costs its reducer P×40 KB, not its row share of 100 TB.  For extreme P,
``sketchlib.spark.plan.tree_merge`` adds salted intermediate merge levels.

Exactness: with ``delta=0.0`` (never merge) or ``discrete=True`` the whole
pipeline is lossless, so the final digest is byte-identical under any
repartitioning — the oracle mode used by the correctness gate.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)

from sketchlib.spark.sketch_ops import _norm_key, merge, partials
from sketchlib.tdigest.core import (
    MergingDigest,
    bytes_to_centroids,
    cdf_of_centroids,
    ks_of_centroids,
    parse_tdigest_wire,
    psi_jsd_of_centroids,
    quantiles_of_centroids,
    wrap_tdigest_wire,
)


class TDigestMetrics:
    """The reference's engine counters (``info.cumulates_count`` /
    ``compress_count`` / ``auto_compress_count``, src/tdigest.ml:42-58,
    161-168) surfaced operationally as Spark ACCUMULATORS — the SURVEY §1.1
    promise that counters become metrics rows.  Pass one to
    ``tdigest_partials`` / ``tdigest_merge`` / ``tdigest_aggregate``; every
    worker adds its digests' counters as it emits them, and after an action
    ``snapshot()`` on the driver reads the cluster-wide totals (Python
    accumulator updates flow back with task completion).

    CAVEAT: updates happen inside transformations, so Spark's exactly-once
    accumulator guarantee does not apply — a retried or speculatively
    re-executed task counts twice.  Treat the totals as at-least-once
    operational telemetry (like the reference's counters), not an exact
    audit."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.cumulates = sc.accumulator(0)
        self.compresses = sc.accumulator(0)
        self.auto_compresses = sc.accumulator(0)

    def add_from(self, d: MergingDigest) -> None:
        self.cumulates += d.cumulates_count
        self.compresses += d.compress_count
        self.auto_compresses += d.auto_compress_count

    def snapshot(self) -> dict:
        return {
            "cumulates_count": self.cumulates.value,
            "compress_count": self.compresses.value,
            "auto_compress_count": self.auto_compresses.value,
        }


def _digest(delta: float, discrete: bool, **kw) -> list[dict]:
    return [{"name": "digest", "kind": "tdigest",
             "params": {"delta": delta, "discrete": discrete}, **kw}]


def tdigest_partials(
    df: DataFrame,
    keys: list[str],
    value_col: str | None,
    delta: float = 0.01,
    discrete: bool = False,
    weight_col: str | None = None,
    value_fn=None,
    input_cols: list[str] | None = None,
    metrics: TDigestMetrics | None = None,
) -> DataFrame:
    """Phase 1: one partial digest row per (input partition × key).

    ``value_fn``: optional ``pd.DataFrame -> np.ndarray`` computing the
    values inside the same Python stage (reads ``input_cols``).  This fuses
    upstream vectorized work — e.g. html→text extraction — with sketch
    ingest in ONE JVM↔Python Arrow hop instead of two.
    """
    return partials(df, keys, _digest(
        delta, discrete, col=value_col, weight_col=weight_col,
        value_fn=value_fn, input_cols=input_cols, metrics=metrics))


def tdigest_merge(
    partials: DataFrame,
    keys: list[str],
    delta: float = 0.01,
    discrete: bool = False,
    metrics: TDigestMetrics | None = None,
) -> DataFrame:
    """Phase 2: merge partial digests per key — byte-concat union + one
    deterministic compress per key (``MergingDigest.merge_blobs``).  Empty
    digests are the monoid identity; concat order never matters, since the
    payload union sorts and sums by mean."""
    return merge(partials, keys, _digest(delta, discrete, metrics=metrics))


def tdigest_aggregate(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    delta: float = 0.01,
    discrete: bool = False,
    weight_col: str | None = None,
    metrics: TDigestMetrics | None = None,
) -> DataFrame:
    """The full two-phase plan: keys + a final ``digest`` binary column."""
    spec = _digest(delta, discrete, col=value_col, weight_col=weight_col,
                   metrics=metrics)
    return merge(partials(df, keys, spec), keys, spec)


# ---------------------------------------------------------------------------
# Scalar query UDFs over digest columns (post-aggregation: tiny row counts)
#
# GUARD: these loop per ROW in Python by design — legal only because they
# run AFTER aggregation, on ≤|distinct keys| digest rows (thousands), never
# on row-scale data.  Do not point them at a per-row column; the per-row
# path is tdigest_partials' vectorized update_batch.
# ---------------------------------------------------------------------------


def tdigest_quantiles_udf(ps: list[float], discrete: bool = False):
    """Returns array<double> of the requested quantiles per digest row."""
    ps_arr = np.asarray(ps, dtype=np.float64)

    @pandas_udf(ArrayType(DoubleType()))
    def f(dig: pd.Series) -> pd.Series:
        out = []
        for b in dig:
            if b is None or len(b) == 0:
                out.append(None)
            else:
                m, n = bytes_to_centroids(bytes(b))
                out.append(quantiles_of_centroids(m, n, ps_arr, discrete).tolist())
        return pd.Series(out)

    return f


def tdigest_cdf_udf(qs: list[float], discrete: bool = False):
    """Returns array<double> of p_rank (fraction of mass ≤ q) per digest row."""
    qs_arr = np.asarray(qs, dtype=np.float64)

    @pandas_udf(ArrayType(DoubleType()))
    def f(dig: pd.Series) -> pd.Series:
        out = []
        for b in dig:
            if b is None or len(b) == 0:
                out.append(None)
            else:
                m, n = bytes_to_centroids(bytes(b))
                out.append(cdf_of_centroids(m, n, qs_arr, discrete).tolist())
        return pd.Series(out)

    return f


@pandas_udf(IntegerType())
def tdigest_size_udf(dig: pd.Series) -> pd.Series:
    """Number of centroids (reference info.size)."""
    return pd.Series([0 if b is None else len(b) // 16 for b in dig], dtype="int32")


@pandas_udf(DoubleType())
def tdigest_count_udf(dig: pd.Series) -> pd.Series:
    """Total ingested weight (reference info.count)."""
    out = []
    for b in dig:
        if b is None or len(b) == 0:
            out.append(0.0)
        else:
            _, n = bytes_to_centroids(bytes(b))
            out.append(float(n.sum()))
    return pd.Series(out)


@pandas_udf(StructType([
    StructField("count", DoubleType()),
    StructField("size", IntegerType()),
    StructField("min", DoubleType()),
    StructField("max", DoubleType()),
    StructField("bytes", IntegerType()),
]))
def tdigest_info_udf(dig: pd.Series) -> pd.DataFrame:
    """Reference ``info`` (src/tdigest.ml:161-168) as one struct: total
    weight, centroid count, exact min/max means (the protected tail
    singletons), serialized size.  The reference's compress/cumulate
    counters are per-PROCESS engine state, not a property of the serialized
    bytes this UDF sees — they are surfaced cluster-wide through
    ``TDigestMetrics`` accumulators (and per-object via
    ``MergingDigest.info()``)."""
    counts, sizes, mins, maxs, nbytes = [], [], [], [], []
    for b in dig:
        if b is None or len(b) == 0:
            counts.append(0.0), sizes.append(0), nbytes.append(0)
            mins.append(None), maxs.append(None)
        else:
            m, n = bytes_to_centroids(bytes(b))
            counts.append(float(n.sum())), sizes.append(len(m))
            mins.append(float(m[0])), maxs.append(float(m[-1]))
            nbytes.append(len(b))
    return pd.DataFrame({"count": counts, "size": pd.array(sizes, dtype="int32"),
                         "min": mins, "max": maxs,
                         "bytes": pd.array(nbytes, dtype="int32")})


@pandas_udf(ArrayType(StructType([
    StructField("mean", DoubleType()), StructField("n", DoubleType()),
])))
def tdigest_centroids_udf(dig: pd.Series) -> pd.Series:
    """Relational view of a digest (reference Private.centroids)."""
    out = []
    for b in dig:
        if b is None:
            out.append(None)
        else:
            m, n = bytes_to_centroids(bytes(b))
            out.append([{"mean": float(a), "n": float(c)} for a, c in zip(m, n)])
    return pd.Series(out)


@pandas_udf(DoubleType())
def tdigest_ks_udf(dig_a: pd.Series, dig_b: pd.Series) -> pd.Series:
    """Two-sample KS distance between two digest columns per row
    (``ks_of_centroids``): drift detection between stored sketches, zero
    fact rescans.  Exact when both digests are discrete; NULL if either
    side is empty.  Post-aggregation only (runs on sketch rows)."""
    out = []
    for a, b in zip(dig_a, dig_b):
        if a is None or b is None or len(a) == 0 or len(b) == 0:
            out.append(None)
        else:
            ma, na = bytes_to_centroids(bytes(a))
            mb, nb = bytes_to_centroids(bytes(b))
            # a VALID blob can still hold zero centroids — the documented
            # contract is NULL for an empty side, not the NaN that
            # ks_of_centroids would surface (ADVICE r03)
            if len(ma) == 0 or len(mb) == 0:
                out.append(None)
            else:
                out.append(ks_of_centroids(ma, na, mb, nb))
    return pd.Series(out, dtype="float64")


@pandas_udf(DoubleType())
def tdigest_w1_udf(dig_a: pd.Series, dig_b: pd.Series) -> pd.Series:
    """1-Wasserstein (earth-mover) distance between two digest columns per
    row (``w1_of_centroids``): the drift monitor in VALUE units — how far
    the mass moved, where KS reports only the largest CDF gap.  Exact when
    both digests are discrete; NULL if either side is empty (same contract
    as ``tdigest_ks_udf``).  Post-aggregation only (runs on sketch rows).
    Gate users should wrap in ``F.round(..., 6)`` — the ks_global lesson:
    a foreign engine's sum order can flip final ulps at a value-hash."""
    from sketchlib.tdigest.core import w1_of_centroids

    out = []
    for a, b in zip(dig_a, dig_b):
        if a is None or b is None or len(a) == 0 or len(b) == 0:
            out.append(None)
        else:
            ma, na = bytes_to_centroids(bytes(a))
            mb, nb = bytes_to_centroids(bytes(b))
            if len(ma) == 0 or len(mb) == 0:
                out.append(None)
            else:
                out.append(w1_of_centroids(ma, na, mb, nb))
    return pd.Series(out, dtype="float64")


def tdigest_psi_jsd_udf(bins: int = 10, eps: float = 1e-6, ndigits: int = 9):
    """array<double> [psi, jsd]: Population Stability Index and
    Jensen–Shannon divergence between two digest columns per row
    (``psi_jsd_of_centroids``), binned on the SECOND argument's quantile
    grid — drift monitors from stored sketches, zero fact rescans.  Exact
    when both digests are discrete.  NULL if either side is empty (same
    contract as ``tdigest_ks_udf``).  Results are rounded to ``ndigits``
    decimals so the ascending-bin Python sum and a SQL engine's
    arbitrary-order SUM hash identically; pass ``ndigits=None`` to disable.
    Post-aggregation only (runs on sketch rows)."""
    if bins < 2:
        raise ValueError(f"tdigest_psi_jsd: need bins >= 2, got {bins}")

    @pandas_udf(ArrayType(DoubleType()))
    def f(dig_a: pd.Series, dig_b: pd.Series) -> pd.Series:
        out = []
        for a, b in zip(dig_a, dig_b):
            if a is None or b is None or len(a) == 0 or len(b) == 0:
                out.append(None)
                continue
            ma, na = bytes_to_centroids(bytes(a))
            mb, nb = bytes_to_centroids(bytes(b))
            if len(ma) == 0 or len(mb) == 0:
                out.append(None)
            else:
                psi, jsd = psi_jsd_of_centroids(ma, na, mb, nb, bins, eps)
                if ndigits is not None:
                    psi, jsd = round(psi, ndigits), round(jsd, ndigits)
                out.append([psi, jsd])
        return pd.Series(out)

    return f


def tdigest_trimmed_mean_udf(lo: float = 0.1, hi: float = 0.9):
    """double: mean of the mass between rank quantiles [lo, hi) per digest
    row (robust-stats companion; exact in exact/discrete mode)."""
    from sketchlib.tdigest.core import trimmed_mean_of_centroids

    if not 0.0 <= lo < hi <= 1.0:  # fail fast at plan-build, not in a task
        raise ValueError(f"trimmed_mean: need 0 <= lo < hi <= 1, got {lo},{hi}")

    @pandas_udf(DoubleType())
    def f(dig: pd.Series) -> pd.Series:
        out = []
        for b in dig:
            if b is None or len(b) == 0:
                out.append(float("nan"))
            else:
                m, n = bytes_to_centroids(bytes(b))
                out.append(trimmed_mean_of_centroids(m, n, lo, hi))
        return pd.Series(out)

    return f


def tdigest_wire_udf(delta: float, discrete: bool = False):
    """binary(raw payload) → binary(versioned wire blob): prefixes the
    SKB1/TDIG header carrying the digest's delta/discrete settings, so a
    digest column stored in a table is self-describing (SURVEY §1.3)."""

    @pandas_udf(BinaryType())
    def f(dig: pd.Series) -> pd.Series:
        return pd.Series([
            None if b is None else wrap_tdigest_wire(bytes(b), delta, discrete)
            for b in dig
        ])

    return f


@pandas_udf(BinaryType())
def tdigest_unwire_udf(dig: pd.Series) -> pd.Series:
    """binary(wire blob OR legacy raw payload) → binary(raw payload) — the
    inverse of ``tdigest_wire_udf`` for feeding stored digests back into the
    byte-concat merge path."""
    return pd.Series([
        None if b is None else parse_tdigest_wire(bytes(b))[0] for b in dig
    ])


def tdigest_compress_udf(delta: float, discrete: bool = False):
    """binary→binary recompression under a (possibly different) delta
    (reference compress with one-shot delta override)."""

    @pandas_udf(BinaryType())
    def f(dig: pd.Series) -> pd.Series:
        out = []
        for b in dig:
            if b is None:
                out.append(None)
            else:
                d = MergingDigest.deserialize(bytes(b), delta=delta, discrete=discrete)
                d.compress()
                out.append(d.serialize())
        return pd.Series(out)

    return f


def tdigest_prank_rows(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    delta: float = 0.01,
    discrete: bool = False,
    digests: DataFrame | None = None,
    out_col: str = "p_rank",
) -> DataFrame:
    """Per-ROW ``p_rank`` scoring against per-group digests — the reference
    CDF API (reference src/tdigest.ml ``p_rank``) applied distributedly as a
    quantile-normalization operator: every row gains the fraction of its
    group's mass ≤ its value.

    Plan shape (the only one that survives 10^12 rows): the per-group digest
    frame is |groups| KB-scale rows, so it is collected ONCE at plan-build
    and broadcast as a plain dict; scoring is then a single scan-side
    ``mapInPandas`` with one vectorized ``cdf_of_centroids`` call per
    (Arrow batch × group) — no join, no second shuffle of row-scale data.
    This is the digest-as-broadcast-dimension pattern; a join spelling
    would shuffle 100 TB to co-locate rows with 40 KB digests.

    ``discrete=True`` digests are lossless, making the score EXACTLY SQL's
    ``cume_dist()`` (discrete p_rank = cumn/N at the hit centroid) — the
    correctness-gate mode.  Merging mode (production delta) obeys the
    t-digest rank-error bound instead (asserted in pytest).

    Rows with NULL values or groups absent from the digest frame score NULL.
    """
    if digests is None:
        digests = tdigest_aggregate(df, keys, value_col, delta=delta,
                                    discrete=discrete)
    from sketchlib.spark.shipping import ensure_on_workers

    spark = df.sparkSession
    ensure_on_workers(spark)
    table = {
        _norm_key(tuple(r[k] for k in keys)): bytes_to_centroids(bytes(r["digest"]))
        for r in digests.collect()
        if r["digest"] is not None
    }
    bc = spark.sparkContext.broadcast(table)

    out_schema = StructType(
        list(df.schema.fields) + [StructField(out_col, DoubleType(), True)]
    )

    def score(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tab = bc.value
        for pdf in batches:
            scores = np.full(len(pdf), np.nan)
            vals = pdf[value_col].to_numpy(dtype=np.float64, na_value=np.nan)
            if keys:
                groups = pdf.groupby(keys, dropna=False, sort=False).indices.items()
            else:
                groups = [((), np.arange(len(pdf)))]
            for key, idx in groups:
                cents = tab.get(_norm_key(key))
                if cents is None:
                    continue
                scores[idx] = cdf_of_centroids(cents[0], cents[1], vals[idx],
                                               discrete)
            # NaN inputs are unrankable (searchsorted would place them at the
            # top and report p_rank=1.0) — force them back to NaN/NULL
            scores[np.isnan(vals)] = np.nan
            out = pdf.copy()
            out[out_col] = scores
            # NULL for unscorable rows (NaN inputs score NaN already; keep it
            # as SQL NULL, not float NaN, for oracle comparability)
            out[out_col] = out[out_col].where(~np.isnan(scores), None)
            yield out

    return df.mapInPandas(score, schema=out_schema)


def sliding_from_tumbling(
    df: DataFrame,
    keys: list[str],
    k: int,
    slide_seconds: int,
    digest_col: str = "digest",
    window_col: str = "window_start",
    out_col: str = "sliding_digest",
) -> DataFrame:
    """Sliding-window digests from STORED tumbling slide-grain digests —
    the two-level pattern mergeability enables: instead of ingesting every
    row into its window/slide overlapping windows (what
    ``streaming.streaming_tdigest(slide=...)`` does online), build tumbling
    digests at slide grain ONCE, then derive each sliding window ("the
    trailing ``k`` slides ending here") by merging k stored KB blobs.

    The merge is a pure-JVM byte concat: the wire payload is
    concat-mergeable by design (SURVEY §1.3 / reference
    src/tdigest.ml:of_string semantics — parsers absorb unsorted
    concatenations losslessly), so the whole derivation is
    ``aggregate(collect_list(digest) OVER range-window, X'', concat)`` —
    zero Python, zero fact rescans, and gaps in the time series are
    handled by the RANGE frame (absent slides contribute nothing).

    ``n_slides`` reports how many tumbling digests actually landed in the
    frame (< k during warm-up or across gaps).  Parse the result with any
    digest UDF; re-serialize to canonicalize.
    """
    from pyspark.sql import Window

    from pyspark.sql.types import DateType

    # DATE-grain windows order on an integer day index (datediff from
    # epoch): unix_timestamp(date) is midnight in the SESSION timezone, and
    # across a 25-hour DST fall-back day the epoch gap (90000 s) would push
    # day t-k+1 out of a seconds-based RANGE frame.  Timestamp grains keep
    # the seconds frame (their stored values are the actual slide starts).
    if isinstance(df.schema[window_col].dataType, DateType):
        if slide_seconds % 86400 != 0:
            raise ValueError(
                f"sliding_from_tumbling: date-typed {window_col!r} needs a "
                f"whole-day slide_seconds, got {slide_seconds}")
        order_expr = F.datediff(F.col(window_col), F.lit("1970-01-01"))
        frame_lo = -(k - 1) * (slide_seconds // 86400)
    else:
        order_expr = F.unix_timestamp(F.col(window_col))
        frame_lo = -(k - 1) * slide_seconds
    w = (
        Window.partitionBy(*keys)
        .orderBy(order_expr)
        .rangeBetween(frame_lo, 0)
    )
    blobs = F.collect_list(digest_col).over(w)
    return df.select(
        *keys,
        F.col(window_col).alias("slide_end_start"),
        F.aggregate(
            blobs, F.expr("X''"), lambda acc, x: F.concat(acc, x)
        ).alias(out_col),
        F.size(blobs).cast("int").alias("n_slides"),
    )


def digest_timeline(
    digests: DataFrame,
    keys: list[str],
    epoch_col: str,
    ps: Iterable[float] = (0.5,),
    discrete: bool = False,
    digest_col: str = "digest",
    ma_window: int = 0,
    psi_jsd: bool = False,
    w1: bool = False,
) -> DataFrame:
    """Windowed-trend report over a STORED per-epoch digest table: for each
    key, order the epochs and report per epoch the ingested count, the
    requested quantiles, their deltas vs the previous stored epoch, and the
    two-sample KS distance vs the previous epoch's digest — the time-series
    form of the drift monitor (``jobs/drift_monitor.py`` compares two fixed
    tables; this walks N of them in one pass).  ``ma_window=k`` (k >= 2)
    additionally smooths each quantile with a trailing k-epoch moving
    average (``ma_<ptag>`` columns; warm-up epochs average over however
    many stored epochs exist so far) — the denoised trend line a dashboard
    plots next to the raw per-epoch value.

    Input is any ``tdigest_aggregate(df, keys + [epoch_col], ...)`` result
    (fresh or read back from parquet): one KB blob per (key, epoch).  The
    only shuffle is the lag window over those KB sketch rows — the fact
    data the digests summarize is NEVER rescanned, so at 100 TB a
    90-epoch × 10k-key timeline costs seconds.  With ``discrete=True``
    digests are lossless, so every reported number is the EXACT statistic
    of the underlying data (oracle-checkable; gated as
    ``td_timeline_by_type``).

    Output columns: ``keys..., epoch_col, n, <ptag>, delta_<ptag> per
    requested quantile, ks_prev`` where ``<ptag>`` is e.g. ``p5`` for 0.5,
    ``p95`` for 0.95; ``w1=True`` appends ``w1_prev`` (1-Wasserstein vs
    the previous stored epoch — drift in VALUE units, the monitor that
    keeps growing where KS saturates); ``psi_jsd=True`` appends
    ``psi_prev`` / ``jsd_prev``
    (PSI and Jensen-Shannon divergence vs the previous stored epoch,
    binned on the previous epoch's decile grid — baseline = expected, per
    PSI convention).  The first stored epoch of each key has NULL deltas
    and NULL ``ks_prev`` (nothing to compare against); gaps in the epoch
    sequence compare against the previous STORED epoch, not the previous
    calendar epoch — a monitor should never silently skip a comparison
    because an ingest was late.
    """
    from pyspark.sql import Window

    ps = list(ps)
    w = Window.partitionBy(*keys).orderBy(epoch_col)
    q_udf = tdigest_quantiles_udf(ps, discrete=discrete)
    base = digests.select(
        *keys,
        epoch_col,
        F.col(digest_col).alias("_dig"),
        tdigest_count_udf(digest_col).cast("long").alias("n"),
        q_udf(digest_col).alias("_q"),
    )
    base = base.withColumn("_prev", F.lag("_dig").over(w)).withColumn(
        "_qprev", F.lag("_q").over(w)
    )
    if ma_window and ma_window < 2:
        raise ValueError(f"ma_window must be >= 2, got {ma_window}")
    wma = w.rowsBetween(-(ma_window - 1), 0) if ma_window else None
    qcols = []
    for i, p in enumerate(ps):
        tag = ("%g" % p).replace("0.", "p").replace(".", "_")
        qcols.append(F.col("_q")[i].alias(tag))
        qcols.append((F.col("_q")[i] - F.col("_qprev")[i]).alias(f"delta_{tag}"))
        if wma is not None:
            qcols.append(F.avg(F.col("_q")[i]).over(wma).alias(f"ma_{tag}"))
    cols = [
        *keys,
        epoch_col,
        "n",
        *qcols,
        tdigest_ks_udf("_dig", "_prev").alias("ks_prev"),
    ]
    if w1:
        cols.append(tdigest_w1_udf("_dig", "_prev").alias("w1_prev"))
    if psi_jsd:
        out = base.withColumn("_pj", tdigest_psi_jsd_udf()("_dig", "_prev"))
        return out.select(
            *cols,
            F.col("_pj")[0].alias("psi_prev"),
            F.col("_pj")[1].alias("jsd_prev"),
        )
    return base.select(*cols)
