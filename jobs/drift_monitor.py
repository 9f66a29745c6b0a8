"""Production job: distribution-drift monitor between two stored digest
tables — the operational form of the ``td_ks_drift_by_lang`` query.

    spark-submit --master <cluster> --py-files dist/sketchlib.zip \
        jobs/drift_monitor.py \
        --left  /warehouse/digests/2026-08-17 \
        --right /warehouse/digests/2026-08-18 \
        --key-cols key  --quantiles 0.5,0.95,0.99 \
        --ks-threshold 0.1  --output /warehouse/drift/2026-08-18

Timeline mode walks N stored epochs of ONE table instead of comparing two
(the windowed-trend report: per (key, epoch) quantiles, deltas and KS vs
the previous stored epoch, via ``digest_timeline``):

    spark-submit ... jobs/drift_monitor.py \
        --timeline /warehouse/digests_by_day --epoch-col day \
        --key-cols key --quantiles 0.5,0.95 --ks-threshold 0.1 \
        --output /warehouse/drift/timeline

Inputs are (key..., digest binary) tables as written by
``jobs/build_digests.py`` (or any ``tdigest_aggregate`` result).  For each
key the job reports the two-sample KS distance between the stored digests,
PSI and Jensen-Shannon divergence on the baseline side's decile grid
(the three standard drift monitors from the same two sketches;
``--psi-threshold`` adds PSI to the drift gate — 0.1/0.25 are the
conventional watch/act cutoffs), left/right values at the requested
quantiles with their absolute deltas, ingested counts on both sides, and
a ``drifted`` verdict (KS above the threshold, PSI or the 1-Wasserstein
distance W1 above its threshold when one is set, or the key present on
only one side; timeline mode gates its ``*_prev`` columns the same way).
Everything is computed from the KB-scale sketch rows — the fact tables the
digests summarize are NEVER rescanned, which is the point: at 100 TB this
job costs seconds and can run after every ingest batch.

Exit status is 0 when no key drifted and 2 otherwise, so the job slots
directly into an alerting scheduler; the JSON metrics line on stdout
carries the summary either way.
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--left", help="baseline digest table (pair mode)")
    ap.add_argument("--right", help="candidate digest table (pair mode)")
    ap.add_argument("--timeline",
                    help="single digest table WITH an epoch column "
                         "(timeline mode: N-epoch windowed-trend report "
                         "instead of a two-table comparison)")
    ap.add_argument("--epoch-col", default="epoch",
                    help="epoch column of the --timeline table")
    ap.add_argument("--ma-window", type=int, default=0,
                    help="timeline mode: trailing moving-average window "
                         "(>=2) added as ma_<q> columns; 0 = off")
    ap.add_argument("--output", required=True)
    ap.add_argument("--key-cols", default="key",
                    help="comma-separated key columns shared by both tables")
    ap.add_argument("--quantiles", default="0.5,0.95,0.99")
    ap.add_argument("--ks-threshold", type=float, default=0.1)
    ap.add_argument("--psi-threshold", type=float, default=0.0,
                    help="also flag drift when PSI exceeds this "
                         "(0.1 watch / 0.25 act by convention); 0 = report "
                         "PSI/JSD but gate on KS only")
    ap.add_argument("--w1-threshold", type=float, default=0.0,
                    help="also flag drift when the 1-Wasserstein "
                         "distance exceeds this many VALUE units (e.g. a "
                         "mean shift of that size); 0 = report w1 but do "
                         "not gate on it")
    ap.add_argument("--discrete", action="store_true",
                    help="digests were built in discrete mode")
    args = ap.parse_args()
    if bool(args.timeline) == bool(args.left or args.right):
        ap.error("pass either --left AND --right (pair mode) "
                 "or --timeline (timeline mode)")
    if not args.timeline and not (args.left and args.right):
        ap.error("pair mode needs both --left and --right")


    from sketchlib.spark.session import job_session
    from pyspark.sql import functions as F

    spark = job_session("sketchlib-drift-monitor")
    spark.sparkContext.setLogLevel("WARN")

    from sketchlib.spark.tdigest_ops import (
        tdigest_count_udf,
        tdigest_ks_udf,
        tdigest_quantiles_udf,
    )

    keys = args.key_cols.split(",")
    ps = [float(p) for p in args.quantiles.split(",")]

    if args.timeline:
        # timeline mode: one stored per-epoch digest table -> per (key,
        # epoch) trend rows (n, quantiles, deltas, KS vs previous stored
        # epoch); drifted = ks_prev (or psi_prev / w1_prev, when their
        # thresholds are set) above threshold.  First epoch per key has
        # nothing to compare against -> not drift.
        from sketchlib.spark.tdigest_ops import digest_timeline

        digs = spark.read.parquet(args.timeline)
        ks_gate = F.col("ks_prev") > F.lit(args.ks_threshold)
        gate = (ks_gate | (F.col("psi_prev") > F.lit(args.psi_threshold))
                if args.psi_threshold > 0 else ks_gate)
        if args.w1_threshold > 0:
            gate = gate | (F.col("w1_prev") > F.lit(args.w1_threshold))
        report = digest_timeline(
            digs, keys, args.epoch_col, ps=ps, discrete=args.discrete,
            ma_window=args.ma_window, psi_jsd=True, w1=True,
        ).withColumn("drifted", F.coalesce(gate, F.lit(False)))
        report.write.mode("overwrite").parquet(args.output)
        out = spark.read.parquet(args.output)
        agg = out.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct(*keys).alias("n_keys"),
            F.sum(F.col("drifted").cast("long")).alias("n_drifted"),
            F.max("ks_prev").alias("max_ks"),
            F.max("psi_prev").alias("max_psi"),
            F.max("jsd_prev").alias("max_jsd"),
            F.max("w1_prev").alias("max_w1"),
        ).collect()[0]
        print(json.dumps({
            "mode": "timeline",
            "n_rows": agg["n_rows"],
            "n_keys": agg["n_keys"],
            "n_drifted": int(agg["n_drifted"] or 0),
            "max_ks": agg["max_ks"],
            "max_psi": agg["max_psi"],
            "max_jsd": agg["max_jsd"],
            "max_w1": agg["max_w1"],
            "ks_threshold": args.ks_threshold,
            "psi_threshold": args.psi_threshold,
            "w1_threshold": args.w1_threshold,
            "output": args.output,
        }))
        drifted = int(agg["n_drifted"] or 0)
        spark.stop()
        return 0 if drifted == 0 else 2

    q_udf = tdigest_quantiles_udf(ps, discrete=args.discrete)

    def side(path: str, tag: str):
        df = spark.read.parquet(path)
        return df.select(
            *keys,
            F.col("digest").alias(f"digest_{tag}"),
            tdigest_count_udf("digest").alias(f"count_{tag}"),
            q_udf("digest").alias(f"q_{tag}"),
        )

    left = side(args.left, "l")
    right = side(args.right, "r")
    joined = left.join(right, keys, "full_outer")

    qcols = []
    for i, p in enumerate(ps):
        tag = str(p).replace("0.", "p").replace(".", "_")
        ql = F.col("q_l")[i]
        qr = F.col("q_r")[i]
        qcols += [ql.alias(f"{tag}_left"), qr.alias(f"{tag}_right"),
                  F.abs(qr - ql).alias(f"{tag}_abs_delta")]

    from sketchlib.spark.tdigest_ops import tdigest_psi_jsd_udf

    from sketchlib.spark.tdigest_ops import tdigest_w1_udf

    ks = tdigest_ks_udf("digest_l", "digest_r").alias("ks")
    # W1 reports drift in VALUE units (how far the mass moved) next to
    # KS's largest-CDF-gap — e.g. a uniform shift saturates KS but W1
    # equals the shift size
    w1 = tdigest_w1_udf("digest_l", "digest_r").alias("w1")
    # PSI/JSD bin on the SECOND argument's quantile grid: pass the LEFT
    # (baseline) side there, per PSI convention (expected = baseline)
    pj = tdigest_psi_jsd_udf()("digest_r", "digest_l")
    ks_gate = F.col("ks") > F.lit(args.ks_threshold)
    gate = (ks_gate | (F.col("psi") > F.lit(args.psi_threshold))
            if args.psi_threshold > 0 else ks_gate)
    if args.w1_threshold > 0:
        gate = gate | (F.col("w1") > F.lit(args.w1_threshold))
    report = joined.select(
        *keys,
        ks,
        w1,
        pj[0].alias("psi"),
        pj[1].alias("jsd"),
        F.col("count_l").alias("count_left"),
        F.col("count_r").alias("count_right"),
        *qcols,
    ).withColumn(
        "drifted",
        # a key that appeared or disappeared IS drift; otherwise gate on
        # KS (and PSI / W1 when their thresholds are set)
        F.when(F.col("count_left").isNull() | F.col("count_right").isNull(),
               F.lit(True))
        .otherwise(gate),
    )
    report.write.mode("overwrite").parquet(args.output)

    out = spark.read.parquet(args.output)
    agg = out.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum(F.col("drifted").cast("long")).alias("n_drifted"),
        F.max("ks").alias("max_ks"),
        F.max("psi").alias("max_psi"),
        F.max("jsd").alias("max_jsd"),
        F.max("w1").alias("max_w1"),
        F.sum(F.col("count_left").isNull().cast("long")).alias("new_keys"),
        F.sum(F.col("count_right").isNull().cast("long")).alias("gone_keys"),
    ).collect()[0]
    print(json.dumps({
        "n_keys": agg["n_keys"],
        "n_drifted": int(agg["n_drifted"] or 0),
        "max_ks": agg["max_ks"],
        "max_psi": agg["max_psi"],
        "max_jsd": agg["max_jsd"],
        "max_w1": agg["max_w1"],
        "new_keys": int(agg["new_keys"] or 0),
        "gone_keys": int(agg["gone_keys"] or 0),
        "ks_threshold": args.ks_threshold,
        "psi_threshold": args.psi_threshold,
        "w1_threshold": args.w1_threshold,
        "output": args.output,
    }))
    drifted = int(agg["n_drifted"] or 0)
    spark.stop()
    return 0 if drifted == 0 else 2


if __name__ == "__main__":
    sys.exit(main())
