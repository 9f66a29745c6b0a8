"""Production job: test-set decontamination — the training-data pipeline's
spark-submit entry for dropping (or flagging) training documents that leak
held-out benchmark/eval content, by word n-gram overlap.

    spark-submit --master <cluster> --py-files dist/sketchlib.zip \
        jobs/decontaminate_corpus.py \
        --train s3://.../pages/ --eval s3://.../benchmarks/ \
        --output /warehouse/clean \
        [--id-col doc_id] [--text-col text] [--ngram 5] \
        [--max-containment 0.0] [--mode filter|flag] [--no-broadcast-eval] \
        [--engine exact|bloom|fuzzy] [--bloom-fpr 1e-4] \
        [--fuzzy-threshold 0.8] [--fuzzy-measure jaccard|containment_eval]

Semantics (see ``sketchlib.spark.dedup.contamination_hits``): a train doc's
containment is (distinct n-grams shared with the eval corpus) / (its
distinct n-gram count).  ``--max-containment 0.0`` (default) drops any doc
sharing even one n-gram — the strict decontamination rule; raise it to
tolerate incidental short-phrase collisions.

Scale design: the eval n-gram set is DISTINCTed and broadcast (use
``--no-broadcast-eval`` for abnormally large eval corpora), the train side
builds its shingles exactly once and is never shuffled at shingle grain —
per-doc stats come from one map-side-combined aggregate.  ``--mode
filter`` re-reads the train input and keeps clean ids via a join on the
(contaminated-only, hence tiny) flag set — broadcast anti-join at real
scale; ``--mode flag`` just writes the per-doc stats table for audits.

``--engine bloom`` swaps in the sketch path: the eval n-gram set becomes
ONE Bloom blob (``eval_ngram_bloom``) and the train side is scored by the
stateless graded probe (``bloom_overlap_stats`` — per-doc window-overlap
ratio, zero false negatives, extra drops fpr-bounded by ``--bloom-fpr``).
Use it when the eval corpus is rebuilt rarely and probed often, or when
the probe must also run on a stream.

``--engine fuzzy`` runs the NEAR-DUPLICATE pass
(``dedup.fuzzy_decontam_pairs``): train docs similar to any eval doc at
``--fuzzy-threshold`` word-n-gram Jaccard (or eval-containment with
``--fuzzy-measure containment_eval``) are dropped/flagged — catches the
paraphrased or lightly-edited contamination verbatim n-gram overlap
misses.  Discovery broadcasts the banded eval side (the train corpus
never shuffles for it); candidates are verified on exact shingles.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--train", required=True)
    ap.add_argument("--eval", dest="eval_path", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--ngram", type=int, default=5)
    ap.add_argument("--max-containment", type=float, default=0.0)
    ap.add_argument("--mode", choices=["filter", "flag"], default="filter")
    ap.add_argument("--no-broadcast-eval", action="store_true")
    ap.add_argument("--hashed", action="store_true",
                    help="64-bit hashed n-grams (the web-scale mode: ~2x "
                         "shingle build, 8 B/n-gram broadcast)")
    ap.add_argument("--engine", choices=["exact", "bloom", "fuzzy"],
                    default="exact",
                    help="'bloom' compresses the eval n-gram set into one "
                         "KB-MB Bloom blob and scores the train side with "
                         "the stateless graded probe "
                         "(dedup.bloom_overlap_stats): zero false "
                         "negatives, fpr-bounded extra drops, per-doc "
                         "window-overlap ratio instead of distinct-n-gram "
                         "containment; 'fuzzy' drops train docs "
                         "NEAR-DUPLICATE to any eval doc "
                         "(dedup.fuzzy_decontam_pairs, asymmetric LSH + "
                         "exact verify) — the paraphrase-grade pass the "
                         "n-gram engines miss")
    ap.add_argument("--bloom-fpr", type=float, default=1e-4,
                    help="bloom engine: per-window false-positive rate")
    ap.add_argument("--fuzzy-threshold", type=float, default=0.8,
                    help="fuzzy engine: similarity threshold")
    ap.add_argument("--fuzzy-measure",
                    choices=["jaccard", "containment_eval"],
                    default="jaccard",
                    help="fuzzy engine: 'containment_eval' thresholds the "
                         "share of the EVAL doc present in the train doc "
                         "(embedded-benchmark detection); pair it with a "
                         "low-threshold banding via --fuzzy-bands")
    ap.add_argument("--fuzzy-bands", type=int, default=16)
    ap.add_argument("--fuzzy-kernel", default="xxh", choices=["xxh", "poly"],
                    help="fuzzy engine: signature kernel (poly = the "
                         "zero-Exchange Arrow kernel; both sides always "
                         "share one family)")
    ap.add_argument("--num-perm", type=int, default=64)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from sketchlib.spark.session import job_session

    from sketchlib.spark.dedup import contamination_hits

    spark = job_session("sketchlib-decontaminate-corpus")
    spark.sparkContext.setLogLevel("WARN")
    train = spark.read.parquet(args.train)
    eval_df = spark.read.parquet(args.eval_path)
    t0 = time.time()

    if args.engine == "fuzzy":
        from sketchlib.spark.dedup import fuzzy_decontam_pairs

        pairs = fuzzy_decontam_pairs(
            train, eval_df,
            threshold=args.fuzzy_threshold,
            id_col=args.id_col, text_col=args.text_col,
            ngram=args.ngram, num_perm=args.num_perm,
            bands=args.fuzzy_bands,
            broadcast_eval=not args.no_broadcast_eval,
            measure=args.fuzzy_measure,
            hashed_shingles=args.hashed,
            kernel=args.fuzzy_kernel,
            eager=True,
        )
        # per-train-doc match stats; docs with no row are clean (unlike
        # the exact engine's flag mode, which emits a row per train doc)
        stats = pairs.groupBy(F.col("train_id").alias(args.id_col)).agg(
            F.count("*").alias("n_eval_matches"),
            F.max(args.fuzzy_measure).alias("max_sim"),
        )
        contaminated = stats
    elif args.engine == "bloom":
        from sketchlib.spark.dedup import bloom_overlap_stats, eval_ngram_bloom

        blob = eval_ngram_bloom(
            eval_df, ngram=args.ngram, fpr=args.bloom_fpr,
            id_col=args.id_col, text_col=args.text_col,
        )
        stats = bloom_overlap_stats(
            train, blob, id_col=args.id_col, text_col=args.text_col,
            ngram=args.ngram,
        )
        # NULL ratio (no windows) is clean, matching the exact path's
        # equi-join semantics for null/empty text
        contaminated = stats.filter(
            F.col("overlap_ratio") > args.max_containment
        ).select(args.id_col, "n_windows", "n_hits", "overlap_ratio")
    else:
        stats = contamination_hits(
            train,
            eval_df,
            id_col=args.id_col,
            text_col=args.text_col,
            ngram=args.ngram,
            broadcast_eval=not args.no_broadcast_eval,
            hashed=args.hashed,
        )
        contaminated = stats.filter(
            F.col("containment") > args.max_containment
        ).select(args.id_col, "n_ngrams", "n_hits", "containment")

    if args.mode == "flag":
        stats.write.mode("overwrite").parquet(args.output)
        if args.engine == "fuzzy":
            # fuzzy stats only contain MATCHED docs (exact/bloom emit one
            # row per train doc), so the written table's row count is the
            # contaminated count, not the corpus size (ADVICE r04)
            n_total = train.count()
        else:
            n_total = spark.read.parquet(args.output).count()
        n_bad = contaminated.count()
    else:
        # contaminated ids are a tiny fraction of the corpus — broadcast
        # anti-join keeps the train side shuffle-free
        bad_ids = contaminated.select(args.id_col)
        clean = train.join(F.broadcast(bad_ids), args.id_col, "left_anti")
        clean.write.mode("overwrite").parquet(args.output)
        n_total = train.count()
        n_bad = n_total - spark.read.parquet(args.output).count()

    print(json.dumps({
        "mode": args.mode,
        "engine": args.engine,
        "train_rows": n_total,
        "contaminated_rows": n_bad,
        "ngram": args.ngram,
        "max_containment": args.max_containment,
        "wall_sec": round(time.time() - t0, 2),
        "output": args.output,
    }))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
