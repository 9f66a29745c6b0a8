"""Production job: CCNet-style LM-quality scoring — train a per-language
stupid-backoff n-gram fluency model of order ``--ngram`` (default 1, the
unigram model) once, or score a corpus against a stored model.

Train (on the reference corpus, e.g. a vetted wiki-like slice):

    spark-submit --master <cluster> --py-files dist/sketchlib.zip \
        jobs/score_quality.py train \
        --input /warehouse/reference_corpus --model /warehouse/lm/2026-08 \
        --lang-col lang --text-col text --vocab-top-k 65536

Score (any later batch — the live crawl — against the stored model):

    spark-submit --master <cluster> --py-files dist/sketchlib.zip \
        jobs/score_quality.py score \
        --input /warehouse/crawl/2026-08-18 --model /warehouse/lm/2026-08 \
        --output /warehouse/scored/2026-08-18 \
        --buckets   # optionally add head/middle/tail via per-lang digests

Every order stores ONE parquet table ([lang], ctx, word, lp): the
``ctx IS NULL`` rows are the unigram level (OOV bucket = word-NULL row;
≤ langs×(K+1) rows, the whole model at order 1), and a ctx of j words
holds the capped (j+1)-gram relative frequencies.  A table stored before
the ``ctx`` column existed, ([lang], word, lp), scores as the order-1
model it is.  Scoring is ONE stateless broadcast-dict pass over the scan
— no explode, no join, no aggregate — so at 100 TB the job is scan-bound
and the same call works inside ``readStream``/``foreachBatch``.  Scores
are integer micro-nats (``quantize=6``): bit-identical on any partition
layout, cluster size, or engine, so stored scores from different runs
are directly comparable.  With ``--buckets`` the job additionally builds
one DISCRETE t-digest per language over the scores (KB shuffle) and
labels each doc head/middle/tail at the exact per-lang score terciles —
CCNet's "keep the most fluent third" split.

JSON metrics line on stdout; exit 0 on success.
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["train", "score"])
    ap.add_argument("--input", required=True)
    ap.add_argument("--model", required=True,
                    help="model table path (written by train, read by score)")
    ap.add_argument("--output", help="scored output path (score mode)")
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--lang-col", default="lang")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--vocab-top-k", type=int, default=65536)
    ap.add_argument("--alpha", type=float, default=0.5)
    ap.add_argument("--quantize", type=int, default=6)
    ap.add_argument("--buckets", action="store_true",
                    help="also label head/middle/tail per lang (score mode)")
    ap.add_argument("--cuts-in",
                    help="stored (lang, cut_lo, cut_hi) table: label against "
                         "a PREVIOUS epoch's cuts instead of recomputing — "
                         "the split stays stable while the corpus grows")
    ap.add_argument("--cuts-out",
                    help="write the freshly built cut table here (with "
                         "--buckets) for later --cuts-in runs")
    ap.add_argument("--model-distribution",
                    choices=["broadcast", "path", "join"],
                    default="broadcast",
                    help="'broadcast': driver collects the model and "
                         "broadcasts a dict (small models); 'path': each "
                         "executor worker reads the model parquet itself — "
                         "for huge multi-language models; 'join': fully-JVM "
                         "broadcast-join plan (no driver collect)")
    ap.add_argument("--ngram", type=int, default=1,
                    help="model order: 1 = unigram, 2 = bigram, N = "
                         "order-N stupid backoff (per-level capped models, "
                         "per-missed-level penalties); the 'join' "
                         "distribution scores at this order, the kernel "
                         "distributions at the stored model's order")
    ap.add_argument("--bigram-top-k", dest="ngram_top_k", type=int,
                    default=262144,
                    help="per-lang per-level stored n-gram cap (ngram>=2)")
    ap.add_argument("--min-count", type=int, default=1,
                    help="prune n-grams rarer than this before the cap")
    ap.add_argument("--backoff", type=float, default=0.4,
                    help="stupid-backoff multiplier (ngram>=2)")
    ap.add_argument("--context-top-k", type=int,
                    help="keep only the K hottest contexts per lang per "
                         "level before the row cap (ngram>=2; a pruned "
                         "context simply backs off one level)")
    args = ap.parse_args()
    if args.ngram < 1:
        ap.error("--ngram must be >= 1")


    from sketchlib.spark.session import job_session
    from pyspark.sql import functions as F

    spark = job_session("sketchlib-score-quality")
    spark.sparkContext.setLogLevel("WARN")

    from sketchlib.spark.textops import (
        ngram_logprob_score,
        score_with_ngram_path,
        score_with_stored_ngram,
        train_ngram_model,
    )

    t0 = time.time()
    if args.mode == "train":
        model = train_ngram_model(
            spark.read.parquet(args.input), order=args.ngram,
            lang_col=args.lang_col, text_col=args.text_col,
            vocab_top_k=args.vocab_top_k,
            ngram_top_k=args.ngram_top_k, alpha=args.alpha,
            quantize=args.quantize, min_count=args.min_count,
            context_top_k=args.context_top_k,
        )
        model.write.mode("overwrite").parquet(args.model)
        stored = spark.read.parquet(args.model)
        print(json.dumps({
            "mode": "train", "model": args.model,
            "model_rows": stored.count(),
            "langs": stored.select(args.lang_col).distinct().count(),
            "sec": round(time.time() - t0, 2),
        }))
        return 0

    if not args.output:
        ap.error("score mode requires --output")
    docs = spark.read.parquet(args.input)
    score_kw = dict(id_col=args.id_col, text_col=args.text_col,
                    lang_col=args.lang_col, quantize=args.quantize,
                    backoff=args.backoff)
    # the kernel distributions read the order off the stored model's
    # deepest context; the join plan is told it
    if args.model_distribution == "join":
        scored = ngram_logprob_score(
            docs, order=args.ngram, model=spark.read.parquet(args.model),
            **score_kw)
    elif args.model_distribution == "path":
        scored = score_with_ngram_path(docs, args.model, **score_kw)
    else:
        scored = score_with_stored_ngram(
            docs, spark.read.parquet(args.model), **score_kw)
    if args.buckets or args.cuts_in:
        from sketchlib.spark.textops import bucket_by_cuts, score_cut_table

        if args.cuts_in:
            thr = spark.read.parquet(args.cuts_in)
        else:
            thr = score_cut_table(
                scored.filter(F.col("logprob_per_token").isNotNull()),
                lang_col=args.lang_col)
            if args.cuts_out:
                thr.write.mode("overwrite").parquet(args.cuts_out)
                thr = spark.read.parquet(args.cuts_out)
        scored = bucket_by_cuts(
            scored, thr, id_col=args.id_col, lang_col=args.lang_col)
    scored.write.mode("overwrite").parquet(args.output)
    out = spark.read.parquet(args.output)
    metrics = {
        "mode": "score", "output": args.output,
        "rows": out.count(),
        "scored_rows": out.filter(
            F.col("logprob_per_token").isNotNull()).count(),
        "sec": round(time.time() - t0, 2),
    }
    if args.buckets or args.cuts_in:
        metrics["bucket_counts"] = {
            r["bucket"]: r["n"]
            for r in out.groupBy("bucket").agg(
                F.count("*").alias("n")).collect()
        }
    print(json.dumps(metrics))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
