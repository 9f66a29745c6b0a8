"""Production job: the END-TO-END training-data curation pipeline —
quality filter -> (PII redaction) -> (LM-quality gate) -> dedup ->
(decontamination) -> curated corpus (+ optional sequence packing), with
per-stage durable checkpoints so a killed run resumes at the last
completed stage instead of rescanning the corpus.

    spark-submit --master <cluster> --py-files dist/sketchlib.zip \
        jobs/curate_corpus.py \
        --input s3://.../pages/ --workdir /warehouse/curate/2026-08-18 \
        --output /warehouse/curated/2026-08-18 \
        [--min-tokens 10] [--max-rep-frac 0.2] [--redact-pii] \
        [--model /warehouse/lm/2026-08 --max-score 9.0] \
        [--dedup both|exact|near|none] [--threshold 0.8] \
        [--eval-input /warehouse/benchmarks --decontam-ngram 8] \
        [--ctx-len 2048] [--resume]

Stage graph (every stage is a linear scan-shaped Spark job; stage
boundaries land on durable storage):

0. **urldedup** (with ``--url-col``) — canonical-URL dedup pre-pass
   (``textops.canonical_url``): crawl variants of one page (http/https,
   ``www.``, ports, fragments, tracking params, param order) collapse to
   the deterministic min-id keeper BEFORE any text hashing — the
   cheapest dedup runs first; NULL-url docs always survive to the
   content-dedup stages.
1. **quality** — ONE bound-lambda predicate (``textops.quality_keep_expr``):
   keep docs with >= ``--min-tokens`` tokens and Gopher/C4
   duplicate-3-gram ratio <= ``--max-rep-frac``; NULL text (failed
   fetches) drops here.  The token array is lambda-bound so the
   interpreted Filter evaluates ``split(text)`` once, and duplicate
   counting runs on chained-xxhash64 longs, never n-gram strings (~20x
   the naive form on real page text).  ``--redact-pii`` rewrites the
   text column via ``textops.redact_pii`` in the same projection.
2. **lmscore** (with ``--model``) — stupid-backoff n-gram fluency score
   against a stored model (``textops.score_with_ngram_path``: executors
   read the model parquet themselves — no driver collect, order implied
   by the model's deepest context); keep docs whose mean -ln p(token) is
   <= ``--max-score`` (LOWER = more fluent, the CCNet convention).
3. **dedup** — exact content-hash + MinHash/LSH near-dup evidence as an
   edge list, min-id connected components (``dedup.propagate_min_keeper``,
   same composition as jobs/dedup_corpus.py); non-keepers drop.
3b. **spandedup** (with ``--span-dedup N``) — cross-document duplicate
   SPAN removal (``dedup.remove_duplicate_spans``, the ExactSubstr
   family): after doc-level dedup has dropped whole near-duplicates,
   this REWRITES the survivors, excising every N-token window shared
   with another surviving doc (quotes, licence blocks, syndicated
   fragments); ``--span-keep-first`` retains each span in its min-id
   owner.  Docs left with zero tokens drop.  Runs after doc dedup on
   purpose: exact duplicates would otherwise make every span shared.
4. **decontam** (with ``--eval-input``) — the eval corpus's hashed
   n-grams become ONE Bloom blob (``dedup.eval_ngram_bloom``, KB-MB
   scale, broadcast); training docs probing positive drop
   (``dedup.bloom_decontam_flags``: zero false negatives, fpr-bounded
   over-drop — the conservative trade).
5. **output** — surviving (id, text[, score]) written to ``--output``;
   with ``--ctx-len`` the packing table (``textops.pack_sequences``:
   chunk id / offset / span per doc) lands at ``<output>_packed``.

**Checkpoint/resume lineage.**  Each stage writes
``<workdir>/NN_<stage>/`` (parquet, atomic via Spark's _SUCCESS commit)
plus a parquet sidecar ``NN_<stage>.meta`` carrying the stage's param
fingerprint CHAINED onto its upstream fingerprint (the sidecar commits
AFTER the stage data, so a crash between the two re-runs the stage —
never trusts a half-written checkpoint).  ``--resume`` skips a stage iff
the sidecar reads back AND the chained fingerprint matches —
changing any flag (or the input path) invalidates exactly that stage and
everything downstream, never an unrelated prefix.  At 100 TB each stage
is hours of cluster time; the chain means a preempted run re-does only
the stage it died in.  A per-stage metrics row (rows out, seconds,
skipped, fingerprint) appends to ``<workdir>/metrics`` and the job's
final stdout line is one JSON summary.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import time


def _fingerprint(upstream: str, params: dict) -> str:
    blob = json.dumps({"up": upstream, "params": params}, sort_keys=True)
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--workdir", required=True,
                    help="durable stage-checkpoint root (parquet per stage)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--lang-col", default="lang")
    ap.add_argument("--min-tokens", type=int, default=10)
    ap.add_argument("--max-rep-frac", type=float, default=0.2,
                    help="max duplicate-3-gram ratio (Gopher/C4 rule)")
    ap.add_argument("--rep-ngram", type=int, default=3)
    ap.add_argument("--redact-pii", action="store_true")
    ap.add_argument("--model", default=None,
                    help="stored n-gram LM parquet (jobs/score_quality.py "
                         "train); enables the lmscore gate")
    ap.add_argument("--max-score", type=float, default=None,
                    help="max mean -ln p(token) to keep — lower is more "
                         "fluent (requires --model)")
    ap.add_argument("--dedup", default="both",
                    choices=["both", "exact", "near", "none"])
    ap.add_argument("--threshold", type=float, default=0.8)
    ap.add_argument("--ngram", type=int, default=3,
                    help="shingle n-gram for near-dup")
    ap.add_argument("--num-perm", type=int, default=64)
    ap.add_argument("--sig-kernel", default="poly", choices=["xxh", "poly"],
                    help="near-dup MinHash signature kernel (see "
                         "jobs/dedup_corpus.py --sig-kernel; 'poly' — the "
                         "default since the recall-parity soak in "
                         "BENCH/BASELINE.md, 'Recall-parity soak' — signs in one "
                         "zero-Exchange Arrow projection, each token "
                         "hashed once, ~2x the signature stage)")
    ap.add_argument("--normalize-keys", action="store_true",
                    help="canonicalize the exact-dedup content key "
                         "(textops.normalize_text_expr: case-fold + "
                         "whitespace-collapse + trim) so trivial crawl "
                         "variants of the same page hash identically; "
                         "near-dup shingling keeps the raw text")
    ap.add_argument("--url-col", default=None,
                    help="URL column; enables canonical-URL dedup as the "
                         "stage-0 pre-pass (cheapest dedup first: crawl "
                         "variants of one page collapse before any text "
                         "hashing)")
    ap.add_argument("--span-dedup", type=int, default=None,
                    help="remove cross-document duplicate token spans of "
                         "this length after doc-level dedup "
                         "(dedup.remove_duplicate_spans)")
    ap.add_argument("--span-keep-first", action="store_true",
                    help="keep each duplicated span in its min-id owner "
                         "instead of removing every occurrence")
    ap.add_argument("--eval-input", default=None,
                    help="held-out eval corpus parquet; enables decontam")
    ap.add_argument("--decontam-ngram", type=int, default=8)
    ap.add_argument("--decontam-fpr", type=float, default=0.001)
    ap.add_argument("--ctx-len", type=int, default=None,
                    help="also write the sequence-packing table")
    ap.add_argument("--resume", action="store_true",
                    help="skip stages whose checkpoint + fingerprint match")
    args = ap.parse_args()
    if args.max_score is not None and args.model is None:
        ap.error("--max-score requires --model")

    from pyspark.sql import functions as F

    from sketchlib.spark.session import job_session

    spark = job_session("sketchlib-curate-corpus")
    spark.sparkContext.setLogLevel("WARN")

    from sketchlib.spark.dedup import (
        bloom_decontam_flags,
        eval_ngram_bloom,
        exact_dedup_keepers,
        minhash_lsh_dedup_pairs,
        propagate_min_keeper,
    )
    from sketchlib.spark.textops import (
        canonical_url,
        pack_sequences,
        quality_keep_expr,
        redact_pii,
        score_with_ngram_path,
    )

    idc, txt = args.id_col, args.text_col
    t_job = time.time()
    metrics: dict[str, dict] = {}
    upstream_fp = _fingerprint("", {"input": args.input})

    def run_stage(n, name, params, compute):
        """Compute-or-resume one stage; returns (df, chained fingerprint).

        The fingerprint chains upstream, so a param change invalidates this
        stage and everything after it; ``--resume`` + matching sidecar +
        _SUCCESS reads the checkpoint instead of recomputing."""
        nonlocal upstream_fp
        fp = _fingerprint(upstream_fp, {"stage": name, **params})
        upstream_fp = fp
        path = os.path.join(args.workdir, f"{n:02d}_{name}")
        sidecar = path + ".meta"
        if args.resume:
            # the sidecar is itself parquet (written AFTER the stage data
            # commits), so resume detection works on any Hadoop-visible
            # filesystem — no driver-local file API anywhere
            try:
                meta = spark.read.parquet(sidecar).collect()
            except Exception:
                meta = []
            if meta and meta[0]["fp"] == fp:
                df = spark.read.parquet(path)
                metrics[name] = {"rows": df.count(), "sec": 0.0,
                                 "skipped": True, "fp": fp}
                return df
        t0 = time.time()
        compute().write.mode("overwrite").parquet(path)
        spark.createDataFrame(
            [(fp, json.dumps(params, sort_keys=True))],
            "fp string, params string",
        ).write.mode("overwrite").parquet(sidecar)
        df = spark.read.parquet(path)
        metrics[name] = {"rows": df.count(),
                         "sec": round(time.time() - t0, 2),
                         "skipped": False, "fp": fp}
        return df

    # ---- stage 0: canonical-URL dedup (optional pre-pass) -----------------
    url_deduped = None
    if args.url_col is not None:
        def urldedup():
            from pyspark.sql import Window

            src = spark.read.parquet(args.input)
            # keeper computed on the NARROW (id, canon) projection so the
            # window shuffle moves 16-byte rows, never text; NULL url has
            # nothing to key on and is always kept.  Deterministic min-id
            # keeper — the same policy as exact content dedup.
            keyed = src.select(
                F.col(idc), canonical_url(args.url_col).alias("_canon")
            ).where(F.col("_canon").isNotNull())
            w = Window.partitionBy("_canon")
            drop = (
                keyed.withColumn("_min", F.min(idc).over(w))
                .where(F.col(idc) != F.col("_min")).select(idc)
            )
            return src.join(drop, idc, "left_anti")

        url_deduped = run_stage(0, "urldedup", {"url_col": args.url_col},
                                urldedup)

    # ---- stage 1: quality filter (+ optional PII redaction) --------------
    def quality():
        src = (url_deduped if url_deduped is not None
               else spark.read.parquet(args.input))
        keep = [c for c in src.columns]
        # one bound-lambda hashed predicate (textops.quality_keep_expr):
        # the naive string-n-gram form re-inlines split(text) per reference
        # inside the interpreted Filter — ~20x slower on real page text
        filtered = src.filter(quality_keep_expr(
            txt, args.min_tokens, args.max_rep_frac, args.rep_ngram))
        if args.redact_pii:
            filtered = redact_pii(filtered, txt).withColumn(
                txt, F.col("text_redacted")
            ).select(*keep)
        return filtered

    docs = run_stage(1, "quality", {
        "min_tokens": args.min_tokens, "max_rep_frac": args.max_rep_frac,
        "rep_ngram": args.rep_ngram, "redact_pii": args.redact_pii,
    }, quality)

    # ---- stage 2: LM-quality gate (optional) ------------------------------
    if args.model is not None:
        def lmscore():
            scored = score_with_ngram_path(
                docs, args.model, idc, txt, args.lang_col)
            out = docs.join(
                scored.select(idc, F.col("logprob_per_token").alias("score")),
                idc)
            if args.max_score is not None:
                out = out.filter(F.col("score") <= args.max_score)
            return out

        docs = run_stage(2, "lmscore", {
            "model": args.model, "max_score": args.max_score,
        }, lmscore)

    # ---- stage 3: dedup ----------------------------------------------------
    if args.dedup != "none":
        def dedup():
            edges = []
            if args.dedup in ("exact", "both"):
                if args.normalize_keys:
                    from sketchlib.spark.textops import normalize_text_expr

                    d2 = docs.withColumn("_nkey", normalize_text_expr(txt))
                    ek = exact_dedup_keepers(d2, idc, "_nkey")
                else:
                    ek = exact_dedup_keepers(docs, idc, txt)
                edges.append(
                    ek.filter(F.col(idc) != F.col("keeper_id")).select(
                        F.col("keeper_id").alias("a_id"),
                        F.col(idc).alias("b_id")))
            if args.dedup in ("near", "both"):
                edges.append(minhash_lsh_dedup_pairs(
                    docs, args.threshold, idc, txt, args.ngram,
                    args.num_perm, bands="auto", hashed_verify=True,
                    shingle_storage="disk", kernel=args.sig_kernel,
                ).select("a_id", "b_id"))
            e = edges[0]
            for x in edges[1:]:
                e = e.union(x)
            grouped = propagate_min_keeper(e)
            drop = grouped.filter(F.col("id") != F.col("keeper_id")) \
                          .select(F.col("id").alias(idc))
            return docs.join(drop, idc, "left_anti")

        docs = run_stage(3, "dedup", {
            "mode": args.dedup, "threshold": args.threshold,
            "ngram": args.ngram, "num_perm": args.num_perm,
            # omitted when False so pre-flag checkpoints stay resumable
            **({"normalize_keys": True} if args.normalize_keys else {}),
            # "xxh" is omitted so checkpoints from the pre-poly era (when
            # xxh was both the default and unfingerprinted) stay resumable
            # under an explicit --sig-kernel xxh; any other kernel —
            # including today's "poly" default — enters the fingerprint,
            # so a kernel switch always invalidates the stage
            **({"sig_kernel": args.sig_kernel}
               if args.sig_kernel != "xxh" else {}),
        }, dedup)

    # ---- stage 3b: duplicate-span removal (optional) -----------------------
    if args.span_dedup is not None:
        def spandedup():
            from sketchlib.spark.dedup import remove_duplicate_spans

            keep = docs.columns
            rm = remove_duplicate_spans(
                docs, idc, txt, span=args.span_dedup,
                keep_first=args.span_keep_first)
            return (
                docs.drop(txt)
                .join(rm.select(idc, F.col("text_clean").alias(txt),
                                "n_kept_tokens"), idc)
                .filter(F.col("n_kept_tokens") > 0)
                .select(*keep)
            )

        docs = run_stage(4, "spandedup", {
            "span": args.span_dedup,
            **({"keep_first": True} if args.span_keep_first else {}),
        }, spandedup)

    # ---- stage 4: decontamination (optional) -------------------------------
    if args.eval_input is not None:
        def decontam():
            blob = eval_ngram_bloom(
                spark.read.parquet(args.eval_input),
                args.decontam_ngram, args.decontam_fpr, idc, txt)
            flags = bloom_decontam_flags(
                docs, blob, idc, txt, args.decontam_ngram)
            drop = flags.filter("contaminated").select(idc)
            return docs.join(drop, idc, "left_anti")

        docs = run_stage(4, "decontam", {
            "eval_input": args.eval_input, "ngram": args.decontam_ngram,
            "fpr": args.decontam_fpr,
        }, decontam)

    # ---- output (+ optional packing) ---------------------------------------
    docs.write.mode("overwrite").parquet(args.output)
    n_out = spark.read.parquet(args.output).count()
    if args.ctx_len is not None:
        pack_sequences(docs, args.ctx_len, id_col=idc, text_col=txt) \
            .write.mode("overwrite").parquet(args.output + "_packed")

    # metrics table: one appended row per stage per run
    rows = [(name, m["rows"], float(m["sec"]), bool(m["skipped"]), m["fp"],
             float(t_job))
            for name, m in metrics.items()]
    spark.createDataFrame(
        rows, "stage string, n_rows long, sec double, skipped boolean, "
              "fp string, run_ts double",
    ).write.mode("append").parquet(os.path.join(args.workdir, "metrics"))

    print(json.dumps({
        "job": "curate_corpus", "n_out": n_out,
        "stages": metrics, "sec": round(time.time() - t_job, 2),
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
