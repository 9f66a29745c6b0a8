"""Production job: deduplicate a web-text corpus — the training-data
pipeline's spark-submit entry point.

    spark-submit --master <cluster> --py-files dist/sketchlib.zip \
        jobs/dedup_corpus.py \
        --input s3://.../pages/ --output /warehouse/keepers \
        --id-col doc_id --text-col text \
        [--mode exact|near|both] [--threshold 0.8] [--ngram 3]

Duplicate evidence is collected as an EDGE LIST and collapsed once:

1. **exact** — content-hash grouping (`exact_dedup_keepers`): the shuffle
   carries md5 hashes + ids, never text; each non-keeper contributes one
   (keeper, id) edge.
2. **near** — MinHash + LSH discovery with every scale lever on:
   ``bands="auto"`` (threshold-tuned banding + √n bucket cap), 64-bit
   hashed-shingle verification, DISK_ONLY shingle persistence; each
   verified pair is an edge.

Min-id propagation over the combined edges (see
``propagate_min_keeper``) assigns every connected component its minimum
id — transitively correct across exact AND near evidence (a near-dup of
an exact-dup lands in one group).  Output: (id, keeper_id) for every
input row; ``id != keeper_id`` is the drop set.  One JSON summary line.

**Incremental mode** (daily-crawl pipelines): ``--sig-index-out`` persists
the banded-LSH index of this run's keepers (``banded/`` + ``meta/`` with
the banding params — indices only compose when banding matches, so it is
stored, not re-derived).  A later run with ``--sig-index-in`` drops new
docs that collide with the stored index (keeper = smallest colliding index
doc; candidate-level — the index holds no text, so banding precision is
the gate) BEFORE within-batch dedup, and never re-signs the historical
corpus; with both flags the written index is the cumulative union.

``--sig-index-format bucketed`` stores the index CLUSTERED+SORTED BY
(band, bh) — bucket ids live in the part-file names, so any later
session re-registers the files as a bucketed table from the stored meta
(no metastore) and the probe's join reads the index side shuffle-free
and pre-sorted; only the new crawl hits an Exchange.  Measured at a
14M-row index: probe 8.2 -> 5.5 s at 8 cores, scaling eff(2->8) 0.962
vs 0.83 plain (BENCH/BASELINE.md, "incremental near-dup index") — the layout a 10^12-row index
wants, where the plain probe's index shuffle IS the job.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


# propagate_min_keeper moved into the library (sketchlib.spark.dedup) so the
# gated dedup_group_keepers query and this job share one implementation;
# re-exported here for backward compatibility with earlier job scripts.
from sketchlib.spark.dedup import propagate_min_keeper  # noqa: F401,E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--mode", default="both", choices=["exact", "near", "both"])
    ap.add_argument("--threshold", type=float, default=0.8)
    ap.add_argument("--ngram", type=int, default=3)
    ap.add_argument("--num-perm", type=int, default=64)
    ap.add_argument("--sig-kernel", default="poly", choices=["xxh", "poly"],
                    help="signature kernel: 'poly' (default; each token "
                         "hashed once, polynomial window fold + splitmix64 "
                         "minima in one zero-Exchange Arrow projection, "
                         "~2x the signature stage — recall parity vs 'xxh' "
                         "soaked in BENCH/BASELINE.md, 'Recall-parity "
                         "soak': max drift 0.0026 over 6 seeded runs) or "
                         "'xxh' "
                         "(JVM chained-xxhash64 shingles + groupBy "
                         "minima).  Signatures from different kernels "
                         "never mix: the kernel is stored in the index "
                         "meta and pinned by --sig-index-in.")
    ap.add_argument("--index-prune", default=None, choices=["bloom"],
                    help="with --sig-index-in: pre-filter the stored "
                         "index scan through a broadcast Bloom of the new "
                         "crawl's (band, bh) keys — map-side, before any "
                         "Exchange; identical candidates (zero false "
                         "negatives). Use when the new batch is small "
                         "next to the index (the blob is ~1.2 B per new "
                         "key and must stay broadcastable).")
    ap.add_argument("--sig-index-in", default=None, metavar="PATH",
                    help="stored banded-LSH index (from a previous run's "
                         "--sig-index-out): new docs colliding with the "
                         "index are dropped with the index doc as keeper — "
                         "the historical corpus is never re-signed")
    ap.add_argument("--sig-index-out", default=None, metavar="PATH",
                    help="write the banded-LSH index of this run's keepers "
                         "(unioned with --sig-index-in when given) for the "
                         "next incremental run")
    ap.add_argument("--sig-index-format", default="parquet",
                    choices=["parquet", "bucketed"],
                    help="index storage layout: 'bucketed' writes the "
                         "banded rows CLUSTERED+SORTED BY (band, bh) so a "
                         "later probe's join reads the index side "
                         "shuffle-free and pre-sorted (bucket ids live in "
                         "the part-file names — no metastore; any session "
                         "re-registers the table from the stored meta). "
                         "The layout a 10^12-row index wants: only the "
                         "new crawl ever hits an Exchange.")
    ap.add_argument("--index-buckets", type=int, default=64,
                    help="bucket count for --sig-index-format bucketed "
                         "(fixed per index; stored in meta)")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from sketchlib.spark.session import job_session

    spark = job_session("sketchlib-dedup-corpus")
    spark.sparkContext.setLogLevel("WARN")

    from sketchlib.spark.dedup import (
        banded_signatures,
        exact_dedup_keepers,
        lsh_candidates_vs_index,
        minhash_auto_bands,
        minhash_lsh_dedup_pairs,
        minhash_signatures,
        read_bucketed_banded,
        write_bucketed_banded,
    )

    df = spark.read.parquet(args.input)
    t0 = time.time()
    idc = args.id_col

    def _banded(frame):
        sigs = minhash_signatures(
            frame.filter(F.col(args.text_col).isNotNull()),
            idc, args.text_col, args.ngram, args.num_perm,
            kernel=args.sig_kernel)
        return banded_signatures(sigs, idc, bands, args.num_perm // bands)

    index_dropped = None
    if args.sig_index_in is not None or args.sig_index_out is not None:
        # banding must be identical across runs for indices to compose: it
        # is stored WITH the index (meta/), not re-derived from this run's
        # flags.  A fresh chain derives it from (threshold, num_perm).
        if args.sig_index_in is not None:
            meta = spark.read.parquet(f"{args.sig_index_in}/meta").collect()[0]
            bands, args.ngram, args.num_perm = (
                meta["bands"], meta["ngram"], meta["num_perm"])
            # v1 indices (no sig_kernel field) were all built with "xxh";
            # pre-bucketing indices (no format field) are plain parquet
            md = meta.asDict()
            args.sig_kernel = md.get("sig_kernel") or "xxh"
            in_format = md.get("format") or "parquet"
            in_schema_ddl = md.get("schema_ddl")
            in_buckets = md.get("n_buckets") or 64
        else:
            bands = minhash_auto_bands(args.threshold, args.num_perm)[0]

    if args.sig_index_in is not None:
        if in_format == "bucketed":
            index = read_bucketed_banded(
                spark, f"{args.sig_index_in}/banded", in_schema_ddl,
                in_buckets)
        else:
            index = spark.read.parquet(f"{args.sig_index_in}/banded")
        # candidate-level drops at threshold-tuned banding (the index holds
        # no text, so there is no exact-verify pass here; banding precision
        # is the measured LSH curve).  Keeper = smallest colliding index doc.
        index_dropped = (
            lsh_candidates_vs_index(_banded(df), index, idc,
                                    prune=args.index_prune)
            .groupBy("new_id").agg(F.min("index_id").alias("keeper_id"))
            .withColumnRenamed("new_id", "id")
        )
        # within-batch dedup runs on the survivors only, so a within-batch
        # keeper can never itself be an index-dropped doc
        df = df.join(
            index_dropped.select(F.col("id").alias(idc)), idc, "left_anti")

    edge_frames = []
    if args.mode in ("exact", "both"):
        # NULL text (failed fetches) must never form a duplicate group:
        # md5(NULL) is NULL and the keeper window would lump every
        # null-text row together — mirror the near path's NULL guard
        ek = exact_dedup_keepers(
            df.filter(F.col(args.text_col).isNotNull()), idc, args.text_col
        )
        edge_frames.append(
            ek.filter(F.col(idc) != F.col("keeper_id")).select(
                F.col("keeper_id").alias("a_id"), F.col(idc).alias("b_id")
            )
        )
    if args.mode in ("near", "both"):
        edge_frames.append(
            minhash_lsh_dedup_pairs(
                df, args.threshold, idc, args.text_col, args.ngram,
                args.num_perm, bands="auto", hashed_verify=True,
                shingle_storage="disk", kernel=args.sig_kernel,
            ).select("a_id", "b_id")
        )
    edges = edge_frames[0]
    for e in edge_frames[1:]:
        edges = edges.union(e)

    grouped = propagate_min_keeper(edges)
    keeper = (
        df.select(F.col(idc).alias("id"))
        .join(grouped, "id", "left")
        .select("id", F.coalesce("keeper_id", F.col("id")).alias("keeper_id"))
    )
    if index_dropped is not None:
        keeper = keeper.unionByName(index_dropped)
    keeper.write.mode("overwrite").parquet(args.output)

    if args.sig_index_out is not None:
        keepers = df.join(
            spark.read.parquet(args.output)
            .filter(F.col("id") == F.col("keeper_id"))
            .select(F.col("id").alias(idc)),
            idc,
        )
        new_index = _banded(keepers)
        if args.sig_index_in is not None:
            # `index` was resolved above in the stored format
            new_index = index.unionByName(new_index)
        schema_ddl = None
        if args.sig_index_format == "bucketed":
            schema_ddl = write_bucketed_banded(
                new_index, f"{args.sig_index_out}/banded",
                args.index_buckets)
        else:
            new_index.write.mode("overwrite") \
                .parquet(f"{args.sig_index_out}/banded")
        spark.createDataFrame(
            [(bands, args.ngram, args.num_perm, args.sig_kernel,
              args.sig_index_format, args.index_buckets, schema_ddl)],
            "bands int, ngram int, num_perm int, sig_kernel string, "
            "format string, n_buckets int, schema_ddl string",
        ).write.mode("overwrite").parquet(f"{args.sig_index_out}/meta")

    out = spark.read.parquet(args.output)
    print(json.dumps({
        "rows": out.count(),
        "dropped": out.filter(F.col("id") != F.col("keeper_id")).count(),
        "dropped_vs_index": (
            index_dropped.count() if index_dropped is not None else 0
        ),
        "wall_sec": round(time.time() - t0, 2),
        "mode": args.mode,
        "output": args.output,
    }))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
