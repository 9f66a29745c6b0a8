"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
(default: the CPUs this process may run on) and prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}
The same record with every rep goes to BENCH/headline_full.json.

One more mode (north rule: two-cluster-size scaling evidence — N vs 4N cores
on the same input; primary pair local[2] vs local[8], with local[32] also
measured; the numbers are read in BENCH/BASELINE.md):

  python bench.py --scaling            # generate the pages input
                                       # ($SKETCHLIB_BENCH_ROWS rows under
                                       # $SKETCHLIB_BENCH_DIR), interleaved
                                       # rounds at local[2]/[8]/[32]; prints
                                       # and overwrites BENCH/scaling.json
  python bench.py --measure-build CPUS PATH [REPS]   # internal: one JVM

The per-family kernel, scan, Arrow-hop and shuffle layers are measured by
perfbench/ (see perfbench/README.md), not here.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
BENCH_DIR = os.environ.get("SKETCHLIB_BENCH_DIR", "/tmp/sketchlib_bench")
BENCH_ROWS = int(os.environ.get("SKETCHLIB_BENCH_ROWS", "8000000"))


def _sf_of(path: str) -> float:
    m = re.search(r"sf([\d.]+)", path)
    return float(m.group(1)) if m else -1.0


def run_queries(
    spark, sf_dir: str, reps: int = 2
) -> tuple[dict[str, float], dict[str, list[float]], int]:
    """Interleaved best-of query timing (same methodology as --scaling):
    the host shows noisy-neighbor drift over tens of minutes, so a single
    rep per query confounds query cost with when it happened to run —
    BENCH_r02's apparent +55% "regression" was exactly that artifact.
    All queries run round-robin for ``reps`` rounds; per query we report
    the BEST rep and record every rep in the JSON for inspection."""
    import __spark_entry__ as e

    qs = e.queries()
    all_times: dict[str, list[float]] = {name: [] for name in qs}
    for _ in range(reps):
        for name, fn in qs.items():
            t0 = time.time()
            fn(spark, sf_dir).collect()
            all_times[name].append(round(time.time() - t0, 3))
    best = {name: min(ts) for name, ts in all_times.items()}
    return best, all_times, reps


def flagship_throughput(spark, sf_dir: str, reps: int = 2) -> tuple[float, int]:
    """Production-mode sketch build: delta=0.01 digests of n_chars by lang.
    Returns (best-of-reps seconds, docs)."""
    from sketchlib.spark.tdigest_ops import tdigest_aggregate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.count()
    best = float("inf")
    for _ in range(reps):
        t0 = time.time()
        tdigest_aggregate(docs, ["lang"], "n_chars", delta=0.01).collect()
        best = min(best, time.time() - t0)
    return best, n


def calibration_probe(reps: int = 5) -> dict:
    """Same-session host-speed probe (VERDICT r04 #6): a fixed
    single-thread numpy workload — the production poly window fold plus
    the xxh64 mix over 2M tokens — timed best-of-``reps`` in THIS
    process.  ``BENCH/calibration_ref.json`` stores the score measured in
    the session that produced the committed quiet-window headline;
    emitting probe, reference, and their ratio inside the bench JSON lets
    the next reader normalize headline totals for the host's
    tens-of-minutes noisy-neighbor drift without spelunking BENCH/
    (r03->r04 comparisons were repeatedly confounded by it).
    ``host_speed_ratio`` > 1 means this window is SLOWER than the
    reference window by that factor."""
    import numpy as np

    from sketchlib.hashing import poly_window_fold, xxh64_long

    rng = np.random.default_rng(42)
    vals = rng.integers(0, 2**63, size=2_000_000, dtype=np.int64).view(
        np.uint64)
    offs = np.arange(0, 2_000_001, 1000, dtype=np.int64)
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        poly_window_fold(vals, offs, 8)
        xxh64_long(vals, np.uint64(42))
        best = min(best, time.perf_counter() - t0)
    cal = {"cpu_probe_ms": round(best * 1e3, 2)}
    try:
        with open(os.path.join(REPO, "BENCH", "calibration_ref.json")) as f:
            ref = json.load(f)
        cal["ref_cpu_probe_ms"] = ref["cpu_probe_ms"]
        cal["host_speed_ratio"] = round(
            best * 1e3 / ref["cpu_probe_ms"], 3)
        for k in ("recorded_quiet_best_sec", "recorded_round"):
            if k in ref:
                cal[k] = ref[k]
    except (OSError, KeyError, ValueError, ZeroDivisionError):
        pass
    return cal


def main() -> None:
    from sketchlib.spark.session import get_spark

    spark = get_spark("sketchlib-bench", cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    # warm the JVM *and* the Python-worker/Arrow path so per-query times
    # measure the plan, not daemon startup: the first pandas-UDF stage of a
    # session otherwise pays ~3s of worker fork + Arrow codepath init, which
    # lands entirely on whichever query happens to run first
    spark.range(1000).selectExpr("sum(id)").collect()
    from sketchlib.spark.tdigest_ops import tdigest_aggregate as _warm_agg

    warm_df = spark.range(2048).selectExpr(
        "CAST(id % 7 AS STRING) AS k", "CAST(id AS DOUBLE) AS v"
    )
    _warm_agg(warm_df, ["k"], "v", delta=0.01).collect()

    t_all0 = time.time()
    times, rep_times, reps = run_queries(spark, SF_DIR)
    n_queries = len(times)  # before any non-query timing entries join
    build_sec, n_docs = flagship_throughput(spark, SF_DIR)
    times["flagship_build_d001"] = round(build_sec, 3)
    wall_all_reps = round(time.time() - t_all0, 3)
    # headline value: best-rep sum (comparable across rounds regardless of
    # how many reps ran); the full wall clock is reported alongside
    total = round(sum(times.values()), 3)
    # apples-to-apples across rounds: the catalog grows every round, so also
    # report the subtotal over the round-1 query set
    # round-4 catalog consolidation folded several r01 queries into combined
    # entries that do STRICTLY MORE work (both operators' outputs in one
    # result), so counting the fold keeps the subtotal comparable —
    # conservative, never a phantom speedup:
    #   td_kll_quantiles_by_lang   <- td_discrete_quantiles + kll_nearest_rank
    #   td_quantiles_multi_table   <- td_events_by_type + td_lineitem_price
    #   td_info_stats_by_lang      <- td_info_by_lang + td_digest_stats
    #   text_doc_features          <- text_token_stats + doc_fingerprint
    #   media_meta_frames          <- media_sniff_meta + media_frame_sample
    #   ann_ivf_topk_recall        <- ann_ivf_topk (+ recall gate)
    #   hll_users_union            <- hll_users_by_type (+ union laws)
    #   sketch_laws_summary        <- hll_users_union + cms_heavy_hitters
    #   td_quantiles_cdf_by_lang   <- td_quantiles_by_lang + td_cdf_by_lang
    #   sketch_source_counts       <- bloom_membership_by_source
    #                                 + cms_source_counts
    #   td_compress_trim_by_lang   <- td_compressed_by_lang
    #                                 + td_trimmed_mean_by_lang
    #   text_quality_langid_by_lang <- text_quality_by_lang
    #                                 + lang_id_confusion
    r01 = {
        "td_quantiles_cdf_by_lang", "td_kll_quantiles_by_lang",
        "td_info_stats_by_lang",
        "td_quantiles_multi_table", "td_compress_trim_by_lang",
        "sketch_source_counts",
        "sketch_laws_summary", "text_doc_features",
        "text_quality_langid_by_lang",
        # dedup_neardup_pairs <- dedup_jaccard_pairs
        #                       + dedup_minhash_lsh_pairs (r4 fold)
        "dedup_exact_keepers", "dedup_neardup_pairs", "dedup_simhash_hamming",
        # ann_exact_cosine <- ann_topk_cosine + emb_cosine_pairs (r4 fold)
        #                   + emb_signlsh_precision (r5 fold)
        "ann_exact_cosine", "media_meta_frames",
        "pipeline_clean_corpus", "ann_ivf_topk_recall",
        # td_tpch_digests <- td_weighted_lineitem
        #                   + td_order_value_by_nation (r4 fold)
        "td_cube_lang_source", "td_tpch_digests",
    }
    missing_r01 = sorted(r01 - set(times))
    out = {
        "metric": "sketchlib_headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": times,
        "n_queries": n_queries,
        "reps_per_query": reps,
        "wall_sec_all_reps": wall_all_reps,
        "r01_query_subtotal_sec": round(
            sum(t for n, t in times.items() if n in r01), 3
        ),
        # a renamed/removed r01 query must not read as a phantom speedup
        **({"r01_queries_missing": missing_r01} if missing_r01 else {}),
        "sf": _sf_of(SF_DIR),
        "docs_per_sec": round(n_docs / build_sec, 1),
        "cpus": CPUS,
        # same-session host-speed probe + stored quiet-window reference:
        # normalize headline totals for host drift (VERDICT r04 #6)
        "calibration": calibration_probe(),
    }
    # headline large-input numbers from the committed scaling run (BENCH/):
    # the sf-dir tables are tiny (overhead-dominated), so the meaningful
    # throughput + scaling-efficiency evidence comes from the 8M-row pages
    # bench (python bench.py --scaling; details in BENCH/BASELINE.md)
    try:
        with open(os.path.join(REPO, "BENCH", "scaling.json")) as f:
            sc = json.load(f)
        out["pages_bench"] = {
            "rows": sc["rows"],
            # the host the record was measured on, which need not be this one
            "cpus": sc["local32"]["cpus"],
            "e2e_docs_per_sec_local32": sc["local32"]["e2e"]["docs_per_sec"],
            "scan_docs_per_sec_local32": sc["local32"]["scan"]["docs_per_sec"],
            "scaling_efficiency_n_vs_4n": sc["scaling_efficiency_2_to_8"],
            "max_rank_error_d001": sc["accuracy"]["max_rank_error"],
        }
    except (OSError, KeyError, ValueError):
        pass
    # The driver captures only a bounded stdout tail: the final line must be
    # COMPACT (best-of per query, no per-rep arrays — BENCH_r03.json came back
    # "parsed": null because the all-reps line overflowed the tail and lost
    # its head). The full all-reps record goes to BENCH/ as a file instead.
    full = dict(out)
    full["query_reps"] = rep_times
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "headline_full.json"), "w") as f:
        json.dump(full, f, indent=1)
    print(json.dumps(out))
    spark.stop()


# ---------------------------------------------------------------------------
# Scaling evidence (north rule: throughput at N vs 4N parallelism, eff >= 0.8)
# ---------------------------------------------------------------------------


def _gen_one(args: tuple[int, int, str]) -> str:
    """Worker: write rows [start, start+cnt) to one parquet part file.
    Chunk content depends only on absolute row ids (gen_chunk contract), so
    parallel chunking yields the identical table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sketchlib.data.gen_pages import SCHEMA, gen_chunk

    start, cnt, part_path = args
    pdf = gen_chunk(start, cnt)
    pq.write_table(
        pa.Table.from_pandas(pdf, schema=SCHEMA, preserve_index=False), part_path
    )
    return part_path


def ensure_pages(path: str, n_rows: int, chunk: int = 50_000) -> None:
    """Deterministic Common-Crawl-style pages input (seed 42); cached.
    Written as a parquet *directory* of part files, generated in parallel."""
    marker = path + ".rows"
    if os.path.exists(path) and os.path.exists(marker):
        if int(open(marker).read().strip()) == n_rows:
            return
    from concurrent.futures import ProcessPoolExecutor

    os.makedirs(path, exist_ok=True)
    t0 = time.time()
    jobs = [
        (start, min(chunk, n_rows - start),
         os.path.join(path, f"part-{start // chunk:05d}.parquet"))
        for start in range(0, n_rows, chunk)
    ]
    with ProcessPoolExecutor(max_workers=min(32, os.cpu_count() or 4)) as ex:
        list(ex.map(_gen_one, jobs))
    with open(marker, "w") as f:
        f.write(str(n_rows))
    print(f"# generated {n_rows} pages in {time.time()-t0:.1f}s -> {path}",
          file=sys.stderr)


def _extract_len_fn(batch):
    """Fused value_fn for tdigest_partials: html -> extracted text length.
    Runs inside the partials stage, so extraction + ingest cost ONE Arrow
    hop.  ``batch`` is the stage's ``pa.RecordBatch`` of ``html``, read
    from its Arrow buffers (no pandas in the worker).  Uses the length-only
    projection pushdown (bytes-native, ~1.4 KB-sized allocations/doc vs
    ~3.4 for text materialization — the 8→32-worker scaling lever, see
    sketchlib/data/extract.py); output is byte-identical to
    extract_series(...).str.len() by guarded fallback, NaN (not ingested)
    for a NULL page."""
    from sketchlib.data.extract import extract_len_series

    return extract_len_series(batch["html"])


def measure_build(cpus: int, path: str, reps: int = 3) -> dict:
    """One JVM at local[cpus], two workloads over the pages table:

    - ``e2e``:  html→text extraction fused with the delta=0.01 t-digest build
                of text length per lang — the full pipeline of the north
                star, CPU-bound (the honest scaling workload).
    - ``scan``: same digest build over the pre-extracted ``text`` column
                (length computed JVM-side) — dominated by the parquet string
                scan, which on a single box is memory-bandwidth-bound and
                cannot scale with cores (reported with that caveat; on a
                real cluster the scan spreads over disjoint nodes).

    A full untimed warm-up runs first so measured reps see reused Python
    workers and a hot page cache — the steady state of a long cluster job.
    """
    from pyspark.sql import functions as F

    from sketchlib.spark.session import get_spark
    from sketchlib.spark.tdigest_ops import (
        tdigest_aggregate,
        tdigest_merge,
        tdigest_partials,
    )

    # one task per generated part file (each file is a single ~27 MB row
    # group): the default packing coalesces ~4 files/partition, leaving
    # local[32] with ~40 tasks = 1.25 waves (37% idle tail), while a smaller
    # maxPartitionBytes slices *inside* row groups, creating mostly-empty
    # tasks.  openCost ~= file size makes packing put exactly one file per
    # partition -> 160 even tasks, full occupancy at both parallelism levels.
    spark = get_spark(f"sketchlib-scale-{cpus}", cpus=cpus,
                      shuffle_partitions=max(cpus, 8),
                      extra={
                          "spark.sql.files.maxPartitionBytes": str(32 << 20),
                          "spark.sql.files.openCostInBytes": str(32 << 20),
                      })
    spark.sparkContext.setLogLevel("ERROR")
    raw = spark.read.parquet(path)
    n = raw.count()

    def e2e():
        partials = tdigest_partials(
            raw, ["lang"], None, delta=0.01,
            value_fn=_extract_len_fn, input_cols=["html"],
        )
        tdigest_merge(partials, ["lang"], delta=0.01).collect()

    scan_df = raw.select("lang", F.length("text").cast("double").alias("n_chars"))

    def scan():
        tdigest_aggregate(scan_df, ["lang"], "n_chars", delta=0.01).collect()

    if cpus <= 2:
        reps = 1  # low-parallelism runs are long and low-variance
    out = {"cpus": cpus, "docs": n}
    for name, job in (("e2e", e2e), ("scan", scan)):
        job()  # warm-up
        best = float("inf")
        for _ in range(reps):
            t0 = time.time()
            job()
            best = min(best, time.time() - t0)
        out[name] = {"sec": round(best, 3), "docs_per_sec": round(n / best, 1)}
    spark.stop()
    return out


def _measure_in_subprocess(cpus: int, path: str, reps: int = 3) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--measure-build",
         str(cpus), path, str(reps)],
        capture_output=True, text=True, check=True, cwd=REPO,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def quantile_error(path: str) -> dict:
    """Max abs-error and rank-error of compressed (delta=0.01) quantiles vs
    exact, per lang, over the bench pages table (exact side via DuckDB)."""
    import duckdb
    import numpy as np

    from sketchlib.spark.session import get_spark
    from sketchlib.spark.tdigest_ops import tdigest_aggregate, tdigest_quantiles_udf
    from pyspark.sql import functions as F

    ps = [0.5, 0.95, 0.99]
    spark = get_spark("sketchlib-accuracy", cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    pages = (
        spark.read.parquet(path)
        .select("lang", F.length("text").cast("double").alias("n_chars"))
    )
    dig = tdigest_aggregate(pages, ["lang"], "n_chars", delta=0.01)
    est = {
        r["lang"]: r["qs"]
        for r in dig.select("lang", tdigest_quantiles_udf(ps)("digest").alias("qs")).collect()
    }
    spark.stop()

    con = duckdb.connect()
    rows = con.execute(
        f"""SELECT lang, length(text)::DOUBLE AS v
            FROM read_parquet('{path}/*.parquet')"""
    ).fetchnumpy()
    langs, vals = rows["lang"], rows["v"]
    max_abs, max_rank = 0.0, 0.0
    for lang in set(est):
        v = np.sort(vals[langs == lang])
        for p, e in zip(ps, est[lang]):
            exact = float(np.quantile(v, p, method="lower"))
            max_abs = max(max_abs, abs(e - exact))
            # rank error: |cdf(estimate) - p|
            rank = np.searchsorted(v, e, side="right") / len(v)
            max_rank = max(max_rank, abs(rank - p))
    return {"probes": ps, "max_abs_error": round(max_abs, 4),
            "max_rank_error": round(max_rank, 6)}


def scaling_main() -> None:
    """Interleaved rounds across parallelism levels: the host shows strong
    noisy-neighbor drift (same job varies ~2x over tens of minutes), so
    measuring levels back-to-back confounds level with wall-clock time.
    Two 2->8->32 rounds, best per (level, workload), decorrelates that.
    Every figure comes from this invocation; the result replaces
    BENCH/scaling.json (the prose in BENCH/BASELINE.md quotes it)."""
    path = os.path.join(BENCH_DIR, f"pages_{BENCH_ROWS}.parquet")
    ensure_pages(path, BENCH_ROWS)

    best: dict[int, dict] = {}
    for rnd in range(2):
        for cpus in (2, 8, 32):
            m = _measure_in_subprocess(cpus, path, reps=1)
            cur = best.setdefault(cpus, m)
            for k in ("e2e", "scan"):
                if m[k]["sec"] < cur[k]["sec"]:
                    cur[k] = m[k]
            print(f"# round {rnd} local[{cpus}]: "
                  f"e2e {m['e2e']['sec']}s scan {m['scan']['sec']}s",
                  file=sys.stderr)
    m2, m8, m32 = best[2], best[8], best[32]
    eff_2_8 = {
        k: round(m8[k]["docs_per_sec"] / (4.0 * m2[k]["docs_per_sec"]), 3)
        for k in ("e2e", "scan")
    }
    eff_8_32 = {
        k: round(m32[k]["docs_per_sec"] / (4.0 * m8[k]["docs_per_sec"]), 3)
        for k in ("e2e", "scan")
    }
    err = quantile_error(path)
    result = {"local2": m2, "local8": m8, "local32": m32,
              "scaling_efficiency_2_to_8": eff_2_8,
              "scaling_efficiency_8_to_32": eff_8_32,
              "accuracy": err, "rows": BENCH_ROWS}
    print(json.dumps(result, indent=2))
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "scaling.json"), "w") as f:
        json.dump(result, f, indent=2)


_MODES = ("--scaling", "--measure-build")

if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else None
    if mode is None:
        main()
    elif mode == "--scaling":
        scaling_main()
    elif mode == "--measure-build":
        reps = int(sys.argv[4]) if len(sys.argv) > 4 else 3
        print(json.dumps(measure_build(int(sys.argv[2]), sys.argv[3], reps)))
    else:
        # An unrecognized flag (e.g. --help) must NOT fall through to the
        # full headline bench — that launches a multi-minute Spark job.
        print(__doc__)
        print("modes:", " ".join(_MODES), "(no flag = headline query bench)")
        sys.exit(0 if mode in ("-h", "--help") else 2)
