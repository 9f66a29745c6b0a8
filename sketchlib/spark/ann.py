"""Similarity search over embedding columns (task mandate: brute-force
cosine top-k baseline + LSH-bucketed scale path; embedding-cosine near-dup).

Data model: ``embedding: array<float>`` (fixed dimension), id column.  All
numeric work is float64 numpy inside Arrow-batched ``mapInPandas`` — one
matmul per (partition x query block), never per-row Python.

Scale notes (10^9..10^12 vectors):

- ``topk_neighbors`` is the canonical distributed brute-force pattern:
  broadcast the (small) query block, each input partition emits its local
  top-k per query (partition-pruned candidate set, k x Q rows per
  partition), and a final tiny window takes the global top-k.  Wall-clock is
  one scan; shuffle volume is partitions x Q x k id rows — independent of n.
- ``cosine_pairs_exact`` is O(n^2) multiply work by definition — at web
  scale it is only ever run on LSH candidate buckets.  Its plan is a fully
  distributed block-nested-loop (packed per-block matrices, one matmul per
  unordered block pair): no driver collect, no whole-table broadcast,
  O(B·n·d) shuffle.
- ``signrandom_lsh_pairs`` is the scale discovery path: deterministic
  random-hyperplane sign signatures (JVM-free generation happens once on
  the driver; signature computation is one matmul per batch), banded into
  equi-join buckets exactly like MinHash LSH, candidates verified exactly so
  precision is 1.0 and only recall is approximate.
"""

from __future__ import annotations

import functools
from typing import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from sketchlib.spark.shipping import ensure_on_workers


def _norm_rows(mat: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(mat, axis=1, keepdims=True)
    n[n == 0] = 1.0
    return mat / n


def _collect_matrix(df: DataFrame, id_col: str, vec_col: str):
    rows = df.select(id_col, vec_col).collect()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    if not rows:  # keep 2-D shape: empty inputs must flow, not crash
        return ids, np.zeros((0, 0), dtype=np.float64)
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    return ids, mat


def topk_neighbors(
    df: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k neighbors of the given query vectors (self
    excluded).  Output: (query_id, rank, neighbor_id) with rank 1..k by
    descending cosine, ties broken by ascending neighbor id."""
    spark = df.sparkSession
    ensure_on_workers(spark)
    qdf = df.filter(F.col(id_col).isin(query_ids))
    q_ids, q_mat = _collect_matrix(qdf, id_col, vec_col)
    qn = _norm_rows(q_mat)
    bc = spark.sparkContext.broadcast((q_ids, qn))

    part_schema = StructType([
        StructField("query_id", LongType()),
        StructField("neighbor_id", LongType()),
        StructField("sim", DoubleType()),
    ])

    def local_topk(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        q_ids_, qn_ = bc.value
        if q_ids_.size == 0:
            return
        for pdf in batches:
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            mat = _norm_rows(np.array(list(pdf[vec_col]), dtype=np.float64))
            sims = qn_ @ mat.T  # (Q, batch)
            for qi, qid in enumerate(q_ids_):
                s = sims[qi]
                keep = ids != qid
                s, nid = s[keep], ids[keep]
                if len(s) > k:
                    top = np.argpartition(-s, k)[:k]
                    s, nid = s[top], nid[top]
                yield pd.DataFrame({
                    "query_id": np.full(len(s), qid, dtype=np.int64),
                    "neighbor_id": nid,
                    "sim": s,
                })

    cand = df.select(id_col, vec_col).mapInPandas(local_topk, schema=part_schema)
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("int"), "neighbor_id")
    )


def cosine_pairs_exact(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 8,
) -> DataFrame:
    """All (a_id, b_id) pairs (a < b) with cosine >= threshold — exact and
    fully distributed (no driver collect, no whole-table broadcast).

    Block-nested-loop plan: hash-assign every vector to one of ``n_blocks``
    blocks; pack each block into ONE row (ids + normalized float64 matrix as
    binary) via ``applyInPandas``; enumerate the B(B+1)/2 unordered block
    pairs; join the packed blocks onto both sides and compute one matmul per
    block pair in ``mapInPandas``.  Each unordered vector pair is examined
    exactly once (same-block pairs inside the (i,i) task, cross-block pairs
    in the single (i,j), i<j task), so no distinct() is needed.

    Scale: shuffle volume is O(B · n · d) — each block's matrix is shipped
    to its B partner tasks — versus the O(n²) a naive cross join would
    shuffle, and the driver never materializes anything.  Size ``n_blocks``
    so one block matrix (n/B · d · 8 bytes) fits executor memory and stays
    well under Arrow's 2 GB single-cell cap; at 10M × 64-d that's B ≈ 64
    (~80 MB/block).  O(n²/B²) multiply work per task is the algorithm's
    irreducible cost — at web scale run this only on LSH candidate buckets
    (``signrandom_lsh_pairs``), which is why the LSH path is the headline
    discovery operator.
    """
    spark = df.sparkSession
    ensure_on_workers(spark)

    blocked = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int").alias("blk"),
    )

    pack_schema = StructType([
        StructField("blk", IntegerType()),
        StructField("ids", BinaryType()),
        StructField("mat", BinaryType()),
    ])

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(pdf["id"].to_numpy(dtype=np.int64), kind="stable")
        ids = pdf["id"].to_numpy(dtype=np.int64)[order]
        mat = _norm_rows(np.array(list(pdf["vec"]), dtype=np.float64)[order])
        return pd.DataFrame({
            "blk": [int(pdf["blk"].iloc[0])],
            "ids": [ids.tobytes()],
            "mat": [mat.tobytes()],
        })

    packed = blocked.groupBy("blk").applyInPandas(pack, schema=pack_schema)

    pairs = spark.createDataFrame(
        [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)],
        "bi int, bj int",
    )
    joined = (
        pairs.join(packed.select(F.col("blk").alias("bi"),
                                 F.col("ids").alias("ids_l"),
                                 F.col("mat").alias("mat_l")), "bi")
        .join(packed.select(F.col("blk").alias("bj"),
                            F.col("ids").alias("ids_r"),
                            F.col("mat").alias("mat_r")), "bj")
        .repartition(n_blocks * (n_blocks + 1) // 2, "bi", "bj")
    )

    out_schema = StructType([
        StructField("a_id", LongType()),
        StructField("b_id", LongType()),
    ])

    def block_pairs(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                ids_l = np.frombuffer(row.ids_l, dtype=np.int64)
                ids_r = np.frombuffer(row.ids_r, dtype=np.int64)
                ml = np.frombuffer(row.mat_l, dtype=np.float64).reshape(len(ids_l), -1)
                mr = np.frombuffer(row.mat_r, dtype=np.float64).reshape(len(ids_r), -1)
                sims = ml @ mr.T
                ai, bj = np.nonzero(sims >= threshold)
                a, b = ids_l[ai], ids_r[bj]
                if row.bi == row.bj:
                    keep = a < b
                    a, b = a[keep], b[keep]
                else:  # disjoint blocks: orient each pair, keep all
                    swap = a > b
                    a2 = np.where(swap, b, a)
                    b = np.where(swap, a, b)
                    a = a2
                yield pd.DataFrame({"a_id": a, "b_id": b})

    return joined.mapInPandas(block_pairs, schema=out_schema)


def ivf_assign(
    df: DataFrame,
    n_lists: int = 16,
    sample: int = 2048,
    iters: int = 8,
    seed: int = 13,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """IVF coarse quantizer: k-means centroids trained driver-side on a
    deterministic sample (tiny — Lloyd's on ≤``sample`` rows), then every
    vector is assigned to its nearest centroid list in one broadcast matmul
    per batch.  Returns (assignments DataFrame with ``list_id``, centroids
    ndarray).

    At 10^12 vectors the sample-train/broadcast-assign split is the only
    part that matters: training cost is O(sample x k x iters) on the driver,
    assignment is one scan.  Lists then become the partition key for
    ``ivf_topk`` probing."""
    spark = df.sparkSession
    ensure_on_workers(spark)
    # deterministic but id-unbiased sample: order by a hash of the id (ties
    # broken by id), not by the id itself
    samp = (
        df.select(id_col, vec_col)
        .sort(F.xxhash64(F.col(id_col)), F.col(id_col))
        .limit(sample)
        .collect()
    )
    if not samp:
        raise ValueError("ivf_assign: input table has no rows to train on")
    mat = _norm_rows(np.array([r[1] for r in samp], dtype=np.float64))
    rng = np.random.default_rng(seed)
    n_lists = min(n_lists, len(mat))  # degrade gracefully on tiny tables
    cent = mat[rng.choice(len(mat), size=n_lists, replace=False)]
    for _ in range(iters):
        assign = np.argmax(mat @ cent.T, axis=1)
        for c in range(n_lists):
            m = assign == c
            if m.any():
                v = mat[m].sum(axis=0)
                cent[c] = v / (np.linalg.norm(v) or 1.0)
    bc = spark.sparkContext.broadcast(cent)

    schema = StructType([
        StructField("id", LongType()),
        StructField("list_id", IntegerType()),
    ])

    def assign_fn(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c = bc.value
        for pdf in batches:
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            m = _norm_rows(np.array(list(pdf[vec_col]), dtype=np.float64))
            yield pd.DataFrame({
                "id": ids,
                "list_id": np.argmax(m @ c.T, axis=1).astype(np.int32),
            })

    return df.select(id_col, vec_col).mapInPandas(assign_fn, schema=schema), cent


def ivf_topk(
    df: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_lists: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-probed approximate top-k: search only the ``nprobe`` inverted
    lists nearest each query instead of the full collection — the classic
    recall/scan-fraction trade (scan fraction ~ nprobe/n_lists).  Exact
    distances within probed lists; recall measured in tests."""
    spark = df.sparkSession
    ensure_on_workers(spark)
    assignments, cent = ivf_assign(df, n_lists=n_lists, id_col=id_col,
                                   vec_col=vec_col)
    qdf = df.filter(F.col(id_col).isin(query_ids))
    q_ids, q_mat = _collect_matrix(qdf, id_col, vec_col)
    qn = _norm_rows(q_mat)
    probes = np.argsort(-(qn @ cent.T), axis=1)[:, :nprobe]  # (Q, nprobe)
    probe_set = {int(q): set(int(x) for x in probes[i])
                 for i, q in enumerate(q_ids)}
    bc = spark.sparkContext.broadcast((q_ids, qn, probe_set))

    tagged = df.select(id_col, vec_col).join(
        assignments.withColumnRenamed("id", id_col), id_col
    )

    part_schema = StructType([
        StructField("query_id", LongType()),
        StructField("neighbor_id", LongType()),
        StructField("sim", DoubleType()),
    ])

    def local_topk(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        q_ids_, qn_, probe_set_ = bc.value
        # vectorized probe membership: one sorted int array per query, tested
        # with np.isin over the whole Arrow batch (no per-row Python)
        probe_arrs = {
            int(q): np.fromiter(sorted(probe_set_[int(q)]), dtype=np.int64)
            for q in q_ids_
        }
        for pdf in batches:
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            lists = pdf["list_id"].to_numpy(dtype=np.int64)
            m = _norm_rows(np.array(list(pdf[vec_col]), dtype=np.float64))
            sims = qn_ @ m.T
            for qi, qid in enumerate(q_ids_):
                keep = np.isin(lists, probe_arrs[int(qid)]) & (ids != qid)
                s, nid = sims[qi][keep], ids[keep]
                if len(s) > k:
                    top = np.argpartition(-s, k)[:k]
                    s, nid = s[top], nid[top]
                yield pd.DataFrame({
                    "query_id": np.full(len(s), qid, dtype=np.int64),
                    "neighbor_id": nid,
                    "sim": s,
                })

    cand = tagged.mapInPandas(local_topk, schema=part_schema)
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("int"), "neighbor_id")
    )


def signrandom_signatures(
    df: DataFrame,
    n_bits: int = 64,
    dim: int = 64,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane sign signature: bit j = (v . plane_j >= 0).
    Planes are a deterministic seeded Gaussian matrix, identical on every
    executor.  One matmul per Arrow batch."""
    planes = np.random.default_rng(seed).standard_normal((n_bits, dim))
    spark = df.sparkSession
    ensure_on_workers(spark)
    bc = spark.sparkContext.broadcast(planes)
    weights = (1 << np.arange(n_bits, dtype=np.uint64)).astype(np.uint64)

    schema = StructType([
        StructField("id", LongType()),
        StructField("sig", LongType()),
    ])

    def sig(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        p = bc.value
        for pdf in batches:
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            bits = (mat @ p.T) >= 0  # (batch, n_bits)
            vals = (bits.astype(np.uint64) * weights).sum(axis=1).astype(np.uint64)
            yield pd.DataFrame({"id": ids, "sig": vals.view(np.int64)})

    return df.select(id_col, vec_col).mapInPandas(sig, schema=schema)


def signlsh_auto_bands(
    n_rows: int, n_bits: int = 64, cand_per_row: float = 4.0
) -> tuple[int, int]:
    """Size sign-LSH banding to the corpus: returns (bands, max_bucket_size).

    Picks the LARGEST band count (recall is monotone in bands) whose band
    width w = n_bits/bands keeps the EXPECTED random-pair candidate volume
    C(n,2) · bands · 2^-w under ``cand_per_row · n`` — the codified form of
    the measured rule on the docstring of ``signrandom_lsh_pairs`` (bands=2
    at 1M vectors / 64 bits; the old fixed default of 8 is degenerate
    there).  The returned bucket cap is ~64× the expected bucket size
    n/2^w (floored at 256), so only pathological clusters are trimmed.

    Note the threshold does NOT enter the choice: with b·w = n_bits fixed,
    recall 1−(1−p_bit^w)^b is monotone in b for ANY threshold, so the
    max-b-within-budget pick is optimal regardless — but the ACHIEVED
    recall still follows the banding curve, which at 64 bits is only
    useful for near-duplicate thresholds (cos ≳ 0.95, p_bit ≳ 0.9); for
    moderate-similarity search use IVF (``ivf_topk``), not sign-LSH.
    """
    if n_rows < 2:
        # largest divisor of n_bits that is <= 8 (bands must tile the
        # signature exactly; min(8, n_bits) need not divide n_bits)
        b = next(d for d in range(min(8, n_bits), 0, -1) if n_bits % d == 0)
        return b, 256
    best = 1
    for b in range(1, n_bits + 1):
        if n_bits % b:
            continue
        w = n_bits // b
        if 0.5 * n_rows * (n_rows - 1) * b * (2.0 ** -w) <= cand_per_row * n_rows:
            best = b
    w = n_bits // best
    cap = max(256, int(64 * n_rows / float(2 ** w)))
    return best, cap


def signrandom_lsh_pairs(
    df: DataFrame,
    threshold: float,
    n_bits: int = 64,
    bands: int | str = 8,
    dim: int = 64,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """Approximate near-dup discovery: sign-LSH banding for candidates, then
    exact cosine verification (precision 1.0; recall follows the banding
    curve over the angle).  The scan never materializes O(n^2).

    ``max_bucket_size`` enables the hot-bucket skew guard (shared with the
    MinHash/SimHash paths, ``dedup._cap_buckets``): on clustered embedding
    corpora, MODERATE-similarity clusters (well below the threshold) still
    band-collide often enough to flood the candidate join with b² pairs per
    bucket — measured: 1M vectors in 500 loose clusters produced hundreds
    of millions of candidates.  The cap bounds each bucket's contribution;
    true near-dup pairs above the threshold still meet in their other
    (smaller) band buckets with high probability.

    SIZE THE BANDS TO n: band-hash space is 2^(n_bits/bands), and expected
    random candidates ≈ bands · C(n,2) / 2^width — at n=1M the default 8
    bands (8-bit buckets, 256 values) puts ~4k vectors in EVERY bucket.
    Measured at 1M vectors / 64 bits, planted dups at cos≈0.999 (recall
    tracks the banding curve 1-(1-p_bit^width)^bands exactly):

      bands=2 (width 32): recall 0.85,  6 s
      bands=3 (width 21): recall 0.98,  66 s
      bands=4 (width 16): recall 1.00,  510 s

    The default bands=8 suits ≤~10^4 rows (the gated corpus); at web scale
    pass ``bands="auto"`` — it applies ``signlsh_auto_bands`` to ``n_rows``
    (one cheap JVM count when the hint isn't supplied) and also fills in
    ``max_bucket_size`` unless explicitly given."""
    from sketchlib.spark.dedup import _cap_buckets

    ensure_on_workers(df.sparkSession)
    if bands == "auto":
        n = n_rows if n_rows is not None else df.count()
        bands, default_cap = signlsh_auto_bands(n, n_bits)
        if max_bucket_size is None:
            max_bucket_size = default_cap
    sigs = signrandom_signatures(df, n_bits, dim, seed, id_col, vec_col)
    width = n_bits // bands
    mask = (1 << width) - 1
    banded = sigs.select(
        "id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(kb).alias("band"),
                    F.shiftrightunsigned("sig", kb * width)
                    .bitwiseAND(F.lit(mask)).alias("bh"),
                )
                for kb in range(bands)
            ])
        ).alias("bk"),
    ).select("id", "bk.band", "bk.bh")
    banded = _cap_buckets(banded, ["band", "bh"], max_bucket_size)
    cand = (
        banded.alias("l")
        .join(banded.alias("r"), ["band", "bh"])
        .filter(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("a_id"), F.col("r.id").alias("b_id"))
        .distinct()
    )
    # exact verification of candidates via join back to vectors
    va = df.select(F.col(id_col).alias("a_id"), F.col(vec_col).alias("va"))
    vb = df.select(F.col(id_col).alias("b_id"), F.col(vec_col).alias("vb"))
    joined = cand.join(va, "a_id").join(vb, "b_id")

    schema = StructType([
        StructField("a_id", LongType()),
        StructField("b_id", LongType()),
        StructField("sim", DoubleType()),
    ])

    def verify(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            a = _norm_rows(np.array(list(pdf["va"]), dtype=np.float64))
            b = _norm_rows(np.array(list(pdf["vb"]), dtype=np.float64))
            sims = (a * b).sum(axis=1)
            yield pd.DataFrame({
                "a_id": pdf["a_id"].to_numpy(dtype=np.int64),
                "b_id": pdf["b_id"].to_numpy(dtype=np.int64),
                "sim": sims,
            })

    return (
        joined.mapInPandas(verify, schema=schema)
        .filter(F.col("sim") >= threshold)
        .select("a_id", "b_id")
    )


def embedding_dedup_keepers(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    discovery: str = "exact",
    n_blocks: int = 8,
    **lsh_kwargs,
) -> DataFrame:
    """Embedding-cosine near-duplicate REMOVAL (SemDeDup-style): rows whose
    embeddings sit within ``cosine >= threshold`` of each other form
    duplicate components (transitively, via the same pointer-jumping
    connected-components kernel as the text dedup family); one keeper —
    the min id — survives per component, every other member is dropped.
    Returns the surviving rows of ``df`` with their original columns.

    ``discovery`` picks the edge producer:

    - ``"exact"`` — ``cosine_pairs_exact`` block-nested-loop: every pair
      examined, use when n²/B² work is affordable (gate-scale corpora,
      or pre-bucketed slices of a big one).
    - ``"lsh"``   — ``signrandom_lsh_pairs``: sign-LSH banding for
      candidates, exact verification, precision 1.0; recall (and hence
      group completeness) follows the banding curve — pass
      ``bands="auto"`` + ``n_rows`` at scale.  Extra kwargs are passed
      through.

    Scale: the component iteration runs on the EDGE list only (near-dup
    evidence is a tiny fraction of a web corpus) and the final drop is a
    broadcast-friendly ``left_anti`` join on ids — the full rows are
    never shuffled.
    """
    from sketchlib.spark.dedup import propagate_min_keeper

    if discovery == "exact":
        edges = cosine_pairs_exact(df, threshold, id_col, vec_col, n_blocks)
    elif discovery == "lsh":
        edges = signrandom_lsh_pairs(
            df, threshold, id_col=id_col, vec_col=vec_col, **lsh_kwargs
        )
    else:
        raise ValueError(f"unknown discovery {discovery!r}: use 'exact' or 'lsh'")

    keeper = propagate_min_keeper(edges)
    dropped = keeper.filter(F.col("id") != F.col("keeper_id")).select(
        F.col("id").alias(id_col)
    )
    return df.join(dropped, id_col, "left_anti")


# ---------------------------------------------------------------------------
# Stored IVF index (the persistent ANN path)
# ---------------------------------------------------------------------------


def write_ivf_index(
    df: DataFrame,
    path: str,
    n_lists: int = 16,
    sample: int = 2048,
    iters: int = 8,
    seed: int = 13,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Persist an IVF index: vectors written PARTITIONED BY their coarse
    list id, centroids + params as a tiny meta table.  The storage layout
    IS the query plan at 10^12 vectors: a later probe reads only its
    ``nprobe`` list partitions (Spark partition pruning — the scan never
    touches the other ``n_lists - nprobe`` of the collection), no index
    rebuild, no assignment rescan.  Mirrors the stored banded LSH index
    (``dedup.write_bucketed_banded``) for the embedding modality.

    Layout at ``path``:
      - ``vectors/`` — (id_col, vec_col) parquet, ``partitionBy(list_id)``;
      - ``centroids/`` — (list_id, centroid array<double>) parquet + params
        (n_lists/sample/iters/seed/dim + format version) on every row.

    Returns the trained centroid matrix.  Training is the same
    deterministic sample + Lloyd's as ``ivf_assign``, so rebuilding from
    identical input yields the identical index.
    """
    spark = df.sparkSession
    ensure_on_workers(spark)
    assignments, cent = ivf_assign(
        df, n_lists=n_lists, sample=sample, iters=iters, seed=seed,
        id_col=id_col, vec_col=vec_col,
    )
    tagged = df.select(id_col, vec_col).join(
        assignments.withColumnRenamed("id", id_col), id_col
    )
    tagged.write.mode("overwrite").partitionBy("list_id").parquet(
        f"{path}/vectors")
    meta_rows = [
        (int(i), [float(x) for x in cent[i]], int(cent.shape[0]),
         int(cent.shape[1]), int(sample), int(iters), int(seed), 1)
        for i in range(cent.shape[0])
    ]
    spark.createDataFrame(
        meta_rows,
        "list_id int, centroid array<double>, n_lists int, dim int, "
        "sample int, iters int, seed int, version int",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    return cent


def read_ivf_centroids(spark, path: str) -> np.ndarray:
    """Centroid matrix of a stored IVF index (KB-scale read)."""
    rows = spark.read.parquet(f"{path}/centroids").collect()
    if not rows:
        raise ValueError(f"read_ivf_centroids: empty index at {path!r}")
    if rows[0]["version"] != 1:
        raise ValueError(
            f"read_ivf_centroids: unknown index version {rows[0]['version']}")
    cent = np.zeros((rows[0]["n_lists"], rows[0]["dim"]), dtype=np.float64)
    for r in rows:
        cent[r["list_id"]] = r["centroid"]
    return cent


def ivf_topk_vs_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_query_rows: int = 65536,
    max_chunks: int = 64,
) -> DataFrame:
    """Probe a STORED IVF index: for each query vector, exact cosine top-k
    within its ``nprobe`` nearest lists — but unlike the in-memory
    ``ivf_topk``, the probed lists arrive via PARTITION PRUNING on the
    stored layout: the scan's PartitionFilters keep it to the probed
    ``list_id`` directories, so the I/O fraction really is ~nprobe/n_lists
    of the collection (plan-audited).  Queries are a (typically small)
    DataFrame of NEW vectors — they need not be index members; a query id
    equal to an index id is excluded from its own neighbors, preserving
    ``ivf_topk`` semantics for self-probes.

    The query side is CHUNKED (VERDICT r04 #4): at most ``max_query_rows``
    query vectors are held on the driver / broadcast at once — the probe
    batch streams through ``toLocalIterator`` (the queries plan runs
    exactly once, never counted first) in chunks, each probed
    independently (per-query results are independent, so the union equals
    one big probe — neighbors/ranks exactly, sims to BLAS-gemm ulps)
    with its own partition-pruned scan.
    Beyond ``max_chunks`` chunks the plan union would dominate: that is a
    bulk k-NN join, not a probe — raise and point at ``ivf_topk`` over a
    distributed plan.  Query ids must be unique across the batch (already
    assumed by the per-id probe sets).  An EMPTY queries frame returns an
    empty result (empty inputs must flow, not crash — repo convention).

    Output: (query_id, rank, neighbor_id, sim).
    """
    cent = read_ivf_centroids(spark, path)
    ensure_on_workers(spark)
    out_schema = "query_id long, rank int, neighbor_id long, sim double"

    part_schema = StructType([
        StructField("query_id", LongType()),
        StructField("neighbor_id", LongType()),
        StructField("sim", DoubleType()),
    ])

    def probe_chunk(ids: list, vecs: list) -> DataFrame:
        q_ids = np.array(ids, dtype=np.int64)
        q_mat = np.array(vecs, dtype=np.float64)
        if q_mat.shape[1] != cent.shape[1]:
            raise ValueError(
                f"ivf_topk_vs_index: query dim {q_mat.shape[1]} != index "
                f"dim {cent.shape[1]} at {path!r}")
        qn = _norm_rows(q_mat)
        probes = np.argsort(-(qn @ cent.T), axis=1)[:, :nprobe]
        probe_lists = sorted({int(x) for x in probes.ravel()})
        probe_set = {int(q): set(int(x) for x in probes[i])
                     for i, q in enumerate(q_ids)}
        bc = spark.sparkContext.broadcast((q_ids, qn, probe_set))

        stored = spark.read.parquet(f"{path}/vectors").filter(
            F.col("list_id").isin(probe_lists))

        def local_topk(
            batches: Iterable[pd.DataFrame],
        ) -> Iterator[pd.DataFrame]:
            q_ids_, qn_, probe_set_ = bc.value
            probe_arrs = {
                int(q): np.fromiter(sorted(probe_set_[int(q)]),
                                    dtype=np.int64)
                for q in q_ids_
            }
            for pdf in batches:
                ids = pdf[id_col].to_numpy(dtype=np.int64)
                lists = pdf["list_id"].to_numpy(dtype=np.int64)
                m = _norm_rows(np.array(list(pdf[vec_col]),
                                        dtype=np.float64))
                sims = qn_ @ m.T
                for qi, qid in enumerate(q_ids_):
                    keep = np.isin(lists, probe_arrs[int(qid)]) & (ids != qid)
                    s, nid = sims[qi][keep], ids[keep]
                    if len(s) > k:
                        top = np.argpartition(-s, k)[:k]
                        s, nid = s[top], nid[top]
                    yield pd.DataFrame({
                        "query_id": np.full(len(s), qid, dtype=np.int64),
                        "neighbor_id": nid,
                        "sim": s,
                    })

        cand = stored.select(id_col, "list_id", vec_col).mapInPandas(
            local_topk, schema=part_schema)
        w = Window.partitionBy("query_id").orderBy(
            F.desc("sim"), F.asc("neighbor_id"))
        return (
            cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", F.col("rank").cast("int"),
                    "neighbor_id", "sim")
        )

    # one pass over the queries plan: rows stream in, every full buffer
    # is probed as a chunk, and the row past max_chunks chunks raises
    chunks: list[DataFrame] = []
    buf_ids: list[int] = []
    buf_vecs: list = []
    for n, row in enumerate(queries.select(id_col, vec_col).toLocalIterator(
            prefetchPartitions=True)):
        if n == max_chunks * max_query_rows:
            raise ValueError(
                f"ivf_topk_vs_index: more than {n} query vectors = more "
                f"than max_chunks={max_chunks} chunks of {max_query_rows}; "
                f"that is a bulk k-NN join, not a probe batch — use "
                f"ivf_topk on a distributed plan, or raise "
                f"max_query_rows/max_chunks explicitly")
        buf_ids.append(row[0])
        buf_vecs.append(row[1])
        if len(buf_ids) == max_query_rows:
            chunks.append(probe_chunk(buf_ids, buf_vecs))
            buf_ids, buf_vecs = [], []
    if buf_ids:
        chunks.append(probe_chunk(buf_ids, buf_vecs))
    if not chunks:
        return spark.createDataFrame([], out_schema)
    return functools.reduce(DataFrame.unionByName, chunks)


def append_to_ivf_index(
    df: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    skip_existing: bool = False,
) -> None:
    """Incrementally grow a stored IVF index: NEW vectors are assigned
    with the index's STORED centroids (no retrain, no rescan of existing
    vectors — the incremental contract mirrored from the banded-LSH
    index) and appended to their list partitions.  Tomorrow's embeddings
    join yesterday's index at the cost of one scan of the NEW batch;
    probes see the union immediately.

    DELIVERY CONTRACT (ADVICE r04): the default is exactly-once — the
    CALLER must not replay a batch, or its vectors are duplicated in the
    index (parquet append is not idempotent).  For at-least-once callers
    (a retried job step, a replayed queue) pass ``skip_existing=True``:
    the new batch is anti-joined against the index's stored ids first — a
    column-pruned id-only scan of the index, so the cost is one shuffle of
    ids, never vectors.  Vector dim is validated per Arrow batch inside
    the assigner (every row passes through it), not just on the first row.

    The coarse quantizer is intentionally frozen: centroid drift under a
    shifting corpus is an OBSERVABLE (feed per-batch assignment
    similarity digests to the KS drift monitor), and re-training is an
    explicit rebuild — silent retrain would orphan the existing
    partition layout.
    """
    spark = df.sparkSession
    ensure_on_workers(spark)
    cent = read_ivf_centroids(spark, path)
    # friendly driver-side early check (one tiny job, raises a plain
    # ValueError before any write starts); the per-batch check in
    # assign_fn below still covers every row of a ragged input
    first = df.select(vec_col).head()
    if first is not None and len(first[0]) != cent.shape[1]:
        raise ValueError(
            f"append_to_ivf_index: vector dim {len(first[0])} != index "
            f"dim {cent.shape[1]} at {path!r}")
    bc = spark.sparkContext.broadcast(cent)

    if skip_existing:
        existing = spark.read.parquet(f"{path}/vectors").select(
            F.col(id_col).alias("_eid"))
        df = df.join(
            existing, df[id_col] == existing["_eid"], "left_anti")

    schema = StructType([
        StructField("id", LongType()),
        StructField("list_id", IntegerType()),
    ])

    def assign_fn(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c = bc.value
        for pdf in batches:
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            if len(ids) == 0:
                continue
            m = np.array(list(pdf[vec_col]), dtype=np.float64)
            if m.shape[1] != c.shape[1]:
                raise ValueError(
                    f"append_to_ivf_index: vector dim {m.shape[1]} != "
                    f"index dim {c.shape[1]} at {path!r}")
            m = _norm_rows(m)
            yield pd.DataFrame({
                "id": ids,
                "list_id": np.argmax(m @ c.T, axis=1).astype(np.int32),
            })

    assignments = df.select(id_col, vec_col).mapInPandas(
        assign_fn, schema=schema)
    tagged = df.select(id_col, vec_col).join(
        assignments.withColumnRenamed("id", id_col), id_col
    )
    tagged.write.mode("append").partitionBy("list_id").parquet(
        f"{path}/vectors")


def assignment_sim_digest(
    df: DataFrame,
    path: str,
    keys: list[str] | None = None,
    delta: float = 0.01,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The stored-IVF CENTROID-DRIFT observable: per (optional keys)
    group, a t-digest of each vector's cosine similarity to its nearest
    stored centroid.  A batch drawn from the distribution the quantizer
    was trained on scores high assignment similarity; as the corpus
    drifts, the similarity distribution slides down — store one digest
    per ingest batch/epoch and feed consecutive pairs to the KS/PSI
    drift monitors (``tdigest_ops.tdigest_ks_udf``,
    ``queries.td_ks_drift_by_lang`` pattern) to decide when the index
    needs an explicit rebuild.  This is why ``append_to_ivf_index``
    freezes the quantizer: drift is an observable, not a silent retrain.

    One scan of the NEW batch (broadcast centroids, one matmul per Arrow
    batch, similarities flow straight into the digest partials); output
    is the standard (keys..., digest) sketch row — KB-scale, storable,
    mergeable, and compatible with every digest query UDF."""
    from sketchlib.spark.tdigest_ops import tdigest_aggregate

    spark = df.sparkSession
    ensure_on_workers(spark)
    cent = read_ivf_centroids(spark, path)
    bc = spark.sparkContext.broadcast(cent)
    keys = list(keys or [])

    key_fields = [df.schema[k] for k in keys]
    schema = StructType(
        [StructField(f.name, f.dataType, True) for f in key_fields]
        + [StructField("sim", DoubleType())]
    )

    def sim_fn(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c = bc.value
        for pdf in batches:
            m = _norm_rows(np.array(list(pdf[vec_col]), dtype=np.float64))
            sims = (m @ c.T).max(axis=1)
            out = {k: pdf[k] for k in keys}
            out["sim"] = sims
            yield pd.DataFrame(out, columns=keys + ["sim"])

    sims = df.select(*keys, vec_col).mapInPandas(sim_fn, schema=schema)
    return tdigest_aggregate(sims, keys, "sim", delta=delta)
