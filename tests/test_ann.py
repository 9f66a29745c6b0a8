"""Similarity search: brute-force top-k, cosine pairs, sign-LSH scale path."""

import numpy as np
import pytest

from tests.conftest import SF_SMALL


def _emb(spark):
    return spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")


def _matrix(spark):
    rows = _emb(spark).orderBy("vec_id").collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    return ids, mat


def test_topk_matches_bruteforce(spark):
    from sketchlib.spark.ann import topk_neighbors

    ids, mat = _matrix(spark)
    qids = [int(i) for i in ids[:5]]
    got = {}
    for r in topk_neighbors(_emb(spark), qids, k=8).collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"]))
    for qid in qids:
        qv = mat[ids == qid][0]
        sims = mat @ qv
        order = [
            int(ids[j])
            for j in sorted(range(len(ids)), key=lambda j: (-sims[j], ids[j]))
            if ids[j] != qid
        ][:8]
        assert [n for _, n in sorted(got[qid])] == order, qid


def test_cosine_pairs_match_bruteforce(spark):
    from sketchlib.spark.ann import cosine_pairs_exact

    ids, mat = _matrix(spark)
    S = mat @ mat.T
    want = {
        (int(ids[i]), int(ids[j]))
        for i in range(len(ids))
        for j in range(i + 1, len(ids))
        if S[i, j] >= 0.45
    }
    got = {
        (r["a_id"], r["b_id"])
        for r in cosine_pairs_exact(_emb(spark), threshold=0.45).collect()
    }
    assert got == want


@pytest.mark.parametrize("sf_dir", [SF_SMALL, "/root/testdata/sf0.01"])
def test_gate_threshold_has_margin(sf_dir):
    """The 0.45 cosine gate threshold (emb_cosine_pairs /
    emb_signlsh_precision / ann oracles) is compared across THREE float
    paths: Spark block matmul, the LSH verify path, and DuckDB
    list_cosine_similarity.  Accumulation-order noise is ~1e-15; assert no
    pair in the gated corpora sits within 1e-6 of the threshold, so no
    engine disagreement can ever flip a pair in or out of the result."""
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/embeddings.parquet")
    mat = np.array(t["embedding"].to_pylist(), dtype=np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    S = mat @ mat.T
    iu = np.triu_indices(len(mat), k=1)
    margin = np.min(np.abs(S[iu] - 0.45))
    assert margin > 1e-6, f"{sf_dir}: borderline pair at |sim-0.45|={margin}"


def test_signlsh_finds_planted_neardups(spark):
    """Plant 10 near-duplicate vectors (tiny perturbations); sign-LSH must
    recover them with perfect precision and near-perfect recall."""
    from sketchlib.spark.ann import signrandom_lsh_pairs

    rng = np.random.default_rng(3)
    base = rng.standard_normal((200, 64))
    planted = []
    rows = []
    for i, v in enumerate(base):
        rows.append((i, v.astype(float).tolist()))
    for k in range(10):
        twin_id = 1000 + k
        noisy = base[k] + 0.01 * rng.standard_normal(64)
        rows.append((twin_id, noisy.astype(float).tolist()))
        planted.append((k, twin_id))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    got = {
        (r["a_id"], r["b_id"])
        for r in signrandom_lsh_pairs(df, threshold=0.98, bands=16).collect()
    }
    # precision: every reported pair really is >= 0.98 cosine
    mat = {i: np.array(v) / np.linalg.norm(v) for i, v in rows}
    for a, b in got:
        assert float(mat[a] @ mat[b]) >= 0.98
    # recall on planted twins
    found = sum(1 for p in planted if p in got)
    assert found >= 9, f"recall too low: {found}/10"


def test_ivf_topk_recall(spark):
    """IVF with nprobe=4/16 lists must recover most true neighbors; with
    nprobe=n_lists it must equal exact brute force."""
    from sketchlib.spark.ann import ivf_topk, topk_neighbors

    qids = [0, 1, 2, 3, 4]
    exact = {}
    for r in topk_neighbors(_emb(spark), qids, k=10).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    # full probing == exact
    full = {}
    for r in ivf_topk(_emb(spark), qids, k=10, n_lists=16, nprobe=16).collect():
        full.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert full == exact

    # partial probing: decent recall at 4/16 of the scan
    part = {}
    for r in ivf_topk(_emb(spark), qids, k=10, n_lists=16, nprobe=4).collect():
        part.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recall = sum(len(part.get(q, set()) & exact[q]) for q in exact) / (10 * len(exact))
    assert recall >= 0.5, recall


def test_signatures_deterministic(spark):
    from sketchlib.spark.ann import signrandom_signatures

    a = {r["id"]: r["sig"] for r in signrandom_signatures(_emb(spark)).collect()}
    b = {
        r["id"]: r["sig"]
        for r in signrandom_signatures(_emb(spark).repartition(7)).collect()
    }
    assert a == b


class TestEmbeddingDedupKeepers:
    """SemDeDup-style embedding near-dup removal: exact + LSH discovery vs
    a brute-force union-find oracle on planted clusters."""

    def _synth(self, spark, seed=11, n_noise=60, clusters=((100, 4), (200, 3), (300, 5))):
        """Noise vectors (i.i.d. gaussian, 16-d — pairwise cosine far below
        the gate) + planted clusters of EXACT copies at chosen ids."""
        rng = np.random.default_rng(seed)
        rows = []
        for i in range(n_noise):
            rows.append((int(i), rng.normal(size=16).tolist()))
        for base_id, size in clusters:
            proto = rng.normal(size=16)
            for m in range(size):
                rows.append((int(base_id + m), proto.tolist()))
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def _oracle_survivors(self, rows, threshold):
        ids = np.array([r[0] for r in rows], dtype=np.int64)
        mat = np.array([r[1] for r in rows], dtype=np.float64)
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        S = mat @ mat.T
        parent = {int(i): int(i) for i in ids}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        n = len(ids)
        for i in range(n):
            for j in range(i + 1, n):
                if S[i, j] >= threshold:
                    a, b = find(int(ids[i])), find(int(ids[j]))
                    if a != b:
                        parent[max(a, b)] = min(a, b)
        # survivors: min id per component
        comp_min = {}
        for x in parent:
            r = find(x)
            comp_min[r] = min(comp_min.get(r, x), x)
        return {comp_min[find(x)] for x in parent}

    def test_exact_matches_union_find_oracle(self, spark):
        from sketchlib.spark.ann import embedding_dedup_keepers

        df = self._synth(spark)
        rows = [(r["vec_id"], r["embedding"]) for r in df.collect()]
        want = self._oracle_survivors(rows, threshold=0.95)
        out = embedding_dedup_keepers(df, threshold=0.95, n_blocks=3)
        got = {r["vec_id"] for r in out.collect()}
        assert got == want
        # planted clusters collapse to their min id; noise survives
        assert {100, 200, 300} <= got
        assert not ({101, 102, 103, 201, 202, 301} & got)
        # original columns survive untouched
        assert out.columns == df.columns

    def test_lsh_discovery_agrees_on_exact_copies(self, spark):
        """Exact copies have identical sign signatures, so every planted
        pair meets in every band — LSH recall is 1.0 on this corpus and the
        two discovery modes must return identical survivors."""
        from sketchlib.spark.ann import embedding_dedup_keepers

        df = self._synth(spark)
        a = {r["vec_id"] for r in
             embedding_dedup_keepers(df, threshold=0.95, n_blocks=3).collect()}
        b = {r["vec_id"] for r in
             embedding_dedup_keepers(df, threshold=0.95, discovery="lsh",
                                     bands=4, dim=16).collect()}
        assert a == b

    def test_bad_discovery_raises(self, spark):
        from sketchlib.spark.ann import embedding_dedup_keepers

        with pytest.raises(ValueError):
            embedding_dedup_keepers(self._synth(spark), discovery="bogus")


def test_stored_ivf_index_equals_inmemory(spark, tmp_path):
    """write_ivf_index + ivf_topk_vs_index: identical training (same
    deterministic sample/seed) ⇒ identical neighbors to the in-memory
    ivf_topk; the probe scan must be PARTITION-PRUNED to the probed
    lists."""
    import pyspark.sql.functions as F

    from sketchlib.spark.ann import (
        ivf_topk,
        ivf_topk_vs_index,
        read_ivf_centroids,
        write_ivf_index,
    )

    emb = _emb(spark)
    path = str(tmp_path / "ivf")
    cent = write_ivf_index(emb, path, n_lists=16)
    assert read_ivf_centroids(spark, path).shape == cent.shape
    assert np.allclose(read_ivf_centroids(spark, path), cent)

    qids = [0, 1, 2, 3, 4]
    queries = emb.filter(F.col("vec_id").isin(qids))
    got_df = ivf_topk_vs_index(spark, path, queries, k=10, nprobe=4)

    # partition pruning reaches the stored scan
    plan = got_df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        got_df._jdf.queryExecution(), "formatted")
    import re
    pf = re.search(r"PartitionFilters: \[[^\]]*list_id[^\]]*\]", plan)
    assert pf, "probe scan is not partition-pruned on list_id"

    want = {(r["query_id"], r["rank"], r["neighbor_id"])
            for r in ivf_topk(emb, qids, k=10, n_lists=16, nprobe=4).collect()}
    got = {(r["query_id"], r["rank"], r["neighbor_id"])
           for r in got_df.collect()}
    assert got == want
    # sims are true cosines
    for r in got_df.collect():
        assert -1.0 - 1e-9 <= r["sim"] <= 1.0 + 1e-9


def test_stored_ivf_index_external_queries(spark, tmp_path):
    """Queries need not be index members: a NEW vector equal to an indexed
    one finds that vector as its top neighbor with sim ~ 1.0."""
    import pyspark.sql.functions as F

    from sketchlib.spark.ann import ivf_topk_vs_index, write_ivf_index

    emb = _emb(spark)
    path = str(tmp_path / "ivf2")
    write_ivf_index(emb, path, n_lists=8)
    probe_vec = emb.filter(F.col("vec_id") == 7).select("embedding").head()[0]
    queries = spark.createDataFrame(
        [(10_000_007, probe_vec)], "vec_id long, embedding array<float>")
    got = ivf_topk_vs_index(spark, path, queries, k=3, nprobe=2).collect()
    assert got[0]["query_id"] == 10_000_007
    assert got[0]["neighbor_id"] == 7
    assert got[0]["sim"] > 0.999999


def test_ivf_index_incremental_append(spark, tmp_path):
    """Append assigns with the STORED centroids (no retrain): the grown
    index probes identically to one built over the union in a single
    shot with the same centroids — and a probe finds appended vectors."""
    import pyspark.sql.functions as F

    from sketchlib.spark.ann import (
        append_to_ivf_index,
        ivf_topk_vs_index,
        write_ivf_index,
    )

    emb = _emb(spark)
    old = emb.filter(F.col("vec_id") % 3 != 0)
    new = emb.filter(F.col("vec_id") % 3 == 0)
    path = str(tmp_path / "ivf_inc")
    write_ivf_index(old, path, n_lists=8)
    append_to_ivf_index(new, path)

    n_stored = spark.read.parquet(f"{path}/vectors").count()
    assert n_stored == emb.count()

    # a query equal to an APPENDED vector finds it at sim ~ 1
    probe_vec = new.limit(1).collect()[0]
    queries = spark.createDataFrame(
        [(9_000_001, probe_vec["embedding"])],
        "vec_id long, embedding array<float>")
    got = ivf_topk_vs_index(spark, path, queries, k=3, nprobe=8).collect()
    assert got[0]["neighbor_id"] == probe_vec["vec_id"]
    assert got[0]["sim"] > 0.999999

    # grown index ≡ union probed with the same frozen quantizer: compare
    # against a fresh index trained on OLD (same deterministic sample)
    # with the union appended in one go
    path2 = str(tmp_path / "ivf_ref")
    write_ivf_index(old, path2, n_lists=8)
    append_to_ivf_index(new, path2)
    qids = [1, 2, 4]
    qdf = emb.filter(F.col("vec_id").isin(qids))
    a = {(r["query_id"], r["rank"], r["neighbor_id"]) for r in
         ivf_topk_vs_index(spark, path, qdf, k=5, nprobe=4).collect()}
    b = {(r["query_id"], r["rank"], r["neighbor_id"]) for r in
         ivf_topk_vs_index(spark, path2, qdf, k=5, nprobe=4).collect()}
    assert a == b


def test_stored_ivf_probe_chunked_queries(spark, tmp_path):
    """max_query_rows chunking (VERDICT r04 #4): a probe batch spanning a
    chunk boundary returns the identical (query, rank, neighbor) result
    as the single-chunk probe — per-query results are independent; sims
    agree to 1e-12 (BLAS gemm blocking varies with the query-matrix
    shape, so the dot products are not bitwise-stable across chunk
    sizes).  An empty queries frame flows as an empty result with the
    right schema; past max_chunks the probe raises with guidance instead
    of unioning an unbounded plan."""
    import pyspark.sql.functions as F
    import pytest as _pytest

    from sketchlib.spark.ann import ivf_topk_vs_index, write_ivf_index

    emb = _emb(spark)
    path = str(tmp_path / "ivf_chunk")
    write_ivf_index(emb, path, n_lists=8)
    queries = emb.filter(F.col("vec_id") < 7)  # 7 queries

    def rows(df):
        return sorted(
            ((r["query_id"], r["rank"], r["neighbor_id"]), r["sim"])
            for r in df.collect()
        )

    one = rows(ivf_topk_vs_index(spark, path, queries, k=5, nprobe=3))
    # max_query_rows=3 -> chunks of 3 + 3 + 1, one spanning the boundary
    chunked = rows(ivf_topk_vs_index(
        spark, path, queries, k=5, nprobe=3, max_query_rows=3))
    assert [k for k, _ in one] == [k for k, _ in chunked]
    assert all(abs(a - b) < 1e-12
               for (_, a), (_, b) in zip(one, chunked))

    empty = queries.filter(F.col("vec_id") < 0)
    out = ivf_topk_vs_index(spark, path, empty, k=5, nprobe=3)
    assert out.collect() == []
    assert [f.name for f in out.schema.fields] == [
        "query_id", "rank", "neighbor_id", "sim"]

    with _pytest.raises(ValueError, match="bulk k-NN"):
        ivf_topk_vs_index(spark, path, queries, k=5, nprobe=3,
                          max_query_rows=1, max_chunks=2)


def test_stored_ivf_probe_runs_queries_plan_once(spark, tmp_path):
    """The probe reads its queries in ONE pass: a counting filter UDF on
    the queries plan sees each row once, for the single-chunk and the
    chunked probe alike, and collecting the result reads no query row
    again (the queries reach the executors as a broadcast)."""
    import pyspark.sql.functions as F

    from sketchlib.spark.ann import ivf_topk_vs_index, write_ivf_index

    emb = _emb(spark)
    path = str(tmp_path / "ivf_once")
    write_ivf_index(emb, path, n_lists=8)
    for max_query_rows in (65536, 3):
        seen = spark.sparkContext.accumulator(0)

        def count_row(_vid):
            seen.add(1)
            return True

        counted = F.udf(count_row, "boolean").asNondeterministic()
        queries = emb.filter(F.col("vec_id") < 7).filter(counted("vec_id"))
        out = ivf_topk_vs_index(spark, path, queries, k=5, nprobe=3,
                                max_query_rows=max_query_rows)
        assert seen.value == 7, max_query_rows
        assert {r["query_id"] for r in out.collect()} == set(range(7))
        assert seen.value == 7, max_query_rows


def test_ivf_append_skip_existing_idempotent(spark, tmp_path):
    """skip_existing=True makes a replayed append a no-op (anti-join on
    the index's stored ids, id-only scan): at-least-once callers can't
    duplicate vectors; a mixed batch lands only its genuinely-new ids."""
    import pyspark.sql.functions as F

    from sketchlib.spark.ann import append_to_ivf_index, write_ivf_index

    emb = _emb(spark)
    old = emb.filter(F.col("vec_id") % 3 != 0)
    new = emb.filter(F.col("vec_id") % 3 == 0)
    path = str(tmp_path / "ivf_replay")
    write_ivf_index(old, path, n_lists=8)
    append_to_ivf_index(new, path)
    n1 = spark.read.parquet(f"{path}/vectors").count()
    assert n1 == emb.count()

    # replayed batch: exact no-op under skip_existing
    append_to_ivf_index(new, path, skip_existing=True)
    assert spark.read.parquet(f"{path}/vectors").count() == n1

    # mixed batch: one new id + replays -> exactly one row lands
    fresh_vec = emb.select("embedding").head()[0]
    mixed = new.select("vec_id", "embedding").limit(2).unionByName(
        spark.createDataFrame(
            [(7_000_001, fresh_vec)],
            "vec_id long, embedding array<float>"))
    append_to_ivf_index(mixed, path, skip_existing=True)
    stored = spark.read.parquet(f"{path}/vectors")
    assert stored.count() == n1 + 1
    assert stored.filter(F.col("vec_id") == 7_000_001).count() == 1


def test_assignment_sim_digest_detects_drift(spark, tmp_path):
    """In-distribution batches score high assignment similarity; an
    off-distribution batch scores lower, and the KS between the two
    stored digests flags it — the stored-index rebuild trigger."""
    import numpy as np
    import pyspark.sql.functions as F

    from sketchlib.spark.ann import assignment_sim_digest, write_ivf_index
    from sketchlib.tdigest.core import (
        bytes_to_centroids,
        ks_of_centroids,
        quantiles_of_centroids,
    )

    emb = _emb(spark)
    path = str(tmp_path / "ivf_drift")
    write_ivf_index(emb, path, n_lists=8)

    # in-distribution: the index's own vectors
    d_in = assignment_sim_digest(emb, path).collect()[0]["digest"]
    # drifted: deterministic pseudo-random unit vectors, unrelated to the
    # trained lists (dim matches the table)
    dim = len(emb.select("embedding").head()[0])
    rng = np.random.default_rng(7)
    drifted = [(int(i), [float(x) for x in rng.normal(size=dim)])
               for i in range(300)]
    ddf = spark.createDataFrame(drifted, "vec_id long, embedding array<float>")
    d_out = assignment_sim_digest(ddf, path).collect()[0]["digest"]

    m_in, n_in = bytes_to_centroids(bytes(d_in))
    m_out, n_out = bytes_to_centroids(bytes(d_out))
    q50_in = quantiles_of_centroids(m_in, n_in, [0.5])[0]
    q50_out = quantiles_of_centroids(m_out, n_out, [0.5])[0]
    assert q50_in > q50_out  # drifted batch assigns worse
    ks = ks_of_centroids(m_in, n_in, m_out, n_out)
    assert ks > 0.3  # the monitor flags the drift

    # per-key grouping works and yields one digest per group
    emb2 = emb.withColumn("grp", (F.col("vec_id") % 2).cast("string"))
    rows = assignment_sim_digest(emb2, path, keys=["grp"]).collect()
    assert {r["grp"] for r in rows} == {"0", "1"}


def test_stored_ivf_dim_mismatch_raises(spark, tmp_path):
    import pyspark.sql.functions as F
    import pytest as _pytest

    from sketchlib.spark.ann import (
        append_to_ivf_index,
        ivf_topk_vs_index,
        write_ivf_index,
    )

    emb = _emb(spark)
    path = str(tmp_path / "ivf_dim")
    write_ivf_index(emb, path, n_lists=4)
    bad = spark.createDataFrame(
        [(1, [0.1, 0.2, 0.3])], "vec_id long, embedding array<float>")
    with _pytest.raises(ValueError, match="dim"):
        ivf_topk_vs_index(spark, path, bad, k=2, nprobe=2)
    with _pytest.raises(ValueError, match="dim"):
        append_to_ivf_index(bad, path)
