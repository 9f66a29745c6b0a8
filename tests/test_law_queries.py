"""Round-3 late gated queries: merge-law verdicts, Bloom join pruning, and
the HLL hourly→daily rollup (queries.py q_td_merge_laws / q_bloom_join_prune
/ q_hll_hourly_rollup).  The driver gate checks them against DuckDB at
sf0.01; these tests assert the PROPERTIES the verdict booleans encode, plus
the pruning behavior the oracle equality alone can't see.
"""

import pytest

from tests.conftest import SF_SMALL


def test_td_merge_laws_all_true(spark):
    from sketchlib.spark.queries import q_td_merge_laws

    rows = q_td_merge_laws(spark, SF_SMALL).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["merge_commutative"], r
        assert r["union_assoc"], r
        assert r["engine_equals_driver_fold"], r
        assert r["exact_layout_invariant"], r


def test_bloom_join_prune_matches_plain_join(spark):
    """Bloom pre-filter has no false negatives ⇒ pruned join == plain join;
    and on this data it actually PRUNES (candidates strictly fewer than the
    orders rows, within fpr of the true match count)."""
    from pyspark.sql import functions as F

    from sketchlib.spark.queries import (
        LAST_BLOOM_JOIN_STATS,
        load,
        q_bloom_join_prune,
    )

    got = {r["n_name"]: (r["n_orders"], r["n_custs"])
           for r in q_bloom_join_prune(spark, SF_SMALL).collect()}

    orders = load(spark, SF_SMALL, "orders")
    cust = load(spark, SF_SMALL, "customer")
    nat = load(spark, SF_SMALL, "nation")
    reg = load(spark, SF_SMALL, "region").filter(F.col("r_name") == "EUROPE")
    plain = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(nat, cust["c_nationkey"] == nat["n_nationkey"])
        .join(reg, nat["n_regionkey"] == reg["r_regionkey"])
        .groupBy("n_name")
        .agg(F.count("*").alias("n_orders"),
             F.countDistinct("o_custkey").alias("n_custs"))
    )
    want = {r["n_name"]: (r["n_orders"], r["n_custs"]) for r in plain.collect()}
    assert got == want
    assert LAST_BLOOM_JOIN_STATS["filter_bytes"] > 0

    # pruning effectiveness: candidate rows ≈ true matches + fpr·non-matches
    from sketchlib.bloom import Bloom
    from sketchlib.spark.sketch_ops import sketch_aggregate

    eu_cust = (
        cust.join(F.broadcast(nat.join(F.broadcast(reg),
                                       nat["n_regionkey"] == reg["r_regionkey"])),
                  cust["c_nationkey"] == F.col("n_nationkey"))
        .select("c_custkey")
    )
    n_keys = eu_cust.count()
    blob = bytes(sketch_aggregate(
        eu_cust, [], "c_custkey", "bloom",
        {"fpr": 0.01, "expected_n": max(n_keys, 1000)},
    ).collect()[0]["sketch"])
    b = Bloom.deserialize(blob)
    probe = orders.select(F.xxhash64("o_custkey").alias("h")).toPandas()
    import numpy as np

    cand = int(b.contains_hashed(probe["h"].to_numpy(dtype="int64").view(np.uint64)).sum())
    total = len(probe)
    true_matches = (
        orders.join(F.broadcast(eu_cust),
                    orders["o_custkey"] == eu_cust["c_custkey"], "left_semi").count()
    )
    assert true_matches <= cand < total  # no FN, and it actually pruned
    # false-positive overshoot bounded well below the non-matching mass
    assert cand - true_matches <= 0.05 * (total - true_matches) + 10


def test_hll_hourly_rollup_laws(spark):
    from sketchlib.spark.queries import q_hll_hourly_rollup

    rows = q_hll_hourly_rollup(spark, SF_SMALL).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["within_tol"], r
        assert r["rollup_equals_direct"], r


@pytest.mark.parametrize("name", [
    "q_td_cube_lang_source", "q_td_ks_drift_by_lang",
    "q_lm_bigram_score", "q_lm_trigram_score", "q_sketch_laws_summary",
    "q_ann_exact_cosine", "q_decontam_fuzzy_neardup",
])
def test_query_leaves_no_cache_behind(spark, name):
    """A catalog query caches its shared intermediate while it builds the
    result, then releases it: the session's cache registry is as empty
    after the call as before (a ``localCheckpoint``ed result is freed with
    the DataFrame, a ``.cache()`` only by ``unpersist``)."""
    from sketchlib.spark import queries

    registry = spark._jsparkSession.sharedState().cacheManager()  # noqa: SLF001
    spark.catalog.clearCache()
    rows = getattr(queries, name)(spark, SF_SMALL).collect()
    assert rows
    assert registry.isEmpty()
