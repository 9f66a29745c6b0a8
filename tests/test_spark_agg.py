"""Spark-level t-digest aggregation tests (SURVEY.md §5 item 5).

Covers: two-phase plan correctness vs exact quantiles, partition-count
invariance (byte-identical digests in exact mode), compressed-mode rank-error
bound, weighted ingest, and the narrow-projection/pushdown property of the
plan.
"""

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_MED, SF_SMALL

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_MED}/documents.parquet")


def test_entry_smoke(spark):
    import __spark_entry__ as e

    rows = e.entry(spark).collect()
    assert len(rows) > 0
    assert set(e.oracle_sql()) <= set(e.queries())


def test_partition_invariance_exact_mode(spark, docs):
    from sketchlib.spark.tdigest_ops import tdigest_aggregate

    def digests(df):
        out = tdigest_aggregate(df, ["lang"], "n_chars", delta=0.0).collect()
        return {r["lang"]: bytes(r["digest"]) for r in out}

    a = digests(docs.repartition(1))
    b = digests(docs.repartition(64))
    c = digests(docs.repartition(7, "source"))
    assert a == b == c
    assert all(len(v) % 16 == 0 and len(v) > 0 for v in a.values())


def test_compressed_mode_rank_error_bound(spark, docs):
    from sketchlib.spark.tdigest_ops import tdigest_aggregate, tdigest_quantiles_udf

    delta = 0.01
    dig = tdigest_aggregate(docs.repartition(16), ["lang"], "n_chars", delta=delta)
    q = tdigest_quantiles_udf([0.5, 0.95, 0.99])
    rows = dig.withColumn("qs", q("digest")).select("lang", "qs").collect()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF_MED}/documents.parquet')"
    )
    for r in rows:
        vals = con.execute(
            "SELECT CAST(n_chars AS DOUBLE) FROM documents WHERE lang = ? ORDER BY 1",
            [r["lang"]],
        ).fetchnumpy()["CAST(n_chars AS DOUBLE)"]
        for p, est in zip([0.5, 0.95, 0.99], r["qs"]):
            rank = np.searchsorted(np.sort(vals), est) / len(vals)
            assert abs(rank - p) < delta + 1e-9, (r["lang"], p, rank)


def test_global_digest_no_keys(spark, docs):
    from sketchlib.spark.tdigest_ops import tdigest_aggregate, tdigest_count_udf

    dig = tdigest_aggregate(docs, [], "n_chars", delta=0.01)
    rows = dig.collect()
    assert len(rows) == 1
    total = dig.select(tdigest_count_udf("digest").alias("c")).collect()[0]["c"]
    assert total == docs.count()


def test_weighted_ingest(spark):
    from pyspark.sql import functions as F

    from sketchlib.spark.tdigest_ops import tdigest_aggregate

    df = spark.range(100).select(
        (F.col("id") % 10).cast("double").alias("v"),
        F.lit(1).cast("double").alias("w"),
    )
    # weight 3 == value repeated 3x, exact mode
    a = tdigest_aggregate(
        df.withColumn("w", F.lit(3.0)), [], "v", delta=0.0, weight_col="w"
    ).collect()[0]["digest"]
    b = tdigest_aggregate(
        df.union(df).union(df), [], "v", delta=0.0
    ).collect()[0]["digest"]
    assert bytes(a) == bytes(b)


def test_nulls_ignored(spark):
    from pyspark.sql import functions as F

    from sketchlib.spark.tdigest_ops import tdigest_aggregate, tdigest_count_udf

    df = spark.range(10).select(
        F.when(F.col("id") % 2 == 0, F.col("id").cast("double")).alias("v")
    )
    dig = tdigest_aggregate(df, [], "v", delta=0.0)
    total = dig.select(tdigest_count_udf("digest").alias("c")).collect()[0]["c"]
    assert total == 5.0


def test_plan_prunes_columns(spark):
    """The partial stage must narrow-project before the Python stage so
    parquet reads only the needed columns (ReadSchema pruning)."""
    from sketchlib.spark.tdigest_ops import tdigest_partials

    df = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    plan = tdigest_partials(df, ["lang"], "n_chars")._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema: struct<lang:string,n_chars:bigint>" in plan, plan


def test_centroids_relational_view(spark, docs):
    from pyspark.sql import functions as F

    from sketchlib.spark.tdigest_ops import tdigest_aggregate, tdigest_centroids_udf

    dig = tdigest_aggregate(docs, ["lang"], "n_chars", delta=0.0)
    view = (
        dig.select("lang", F.explode(tdigest_centroids_udf("digest")).alias("c"))
        .select("lang", "c.mean", "c.n")
    )
    got = {
        (r["lang"], r["mean"]): r["n"]
        for r in view.where(F.col("lang") == "en").collect()
    }
    exact = duckdb.sql(
        f"SELECT CAST(n_chars AS DOUBLE) m, CAST(count(*) AS DOUBLE) c "
        f"FROM read_parquet('{SF_MED}/documents.parquet') "
        f"WHERE lang='en' GROUP BY n_chars"
    ).fetchall()
    assert got == {("en", m): c for m, c in exact}


def test_tdigest_metrics_accumulators(spark, docs):
    """TDigestMetrics: worker-side engine counters must flow back to the
    driver through Spark accumulators after an action — the SURVEY §1.1
    'counters become metrics rows' promise, now on the production path."""
    from sketchlib.spark.tdigest_ops import TDigestMetrics, tdigest_aggregate

    m = TDigestMetrics(spark)
    out = tdigest_aggregate(docs, ["lang"], "n_chars", delta=0.01, metrics=m)
    assert m.snapshot()["cumulates_count"] == 0  # lazy: nothing ran yet
    n_keys = len(out.collect())
    snap = m.snapshot()
    # every emitted digest flushed at least once, and the merge phase runs
    # one explicit compress per key group
    assert snap["cumulates_count"] > 0
    assert snap["compress_count"] >= 1
    assert snap["auto_compress_count"] >= 0
    # a metrics hook keeps the per-object loop, so the totals count objects:
    # one flush per non-empty partial digest, one compress per merged key
    from sketchlib.spark.tdigest_ops import tdigest_partials

    parts = tdigest_partials(docs, ["lang"], "n_chars", delta=0.01)
    n_parts = parts.where(F.length("digest") > 0).count()
    assert snap == {"cumulates_count": n_parts, "compress_count": n_keys,
                    "auto_compress_count": 0}


def test_prank_rows_discrete_equals_cume_dist(spark, docs):
    """Discrete per-row p_rank == SQL cume_dist (lossless digest), and the
    returned plan must be scan+MapInPandas only — the digest dimension is
    broadcast, never joined."""
    from pyspark.sql import Window
    from sketchlib.spark.tdigest_ops import tdigest_prank_rows

    d = docs.select("doc_id", "lang", "n_chars").filter(F.col("n_chars").isNotNull())
    scored = tdigest_prank_rows(d, ["lang"], "n_chars", discrete=True)
    got = {r["doc_id"]: r["p_rank"] for r in scored.collect()}
    want = {
        r["doc_id"]: r["cd"]
        for r in d.withColumn(
            "cd", F.cume_dist().over(Window.partitionBy("lang").orderBy("n_chars"))
        ).collect()
    }
    assert got == want
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Join" not in plan


def test_prank_rows_merging_mode_rank_error(spark, docs):
    """Production delta: per-row p_rank obeys the t-digest rank-error bound
    (midpoint-convention estimate within ~delta of the exact midrank)."""
    from pyspark.sql import Window
    from sketchlib.spark.tdigest_ops import tdigest_prank_rows

    d = docs.select("doc_id", "lang", "n_chars").filter(F.col("n_chars").isNotNull())
    scored = tdigest_prank_rows(d, ["lang"], "n_chars", delta=0.01)
    got = {r["doc_id"]: r["p_rank"] for r in scored.collect()}
    # exact midrank: (count(<x) + 0.5*count(=x)) / N — the midpoint
    # convention merging-mode p_rank estimates
    rows = d.collect()
    import collections

    by_lang = collections.defaultdict(list)
    for r in rows:
        by_lang[r["lang"]].append(r["n_chars"])
    import bisect

    errs = []
    for r in rows:
        vals = sorted(by_lang[r["lang"]])
        lo = bisect.bisect_left(vals, r["n_chars"])
        hi = bisect.bisect_right(vals, r["n_chars"])
        mid = (lo + 0.5 * (hi - lo)) / len(vals)
        errs.append(abs(got[r["doc_id"]] - mid))
    assert max(errs) < 0.02, max(errs)


def test_prank_rows_null_and_missing_group(spark):
    """NULL values and groups absent from the digest frame score NULL."""
    from sketchlib.spark.tdigest_ops import tdigest_aggregate, tdigest_prank_rows

    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "a", None), (4, "zz", 5.0)],
        "id long, k string, v double",
    )
    digs = tdigest_aggregate(
        df.filter(F.col("k") == "a"), ["k"], "v", discrete=True
    )
    out = {
        r["id"]: r["p_rank"]
        for r in tdigest_prank_rows(
            df, ["k"], "v", discrete=True, digests=digs
        ).collect()
    }
    assert out[1] == 0.5 and out[2] == 1.0
    assert out[3] is None and out[4] is None


def test_prank_rows_merging_mode_null_value(spark):
    """Merging mode scores a NULL value NULL too (a NaN probe used to
    index past the last centroid and fail the task)."""
    from sketchlib.spark.tdigest_ops import tdigest_prank_rows

    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "a", None), (4, "zz", 5.0)],
        "id long, k string, v double",
    )
    out = {r["id"]: r["p_rank"]
           for r in tdigest_prank_rows(df, ["k"], "v", discrete=False).collect()}
    assert out == {1: 0.25, 2: 0.75, 3: None, 4: 0.5}
