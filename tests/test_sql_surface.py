"""SQL registration: sketch functions usable from plain spark.sql."""

import numpy as np
import pytest

from tests.conftest import SF_MED, SF_SMALL


def test_sql_tdigest_agg_and_quantile(spark):
    from sketchlib.spark.sql import register_sql_functions

    register_sql_functions(spark)
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    docs.createOrReplaceTempView("docs_sql")

    rows = spark.sql("""
        SELECT lang,
               tdigest_quantile(tdigest_agg(CAST(n_chars AS DOUBLE)), 0.5) AS p50,
               tdigest_count(tdigest_agg(CAST(n_chars AS DOUBLE))) AS cnt,
               tdigest_size(tdigest_agg(CAST(n_chars AS DOUBLE))) AS sz
        FROM docs_sql GROUP BY lang
    """).collect()
    assert len(rows) > 0
    exact = {
        r["lang"]: ([x["n_chars"] for x in
                     docs.filter(docs.lang == r["lang"]).collect()])
        for r in rows
    }
    for r in rows:
        vals = np.sort(np.array(exact[r["lang"]], dtype=float))
        # p50 within t-digest rank bound
        rank = np.searchsorted(vals, r["p50"], side="right") / len(vals)
        assert abs(rank - 0.5) < 0.02, (r["lang"], rank)
        assert r["cnt"] == len(vals)
        assert 0 < r["sz"] <= 2500


def test_sql_sibling_sketches(spark):
    from sketchlib.spark.sql import register_sql_functions

    register_sql_functions(spark)
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    ev.createOrReplaceTempView("ev_sql")

    rows = spark.sql("""
        WITH sk AS (
          SELECT event_type,
                 hll_agg(user_id) AS h, kll_agg(value) AS kq,
                 dd_agg(value) AS dq,
                 bloom_agg(user_id) AS bf, cms_agg(user_id) AS cm
          FROM ev_sql GROUP BY event_type
        ), sample AS (
          SELECT event_type, min(user_id) AS probe FROM ev_sql GROUP BY event_type
        )
        SELECT sk.event_type,
               hll_estimate(h) AS approx_users,
               kll_quantile(kq, 0.5) AS kll_p50,
               dd_quantile(dq, 0.5) AS dd_p50,
               bloom_contains(bf, probe) AS has_first,
               cms_query(cm, probe) AS first_cnt
        FROM sk JOIN sample USING (event_type)
    """).collect()
    assert rows
    exact = {
        r["event_type"]: r["u"]
        for r in ev.groupBy("event_type").agg(
            __import__("pyspark.sql.functions", fromlist=["countDistinct"])
            .countDistinct("user_id").alias("u")
        ).collect()
    }
    exact_vals = {
        r["event_type"]: np.sort(np.asarray(r["v"], dtype=float))
        for r in ev.groupBy("event_type").agg(
            __import__("pyspark.sql.functions", fromlist=["collect_list"])
            .collect_list("value").alias("v")
        ).collect()
    }
    for r in rows:
        assert abs(r["approx_users"] - exact[r["event_type"]]) / exact[r["event_type"]] < 0.05
        assert r["has_first"] is True
        assert r["first_cnt"] >= 1
        # dd p50: the returned value's rank in the exact multiset is ~0.5
        vals = exact_vals[r["event_type"]]
        rank = np.searchsorted(vals, r["dd_p50"], side="right") / len(vals)
        assert abs(rank - 0.5) < 0.02, (r["event_type"], rank)


def test_sql_dd_merge_agg_bitwise(spark):
    """dd_merge_agg over per-source sketches is byte-identical to the
    direct per-lang build — the family's bitwise merge law, on the SQL
    surface."""
    from sketchlib.spark.sql import register_sql_functions

    register_sql_functions(spark)
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    docs.createOrReplaceTempView("docs_dd_sql")
    rows = spark.sql("""
        WITH per_src AS (
          SELECT lang, source, dd_agg(CAST(n_chars AS DOUBLE)) AS d
          FROM docs_dd_sql GROUP BY lang, source
        ), merged AS (
          SELECT lang, dd_merge_agg(d) AS d FROM per_src GROUP BY lang
        ), direct AS (
          SELECT lang, dd_agg(CAST(n_chars AS DOUBLE)) AS d
          FROM docs_dd_sql GROUP BY lang
        )
        SELECT m.lang, m.d AS merged, x.d AS direct
        FROM merged m JOIN direct x USING (lang)
    """).collect()
    assert rows
    for r in rows:
        assert bytes(r["merged"]) == bytes(r["direct"]), r["lang"]


def test_sql_merge_agg_interchangeable_with_two_phase(spark):
    """Digests built via the SQL GROUPED_AGG path merge-agg to the same
    answers as the explicit two-phase plan (shared wire format)."""
    from sketchlib.spark.sql import register_sql_functions
    from sketchlib.spark.tdigest_ops import tdigest_aggregate, tdigest_quantiles_udf

    register_sql_functions(spark)
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    docs.createOrReplaceTempView("docs_sql2")

    # build per-source digests in SQL, then merge them per lang in SQL
    sql_q = spark.sql("""
        WITH per_src AS (
          SELECT lang, source, tdigest_agg(CAST(n_chars AS DOUBLE)) AS d
          FROM docs_sql2 GROUP BY lang, source
        )
        SELECT lang, tdigest_quantile(tdigest_merge_agg(d), 0.9) AS p90
        FROM per_src GROUP BY lang
    """).collect()
    got = {r["lang"]: r["p90"] for r in sql_q}

    two_phase = tdigest_aggregate(docs, ["lang"], "n_chars", delta=0.01)
    ref = {
        r["lang"]: r["qs"][0]
        for r in two_phase.select(
            "lang", tdigest_quantiles_udf([0.9])("digest").alias("qs")
        ).collect()
    }
    # both are delta=0.01 digests of the same data; estimates must agree
    # within the combined rank-error bound in value space — compare achieved
    # ranks instead of raw values
    vals = {lang: np.sort(np.array(
        [x["n_chars"] for x in docs.filter(docs.lang == lang).collect()],
        dtype=float)) for lang in got}
    for lang in got:
        v = vals[lang]
        r1 = np.searchsorted(v, got[lang], side="right") / len(v)
        r2 = np.searchsorted(v, ref[lang], side="right") / len(v)
        assert abs(r1 - 0.9) < 0.02 and abs(r2 - 0.9) < 0.02, (lang, r1, r2)


def test_sql_mg_frequent_items(spark):
    """mg_agg / mg_merge_agg / mg_estimate: SQL-surface Misra–Gries is
    exact at full capacity and the partial-merge spelling matches the
    one-shot aggregate."""
    docs = spark.read.parquet(f"{SF_MED}/documents.parquet")
    docs.createOrReplaceTempView("docs_mg")
    from sketchlib.spark.sql import register_sql_functions

    register_sql_functions(spark)
    got = {
        (r["lang"], r["source"]): r["c"]
        for r in spark.sql("""
            WITH per_src AS (
              SELECT lang, source, mg_agg(source) AS s
              FROM docs_mg GROUP BY lang, source
            ), merged AS (
              SELECT lang, mg_merge_agg(s) AS s FROM per_src GROUP BY lang
            )
            SELECT m.lang, d.source, mg_estimate(m.s, d.source) AS c
            FROM merged m JOIN (SELECT DISTINCT lang, source FROM docs_mg) d
              ON m.lang = d.lang
        """).collect()
    }
    exact = {
        (r["lang"], r["source"]): r["c"]
        for r in spark.sql(
            "SELECT lang, source, count(*) AS c FROM docs_mg GROUP BY lang, source"
        ).collect()
    }
    assert got == exact


def test_sql_cms_inner_product(spark):
    """cms_inner_product over two SQL-built sketches >= exact join size and
    NULL-safe."""
    from sketchlib.spark.sql import register_sql_functions

    register_sql_functions(spark)
    spark.createDataFrame(
        [(i % 50,) for i in range(2000)], "k long"
    ).createOrReplaceTempView("side_a")
    spark.createDataFrame(
        [(i % 80,) for i in range(800)], "k long"
    ).createOrReplaceTempView("side_b")
    # two scalar subqueries with pandas UDAFs trip Spark's
    # MergeScalarSubqueries (UnevaluableAggregateFunc internal error) —
    # build the one-row sketch tables explicitly and cross join
    row = spark.sql("""
        WITH a AS (SELECT cms_agg(k) AS s FROM side_a),
             b AS (SELECT cms_agg(k) AS s FROM side_b)
        SELECT cms_inner_product(a.s, b.s) AS est FROM a CROSS JOIN b
    """).collect()[0]
    exact = spark.sql(
        "SELECT count(*) c FROM side_a JOIN side_b USING (k)"
    ).collect()[0]["c"]
    import math
    assert row["est"] >= exact
    assert row["est"] <= exact + 3 * (math.e / 16384) * 2000 * 800
    assert spark.sql(
        "SELECT cms_inner_product(NULL, NULL) AS e").collect()[0]["e"] is None


def test_sql_tdigest_ks_and_winsor_bound(spark):
    """VERDICT r03 #4: the drift monitor + winsorize bounds must be usable
    from plain SQL, and must equal the DataFrame path exactly."""
    import pyspark.sql.functions as F

    from sketchlib.spark.queries import load
    from sketchlib.spark.sql import register_sql_functions
    from sketchlib.spark.tdigest_ops import tdigest_aggregate, tdigest_ks_udf

    register_sql_functions(spark)
    docs = load(spark, SF_SMALL, "documents")
    per_lang = tdigest_aggregate(docs, ["lang"], "n_chars", discrete=True)
    global_d = tdigest_aggregate(docs, [], "n_chars", discrete=True) \
        .select(F.col("digest").alias("gdigest"))
    j = per_lang.crossJoin(F.broadcast(global_d))
    j.createOrReplaceTempView("ks_sql")

    df_rows = {
        r["lang"]: r["ks"]
        for r in j.select(
            "lang", tdigest_ks_udf("digest", "gdigest").alias("ks")
        ).collect()
    }
    sql_rows = {
        r["lang"]: r["ks"]
        for r in spark.sql(
            "SELECT lang, tdigest_ks(digest, gdigest) AS ks FROM ks_sql"
        ).collect()
    }
    assert sql_rows == df_rows and len(sql_rows) >= 3
    assert all(0.0 <= v <= 1.0 for v in sql_rows.values())

    # W1 drift (value units) from SQL: equals the UDF path exactly AND a
    # DuckDB spelling of the same union-grid step-CDF integral
    from sketchlib.spark.tdigest_ops import tdigest_w1_udf

    w1_df = {
        r["lang"]: r["w1"]
        for r in j.select(
            "lang", tdigest_w1_udf("digest", "gdigest").alias("w1")
        ).collect()
    }
    w1_sql = {
        r["lang"]: r["w1"]
        for r in spark.sql(
            "SELECT lang, tdigest_w1(digest, gdigest) AS w1 FROM ks_sql"
        ).collect()
    }
    assert w1_sql == w1_df and all(v >= 0.0 for v in w1_sql.values())
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_SMALL}/documents.parquet')"
    )
    oracle = dict(con.execute("""
        WITH d AS (SELECT lang, CAST(n_chars AS DOUBLE) v FROM documents
                   WHERE n_chars IS NOT NULL),
        pts AS (SELECT DISTINCT v FROM d),
        grid AS (SELECT k.lang, p.v FROM (SELECT DISTINCT lang FROM d) k,
                 pts p),
        fa AS (SELECT g.lang, g.v,
                 (SELECT count(*) FROM d WHERE d.lang = g.lang AND d.v <= g.v)
                   / (SELECT count(*) FROM d WHERE d.lang = g.lang)::DOUBLE
                   AS f,
                 (SELECT count(*) FROM d WHERE d.v <= g.v)
                   / (SELECT count(*) FROM d)::DOUBLE AS fg,
                 lead(g.v) OVER (PARTITION BY g.lang ORDER BY g.v) AS nxt
               FROM grid g)
        SELECT lang, round(sum(abs(f - fg) * (nxt - v)), 6) FROM fa
        WHERE nxt IS NOT NULL GROUP BY lang
    """).fetchall())
    got = {k: round(v, 6) for k, v in w1_sql.items()}
    assert got == oracle, (got, oracle)

    # winsor bounds: discrete-mode quantiles are exact data values
    b = spark.sql("""
        SELECT lang,
               tdigest_winsor_bound(digest, 0.05) AS lo,
               tdigest_winsor_bound(digest, 0.95) AS hi
        FROM ks_sql
    """).collect()
    vals = {r["lang"]: r for r in b}
    exact = docs.groupBy("lang").agg(
        F.expr("percentile(n_chars, 0.95)").alias("p95max")
    ).collect()
    for r in b:
        assert r["lo"] <= r["hi"]
    # each bound is an actual data value of that lang
    for lang, r in vals.items():
        lang_vals = {x["n_chars"] for x in
                     docs.filter(F.col("lang") == lang)
                     .select("n_chars").collect()}
        assert r["lo"] in lang_vals and r["hi"] in lang_vals


def test_sql_tdigest_ks_null_on_empty_digest(spark):
    """ADVICE r03: a VALID wire blob holding zero centroids must yield SQL
    NULL (not NaN) from both the UDF and SQL forms."""
    import pandas as pd

    from sketchlib.spark.sql import register_sql_functions
    from sketchlib.spark.tdigest_ops import tdigest_ks_udf

    register_sql_functions(spark)
    empty = b""          # zero-centroid payload (len % 16 == 0, 0 centroids)
    from sketchlib.tdigest.core import centroids_to_bytes
    import numpy as np

    real = centroids_to_bytes(np.array([1.0, 2.0]), np.array([1.0, 1.0]))
    df = spark.createDataFrame(
        pd.DataFrame({"a": [empty, real], "b": [real, real]})
    )
    df.createOrReplaceTempView("ks_empty_sql")
    rows = spark.sql(
        "SELECT tdigest_ks(a, b) AS ks FROM ks_empty_sql ORDER BY ks NULLS FIRST"
    ).collect()
    assert rows[0]["ks"] is None and rows[1]["ks"] is not None
    udf_rows = df.select(tdigest_ks_udf("a", "b").alias("ks")).collect()
    assert sorted([r["ks"] is None for r in udf_rows]) == [False, True]


def test_sql_tdigest_psi_jsd(spark):
    """The PSI/JSD drift monitor must be usable from plain SQL and equal the
    DataFrame path (``tdigest_psi_jsd_udf``) exactly at the defaults."""
    import math

    import pyspark.sql.functions as F

    from sketchlib.spark.queries import load
    from sketchlib.spark.sql import register_sql_functions
    from sketchlib.spark.tdigest_ops import tdigest_aggregate, tdigest_psi_jsd_udf

    register_sql_functions(spark)
    docs = load(spark, SF_SMALL, "documents")
    per_lang = tdigest_aggregate(docs, ["lang"], "n_chars", discrete=True)
    global_d = tdigest_aggregate(docs, [], "n_chars", discrete=True) \
        .select(F.col("digest").alias("gdigest"))
    j = per_lang.crossJoin(F.broadcast(global_d))
    j.createOrReplaceTempView("pj_sql")

    df_rows = {
        r["lang"]: tuple(r["pj"])
        for r in j.select(
            "lang", tdigest_psi_jsd_udf()("digest", "gdigest").alias("pj")
        ).collect()
    }
    sql_rows = {
        r["lang"]: tuple(r["pj"])
        for r in spark.sql(
            "SELECT lang, tdigest_psi_jsd(digest, gdigest) AS pj FROM pj_sql"
        ).collect()
    }
    assert sql_rows == df_rows and len(sql_rows) >= 3
    assert all(
        p >= 0.0 and 0.0 <= d <= math.log(2.0) for p, d in sql_rows.values()
    )
    assert spark.sql(
        "SELECT tdigest_psi_jsd(CAST(NULL AS BINARY), CAST(NULL AS BINARY)) AS e"
    ).collect()[0]["e"] is None


#: every SQL name registered before the aggregates were generated from the
#: sketch registry — all must keep resolving
LEGACY_NAMES = [
    "tdigest_agg", "tdigest_merge_agg", "tdigest_to_wire", "tdigest_from_wire",
    "tdigest_quantile", "tdigest_cdf", "tdigest_trimmed_mean", "tdigest_ks",
    "tdigest_w1", "tdigest_psi_jsd", "tdigest_winsor_bound", "tdigest_size",
    "tdigest_count", "hll_agg", "hll_merge_agg", "hll_estimate", "cms_agg",
    "cms_query", "cms_inner_product", "bloom_agg", "bloom_contains", "kll_agg",
    "kll_quantile", "dd_agg", "dd_merge_agg", "dd_quantile", "kmv_agg",
    "kmv_merge_agg", "kmv_estimate", "mg_agg", "mg_merge_agg", "mg_estimate",
]
#: the column each family's SQL aggregate reads: BIGINT for the hash
#: families, STRING for mg, DOUBLE for the numeric ones
SQL_COL = {"tdigest": "x", "hll": "v", "cms": "v", "bloom": "v", "kmv": "v",
           "mg": "s", "kll": "x", "dd": "x"}
BIG = 2**53 + 1  # the smallest BIGINT a float64 cannot hold


def test_sql_registers_every_family(spark):
    from sketchlib.spark.sketch_ops import SKETCHES
    from sketchlib.spark.sql import register_sql_functions

    register_sql_functions(spark)
    generated = [f"{k}_{a}" for k in SKETCHES for a in ("agg", "merge_agg")]
    assert len(LEGACY_NAMES) == 32
    missing = [n for n in LEGACY_NAMES + generated
               if not spark.catalog.functionExists(n)]
    assert not missing, missing


@pytest.fixture(scope="module")
def nullable(spark):
    """200 rows for each of the keys NULL, "a", "b": a sub-key, and
    NULL-bearing BIGINT (with 2^53 and 2^53+1), DOUBLE and STRING columns."""
    rows = [
        (None if i % 3 == 0 else "ab"[i % 3 - 1], i % 4,
         None if i % 7 == 0 else BIG if i % 11 == 0 else BIG - 1 if i % 13 == 0
         else (i * 7919) % 1000 - 500,
         None if i % 5 == 0 else float((i * 37) % 101),
         None if i % 6 == 0 else f"w{i % 23}")
        for i in range(600)
    ]
    df = spark.createDataFrame(rows, "g string, sub int, v long, x double, s string")
    df.createOrReplaceTempView("nullable_sql")
    return df


def test_sql_aggs_match_kernel_bytes(spark, nullable):
    """Each ``<kind>_agg`` builds the bytes ``sketch_aggregate`` builds with
    the same params on NULL-bearing input (KLL and MG, whose bytes depend on
    arrival order, on ingested totals); ``<kind>_merge_agg`` over
    per-(key, sub-key) sketches equals the direct aggregate where the merge
    is exact; the BIGINT probes find 2^53+1 in the hash sketches."""
    from tests.test_kernel import ORDER_SENSITIVE, _total

    from sketchlib.spark.sketch_ops import SKETCHES, sketch_aggregate
    from sketchlib.spark.sql import PARAMS, register_sql_functions

    register_sql_functions(spark)
    aggs = ", ".join(f"{k}_agg({SQL_COL[k]}) AS {k}" for k in SKETCHES)
    merges = ", ".join(f"{k}_merge_agg({k}) AS {k}" for k in SKETCHES)
    direct = {r["g"]: r for r in spark.sql(
        f"SELECT g, {aggs} FROM nullable_sql GROUP BY g").collect()}
    merged = {r["g"]: r for r in spark.sql(f"""
        WITH p AS (SELECT g, sub, {aggs} FROM nullable_sql GROUP BY g, sub)
        SELECT g, {merges} FROM p GROUP BY g""").collect()}
    assert set(direct) == set(merged) == {None, "a", "b"}

    lossy_merge = ORDER_SENSITIVE | {"tdigest"}  # compress is not a union
    for kind in SKETCHES:
        kernel = {r["g"]: bytes(r["sketch"]) for r in sketch_aggregate(
            nullable, ["g"], SQL_COL[kind], kind, PARAMS[kind]).collect()}
        assert set(kernel) == set(direct), kind
        for g, want in kernel.items():
            sql_b, merged_b = bytes(direct[g][kind]), bytes(merged[g][kind])
            if kind in ORDER_SENSITIVE:
                assert _total(kind, sql_b) == _total(kind, want), (kind, g)
            else:
                assert sql_b == want, (kind, g)
            if kind in lossy_merge:
                assert _total(kind, merged_b) == _total(kind, want), (kind, g)
            else:
                assert merged_b == want, (kind, g)

    probes = {r["g"]: r for r in spark.sql(f"""
        WITH d AS (SELECT g, {aggs} FROM nullable_sql GROUP BY g)
        SELECT g, cms_query(cms, {BIG}) AS c, bloom_contains(bloom, {BIG}) AS b,
               cms_query(cms, CAST(NULL AS BIGINT)) AS n
        FROM d""").collect()}
    exact = {}
    for r in nullable.collect():
        exact[r["g"]] = exact.get(r["g"], 0) + (r["v"] == BIG)
    for g, r in probes.items():
        assert r["c"] == exact[g] > 0 and r["b"] is True and r["n"] is None, g


@pytest.mark.parametrize("arg", ["sub", "s"], ids=["int", "string"])
def test_sql_hash_agg_rejects_non_bigint(spark, nullable, arg):
    from sketchlib.spark.sql import register_sql_functions

    register_sql_functions(spark)
    with pytest.raises(Exception, match=r"hll_agg takes BIGINT.*CAST"):
        spark.sql(f"SELECT g, hll_agg({arg}) FROM nullable_sql GROUP BY g").collect()


def test_sql_merge_agg_all_null_is_null(spark, nullable):
    from sketchlib.spark.sketch_ops import SKETCHES
    from sketchlib.spark.sql import register_sql_functions

    register_sql_functions(spark)
    merges = ", ".join(f"{k}_merge_agg(b) AS {k}" for k in SKETCHES)
    rows = spark.sql(f"""
        SELECT g, {merges}
        FROM (SELECT g, CAST(NULL AS BINARY) AS b FROM nullable_sql) GROUP BY g
    """).collect()
    assert len(rows) == 3
    assert all(r[k] is None for r in rows for k in SKETCHES)


def test_sql_rowwise_null_argument_is_null(spark):
    """Every row-wise query function gives NULL for a NULL argument (a
    NULL DOUBLE is not read as NaN); an explicit NaN ``p`` still passes
    through to an end of the digest."""
    from sketchlib.spark.sql import register_sql_functions

    register_sql_functions(spark)
    spark.sql("""
        SELECT tdigest_agg(x) AS td, kll_agg(x) AS kl, dd_agg(x) AS dd,
               mg_agg(s) AS mg, cms_agg(v) AS cm
        FROM (SELECT CAST(id AS DOUBLE) AS x, CAST(id % 7 AS STRING) AS s,
                     id AS v FROM range(100))
    """).createOrReplaceTempView("rowwise_null")
    null = "CAST(NULL AS DOUBLE)"
    calls = [f"tdigest_quantile(td, {null})", f"tdigest_cdf(td, {null})",
             f"tdigest_trimmed_mean(td, {null}, 0.9)", f"tdigest_trimmed_mean(td, 0.1, {null})",
             f"tdigest_winsor_bound(td, {null})", f"kll_quantile(kl, {null})",
             f"dd_quantile(dd, {null})", "mg_estimate(mg, CAST(NULL AS STRING))",
             "cms_inner_product(cm, CAST(NULL AS BINARY))"]
    row = spark.sql("SELECT " + ", ".join(f"{c} AS c{i}" for i, c in enumerate(calls))
                    + " FROM rowwise_null").collect()[0]
    assert {c: row[f"c{i}"] for i, c in enumerate(calls)} == dict.fromkeys(calls)
    nan = spark.sql("""
        SELECT tdigest_quantile(td, CAST('NaN' AS DOUBLE)) AS nan_p,
               tdigest_quantile(td, 1.0) AS top FROM rowwise_null""").collect()[0]
    assert nan["nan_p"] == nan["top"] == 99.0
