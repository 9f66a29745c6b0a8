"""One-pass multi-sketch profile (sketch_ops.profile_*): a single scan +
single shuffle must produce EXACTLY the sketches the dedicated per-family
paths produce — byte-for-byte for the order-invariant kinds (discrete
t-digest lossless union, HLL register-max, CMS counter-sum) and
value-for-value for MG at full capacity.
"""

import numpy as np
import pytest

from tests.conftest import SF_SMALL

SPECS = [
    {"name": "td", "col": "n_chars", "kind": "tdigest", "params": {"discrete": True}},
    {"name": "hll", "col": "source", "kind": "hll", "params": {"p": 14}},
    {"name": "mg", "col": "source", "kind": "mg", "params": {"m": 64}},
    {"name": "cms", "col": "source", "kind": "cms",
     "params": {"width": 4096, "depth": 5}},
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_SMALL}/documents.parquet")


@pytest.fixture(scope="module")
def wide(spark, docs):
    from sketchlib.spark.sketch_ops import profile_aggregate, profile_pivot

    rows = profile_pivot(
        profile_aggregate(docs, ["lang"], SPECS), ["lang"], SPECS
    ).collect()
    return {r["lang"]: r for r in rows}


def test_profile_tdigest_bytes_equal_dedicated(spark, docs, wide):
    from sketchlib.spark.tdigest_ops import tdigest_aggregate

    ded = {
        r["lang"]: bytes(r["digest"])
        for r in tdigest_aggregate(docs, ["lang"], "n_chars", discrete=True).collect()
    }
    assert set(ded) == set(wide)
    for lang, blob in ded.items():
        assert bytes(wide[lang]["td"]) == blob


@pytest.mark.parametrize("name,kind,params", [
    ("hll", "hll", {"p": 14}),
    ("cms", "cms", {"width": 4096, "depth": 5}),
])
def test_profile_sketch_bytes_equal_dedicated(spark, docs, wide, name, kind, params):
    from sketchlib.spark.sketch_ops import sketch_aggregate

    ded = {
        r["lang"]: bytes(r["sketch"])
        for r in sketch_aggregate(docs, ["lang"], "source", kind, params).collect()
    }
    for lang, blob in ded.items():
        assert bytes(wide[lang][name]) == blob


def test_profile_mg_exact_at_full_capacity(spark, docs, wide):
    from pyspark.sql import functions as F

    from sketchlib.mg import MisraGries

    exact = {
        (r["lang"], r["source"]): r["n"]
        for r in docs.groupBy("lang", "source").agg(F.count("*").alias("n")).collect()
    }
    seen = 0
    for lang, r in wide.items():
        mg = MisraGries.deserialize(bytes(r["mg"]))
        for item, est in mg.items():
            assert exact[(lang, item)] == est
            seen += 1
    assert seen == len(exact)  # full capacity: every (lang, source) retained


def test_profile_partition_invariance(spark, docs):
    """Same sketches out of any input partitioning (the merge is a
    commutative monoid per kind)."""
    from sketchlib.spark.sketch_ops import profile_aggregate, profile_pivot

    a = profile_pivot(profile_aggregate(docs.repartition(7), ["lang"], SPECS),
                      ["lang"], SPECS).collect()
    b = profile_pivot(profile_aggregate(docs.coalesce(1), ["lang"], SPECS),
                      ["lang"], SPECS).collect()
    da = {r["lang"]: r for r in a}
    db = {r["lang"]: r for r in b}
    assert set(da) == set(db)
    for lang in da:
        for name in ("td", "hll", "cms"):  # byte-invariant kinds
            assert bytes(da[lang][name]) == bytes(db[lang][name]), (lang, name)
        # MG content (dict) is exact at full capacity regardless of layout
        from sketchlib.mg import MisraGries

        assert (dict(MisraGries.deserialize(bytes(da[lang]["mg"])).items())
                == dict(MisraGries.deserialize(bytes(db[lang]["mg"])).items()))


def test_profile_plan_one_scan_one_exchange(spark, docs):
    """The whole multi-family build is 1 parquet scan + 1 Exchange (of
    KB-scale sketch rows) — the scale contract of the operator."""
    import re

    from sketchlib.spark.sketch_ops import profile_aggregate

    df = profile_aggregate(docs, ["lang"], SPECS)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) MapInArrow", plan)) == 2, plan


def test_profile_spec_validation(spark, docs):
    from sketchlib.spark.sketch_ops import profile_partials

    with pytest.raises(ValueError, match="duplicate"):
        profile_partials(docs, ["lang"], [
            {"name": "x", "col": "source", "kind": "hll", "params": {}},
            {"name": "x", "col": "source", "kind": "mg", "params": {}},
        ])
    with pytest.raises(ValueError, match="unknown sketch kind"):
        profile_partials(docs, ["lang"], [
            {"name": "x", "col": "source", "kind": "nope", "params": {}},
        ])


def test_profile_no_keys_global(spark, docs):
    """keys=[] collapses to one global row per spec."""
    from sketchlib.hll import HLL
    from sketchlib.spark.sketch_ops import profile_aggregate

    rows = profile_aggregate(docs, [], SPECS[1:2]).collect()
    assert len(rows) == 1
    est = HLL.deserialize(bytes(rows[0]["sketch"])).estimate()
    exact = docs.select("source").distinct().count()
    assert abs(est - exact) <= max(2.0, exact * 0.02)


def test_profile_table_exact_facts_and_bounds(spark):
    """Schema-driven profiler: exact n_rows/n_vals/n_nulls per column,
    HLL within 2%, digest quantiles within the rank-error window —
    including NULLs, which must never be ingested."""
    from sketchlib.spark.sketch_ops import profile_table

    df = spark.createDataFrame(
        [(float(i), str(i % 7) if i % 5 else None,
          float(i) if i % 3 else None) for i in range(1, 1001)],
        "v double, s string, w double",
    )
    out = {r["column"]: r for r in
           profile_table(df, ["v", "s", "w"], discrete=True).collect()}
    assert out["v"]["n_rows"] == 1000 and out["v"]["n_nulls"] == 0
    # s: NULL for every i % 5 == 0 -> 200 nulls, 7 distinct values
    assert out["s"]["n_vals"] == 800 and out["s"]["n_nulls"] == 200
    assert abs(out["s"]["est_distinct"] - 7) <= max(0.02 * 7, 2)
    # w: NULL for every i % 3 == 0 -> 333 nulls
    assert out["w"]["n_vals"] == 667 and out["w"]["n_nulls"] == 333
    # discrete digests: exact nearest-rank quantiles over 1..1000
    assert out["v"]["q50"] == 500.0 and out["v"]["q95"] == 950.0
    assert out["s"]["q50"] is None and out["s"]["q95"] is None
    assert abs(out["v"]["est_distinct"] - 1000) <= max(0.02 * 1000, 2)


def test_hashed_sketches_never_ingest_null(spark):
    """xxhash64(NULL) = seed (42), not NULL — the builders must strip
    NULLs BEFORE ingest so distinct counts/totals match SQL aggregates.
    Both the single-sketch and the profile path, byte-identically."""
    from sketchlib.cms import CMS
    from sketchlib.hll import HLL
    from sketchlib.spark.sketch_ops import (
        profile_aggregate,
        sketch_aggregate,
    )

    df = spark.createDataFrame(
        [("a", "x"), ("a", None), ("a", "y"), ("a", None), ("a", "x")],
        "k string, v string",
    )
    nn = df.filter("v IS NOT NULL")
    for kind, cls, q in (("hll", HLL, lambda s: s.estimate()),
                         ("cms", CMS, lambda s: s.total)):
        with_nulls = sketch_aggregate(df, ["k"], "v", kind).collect()[0]
        without = sketch_aggregate(nn, ["k"], "v", kind).collect()[0]
        assert bytes(with_nulls["sketch"]) == bytes(without["sketch"])
        got = q(cls.deserialize(bytes(with_nulls["sketch"])))
        assert abs(got - 2 if kind == "hll" else got - 3) < 0.1
    spec = [{"name": "h", "col": "v", "kind": "hll", "params": {"p": 14}}]
    prof = profile_aggregate(df, ["k"], spec).collect()[0]
    ded = sketch_aggregate(nn, ["k"], "v", "hll", {"p": 14}).collect()[0]
    assert bytes(prof["sketch"]) == bytes(ded["sketch"])


def test_profile_table_per_key(spark):
    """keys= gives the per-GROUP schema-driven profile from one pass; each
    group's row equals the keyless profile of that group's slice."""
    from pyspark.sql import functions as F

    from sketchlib.spark.sketch_ops import profile_table

    df = spark.createDataFrame(
        [("a" if i % 3 else "b", float(i),
          None if i % 5 == 0 else f"s{i % 4}") for i in range(1, 301)],
        "grp string, v double, s string",
    )
    per_key = {(r["grp"], r["column"]): r for r in profile_table(
        df, ["v", "s"], discrete=True, keys=["grp"]).collect()}
    assert set(k[0] for k in per_key) == {"a", "b"}
    for g in ("a", "b"):
        flat = {r["column"]: r for r in profile_table(
            df.filter(F.col("grp") == g).select("v", "s"),
            ["v", "s"], discrete=True).collect()}
        for c in ("v", "s"):
            got, want = per_key[(g, c)], flat[c]
            for f in ("n_rows", "n_vals", "n_nulls", "est_distinct",
                      "q50", "q95"):
                assert got[f] == want[f], (g, c, f)
    # columns defaulting excludes the keys
    cols = {r["column"] for r in profile_table(
        df, keys=["grp"], discrete=True).collect()}
    assert cols == {"v", "s"}
    import pytest as _pytest
    with _pytest.raises(ValueError, match="also keys"):
        profile_table(df, ["grp", "v"], keys=["grp"])


def test_profile_table_dtype_coverage(spark):
    """Schema-driven spec routing across the odd dtypes: decimals are
    NumericType (digest path), booleans/dates/timestamps take the
    HLL+CMS path — exact facts for every one."""
    import datetime
    from decimal import Decimal

    from sketchlib.spark.sketch_ops import profile_table

    rows = [(Decimal(i), i % 2 == 0, datetime.date(2026, 1, 1 + i % 28))
            for i in range(1, 201)]
    df = spark.createDataFrame(rows, "d decimal(10,2), b boolean, dt date")
    out = {r["column"]: r for r in
           profile_table(df, discrete=True).collect()}
    assert out["d"]["n_vals"] == 200 and out["d"]["q50"] == 100.0
    assert abs(out["d"]["est_distinct"] - 200) <= max(4, 0.02 * 200)
    assert out["b"]["n_vals"] == 200 and out["b"]["q50"] is None
    assert abs(out["b"]["est_distinct"] - 2) <= 2
    assert out["dt"]["n_vals"] == 200
    assert abs(out["dt"]["est_distinct"] - 28) <= 2
