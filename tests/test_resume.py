"""Checkpoint/resume (north rule): a killed run resumes without recomputing
finished partitions, and the final digest is byte-identical to an
uninterrupted run.  Plus salted tree-merge equivalence."""

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_MED

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_MED}/documents.parquet")


def _final_digests(ck):
    return {r["key"]: bytes(r["digest"]) for r in ck.finalize().collect()}


def test_resume_after_kill_byte_identical(spark, docs, tmp_path):
    from sketchlib.spark.checkpoint import TDigestCheckpointer

    kw = dict(
        spark=spark, keys=["lang"], value_col="n_chars", id_col="doc_id",
        n_parts=16, delta=0.0,
    )
    # uninterrupted run
    clean = TDigestCheckpointer(ckpt_path=str(tmp_path / "clean"), **kw)
    assert clean.run(docs) == 16
    want = _final_digests(clean)

    # killed after 5 partitions, then resumed
    ck = TDigestCheckpointer(ckpt_path=str(tmp_path / "crash"), **kw)
    assert ck.run(docs, fail_after_parts=5) == 5
    # resume processes only the remaining 11
    resumed = TDigestCheckpointer(ckpt_path=str(tmp_path / "crash"), **kw)
    assert resumed.run(docs) == 11
    # third run: nothing left
    assert TDigestCheckpointer(ckpt_path=str(tmp_path / "crash"), **kw).run(docs) == 0
    assert _final_digests(resumed) == want


def test_checkpoint_rows_carry_lineage_and_metrics(spark, docs, tmp_path):
    from sketchlib.spark.checkpoint import TDigestCheckpointer

    ck = TDigestCheckpointer(
        spark=spark, ckpt_path=str(tmp_path / "ck"), keys=["lang"],
        value_col="n_chars", id_col="doc_id", n_parts=8, delta=0.01,
    )
    ck.run(docs)
    rows = spark.read.parquet(str(tmp_path / "ck"))
    assert rows.where(F.col("rows") <= 0).count() == 0
    assert rows.where(F.col("wall_ms") < 0).count() == 0
    r = rows.first()
    assert "tdigest(delta=0.01" in r["lineage"]
    assert r["input_snapshot"].startswith("files=")
    # every (part, key) pair appears exactly once
    assert (
        rows.groupBy("part_id", "key").count().where(F.col("count") > 1).count() == 0
    )
    # metrics: total checkpointed rows == input rows
    per_part = rows.dropDuplicates(["part_id"]).agg(F.sum("rows")).collect()[0][0]
    assert per_part == docs.count()


#: the one-spec t-digest kernel spec of ``tdigest_aggregate(..., "n_chars")``
DIGEST = {"name": "digest", "kind": "tdigest", "col": "n_chars",
          "params": {"delta": 0.0, "discrete": False}}


def test_tree_merge_equals_flat_merge_exact_mode(spark, docs):
    from sketchlib.spark.sketch_ops import partials as kernel_partials, tree_merge
    from sketchlib.spark.tdigest_ops import tdigest_aggregate, tdigest_partials

    flat = {
        r["lang"]: bytes(r["digest"])
        for r in tdigest_aggregate(docs, ["lang"], "n_chars", delta=0.0).collect()
    }
    partials = tdigest_partials(docs.repartition(32), ["lang"], "n_chars", delta=0.0)
    tree = {
        r["lang"]: bytes(r["digest"])
        for r in tree_merge(partials, ["lang"], [DIGEST], fanin=4).collect()
    }
    assert tree == flat
    skewed = {
        r["lang"]: bytes(r["digest"])
        for r in tree_merge(
            kernel_partials(docs.repartition(32), ["lang"], [DIGEST]), ["lang"],
            [DIGEST], fanin=4
        ).collect()
    }
    assert skewed == flat


def test_tree_merge_sketch_byte_equal_families(spark, docs):
    """Generic salted tree merge == flat sketch_merge, byte-for-byte, for
    every byte-canonical sibling family (HLL register-max, Bloom bit-OR,
    CMS counter-sum, KMV bottom-k, dd bucket-sum) at fan-in 2 over 32
    input partitions (forces multiple salted levels)."""
    from sketchlib.spark.sketch_ops import (
        partials as kernel_partials,
        sketch_aggregate,
        sketch_partials,
        tree_merge,
    )

    for kind, col, params in (
        ("hll", "doc_id", {"p": 12}),
        ("bloom", "doc_id", {"expected_n": 20_000, "fpr": 0.01}),
        ("cms", "doc_id", {"width": 2048, "depth": 5}),
        ("kmv", "doc_id", {"k": 256}),
        ("dd", "n_chars", {"alpha": 0.01, "max_bins": 2048}),
    ):
        spec = [{"name": "sketch", "kind": kind, "col": col, "params": params}]
        flat = {
            r["lang"]: bytes(r["sketch"])
            for r in sketch_aggregate(docs, ["lang"], col, kind, params).collect()
        }
        partials = sketch_partials(
            docs.repartition(32), ["lang"], col, kind, params
        )
        tree = {
            r["lang"]: bytes(r["sketch"])
            for r in tree_merge(partials, ["lang"], spec, fanin=2).collect()
        }
        assert tree == flat, kind
        skewed = {
            r["lang"]: bytes(r["sketch"])
            for r in tree_merge(
                kernel_partials(docs.repartition(32), ["lang"], spec), ["lang"],
                spec, fanin=2
            ).collect()
        }
        assert skewed == flat, kind


def test_tree_merge_compressed_within_bound(spark, docs):
    import numpy as np

    import duckdb
    from sketchlib.spark.sketch_ops import partials, tree_merge
    from sketchlib.spark.tdigest_ops import tdigest_quantiles_udf

    spec = [{**DIGEST, "params": {"delta": 0.01, "discrete": False}}]
    dig = tree_merge(partials(docs.repartition(32), ["lang"], spec), ["lang"], spec,
                     fanin=4)
    q = tdigest_quantiles_udf([0.5, 0.99])
    rows = dig.withColumn("qs", q("digest")).collect()
    for r in rows:
        vals = np.sort(
            duckdb.sql(
                f"SELECT CAST(n_chars AS DOUBLE) v FROM "
                f"read_parquet('{SF_MED}/documents.parquet') WHERE lang='{r['lang']}'"
            ).fetchnumpy()["v"]
        )
        for p, est in zip([0.5, 0.99], r["qs"]):
            rank = np.searchsorted(vals, est) / len(vals)
            assert abs(rank - p) < 0.02, (r["lang"], p, rank)


def test_resume_sibling_sketch_byte_identical(spark, docs, tmp_path):
    """The generalized checkpointer: an interrupted HLL build resumes and
    finalizes byte-identically to an uninterrupted one, and the estimate
    tracks the exact distinct count."""
    from sketchlib.hll import HLL
    from sketchlib.spark.checkpoint import TDigestCheckpointer

    kw = dict(
        spark=spark, keys=["lang"], value_col="doc_id", id_col="doc_id",
        n_parts=8, sketch="hll", params={"p": 12},
    )
    clean = TDigestCheckpointer(ckpt_path=str(tmp_path / "hclean"), **kw)
    assert clean.run(docs) == 8
    want = _final_digests(clean)

    ck = TDigestCheckpointer(ckpt_path=str(tmp_path / "hcrash"), **kw)
    assert ck.run(docs, fail_after_parts=3) == 3
    resumed = TDigestCheckpointer(ckpt_path=str(tmp_path / "hcrash"), **kw)
    assert resumed.run(docs) == 5  # only the pending 5
    got = _final_digests(resumed)
    assert got == want

    exact = {r["lang"]: r["n"] for r in
             docs.groupBy("lang").agg(F.countDistinct("doc_id").alias("n")).collect()}
    for key, blob in got.items():
        est = HLL.deserialize(blob).estimate()
        assert abs(est - exact[key]) / exact[key] < 0.05, (key, est)


def test_resume_dd_byte_identical(spark, docs, tmp_path):
    """DDSketch through the generalized checkpointer: interrupted build
    resumes byte-identically (dd's merge is bitwise order-insensitive, so
    this is an == on blobs), and the resumed sketch's p50 sits at rank
    ~0.5 of the exact per-lang multiset."""
    import numpy as np

    from sketchlib.ddsketch import DDSketch
    from sketchlib.spark.checkpoint import TDigestCheckpointer

    kw = dict(
        spark=spark, keys=["lang"], value_col="n_chars", id_col="doc_id",
        n_parts=8, sketch="dd", params={"alpha": 0.01, "max_bins": 2048},
    )
    clean = TDigestCheckpointer(ckpt_path=str(tmp_path / "dclean"), **kw)
    assert clean.run(docs) == 8
    want = _final_digests(clean)

    ck = TDigestCheckpointer(ckpt_path=str(tmp_path / "dcrash"), **kw)
    assert ck.run(docs, fail_after_parts=3) == 3
    resumed = TDigestCheckpointer(ckpt_path=str(tmp_path / "dcrash"), **kw)
    assert resumed.run(docs) == 5
    assert _final_digests(resumed) == want

    exact = {r["lang"]: np.sort(np.asarray(r["v"], dtype=float)) for r in
             docs.where(F.col("n_chars").isNotNull()).groupBy("lang")
             .agg(F.collect_list("n_chars").alias("v")).collect()}
    for key, blob in want.items():
        d = DDSketch.deserialize(blob)
        vs = exact[key]
        assert d.n == len(vs)
        p50 = float(d.quantile(0.5)[0])
        rank = np.searchsorted(vs, p50, side="right") / len(vs)
        assert abs(rank - 0.5) < 0.03, (key, p50, rank)


def test_resume_rejects_mismatched_lineage(spark, docs, tmp_path):
    """Resuming a checkpoint with different sketch params must fail fast
    instead of mixing incompatible partials."""
    from sketchlib.spark.checkpoint import TDigestCheckpointer

    kw = dict(spark=spark, keys=["lang"], value_col="doc_id", id_col="doc_id",
              n_parts=4)
    ck = TDigestCheckpointer(ckpt_path=str(tmp_path / "lin"), sketch="hll",
                             params={"p": 12}, **kw)
    assert ck.run(docs) == 4
    bad = TDigestCheckpointer(ckpt_path=str(tmp_path / "lin"), sketch="hll",
                              params={"p": 14}, **kw)
    with pytest.raises(ValueError, match="lineage"):
        bad.run(docs)
    worse = TDigestCheckpointer(ckpt_path=str(tmp_path / "lin"), **kw)
    with pytest.raises(ValueError, match="lineage"):
        worse.finalize_guarded() if hasattr(worse, "finalize_guarded") else worse.run(docs)


def test_checkpoint_orc_format_byte_identical(spark, docs, tmp_path):
    """The checkpoint state is plain rows, so any Spark batch sink works:
    an ORC-backed checkpoint (kill + resume included) must finalize to the
    same bytes as the parquet-backed one."""
    from sketchlib.spark.checkpoint import TDigestCheckpointer

    kw = dict(
        spark=spark, keys=["lang"], value_col="n_chars", id_col="doc_id",
        n_parts=8, delta=0.0,
    )
    pq = TDigestCheckpointer(ckpt_path=str(tmp_path / "pq"), **kw)
    assert pq.run(docs) == 8
    want = _final_digests(pq)

    orc = TDigestCheckpointer(ckpt_path=str(tmp_path / "orc"),
                              table_format="orc", **kw)
    assert orc.run(docs, fail_after_parts=3) == 3
    resumed = TDigestCheckpointer(ckpt_path=str(tmp_path / "orc"),
                                  table_format="orc", **kw)
    assert resumed.run(docs) == 5
    assert _final_digests(resumed) == want

    import pytest as _pytest

    with _pytest.raises(ValueError, match="unsupported checkpoint format"):
        TDigestCheckpointer(ckpt_path=str(tmp_path / "x"),
                            table_format="csv", **kw)


def test_legacy_lineage_still_resumes(spark, docs, tmp_path):
    """Checkpoints written with the pre-canonicalization lineage spelling
    (params dict repr) must stay resumable after the format change."""
    from sketchlib.spark.checkpoint import TDigestCheckpointer

    kw = dict(spark=spark, keys=["lang"], value_col="n_chars",
              id_col="doc_id", n_parts=4, sketch="hll", params={"p": 12})
    old = TDigestCheckpointer(ckpt_path=str(tmp_path / "legacy"), **kw)
    legacy = old._lineage_legacy()
    assert legacy != old._lineage()  # the formats genuinely differ
    old._lineage = lambda: legacy  # simulate a pre-change writer
    assert old.run(docs) == 4

    new = TDigestCheckpointer(ckpt_path=str(tmp_path / "legacy"), **kw)
    assert new.completed_parts().count() == 4
    assert new.run(docs) == 0  # nothing recomputed


def test_wrong_checkpoint_format_raises_not_restarts(spark, docs, tmp_path):
    """Resuming an existing parquet checkpoint with table_format='orc' must
    be a hard error — a silent empty completed-set would recompute from
    scratch and append mixed-format files into the same directory."""
    from sketchlib.spark.checkpoint import TDigestCheckpointer

    kw = dict(spark=spark, keys=["lang"], value_col="n_chars",
              id_col="doc_id", n_parts=4, delta=0.0)
    pq = TDigestCheckpointer(ckpt_path=str(tmp_path / "fmt"), **kw)
    assert pq.run(docs) == 4
    bad = TDigestCheckpointer(ckpt_path=str(tmp_path / "fmt"),
                              table_format="orc", **kw)
    with pytest.raises(ValueError, match="unreadable"):
        bad.completed_parts()


def _dst_frame(spark):
    """40 rows keyed by a timestamp holding 08:00, 08:30, 09:00 and 09:30
    UTC on 2021-11-07 (01:00 and 01:30 PDT, then the same wall times PST)."""
    return spark.range(40).selectExpr(
        "id", "timestamp_micros(1636272000000000 + (id % 4) * 1800000000) AS ts",
        "CAST(id AS DOUBLE) AS v")


@pytest.fixture
def session_zone(spark):
    """Sets ``spark.sql.session.timeZone`` for one test, then restores it."""
    conf = "spark.sql.session.timeZone"
    saved = spark.conf.get(conf)
    yield lambda tz: spark.conf.set(conf, tz)
    spark.conf.set(conf, saved)


def _dst_checkpointer(spark, path):
    from sketchlib.spark.checkpoint import TDigestCheckpointer

    return TDigestCheckpointer(spark, str(path), ["ts"], "v", "id", n_parts=4, delta=0.0)


def _dst_checkpoint_keys(spark, tmp_path, session_zone, tz):
    """Final (key, digest) of a timestamp-keyed checkpoint of ``_dst_frame``
    run under session time zone ``tz``."""
    session_zone(tz)
    ck = _dst_checkpointer(spark, tmp_path / "ck")
    assert ck.run(_dst_frame(spark)) == 4
    return _final_digests(ck)


def test_checkpoint_timestamp_keys_are_utc_wall_times(spark, tmp_path, session_zone):
    """Under a UTC session a timestamp key reads as before, so existing
    checkpoints still resume there."""
    got = _dst_checkpoint_keys(spark, tmp_path, session_zone, "UTC")
    assert sorted(got) == ["2021-11-07 08:00:00", "2021-11-07 08:30:00",
                           "2021-11-07 09:00:00", "2021-11-07 09:30:00"]


def test_checkpoint_timestamp_keys_survive_dst_fall_back(spark, tmp_path, session_zone):
    """The hour Los Angeles repeats stays two hours of keys: four instants
    finalize to four keys, the UTC session's keys and digests."""
    la = _dst_checkpoint_keys(spark, tmp_path / "la", session_zone, "America/Los_Angeles")
    assert la == _dst_checkpoint_keys(spark, tmp_path / "utc", session_zone, "UTC")


@pytest.mark.parametrize("tz", ["America/Los_Angeles", "UTC"])
def test_session_local_timestamp_checkpoint_resumes_only_under_utc(
        spark, tmp_path, session_zone, monkeypatch, tz):
    """A timestamp-keyed checkpoint started before keys were UTC carries the
    untagged lineage.  Resumed under a non-UTC session, its session-local
    keys would split each group in two at finalize, so the resume is
    refused; under UTC its keys are the new ones, and the resumed run
    finalizes to a clean run's digests.  The old writer is today's with the
    tag blanked: the refusal reads only the lineage."""
    import sketchlib.spark.checkpoint as checkpoint

    session_zone(tz)
    df = _dst_frame(spark)
    old = _dst_checkpointer(spark, tmp_path / "old")
    with monkeypatch.context() as m:
        m.setattr(checkpoint, "_UTC_KEYS", "")  # a pre-change writer
        assert old.run(df, fail_after_parts=2) == 2
    lineages = {r["lineage"] for r in spark.read.parquet(str(tmp_path / "old")).collect()}
    assert lineages == {old._lineage()}

    resumed = _dst_checkpointer(spark, tmp_path / "old")
    if tz != "UTC":
        with pytest.raises(ValueError, match="only under a UTC session"):
            resumed.run(df)
        return
    assert resumed.run(df) == 2
    clean = _dst_checkpointer(spark, tmp_path / "clean")
    assert clean.run(df) == 4
    assert _final_digests(resumed) == _final_digests(clean)
