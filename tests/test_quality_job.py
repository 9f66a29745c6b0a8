"""jobs/score_quality.py: train-once / score-later lifecycle end-to-end."""

import json
import sys

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_MED

pytestmark = pytest.mark.spark


def _run(monkeypatch, job, argv, capture):
    monkeypatch.setattr(sys, "argv", ["job"] + argv)
    return job.main()


def test_score_quality_job_end_to_end(spark, tmp_path, monkeypatch):
    sys.path.insert(0, "jobs")
    import score_quality as job

    capture = []
    monkeypatch.setattr("builtins.print", lambda s: capture.append(s))

    mpath = str(tmp_path / "model")
    opath = str(tmp_path / "scored")

    # train on the even half, score the whole corpus (ref != scored corpus)
    src = str(tmp_path / "ref")
    docs = spark.read.parquet(f"{SF_MED}/documents.parquet").select(
        "doc_id", "lang", "text")
    docs.filter("doc_id % 2 = 0").write.parquet(src)

    rc = _run(monkeypatch, job, [
        "train", "--input", src, "--model", mpath,
        "--vocab-top-k", "64"], capture)
    rep = json.loads(capture[-1])
    assert rc == 0 and rep["mode"] == "train"
    assert rep["langs"] == 5
    # model bound: <= langs * (K+1) rows, OOV = word-NULL row per lang
    model = spark.read.parquet(mpath)
    assert rep["model_rows"] == model.count() <= 5 * 65
    assert model.filter("word IS NULL").count() == 5

    full = str(tmp_path / "full")
    docs.write.parquet(full)
    rc = _run(monkeypatch, job, [
        "score", "--input", full, "--model", mpath,
        "--output", opath, "--buckets"], capture)
    rep = json.loads(capture[-1])
    assert rc == 0 and rep["rows"] == docs.count()
    assert rep["scored_rows"] == rep["rows"]  # sf0.01 has no empty docs
    assert set(rep["bucket_counts"]) == {"head", "middle", "tail"}

    # stored scores equal the library path bit-for-bit
    from sketchlib.spark.textops import score_with_stored_ngram

    lib = {r["doc_id"]: (r["n_tokens"], r["logprob_per_token"])
           for r in score_with_stored_ngram(docs, model).collect()}
    got = {r["doc_id"]: (r["n_tokens"], r["logprob_per_token"])
           for r in spark.read.parquet(opath).collect()}
    assert got == lib


def test_score_job_stable_cuts_across_epochs(spark, tmp_path, monkeypatch):
    """--cuts-out then --cuts-in: a later (grown) corpus is labeled against
    the FIRST epoch's cut table, so docs keep their bucket as the corpus
    grows — and the cuts actually used are the stored ones."""
    sys.path.insert(0, "jobs")
    import score_quality as job

    capture = []
    monkeypatch.setattr("builtins.print", lambda s: capture.append(s))

    docs = spark.read.parquet(f"{SF_MED}/documents.parquet").select(
        "doc_id", "lang", "text")
    epoch1 = str(tmp_path / "e1")
    full = str(tmp_path / "full")
    docs.filter("doc_id % 2 = 0").write.parquet(epoch1)
    docs.write.parquet(full)
    mpath = str(tmp_path / "model")
    cuts = str(tmp_path / "cuts")

    _run(monkeypatch, job, ["train", "--input", epoch1, "--model", mpath,
                            "--vocab-top-k", "64"], capture)
    _run(monkeypatch, job, ["score", "--input", epoch1, "--model", mpath,
                            "--output", str(tmp_path / "s1"), "--buckets",
                            "--cuts-out", cuts], capture)
    _run(monkeypatch, job, ["score", "--input", full, "--model", mpath,
                            "--output", str(tmp_path / "s2"),
                            "--cuts-in", cuts], capture)
    s1 = {r["doc_id"]: r["bucket"]
          for r in spark.read.parquet(str(tmp_path / "s1")).collect()}
    s2 = {r["doc_id"]: r["bucket"]
          for r in spark.read.parquet(str(tmp_path / "s2")).collect()}
    # epoch-1 docs keep their labels under the stored cuts
    assert all(s2[k] == v for k, v in s1.items())
    # the new docs were labeled too (same model, same stored cuts)
    assert len(s2) == len(docs.collect())
    # labels equal the library path against the stored artifacts
    from sketchlib.spark.textops import bucket_by_cuts, score_with_stored_ngram

    lib = {r["doc_id"]: r["bucket"] for r in bucket_by_cuts(
        score_with_stored_ngram(docs, spark.read.parquet(mpath)),
        spark.read.parquet(cuts)).collect()}
    assert s2 == lib


def test_quality_drift_monitoring_across_epochs(spark, tmp_path, monkeypatch):
    """The jobs compose: score two crawl epochs against the SAME stored
    model, digest the per-lang score distributions, and drift_monitor
    flags the epoch whose text degraded — corpus-quality regression
    detection from KB sketches, zero rescans of either epoch."""
    sys.path.insert(0, "jobs")
    import drift_monitor
    import score_quality

    from sketchlib.spark.tdigest_ops import tdigest_aggregate

    capture = []
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    monkeypatch.setattr("builtins.print", lambda s: capture.append(s))

    docs = spark.read.parquet(f"{SF_MED}/documents.parquet").select(
        "doc_id", "lang", "text")
    e1 = str(tmp_path / "e1")
    e2 = str(tmp_path / "e2")
    docs.write.parquet(e1)
    # epoch 2: half the docs degrade into low-fluency repeated junk
    docs.withColumn(
        "text",
        F.when(F.col("doc_id") % 2 == 0,
               F.concat_ws(" ", *[F.lit(f"zz{i}qq") for i in range(30)]))
        .otherwise(F.col("text"))).write.parquet(e2)

    mpath = str(tmp_path / "model")
    _run(monkeypatch, score_quality, [
        "train", "--input", e1, "--model", mpath, "--vocab-top-k", "64"],
        capture)
    for src, dst in [(e1, "s1"), (e2, "s2")]:
        _run(monkeypatch, score_quality, [
            "score", "--input", src, "--model", mpath,
            "--output", str(tmp_path / dst)], capture)

    for tag in ("s1", "s2"):
        scored = spark.read.parquet(str(tmp_path / tag)).filter(
            F.col("logprob_per_token").isNotNull())
        tdigest_aggregate(scored, ["lang"], "logprob_per_token",
                          discrete=True).write.mode("overwrite").parquet(
            str(tmp_path / f"dig_{tag}"))

    # same epoch vs itself: no drift (exit 0, KS exactly 0)
    rc = _run(monkeypatch, drift_monitor, [
        "--left", str(tmp_path / "dig_s1"), "--right", str(tmp_path / "dig_s1"),
        "--key-cols", "lang", "--discrete",
        "--output", str(tmp_path / "rep0")], capture)
    rep = json.loads(capture[-1])
    assert rc == 0 and rep["n_drifted"] == 0 and rep["max_ks"] == 0.0

    # degraded epoch: every lang's score distribution drifted (exit 2)
    rc = _run(monkeypatch, drift_monitor, [
        "--left", str(tmp_path / "dig_s1"), "--right", str(tmp_path / "dig_s2"),
        "--key-cols", "lang", "--discrete", "--ks-threshold", "0.1",
        "--output", str(tmp_path / "rep1")], capture)
    rep = json.loads(capture[-1])
    assert rc == 2 and rep["n_drifted"] == 5, rep


def test_score_quality_job_bigram_mode(spark, tmp_path, monkeypatch):
    """--ngram 2 lifecycle: train a stupid-backoff bigram model, score with
    the broadcast-kernel and the fully-JVM join distributions — identical
    outputs (exact integer arithmetic), and bigram rows actually stored."""
    sys.path.insert(0, "jobs")
    import score_quality as job

    capture = []
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    monkeypatch.setattr("builtins.print", lambda s: capture.append(s))

    src = str(tmp_path / "ref")
    docs = spark.read.parquet(f"{SF_MED}/documents.parquet").select(
        "doc_id", "lang", "text")
    docs.write.parquet(src)
    mpath = str(tmp_path / "bimodel")

    rc = _run(monkeypatch, job, [
        "train", "--input", src, "--model", mpath, "--ngram", "2",
        "--vocab-top-k", "64", "--bigram-top-k", "128"], capture)
    assert rc == 0
    stored = spark.read.parquet(mpath)
    assert stored.filter("ctx IS NOT NULL").count() > 0
    per_lang = stored.filter("ctx IS NOT NULL").groupBy("lang").count()
    assert all(r["count"] <= 128 for r in per_lang.collect())

    outs = {}
    for dist in ("broadcast", "join"):
        out = str(tmp_path / f"scored_{dist}")
        rc = _run(monkeypatch, job, [
            "score", "--input", src, "--model", mpath, "--ngram", "2",
            "--model-distribution", dist, "--output", out], capture)
        assert rc == 0
        outs[dist] = {
            r["doc_id"]: (r["n_tokens"], r["logprob_per_token"])
            for r in spark.read.parquet(out).collect()
        }
    assert outs["broadcast"] == outs["join"]
    assert any(v[1] is not None for v in outs["join"].values())


def test_score_quality_job_trigram_mode(spark, tmp_path, monkeypatch):
    """--ngram 3 lifecycle: train an order-3 stupid-backoff model (both
    context depths actually stored), score with all three model
    distributions — identical outputs (exact integer arithmetic)."""
    sys.path.insert(0, "jobs")
    import score_quality as job

    capture = []
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    monkeypatch.setattr("builtins.print", lambda s: capture.append(s))

    src = str(tmp_path / "ref")
    docs = spark.read.parquet(f"{SF_MED}/documents.parquet").select(
        "doc_id", "lang", "text")
    docs.write.parquet(src)
    mpath = str(tmp_path / "trimodel")

    rc = _run(monkeypatch, job, [
        "train", "--input", src, "--model", mpath, "--ngram", "3",
        "--vocab-top-k", "64", "--bigram-top-k", "128"], capture)
    assert rc == 0
    stored = spark.read.parquet(mpath)
    from pyspark.sql import functions as F

    depth = stored.filter("ctx IS NOT NULL").select(
        F.size(F.split("ctx", " ")).alias("d")).distinct()
    assert {r["d"] for r in depth.collect()} == {1, 2}

    outs = {}
    for dist in ("broadcast", "path", "join"):
        out = str(tmp_path / f"scored_{dist}")
        rc = _run(monkeypatch, job, [
            "score", "--input", src, "--model", mpath, "--ngram", "3",
            "--model-distribution", dist, "--output", out], capture)
        assert rc == 0
        outs[dist] = {
            r["doc_id"]: (r["n_tokens"], r["logprob_per_token"])
            for r in spark.read.parquet(out).collect()
        }
    assert outs["broadcast"] == outs["path"] == outs["join"]
    assert any(v[1] is not None for v in outs["join"].values())


def test_score_quality_job_unigram_mode(spark, tmp_path, monkeypatch):
    """--ngram 1 (the default order) lifecycle: the stored model has only
    ctx-NULL rows, and all three model distributions give identical
    outputs (exact integer arithmetic)."""
    sys.path.insert(0, "jobs")
    import score_quality as job

    capture = []
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    monkeypatch.setattr("builtins.print", lambda s: capture.append(s))

    src = str(tmp_path / "ref")
    docs = spark.read.parquet(f"{SF_MED}/documents.parquet").select(
        "doc_id", "lang", "text")
    docs.write.parquet(src)
    mpath = str(tmp_path / "unimodel")

    rc = _run(monkeypatch, job, [
        "train", "--input", src, "--model", mpath, "--ngram", "1",
        "--vocab-top-k", "64"], capture)
    assert rc == 0
    stored = spark.read.parquet(mpath)
    assert stored.filter("ctx IS NOT NULL").count() == 0
    assert stored.filter("word IS NULL").count() == 5

    outs = {}
    for dist in ("broadcast", "path", "join"):
        out = str(tmp_path / f"scored_{dist}")
        rc = _run(monkeypatch, job, [
            "score", "--input", src, "--model", mpath, "--ngram", "1",
            "--model-distribution", dist, "--output", out], capture)
        assert rc == 0
        outs[dist] = {
            r["doc_id"]: (r["n_tokens"], r["logprob_per_token"])
            for r in spark.read.parquet(out).collect()
        }
    assert outs["broadcast"] == outs["path"] == outs["join"]
    assert any(v[1] is not None for v in outs["join"].values())
