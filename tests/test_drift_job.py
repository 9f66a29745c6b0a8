"""jobs/drift_monitor.py: end-to-end — identical digest tables report zero
drift (exit 0); a shifted slice and an appeared key are flagged (exit 2),
and the KS/quantile-delta columns carry the evidence."""

import json
import sys

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL

pytestmark = pytest.mark.spark


def _digests(spark, src, out, where=None, scale=1.0):
    from sketchlib.spark.tdigest_ops import tdigest_aggregate

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    if where is not None:
        docs = docs.filter(where)
    docs = docs.withColumn(
        "v", (F.length("text").cast("double") * F.lit(scale)))
    tdigest_aggregate(docs, ["lang"], "v", discrete=True).write.mode(
        "overwrite").parquet(out)


def _run(monkeypatch, job, argv, capture):
    monkeypatch.setattr(sys, "argv", ["job"] + argv)
    return job.main()


def test_drift_monitor_end_to_end(spark, tmp_path, monkeypatch):
    sys.path.insert(0, "jobs")
    import drift_monitor as job

    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    capture = []
    monkeypatch.setattr("builtins.print", lambda s: capture.append(s))

    base = str(tmp_path / "base")
    _digests(spark, SF_SMALL, base)

    # -- no drift: a table vs itself ------------------------------------------
    out0 = str(tmp_path / "report0")
    rc = _run(monkeypatch, job, [
        "--left", base, "--right", base, "--key-cols", "lang",
        "--discrete", "--output", out0], capture)
    rep = json.loads(capture[-1])
    assert rc == 0
    assert rep["n_drifted"] == 0 and rep["max_ks"] == 0.0
    assert rep["max_psi"] == 0.0 and rep["max_jsd"] == 0.0
    r0 = spark.read.parquet(out0)
    assert r0.filter(
        "ks != 0.0 OR p5_abs_delta != 0.0 OR psi != 0.0 OR jsd != 0.0"
    ).count() == 0

    # -- drift: one lang's lengths tripled, one lang dropped -------------------
    shifted = str(tmp_path / "shifted")
    from sketchlib.spark.tdigest_ops import tdigest_aggregate

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    langs = sorted(r["lang"] for r in docs.select("lang").distinct().collect())
    hot, gone = langs[0], langs[-1]
    docs2 = docs.filter(F.col("lang") != gone).withColumn(
        "v",
        F.when(F.col("lang") == hot,
               F.length("text").cast("double") * 3.0)
        .otherwise(F.length("text").cast("double")),
    )
    tdigest_aggregate(docs2, ["lang"], "v", discrete=True).write.mode(
        "overwrite").parquet(shifted)

    out1 = str(tmp_path / "report1")
    rc = _run(monkeypatch, job, [
        "--left", base, "--right", shifted, "--key-cols", "lang",
        "--discrete", "--ks-threshold", "0.1", "--output", out1], capture)
    rep = json.loads(capture[-1])
    assert rc == 2
    assert rep["n_keys"] == len(langs)
    assert rep["gone_keys"] == 1 and rep["new_keys"] == 0
    rows = {r["lang"]: r for r in spark.read.parquet(out1).collect()}
    # tripling every value shifts the whole CDF: KS is large and the p95
    # delta is positive; untouched langs stay exactly at zero
    assert rows[hot]["drifted"] and rows[hot]["ks"] > 0.5
    assert rows[hot]["p95_abs_delta"] > 0
    # tripled values leave the baseline's decile bins almost empty: PSI
    # blows past the 0.25 "act" cutoff and JSD is well off zero
    assert rows[hot]["psi"] > 0.25 and rows[hot]["jsd"] > 0.05
    assert rows[gone]["drifted"] and rows[gone]["ks"] is None
    assert rows[gone]["psi"] is None and rows[gone]["jsd"] is None
    # W1 carries the drift in VALUE units: tripling moves mass ~2x the
    # baseline mean n_chars — far above zero; calm/gone behave like ks
    assert rows[hot]["w1"] > 100.0
    assert rows[gone]["w1"] is None
    calm = [l for l in langs if l not in (hot, gone)]
    assert all(not rows[l]["drifted"] and rows[l]["ks"] == 0.0 for l in calm)
    assert all(rows[l]["psi"] == 0.0 and rows[l]["jsd"] == 0.0 for l in calm)
    assert all(rows[l]["w1"] == 0.0 for l in calm)
    assert rep["n_drifted"] == 2

    # -- PSI gate: a KS threshold too loose to fire, PSI threshold fires ------
    out2 = str(tmp_path / "report2")
    rc = _run(monkeypatch, job, [
        "--left", base, "--right", shifted, "--key-cols", "lang",
        "--discrete", "--ks-threshold", "0.99", "--psi-threshold", "0.25",
        "--output", out2], capture)
    rep2 = json.loads(capture[-1])
    assert rc == 2 and rep2["psi_threshold"] == 0.25
    rows2 = {r["lang"]: r for r in spark.read.parquet(out2).collect()}
    # hot key: KS gate (0.99) can't fire, the PSI gate does
    assert rows2[hot]["ks"] <= 0.99 and rows2[hot]["drifted"]
    assert all(not rows2[l]["drifted"] for l in calm)

def test_drift_monitor_timeline_mode(spark, tmp_path, monkeypatch):
    """--timeline mode: one per-epoch digest table -> per (key, epoch)
    trend rows.  Epoch 0 is the baseline (NULL ks_prev, not drift), epoch 1
    repeats it exactly (ks_prev == 0), epoch 2 triples one lang's values
    (that lang drifts, calm langs stay at 0); a lang with a MISSING epoch 1
    compares epoch 2 against its previous STORED epoch (0), not a NULL."""
    sys.path.insert(0, "jobs")
    import drift_monitor as job

    from sketchlib.spark.tdigest_ops import tdigest_aggregate

    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    capture = []
    monkeypatch.setattr("builtins.print", lambda s: capture.append(s))

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    langs = sorted(r["lang"] for r in docs.select("lang").distinct().collect())
    hot, gappy = langs[0], langs[1]
    v = F.length("text").cast("double")

    e0 = docs.withColumn("v", v).withColumn("epoch", F.lit(0))
    e1 = (docs.filter(F.col("lang") != gappy)
          .withColumn("v", v).withColumn("epoch", F.lit(1)))
    e2 = docs.withColumn(
        "v", F.when(F.col("lang") == hot, v * 3.0).otherwise(v)
    ).withColumn("epoch", F.lit(2))
    all_epochs = e0.unionByName(e1).unionByName(e2)
    digs = str(tmp_path / "epoch_digests")
    tdigest_aggregate(
        all_epochs, ["lang", "epoch"], "v", discrete=True
    ).write.mode("overwrite").parquet(digs)

    out = str(tmp_path / "timeline_report")
    monkeypatch.setattr(sys, "argv", [
        "job", "--timeline", digs, "--epoch-col", "epoch",
        "--key-cols", "lang", "--quantiles", "0.5,0.95", "--discrete",
        "--ks-threshold", "0.1", "--output", out])
    rc = job.main()
    rep = json.loads(capture[-1])
    assert rc == 2
    assert rep["mode"] == "timeline" and rep["n_keys"] == len(langs)

    rows = {(r["lang"], r["epoch"]): r
            for r in spark.read.parquet(out).collect()}
    assert len(rows) == 3 * len(langs) - 1  # gappy lang has no epoch 1
    for lg in langs:
        r0 = rows[(lg, 0)]
        assert r0["ks_prev"] is None and r0["delta_p5"] is None
        assert not r0["drifted"]
    for lg in langs:
        if lg == gappy:
            continue
        r1 = rows[(lg, 1)]
        assert r1["ks_prev"] == 0.0 and r1["delta_p5"] == 0.0
        assert not r1["drifted"]
        assert r1["psi_prev"] == 0.0 and r1["jsd_prev"] == 0.0
    # epoch 2: hot lang tripled -> big KS and positive p5 delta; PSI past
    # the 0.25 "act" cutoff (baseline deciles nearly emptied)
    assert rows[(hot, 2)]["drifted"] and rows[(hot, 2)]["ks_prev"] > 0.5
    assert rows[(hot, 2)]["delta_p5"] > 0
    assert rows[(hot, 2)]["psi_prev"] > 0.25
    assert rows[(hot, 2)]["jsd_prev"] > 0.05
    # gap semantics: gappy's epoch 2 compares against its stored epoch 0
    rg = rows[(gappy, 2)]
    assert rg["ks_prev"] == 0.0 and rg["delta_p5"] == 0.0 and not rg["drifted"]
    assert rg["psi_prev"] == 0.0 and rg["jsd_prev"] == 0.0
    calm = [l for l in langs if l not in (hot, gappy)]
    for lg in calm:
        r2 = rows[(lg, 2)]
        assert not r2["drifted"] and r2["ks_prev"] == 0.0
    assert rep["n_drifted"] == 1


def test_drift_monitor_timeline_w1_gate(spark, tmp_path, monkeypatch):
    """--w1-threshold gates timeline mode on w1_prev the way
    --psi-threshold gates it on psi_prev: a planted +40-char shift of one
    lang at epoch 1 stays under a loose KS threshold, so only the W1 gate
    flags it; without --w1-threshold the same table reports no drift."""
    sys.path.insert(0, "jobs")
    import drift_monitor as job

    from sketchlib.spark.tdigest_ops import tdigest_aggregate

    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    capture = []
    monkeypatch.setattr("builtins.print", lambda s: capture.append(s))

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    langs = sorted(r["lang"] for r in docs.select("lang").distinct().collect())
    hot = langs[0]
    v = F.length("text").cast("double")
    e0 = docs.withColumn("v", v).withColumn("epoch", F.lit(0))
    e1 = docs.withColumn(
        "v", F.when(F.col("lang") == hot, v + 40.0).otherwise(v)
    ).withColumn("epoch", F.lit(1))
    digs = str(tmp_path / "epoch_digests")
    tdigest_aggregate(
        e0.unionByName(e1), ["lang", "epoch"], "v", discrete=True
    ).write.mode("overwrite").parquet(digs)

    argv = ["--timeline", digs, "--epoch-col", "epoch", "--key-cols",
            "lang", "--discrete", "--ks-threshold", "0.99"]
    rc = _run(monkeypatch, job, argv + [
        "--output", str(tmp_path / "rep_ks")], capture)
    rep = json.loads(capture[-1])
    assert rc == 0 and rep["n_drifted"] == 0
    assert rep["w1_threshold"] == 0.0
    # a uniform shift moves every unit of mass by exactly 40
    assert rep["max_w1"] == pytest.approx(40.0, rel=0.05)

    out = str(tmp_path / "rep_w1")
    rc = _run(monkeypatch, job, argv + [
        "--w1-threshold", "20", "--output", out], capture)
    rep = json.loads(capture[-1])
    assert rc == 2 and rep["n_drifted"] == 1 and rep["w1_threshold"] == 20.0
    rows = {(r["lang"], r["epoch"]): r
            for r in spark.read.parquet(out).collect()}
    assert rows[(hot, 1)]["drifted"] and rows[(hot, 1)]["ks_prev"] <= 0.99
    assert all(not rows[(lg, 1)]["drifted"] and rows[(lg, 1)]["w1_prev"] == 0.0
               for lg in langs if lg != hot)


def test_digest_timeline_moving_average(spark):
    """ma_window=k smooths each quantile over the trailing k STORED epochs
    (warm-up epochs average what exists so far)."""
    from sketchlib.spark.tdigest_ops import digest_timeline, tdigest_aggregate

    rows = [("a", e, float(10 * e)) for e in range(1, 5) for _ in range(3)]
    df = spark.createDataFrame(rows, "k string, epoch int, v double")
    digs = tdigest_aggregate(df, ["k", "epoch"], "v", discrete=True)
    t = {r["epoch"]: r for r in digest_timeline(
        digs, ["k"], "epoch", ps=[0.5], discrete=True, ma_window=3
    ).collect()}
    # per-epoch p5 is exactly 10*epoch; trailing-3 means:
    assert [t[e]["p5"] for e in range(1, 5)] == [10.0, 20.0, 30.0, 40.0]
    assert t[1]["ma_p5"] == 10.0           # warm-up: 1 epoch
    assert t[2]["ma_p5"] == 15.0           # warm-up: 2 epochs
    assert t[3]["ma_p5"] == 20.0           # (10+20+30)/3
    assert t[4]["ma_p5"] == 30.0           # (20+30+40)/3
    import pytest as _pt

    with _pt.raises(ValueError):
        digest_timeline(digs, ["k"], "epoch", ma_window=1)


def test_drift_monitor_flags_ann_centroid_drift(spark, tmp_path, monkeypatch):
    """Cross-family composition: assignment-similarity digests from the
    stored IVF index (ann.assignment_sim_digest) are standard digest rows,
    so the drift-monitor job consumes them unchanged — an
    off-distribution embedding batch trips the KS gate (exit 2), an
    in-distribution one does not."""
    import numpy as np

    sys.path.insert(0, "jobs")
    import drift_monitor as job

    from sketchlib.spark.ann import assignment_sim_digest, write_ivf_index

    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    capture = []
    monkeypatch.setattr("builtins.print", lambda s: capture.append(s))

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    idx = str(tmp_path / "ivf")
    write_ivf_index(emb, idx, n_lists=8)

    def epoch(df, out):
        assignment_sim_digest(df, idx).select(
            F.lit("emb").alias("key"), "digest"
        ).write.parquet(out)

    base = str(tmp_path / "epoch_base")
    same = str(tmp_path / "epoch_same")
    epoch(emb, base)
    epoch(emb, same)
    dim = len(emb.select("embedding").head()[0])
    rng = np.random.default_rng(11)
    drifted_rows = [(int(i), [float(x) for x in rng.normal(size=dim)])
                    for i in range(300)]
    drift = str(tmp_path / "epoch_drift")
    epoch(spark.createDataFrame(
        drifted_rows, "vec_id long, embedding array<float>"), drift)

    out0 = str(tmp_path / "rep0")
    rc = _run(monkeypatch, job, [
        "--left", base, "--right", same, "--key-cols", "key",
        "--ks-threshold", "0.1", "--output", out0], capture)
    assert rc == 0 and json.loads(capture[-1])["n_drifted"] == 0

    out1 = str(tmp_path / "rep1")
    rc = _run(monkeypatch, job, [
        "--left", base, "--right", drift, "--key-cols", "key",
        "--ks-threshold", "0.1", "--output", out1], capture)
    rep = json.loads(capture[-1])
    assert rc == 2 and rep["n_drifted"] == 1
    assert rep["max_ks"] > 0.3
