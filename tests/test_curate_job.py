"""jobs/curate_corpus.py: end-to-end curation pipeline vs a python truth
(quality -> exact dedup -> decontam), stage checkpoint/resume semantics
(fingerprint-chained skip/invalidate), and the optional LM-score + packing
stages."""

import json
import sys

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.spark


def _run(monkeypatch, job, argv):
    monkeypatch.setattr(sys, "argv", ["job"] + argv)
    return job.main()


def _corpus(spark, tmp_path):
    """Synthetic corpus with a fully determined surviving set.

    doc ids:
      0-19  clean unique 30-token docs            -> survive
      100   3-token doc                            -> quality (min_tokens)
      101   'spam' x 40 (dup-3-gram ratio ~1)      -> quality (repetition)
      200/201 exact duplicates                     -> 200 survives (min id)
      300   contains the eval 8-gram               -> decontam drops it
    eval corpus: one doc holding the planted 8-gram.
    """
    def words(seed, n):
        return " ".join(f"tok{seed}x{i}" for i in range(n))

    planted = " ".join(f"evalgram{i}" for i in range(8))
    rows = [(i, "en", words(i, 30)) for i in range(20)]
    rows += [
        (100, "en", "too short doc"),
        (101, "en", " ".join(["spam"] * 40)),
        (200, "en", words(9000, 25)),
        (201, "en", words(9000, 25)),
        (300, "en", words(9500, 12) + " " + planted + " " + words(9600, 12)),
    ]
    src = str(tmp_path / "pages")
    spark.createDataFrame(rows, "doc_id long, lang string, text string") \
        .write.parquet(src)
    ev = str(tmp_path / "eval")
    spark.createDataFrame(
        [(1, "en", words(7777, 5) + " " + planted + " " + words(7778, 5))],
        "doc_id long, lang string, text string").write.parquet(ev)
    return src, ev


def test_curate_job_truth_and_resume(spark, tmp_path, monkeypatch):
    sys.path.insert(0, "jobs")
    import curate_corpus as job

    capture = []
    monkeypatch.setattr("builtins.print", lambda s: capture.append(s))
    monkeypatch.setattr(type(spark), "stop", lambda self: None)

    src, ev = _corpus(spark, tmp_path)
    wd, out = str(tmp_path / "wd"), str(tmp_path / "curated")
    argv = ["--input", src, "--workdir", wd, "--output", out,
            "--dedup", "exact", "--eval-input", ev, "--decontam-ngram", "8",
            "--ctx-len", "16"]

    rc = _run(monkeypatch, job, argv)
    assert rc == 0
    got = {r["doc_id"] for r in spark.read.parquet(out).select("doc_id").collect()}
    want = set(range(20)) | {200}          # min-id keeper of the 200/201 pair
    assert got == want, (sorted(got), sorted(want))
    m1 = json.loads(capture[-1])
    assert m1["n_out"] == len(want)
    assert [s for s in m1["stages"]] == ["quality", "dedup", "decontam"]
    assert all(not s["skipped"] for s in m1["stages"].values())
    # packing table landed and covers exactly the survivors
    packed = spark.read.parquet(out + "_packed")
    assert {r["doc_id"] for r in packed.select("doc_id").collect()} == want
    assert packed.agg(F.min("n_chunks_spanned")).collect()[0][0] >= 1

    # --- resume: identical args -> every stage skipped, identical output ---
    rc = _run(monkeypatch, job, argv + ["--resume"])
    assert rc == 0
    m2 = json.loads(capture[-1])
    assert all(s["skipped"] for s in m2["stages"].values()), m2["stages"]
    assert {s: m["fp"] for s, m in m2["stages"].items()} \
        == {s: m["fp"] for s, m in m1["stages"].items()}
    got2 = {r["doc_id"] for r in spark.read.parquet(out).select("doc_id").collect()}
    assert got2 == want

    # --- fingerprint chain: changing a DOWNSTREAM param recomputes that
    # stage only; the upstream prefix stays skipped ---
    argv_fpr = [a if a != "8" else a for a in argv]  # same list, new flag below
    rc = _run(monkeypatch, job, argv_fpr + ["--resume", "--decontam-fpr", "0.01"])
    assert rc == 0
    m3 = json.loads(capture[-1])
    assert m3["stages"]["quality"]["skipped"]
    assert m3["stages"]["dedup"]["skipped"]
    assert not m3["stages"]["decontam"]["skipped"]
    assert m3["stages"]["decontam"]["fp"] != m1["stages"]["decontam"]["fp"]

    # --- changing an UPSTREAM param invalidates the whole chain ---
    rc = _run(monkeypatch, job, argv + ["--resume", "--min-tokens", "5"])
    assert rc == 0
    m4 = json.loads(capture[-1])
    assert all(not s["skipped"] for s in m4["stages"].values())
    # min_tokens=5 admits doc 100 (3 tokens still out? 'too short doc' = 3
    # tokens < 5 -> still dropped); surviving set unchanged
    got4 = {r["doc_id"] for r in spark.read.parquet(out).select("doc_id").collect()}
    assert got4 == want


def _lm_corpus(spark, tmp_path):
    """Pages for the LM gate: ten fluent docs of 24 DISTINCT in-model words
    (no repetition-filter hit) and one doc of out-of-vocab tokens (OOV
    bucket score), plus a held-out fluent REFERENCE to train on (CCNet
    shape: a wiki-like ref model scores the crawl).  Returns the
    (pages, ref) paths."""
    common = " ".join(f"word{i:02d}" for i in range(24))
    rare = " ".join(f"zzq{i}" for i in range(24))
    rows = [(i, "en", common) for i in range(10)] + [(50, "en", rare)]
    src = str(tmp_path / "pages")
    spark.createDataFrame(rows, "doc_id long, lang string, text string") \
        .write.parquet(src)
    ref = str(tmp_path / "ref")
    spark.createDataFrame([(900 + i, "en", common) for i in range(4)],
                          "doc_id long, lang string, text string") \
        .write.parquet(ref)
    return src, ref


def _run_lm_gate(spark, tmp_path, monkeypatch, job, src, mpath):
    """curate with ``--model mpath`` and a score cut between the fluent
    docs and the OOV doc; returns the surviving doc ids."""
    from sketchlib.spark.textops import score_with_ngram_path

    scores = {r["doc_id"]: r["logprob_per_token"] for r in score_with_ngram_path(
        spark.read.parquet(src), mpath).collect()}
    cut = (scores[0] + scores[50]) / 2    # between fluent (low) and OOV-heavy (high)

    wd, out = str(tmp_path / "wd"), str(tmp_path / "curated")
    capture = []
    monkeypatch.setattr("builtins.print", lambda s: capture.append(s))
    rc = _run(monkeypatch, job, [
        "--input", src, "--workdir", wd, "--output", out,
        "--model", mpath, "--max-score", str(cut), "--dedup", "exact"])
    assert rc == 0
    m = json.loads(capture[-1])
    assert list(m["stages"]) == ["quality", "lmscore", "dedup"]
    res = spark.read.parquet(out)
    assert "score" in res.columns
    return {r["doc_id"] for r in res.select("doc_id").collect()}


def test_curate_job_lmscore_stage(spark, tmp_path, monkeypatch):
    """--model threads the stored-model scorer in as stage 2: the output
    carries the score column and the gate drops the low-fluency doc."""
    sys.path.insert(0, "jobs")
    import curate_corpus as job

    from sketchlib.spark.textops import train_ngram_model

    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    src, ref = _lm_corpus(spark, tmp_path)
    mpath = str(tmp_path / "model")
    train_ngram_model(spark.read.parquet(ref), order=2, quantize=6) \
        .write.parquet(mpath)
    # the 10 fluent docs are EXACT duplicates of each other -> one keeper;
    # the OOV-heavy doc fell to the score gate
    assert _run_lm_gate(spark, tmp_path, monkeypatch, job, src, mpath) == {0}


def test_curate_job_reads_default_score_quality_model(
        spark, tmp_path, monkeypatch):
    """a model written by ``score_quality.py train`` with default flags
    (order 1) is a valid ``--model`` for the lmscore stage: every model
    table has the one ([lang], ctx, word, lp) schema."""
    sys.path.insert(0, "jobs")
    import curate_corpus as job
    import score_quality

    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    monkeypatch.setattr("builtins.print", lambda s: None)
    src, ref = _lm_corpus(spark, tmp_path)
    mpath = str(tmp_path / "model")
    assert _run(monkeypatch, score_quality,
                ["train", "--input", ref, "--model", mpath]) == 0
    assert "ctx" in spark.read.parquet(mpath).columns
    assert _run_lm_gate(spark, tmp_path, monkeypatch, job, src, mpath) == {0}


def test_curate_job_urldedup_stage(spark, tmp_path, monkeypatch):
    """--url-col threads the canonical-URL pre-pass in as stage 0: crawl
    variants of one page collapse to the min-id keeper before any text
    hashing, NULL-url docs always survive to the content stages, and the
    stage participates in the fingerprint/resume chain."""
    sys.path.insert(0, "jobs")
    import curate_corpus as job

    capture = []
    monkeypatch.setattr("builtins.print", lambda s: capture.append(s))
    monkeypatch.setattr(type(spark), "stop", lambda self: None)

    def words(seed, n):
        return " ".join(f"tok{seed}x{i}" for i in range(n))

    # 1-3: crawl variants of ONE url (distinct text, so only URL dedup can
    # collapse them); 4: same host, distinct page; 5: NULL url
    rows = [
        (1, "en", "http://site.com/a/b", words(1, 30)),
        (2, "en", "https://www.site.com/a/b/", words(2, 30)),
        (3, "en", "http://site.com/a/b?utm_source=x#f", words(3, 30)),
        (4, "en", "http://site.com/other", words(4, 30)),
        (5, "en", None, words(5, 30)),
    ]
    src = str(tmp_path / "pages")
    spark.createDataFrame(
        rows, "doc_id long, lang string, url string, text string"
    ).write.parquet(src)
    wd, out = str(tmp_path / "wd"), str(tmp_path / "curated")
    argv = ["--input", src, "--workdir", wd, "--output", out,
            "--dedup", "exact", "--url-col", "url"]

    rc = _run(monkeypatch, job, argv)
    assert rc == 0
    got = {r["doc_id"] for r in
           spark.read.parquet(out).select("doc_id").collect()}
    assert got == {1, 4, 5}
    m1 = json.loads(capture[-1])
    assert list(m1["stages"]) == ["urldedup", "quality", "dedup"]
    assert m1["stages"]["urldedup"]["rows"] == 3

    # resume skips stage 0 too; dropping the flag re-keys the whole chain
    rc = _run(monkeypatch, job, argv + ["--resume"])
    assert json.loads(capture[-1])["stages"]["urldedup"]["skipped"]
    rc = _run(monkeypatch, job,
              ["--input", src, "--workdir", wd, "--output", out,
               "--dedup", "exact", "--resume"])
    m3 = json.loads(capture[-1])
    assert "urldedup" not in m3["stages"]
    assert not m3["stages"]["quality"]["skipped"]  # chain re-keyed
    got3 = {r["doc_id"] for r in
            spark.read.parquet(out).select("doc_id").collect()}
    assert got3 == {1, 2, 3, 4, 5}


def test_curate_job_sig_kernel_poly(spark, tmp_path, monkeypatch):
    """--dedup near --sig-kernel poly: the near-dup stage signs with the
    polynomial Arrow kernel and drops the planted near-duplicate; a
    non-default kernel enters the stage fingerprint (so --resume can never
    serve an xxh checkpoint to a poly run), while the default keeps the
    pre-existing fingerprint format."""
    sys.path.insert(0, "jobs")
    import curate_corpus as job

    capture = []
    monkeypatch.setattr("builtins.print", lambda s: capture.append(s))
    monkeypatch.setattr(type(spark), "stop", lambda self: None)

    def words(seed, n):
        return " ".join(f"tok{seed}x{i}" for i in range(n))

    rows = [(i, "en", words(i, 30)) for i in range(10)]
    rows += [(500, "en", words(42, 30) + " tail")]   # distinct doc, survives
    rows += [(501, "en", rows[4][2] + " tail")]      # near-dup of doc 4
    src = str(tmp_path / "pages")
    spark.createDataFrame(rows, "doc_id long, lang string, text string") \
        .write.parquet(src)

    out_k = {}
    fps = {}
    for kernel in ("xxh", "poly"):
        wd = str(tmp_path / f"wd_{kernel}")
        out = str(tmp_path / f"out_{kernel}")
        rc = _run(monkeypatch, job, [
            "--input", src, "--workdir", wd, "--output", out,
            "--dedup", "near", "--sig-kernel", kernel, "--ctx-len", "16"])
        assert rc == 0
        m = json.loads(capture[-1])
        fps[kernel] = m["stages"]["dedup"]["fp"]
        out_k[kernel] = {r["doc_id"]
                         for r in spark.read.parquet(out)
                         .select("doc_id").collect()}
    # both kernels drop 501 (near-dup of 4, min-id keeper); 500 is its own
    # distinct doc and survives
    assert out_k["xxh"] == out_k["poly"] == set(range(10)) | {500}
    assert fps["xxh"] != fps["poly"]


def test_curate_job_normalize_keys(spark, tmp_path, monkeypatch):
    """--normalize-keys: case/whitespace variants of one page hash to one
    exact-dedup key (min-id keeper survives); without the flag all
    variants survive; the flag enters the stage fingerprint so toggling
    it re-runs dedup."""
    sys.path.insert(0, "jobs")
    import curate_corpus as job

    capture = []
    monkeypatch.setattr("builtins.print", lambda s: capture.append(s))
    monkeypatch.setattr(type(spark), "stop", lambda self: None)

    base = " ".join(f"tok{i}" for i in range(30))
    rows = [
        (1, "en", base),
        (2, "en", base.upper()),
        (3, "en", "  " + base.replace(" ", "   ") + " "),
        (4, "en", " ".join(f"other{i}" for i in range(30))),
    ]
    src = str(tmp_path / "pages")
    spark.createDataFrame(
        rows, "doc_id long, lang string, text string").write.parquet(src)
    wd, out = str(tmp_path / "wd"), str(tmp_path / "curated")
    argv = ["--input", src, "--workdir", wd, "--output", out,
            "--dedup", "exact", "--normalize-keys"]

    rc = _run(monkeypatch, job, argv)
    assert rc == 0
    got = {r["doc_id"] for r in
           spark.read.parquet(out).select("doc_id").collect()}
    assert got == {1, 4}

    # toggling the flag off re-keys the dedup stage and keeps all docs
    rc = _run(monkeypatch, job,
              ["--input", src, "--workdir", wd, "--output", out,
               "--dedup", "exact", "--resume"])
    m = json.loads(capture[-1])
    assert not m["stages"]["dedup"]["skipped"]
    got2 = {r["doc_id"] for r in
            spark.read.parquet(out).select("doc_id").collect()}
    assert got2 == {1, 2, 3, 4}


def test_curate_job_span_dedup_stage(spark, tmp_path, monkeypatch):
    """--span-dedup N: after doc-level dedup, a shared N-token block is
    excised from every survivor (default) or kept in the min-id owner
    (--span-keep-first); a doc that is NOTHING BUT the shared block drops
    (zero kept tokens); the stage enters the fingerprint chain (resume
    skips it, toggling keep_first re-runs it)."""
    sys.path.insert(0, "jobs")
    import curate_corpus as job

    capture = []
    monkeypatch.setattr("builtins.print", lambda s: capture.append(s))
    monkeypatch.setattr(type(spark), "stop", lambda self: None)

    block = " ".join(f"lic{i}" for i in range(12))

    def words(seed, n):
        return " ".join(f"tok{seed}x{i}" for i in range(n))

    rows = [
        (1, "en", words(1, 15) + " " + block),
        (2, "en", block + " " + words(2, 15)),
        (3, "en", words(3, 30)),          # clean
        (4, "en", block),                  # only the block -> drops entirely
    ]
    src = str(tmp_path / "pages")
    spark.createDataFrame(
        rows, "doc_id long, lang string, text string").write.parquet(src)
    wd, out = str(tmp_path / "wd"), str(tmp_path / "curated")
    argv = ["--input", src, "--workdir", wd, "--output", out,
            "--dedup", "exact", "--span-dedup", "10"]

    rc = _run(monkeypatch, job, argv)
    assert rc == 0
    m1 = json.loads(capture[-1])
    assert "spandedup" in m1["stages"] and not m1["stages"]["spandedup"]["skipped"]
    got = {r["doc_id"]: r["text"] for r in spark.read.parquet(out).collect()}
    assert set(got) == {1, 2, 3}           # doc 4 dropped (all covered)
    assert "lic0" not in got[1] and "lic0" not in got[2]
    assert got[1] == words(1, 15) and got[2] == words(2, 15)
    assert got[3] == words(3, 30)          # untouched doc: verbatim bytes

    # resume: identical args skip the stage
    rc = _run(monkeypatch, job, argv + ["--resume"])
    m2 = json.loads(capture[-1])
    assert m2["stages"]["spandedup"]["skipped"]

    # keep_first enters the fingerprint and flips the semantics: doc 1
    # (min id among block owners) keeps the block, 2 loses it, 4 still
    # drops (its block lives on in doc 1)
    rc = _run(monkeypatch, job, argv + ["--resume", "--span-keep-first"])
    m3 = json.loads(capture[-1])
    assert not m3["stages"]["spandedup"]["skipped"]
    got_kf = {r["doc_id"]: r["text"] for r in spark.read.parquet(out).collect()}
    assert "lic0" in got_kf[1] and "lic0" not in got_kf[2]
