"""Order-agnostic stupid-backoff n-gram LM (the trigram/TOP-K-context
extension; orders 1 and 2 are tested in test_lm_quality.py and
test_lm_bigram.py): order=3 is checked against a pure-python
stupid-backoff oracle and for handcrafted backoff-chain semantics
(per-level penalties, no penalty for positions that lack the context)."""

import math
from collections import Counter, defaultdict

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL

pytestmark = pytest.mark.spark

ALPHA = 0.5
UTOPK = 50
NTOPK = 200
Q = 6
BACKOFF = 0.4


def _docs(spark):
    return spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "lang", "text")


def _nullsafe(rows):
    return sorted(
        (tuple(r) for r in rows),
        key=lambda t: tuple((x is None, x) for x in t),
    )


def _py_tri_model(rows, utopk=UTOPK, ntopk=NTOPK, alpha=ALPHA):
    """per-lang capped unigram + bigram + trigram stupid-backoff model with
    quantized integer log-probs — mirrors train_ngram_model(order=3)"""
    uc = defaultdict(Counter)
    bc = defaultdict(Counter)
    tc = defaultdict(Counter)
    for lang, text in rows:
        toks = [w for w in (text or "").split(" ") if w]
        uc[lang].update(toks)
        bc[lang].update(zip(toks, toks[1:]))
        tc[lang].update(
            (f"{a} {b}", c) for a, b, c in zip(toks, toks[1:], toks[2:]))
    out = {}
    for lang in uc:
        top = sorted(uc[lang].items(), key=lambda kv: (-kv[1], kv[0]))[:utopk]
        total = sum(n for _, n in top)
        denom = total + alpha * (len(top) + 1)
        uni = {w: round(math.log((n + alpha) / denom) * 10**Q) for w, n in top}
        oov = round(math.log(alpha / denom) * 10**Q)
        levels = []
        for counts in (bc[lang], tc[lang]):
            tot = Counter()
            for (c, _w), n in counts.items():
                tot[c] += n
            kept = sorted(
                counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )[:ntopk]
            levels.append(
                {cw: round(math.log(n / tot[cw[0]]) * 10**Q) for cw, n in kept})
        out[lang] = (uni, oov, levels[0], levels[1])
    return out


def _py_tri_scores(rows, models):
    bq = round(math.log(BACKOFF) * 10**Q)
    out = {}
    for did, lang, text in rows:
        toks = [w for w in (text or "").split(" ") if w]
        if not toks or lang not in models:
            out[did] = (0, None)
            continue
        uni, oov, big, tri = models[lang]
        s = 0
        for i, w in enumerate(toks):
            # backoff chain: trigram -> bigram -> unigram/OOV; a missing
            # level (position too early) is skipped WITHOUT penalty
            u = uni.get(w, oov)
            lp = big.get((toks[i - 1], w)) if i >= 1 else None
            blev = lp if lp is not None else (bq if i >= 1 else 0) + u
            tkey = (f"{toks[i - 2]} {toks[i - 1]}", w) if i >= 2 else None
            tlp = tri.get(tkey) if tkey is not None else None
            s += tlp if tlp is not None else (bq if i >= 2 else 0) + blev
        out[did] = (len(toks), (-s / len(toks)) / 10**Q)
    return out


def test_trigram_scores_match_python_oracle(spark):
    from sketchlib.spark.textops import ngram_logprob_score

    docs = _docs(spark)
    got = {
        r["doc_id"]: (r["n_tokens"], r["logprob_per_token"])
        for r in ngram_logprob_score(
            docs, order=3, vocab_top_k=UTOPK, ngram_top_k=NTOPK,
            alpha=ALPHA, quantize=Q, backoff=BACKOFF,
        ).collect()
    }
    rows = [(r["lang"], r["text"]) for r in docs.collect()]
    srows = [(r["doc_id"], r["lang"], r["text"]) for r in docs.collect()]
    want = _py_tri_scores(srows, _py_tri_model(rows))
    assert got == want


def test_trigram_backoff_semantics_handcrafted(spark):
    """a seen trigram scores its stored relative frequency; a doc whose
    trigram is unseen pays ln(backoff) + the bigram score; positions 0 and
    1 pay NO trigram penalty (the context does not exist)."""
    from sketchlib.spark.textops import ngram_logprob_score

    ref = spark.createDataFrame(
        [(i, "en", "a b c a b d") for i in range(3)],
        "doc_id long, lang string, text string",
    )
    probe = spark.createDataFrame(
        [(100, "en", "a b c"),   # uni(a) + bi(a,b) + tri(a b -> c)
         (101, "en", "a b z"),   # uni(a) + bi(a,b) + bq + (bq + oov(z))
         (102, "en", "a b")],    # uni(a) + bi(a,b) — no trigram penalty
        "doc_id long, lang string, text string",
    )
    got = {r["doc_id"]: r for r in ngram_logprob_score(
        probe, ref=ref, order=3, vocab_top_k=10, ngram_top_k=10,
        alpha=ALPHA, backoff=BACKOFF).collect()}

    # ref unigram counts: a=6, b=6, c=3, d=3 (total 18, v=4)
    denom = 18 + ALPHA * (4 + 1)
    ua = math.log((6 + ALPHA) / denom)
    oov = math.log(ALPHA / denom)
    bi_ab = math.log(1.0)        # every 'a' is followed by 'b'
    tri_abc = math.log(1 / 2)    # 'a b' -> c once, -> d once
    bq = math.log(BACKOFF)
    assert got[100]["logprob_per_token"] == pytest.approx(
        -(ua + bi_ab + tri_abc) / 3)
    assert got[101]["logprob_per_token"] == pytest.approx(
        -(ua + bi_ab + bq + bq + oov) / 3)
    assert got[102]["logprob_per_token"] == pytest.approx(-(ua + bi_ab) / 2)


def test_trigram_stored_roundtrip(spark, tmp_path):
    """a parquet model round-trip is bit-identical to scoring with the
    model trained inline, incl. empty docs and an uncovered lang."""
    from sketchlib.spark.textops import ngram_logprob_score, train_ngram_model

    docs = _docs(spark).withColumn(
        "text",
        F.when(F.col("doc_id") % 29 == 0, F.lit("")).otherwise(F.col("text")),
    )
    ref = docs.filter(F.col("lang") != "zh")
    mpath = str(tmp_path / "tri_model")
    train_ngram_model(
        ref, order=3, vocab_top_k=UTOPK, ngram_top_k=NTOPK, quantize=Q
    ).write.parquet(mpath)
    model = spark.read.parquet(mpath)
    a = _nullsafe(ngram_logprob_score(
        docs, order=3, model=model, quantize=Q).collect())
    b = _nullsafe(ngram_logprob_score(
        docs, ref=ref, order=3, vocab_top_k=UTOPK, ngram_top_k=NTOPK,
        quantize=Q).collect())
    assert a == b
    zh = [r for r in a if r[1] == "zh"]
    assert zh and all(r[2] == 0 and r[3] is None for r in zh)


def test_stored_ngram_kernel_bit_identical(spark, tmp_path):
    """broadcast-join path == collected-broadcast kernel == executor-read
    kernel for a stored TRIGRAM model (order implied by the model), through
    a parquet round-trip, incl. empty docs and an uncovered lang; and the
    same kernel reproduces the order-2 join path when handed an order-2
    model."""
    from sketchlib.spark.textops import (
        ngram_logprob_score,
        score_with_ngram_path,
        score_with_stored_ngram,
        train_ngram_model,
    )

    docs = _docs(spark).withColumn(
        "text",
        F.when(F.col("doc_id") % 29 == 0, F.lit("")).otherwise(F.col("text")),
    )
    ref = docs.filter(F.col("lang") != "zh")
    mpath = str(tmp_path / "tri_model")
    train_ngram_model(
        ref, order=3, vocab_top_k=UTOPK, ngram_top_k=NTOPK, quantize=Q
    ).write.parquet(mpath)
    model = spark.read.parquet(mpath)
    a = _nullsafe(ngram_logprob_score(
        docs, order=3, model=model, quantize=Q).collect())
    b = _nullsafe(score_with_stored_ngram(docs, model, quantize=Q).collect())
    c = _nullsafe(score_with_ngram_path(docs, mpath, quantize=Q).collect())
    assert a == b == c

    bi = train_ngram_model(
        ref, order=2, vocab_top_k=UTOPK, ngram_top_k=NTOPK, quantize=Q
    ).cache()
    d = _nullsafe(ngram_logprob_score(
        docs, order=2, model=bi, quantize=Q).collect())
    e = _nullsafe(score_with_stored_ngram(docs, bi, quantize=Q).collect())
    assert d == e


def test_stored_ngram_scorer_streams(spark, tmp_path):
    """the any-order kernel is stateless: the SAME function over a
    readStream (1 file per trigger) yields exactly the batch scores."""
    from sketchlib.spark.textops import score_with_stored_ngram, train_ngram_model

    src = str(tmp_path / "src")
    _docs(spark).repartition(4).write.parquet(src)
    static = spark.read.parquet(src)
    model = train_ngram_model(
        static, order=3, vocab_top_k=UTOPK, ngram_top_k=NTOPK, quantize=Q
    ).cache()
    batch = {r["doc_id"]: (r["n_tokens"], r["logprob_per_token"])
             for r in score_with_stored_ngram(static, model).collect()}

    stream = spark.readStream.schema(static.schema).option(
        "maxFilesPerTrigger", "1").parquet(src)
    got = []
    q = (score_with_stored_ngram(stream, model)
         .writeStream.outputMode("append")
         .foreachBatch(lambda bdf, _id: got.extend(bdf.collect())).start())
    q.processAllAvailable()
    q.stop()
    assert {r["doc_id"]: (r["n_tokens"], r["logprob_per_token"])
            for r in got} == batch


def test_context_top_k_pruning(spark):
    """context_top_k keeps only the K hottest contexts per lang per level;
    surviving rows are byte-identical to the unpruned model's rows (per-
    context probabilities are unaffected), and scoring a pruned-away
    context backs off exactly as if it had never been seen."""
    from sketchlib.spark.textops import ngram_logprob_score, train_ngram_model

    docs = _docs(spark)
    full = train_ngram_model(
        docs, order=3, vocab_top_k=UTOPK, ngram_top_k=10**6, quantize=Q)
    pruned = train_ngram_model(
        docs, order=3, vocab_top_k=UTOPK, ngram_top_k=10**6, quantize=Q,
        context_top_k=5)
    nctx = (pruned.filter("ctx IS NOT NULL")
            .select("lang", F.size(F.split("ctx", " ")).alias("d"), "ctx")
            .distinct().groupBy("lang", "d").count())
    rows = nctx.collect()
    assert rows and all(r["count"] <= 5 for r in rows)
    # surviving rows are a strict subset with unchanged lp values
    fset = {tuple(r) for r in full.collect()}
    pset = {tuple(r) for r in pruned.collect()}
    assert pset < fset

    # a doc whose context was pruned scores exactly as with a hand-built
    # model that never contained that context
    ref = spark.createDataFrame(
        # ctx 'a' dominates; ctx 'z' is rare -> pruned at context_top_k=1
        [(0, "en", "a b a b a b z q")],
        "doc_id long, lang string, text string",
    )
    probe = spark.createDataFrame(
        [(1, "en", "z q")], "doc_id long, lang string, text string")
    m1 = train_ngram_model(ref, order=2, vocab_top_k=10, ngram_top_k=100,
                           quantize=Q, context_top_k=1)
    got = ngram_logprob_score(
        probe, order=2, model=m1, quantize=Q).collect()[0]
    # expected: uni(z) + bq + uni(q) — the (z, q) bigram is gone
    import math
    mrows = {r["word"]: r["lp"] for r in m1.filter(
        "ctx IS NULL AND word IS NOT NULL").collect()}
    oov = m1.filter("ctx IS NULL AND word IS NULL").collect()[0]["lp"]
    bq = round(math.log(BACKOFF) * 10**Q)
    uz = mrows.get("z", oov)
    uq = mrows.get("q", oov)
    want = (-(uz + bq + uq) / 2) / 10**Q
    assert got["logprob_per_token"] == want


def test_order4_generic_kernel_parity(spark, tmp_path):
    """order=4 exercises the kernel's GENERIC backoff loop (the 2/3 fast
    paths don't apply): join path == stored kernel == path kernel, and a
    position missing all stored levels pays one penalty per level."""
    from sketchlib.spark.textops import (
        ngram_logprob_score,
        score_with_ngram_path,
        score_with_stored_ngram,
        train_ngram_model,
    )

    docs = _docs(spark)
    mpath = str(tmp_path / "m4")
    train_ngram_model(
        docs, order=4, vocab_top_k=UTOPK, ngram_top_k=NTOPK, quantize=Q
    ).write.parquet(mpath)
    model = spark.read.parquet(mpath)
    depths = {r["d"] for r in model.filter("ctx IS NOT NULL").select(
        F.size(F.split("ctx", " ")).alias("d")).distinct().collect()}
    assert depths == {1, 2, 3}
    a = _nullsafe(ngram_logprob_score(
        docs, order=4, model=model, quantize=Q).collect())
    b = _nullsafe(score_with_stored_ngram(docs, model, quantize=Q).collect())
    c = _nullsafe(score_with_ngram_path(docs, mpath, quantize=Q).collect())
    assert a == b == c

    # handcrafted: probe token whose 4/3/2-gram all miss -> 3 penalties
    import math
    ref = spark.createDataFrame(
        [(0, "en", "a b c d a b c d")], "doc_id long, lang string, text string")
    probe = spark.createDataFrame(
        [(1, "en", "a b c z")], "doc_id long, lang string, text string")
    got = ngram_logprob_score(
        probe, ref=ref, order=4, vocab_top_k=10, ngram_top_k=10,
        alpha=ALPHA, backoff=BACKOFF).collect()[0]
    # ref: uni a=2,b=2,c=2,d=2 (tot 8, v=4); bigrams ab,bc,cd(+da) all p=1
    denom = 8 + ALPHA * (4 + 1)
    ua = math.log((2 + ALPHA) / denom)
    oov = math.log(ALPHA / denom)
    bq = math.log(BACKOFF)
    # tokens: a(uni) b(bi hit ln1=0) c(tri hit ln1=0) z(3 misses + oov)
    want = -(ua + 0.0 + 0.0 + (3 * bq + oov)) / 4
    assert got["logprob_per_token"] == pytest.approx(want)


def test_order_below_one_raises(spark):
    """order=1 is the unigram model; below it there is no model."""
    from sketchlib.spark.textops import ngram_logprob_score, train_ngram_model

    docs = _docs(spark)
    with pytest.raises(ValueError, match="order must be >= 1"):
        train_ngram_model(docs, order=0)
    with pytest.raises(ValueError, match="order must be >= 1"):
        ngram_logprob_score(docs, order=0)
