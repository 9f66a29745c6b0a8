"""Stupid-backoff bigram LM quality scoring (the n-gram stack at
``order=2``), checked against a pure-python oracle and for bit-identity
across its three execution paths (broadcast-join, stored-model
mapInPandas kernel, executor-side path kernel)."""

import math
from collections import Counter, defaultdict

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL

pytestmark = pytest.mark.spark

ALPHA = 0.5
UTOPK = 50
BTOPK = 200
Q = 6
BACKOFF = 0.4


def _py_model(rows, utopk=UTOPK, btopk=BTOPK, alpha=ALPHA):
    """per-lang capped unigram + capped stupid-backoff bigram model with
    quantized (10^-6 nat) integer log-probs — mirrors train_ngram_model"""
    uc, bc = defaultdict(Counter), defaultdict(Counter)
    for lang, text in rows:
        toks = [w for w in (text or "").split(" ") if w]
        uc[lang].update(toks)
        bc[lang].update(zip(toks, toks[1:]))
    out = {}
    for lang in uc:
        top = sorted(uc[lang].items(), key=lambda kv: (-kv[1], kv[0]))[:utopk]
        total = sum(n for _, n in top)
        denom = total + alpha * (len(top) + 1)
        uni = {w: round(math.log((n + alpha) / denom) * 10**Q) for w, n in top}
        oov = round(math.log(alpha / denom) * 10**Q)
        # context totals over ALL bigrams, THEN cap the stored rows
        tot = Counter()
        for (c, _w), n in bc[lang].items():
            tot[c] += n
        kept = sorted(
            bc[lang].items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )[:btopk]
        big = {cw: round(math.log(n / tot[cw[0]]) * 10**Q) for cw, n in kept}
        out[lang] = (uni, oov, big)
    return out


def _py_scores(rows, models):
    bq = round(math.log(BACKOFF) * 10**Q)
    out = {}
    for did, lang, text in rows:
        toks = [w for w in (text or "").split(" ") if w]
        if not toks or lang not in models:
            out[did] = (0, None)
            continue
        uni, oov, big = models[lang]
        s = uni.get(toks[0], oov)
        for prev, w in zip(toks, toks[1:]):
            b = big.get((prev, w))
            s += b if b is not None else bq + uni.get(w, oov)
        out[did] = (len(toks), (-s / len(toks)) / 10**Q)
    return out


def _docs(spark):
    return spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "lang", "text")


def test_bigram_scores_match_python_oracle(spark):
    from sketchlib.spark.textops import ngram_logprob_score

    docs = _docs(spark)
    got = {
        r["doc_id"]: (r["n_tokens"], r["logprob_per_token"])
        for r in ngram_logprob_score(
            docs, order=2, vocab_top_k=UTOPK, ngram_top_k=BTOPK, alpha=ALPHA,
            quantize=Q, backoff=BACKOFF,
        ).collect()
    }
    rows = [(r["lang"], r["text"]) for r in docs.collect()]
    srows = [(r["doc_id"], r["lang"], r["text"]) for r in docs.collect()]
    want = _py_scores(srows, _py_model(rows))
    assert got == want


def test_three_paths_bit_identical(spark, tmp_path):
    """broadcast-join == stored-model kernel == path kernel, through a
    parquet round-trip, incl. empty docs and a lang absent from the model."""
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
    mpath = str(tmp_path / "bigram_model")
    train_ngram_model(
        ref, order=2, vocab_top_k=UTOPK, ngram_top_k=BTOPK, quantize=Q
    ).write.parquet(mpath)
    model = spark.read.parquet(mpath)

    a = sorted(tuple(r) for r in ngram_logprob_score(
        docs, order=2, model=model, quantize=Q).collect())
    b = sorted(tuple(r) for r in score_with_stored_ngram(
        docs, model, quantize=Q).collect())
    c = sorted(tuple(r) for r in score_with_ngram_path(
        docs, mpath, quantize=Q).collect())
    assert a == b == c
    zh = [r for r in a if r[1] == "zh"]
    assert zh and all(r[2] == 0 and r[3] is None for r in zh)


def test_backoff_semantics_handcrafted(spark):
    """a seen bigram scores its stored relative frequency; an unseen pair
    pays ln(backoff) + unigram; the first token pays NO penalty."""
    from sketchlib.spark.textops import ngram_logprob_score

    ref = spark.createDataFrame(
        [(i, "en", "a b a b a c") for i in range(3)],
        "doc_id long, lang string, text string",
    )
    # model (from ref): bigrams ab(2/3 of ctx a), ba(1), ca absent? c ends.
    probe = spark.createDataFrame(
        [(100, "en", "a b"),      # uni(a) + bi(a->b)=ln(2/3)
         (101, "en", "a z"),      # uni(a) + bq + oov(z)
         (102, "en", "a")],       # uni(a) only — no penalty anywhere
        "doc_id long, lang string, text string",
    )
    got = {r["doc_id"]: r for r in ngram_logprob_score(
        probe, order=2, ref=ref, vocab_top_k=10, ngram_top_k=10,
        alpha=ALPHA, backoff=BACKOFF).collect()}

    # reproduce by hand: unigram counts over the 3 ref docs a=9,b=6,c=3
    denom = 18 + ALPHA * (3 + 1)
    ua = math.log((9 + ALPHA) / denom)
    oov = math.log(ALPHA / denom)
    bi_ab = math.log(2 / 3)
    bq = math.log(BACKOFF)
    assert got[100]["logprob_per_token"] == pytest.approx(-(ua + bi_ab) / 2)
    assert got[101]["logprob_per_token"] == pytest.approx(-(ua + bq + oov) / 2)
    assert got[102]["logprob_per_token"] == pytest.approx(-ua)


def test_model_cap_and_min_count(spark):
    from sketchlib.spark.textops import train_ngram_model

    docs = _docs(spark)
    m = train_ngram_model(docs, order=2, vocab_top_k=UTOPK, ngram_top_k=25)
    per_lang = (
        m.filter("ctx IS NOT NULL").groupBy("lang").count().collect()
    )
    assert per_lang and all(r["count"] == 25 for r in per_lang)
    # min_count prunes rarities BEFORE the cap: strictly fewer stored rows
    m2 = train_ngram_model(
        docs, order=2, vocab_top_k=UTOPK, ngram_top_k=10**6, min_count=3)
    m1 = train_ngram_model(docs, order=2, vocab_top_k=UTOPK, ngram_top_k=10**6)
    assert (m2.filter("ctx IS NOT NULL").count()
            < m1.filter("ctx IS NOT NULL").count())


def test_stored_bigram_scorer_streams(spark, tmp_path):
    """the kernel scorer is stateless: the SAME function over a readStream
    (1 file per trigger) yields exactly the batch scores."""
    from sketchlib.spark.textops import (
        score_with_stored_ngram,
        train_ngram_model,
    )

    src = str(tmp_path / "src")
    _docs(spark).repartition(4).write.parquet(src)
    static = spark.read.parquet(src)
    model = train_ngram_model(
        static, order=2, vocab_top_k=UTOPK, ngram_top_k=BTOPK,
        quantize=Q).cache()
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


def test_property_random_corpora_bigram_match_python_oracle(spark):
    """Hypothesis: random corpora (tiny vocab, odd whitespace, dup docs,
    repeated bigrams, uncovered langs) — quantized Spark bigram scores ==
    pure-python stupid-backoff recompute with the same caps."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from sketchlib.spark.textops import ngram_logprob_score

    words = st.sampled_from(["aa", "b", "ccc"])
    text = st.lists(
        st.one_of(words, st.just(""), st.just(" ")), min_size=0, max_size=10
    ).map(" ".join)
    doc = st.tuples(st.sampled_from(["x", "y"]), text)

    def py_round(x):
        # Spark ROUND = half away from zero (not python banker's)
        return int(math.copysign(math.floor(abs(x) + 0.5), x))

    @settings(max_examples=8, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(st.lists(doc, min_size=1, max_size=12))
    def run(docs_py):
        rows = [(i, lang, t) for i, (lang, t) in enumerate(docs_py)]
        df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
        got = {r["doc_id"]: (r["n_tokens"], r["logprob_per_token"])
               for r in ngram_logprob_score(
                   df, order=2, vocab_top_k=3, ngram_top_k=4, alpha=0.5,
                   quantize=6, backoff=0.4).collect()}
        # python oracle: top-3 unigram, top-4 bigram (total-order tie-break
        # cnt DESC, ctx, word), ctx totals over ALL bigrams pre-cap
        uc, bc = defaultdict(Counter), defaultdict(Counter)
        for _, lang, t in rows:
            toks = [w for w in t.split(" ") if w]
            uc[lang].update(toks)
            bc[lang].update(zip(toks, toks[1:]))
        lps, oovs, bigs = {}, {}, {}
        for lang, c in uc.items():
            top = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
            denom = sum(n for _, n in top) + 0.5 * (len(top) + 1.0)
            lps[lang] = {w: py_round(math.log((n + 0.5) / denom) * 1e6)
                         for w, n in top}
            oovs[lang] = py_round(math.log(0.5 / denom) * 1e6)
            tot = Counter()
            for (cx, _w), n in bc[lang].items():
                tot[cx] += n
            kept = sorted(bc[lang].items(),
                          key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))[:4]
            bigs[lang] = {cw: py_round(math.log(n / tot[cw[0]]) * 1e6)
                          for cw, n in kept}
        bq = py_round(math.log(0.4) * 1e6)
        for i, lang, t in rows:
            toks = [w for w in t.split(" ") if w]
            if not toks or lang not in oovs:
                assert got[i] == (0, None), (i, got[i])
                continue
            u = [lps[lang].get(w, oovs[lang]) for w in toks]
            s = u[0]
            for j in range(1, len(toks)):
                b = bigs[lang].get((toks[j - 1], toks[j]))
                s += b if b is not None else bq + u[j]
            want = ((-s) / len(toks)) / 1e6
            assert got[i] == (len(toks), want), (i, got[i], want)

    run()
