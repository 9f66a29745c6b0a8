"""CCNet-style unigram LM quality scoring (the n-gram stack at
``order=1``) + digest-driven head/middle/tail bucketing, checked against a
pure-python oracle."""

import math
from collections import Counter, defaultdict

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL

pytestmark = pytest.mark.spark

ALPHA = 0.5
TOPK = 50


def _python_model(rows, top_k=TOPK, alpha=ALPHA):
    """per-lang capped unigram model -> (logp dict, oov logp) per lang"""
    counts = defaultdict(Counter)
    for lang, text in rows:
        if text:
            for w in text.split(" "):
                if w:
                    counts[lang][w] += 1
    models = {}
    for lang, c in counts.items():
        top = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:top_k]
        total = sum(n for _, n in top)
        denom = total + alpha * (len(top) + 1)
        models[lang] = (
            {w: math.log((n + alpha) / denom) for w, n in top},
            math.log(alpha / denom),
        )
    return models


def _python_scores(rows, models):
    out = {}
    for did, lang, text in rows:
        toks = [w for w in (text or "").split(" ") if w]
        if not toks:
            out[did] = (0, None)
            continue
        lp, oov = models[lang]
        s = sum(-(lp.get(w, oov)) for w in toks)
        out[did] = (len(toks), s / len(toks))
    return out


def test_scores_match_python_oracle(spark):
    from sketchlib.spark.textops import ngram_logprob_score

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "lang", "text")
    # include an empty-text doc
    docs = docs.withColumn(
        "text", F.when(F.col("doc_id") % 29 == 0, F.lit("")).otherwise(
            F.col("text")))
    got = {
        r["doc_id"]: (r["n_tokens"], r["logprob_per_token"])
        for r in ngram_logprob_score(
            docs, order=1, vocab_top_k=TOPK, alpha=ALPHA).collect()
    }
    raw = [(r["doc_id"], r["lang"], r["text"]) for r in docs.collect()]
    models = _python_model([(l, t) for _, l, t in raw])
    want = _python_scores(raw, models)
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0], k
        if want[k][1] is None:
            assert got[k][1] is None, k
        else:
            assert abs(got[k][1] - want[k][1]) < 1e-9, (k, got[k], want[k])


def test_global_model_and_external_ref(spark):
    from sketchlib.spark.textops import ngram_logprob_score

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "lang", "text")
    ref = docs.filter(F.col("doc_id") % 2 == 0)  # train on half
    out = ngram_logprob_score(
        docs, order=1, ref=ref, lang_col=None, vocab_top_k=TOPK).collect()
    assert len(out) == docs.count()
    # scoring corpus != ref: ref-absent docs still score (OOV smoothing)
    assert all(r["logprob_per_token"] is not None for r in out
               if r["n_tokens"] > 0)


def test_quality_buckets_exact_thirds_law(spark):
    from sketchlib.spark.textops import ngram_logprob_score, quality_buckets

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "lang", "text")
    out = quality_buckets(docs, vocab_top_k=TOPK, alpha=ALPHA)
    rows = out.collect()
    assert {r["bucket"] for r in rows} == {"head", "middle", "tail"}
    # discrete digests are lossless: the cut points are the exact
    # nearest-rank score quantiles, so bucketing must equal the python
    # recomputation from the (independently oracled) scores
    scores = defaultdict(list)
    for r in rows:
        scores[r["lang"]].append(r["logprob_per_token"])
    import numpy as np

    for lang, vals in scores.items():
        xs = np.sort(np.array(vals))
        n = len(xs)
        lo = xs[max(0, math.ceil(n / 3.0) - 1)]
        hi = xs[max(0, math.ceil(2.0 * n / 3.0) - 1)]
        for r in rows:
            if r["lang"] != lang:
                continue
            want = ("head" if r["logprob_per_token"] <= lo
                    else "middle" if r["logprob_per_token"] <= hi
                    else "tail")
            assert r["bucket"] == want, (lang, r)
    # head = most fluent third: per lang, head count ~ n/3 up to ties
    # (duplicate texts score identically; a tie group straddling the cut
    # goes wholly to the lower bucket by the <= comparison)
    per = Counter((r["lang"], r["bucket"]) for r in rows)
    for lang, vals in scores.items():
        n = len(vals)
        max_tie = Counter(vals).most_common(1)[0][1]
        assert abs(per[(lang, "head")] - n / 3.0) <= 1.0 + max_tie, (
            lang, per[(lang, "head")], n)


def test_quantized_scores_deterministic_and_close(spark):
    """quantize=6: scores are exact integer arithmetic — bit-identical
    across partition layouts — and within the documented 5e-7/token
    error of the float path."""
    from sketchlib.spark.textops import ngram_logprob_score

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "lang", "text")
    a = {r["doc_id"]: r["logprob_per_token"]
         for r in ngram_logprob_score(
             docs, order=1, vocab_top_k=TOPK, quantize=6).collect()}
    b = {r["doc_id"]: r["logprob_per_token"]
         for r in ngram_logprob_score(
             docs.repartition(7, "lang"), order=1, vocab_top_k=TOPK,
             quantize=6).collect()}
    raw = {r["doc_id"]: r["logprob_per_token"]
           for r in ngram_logprob_score(
               docs, order=1, vocab_top_k=TOPK).collect()}
    assert a == b  # bit-identical, incl. float equality
    for k, v in a.items():
        if v is not None:
            assert abs(v - raw[k]) < 1e-6, (k, v, raw[k])


def test_gate_lp_rounding_margin_sf001():
    """Cross-engine safety of the gated lm_quality_buckets query: every
    model log-prob x 1e6 at the driver's gate SF (sf0.01) must sit far
    (>1e-6) from a .5 rounding boundary, so a 1-ulp ln() difference
    between Spark's java.lang.Math.log and DuckDB's libm cannot flip the
    rounded integer micro-nat value.  Pure DuckDB — no Spark session."""
    import duckdb

    from sketchlib.spark.queries import LM_TOPK

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.01/documents.parquet')")
    rows = con.execute(f"""
WITH toks AS (
  SELECT lang, unnest(list_filter(string_split(text, ' '), w -> w != '')) AS word
  FROM documents
), counts AS (
  SELECT lang, word, count(*) AS cnt FROM toks GROUP BY lang, word
), model AS (
  SELECT lang, cnt FROM (
    SELECT lang, word, cnt,
           row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, word) AS rk
    FROM counts) WHERE rk <= {LM_TOPK}
), totals AS (
  SELECT lang, sum(cnt)::BIGINT AS total, count(*)::BIGINT AS v
  FROM model GROUP BY lang
), lps AS (
  SELECT ln((m.cnt + 0.5) / (t.total + 0.5 * (t.v + 1.0))) * 1000000 AS x
  FROM model m JOIN totals t USING (lang)
  UNION ALL
  SELECT ln(0.5 / (total + 0.5 * (v + 1.0))) * 1000000 FROM totals
)
SELECT min(abs(abs(x - round(x)) - 0.5)) FROM lps
""").fetchone()
    # boundary distance: |frac - .5| — min over the whole model
    assert rows[0] > 1e-6, rows


def test_stored_model_scorer_bit_identical_to_join_path(spark, tmp_path):
    """train once → store the model table → score with the stateless
    broadcast-dict mapInPandas scorer: bit-identical to the broadcast-join
    path under quantize (exact integer sums either way), incl. empty docs
    and a lang absent from the model."""
    from sketchlib.spark.textops import (
        ngram_logprob_score,
        score_with_stored_ngram,
        train_ngram_model,
    )

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "lang", "text")
    docs = docs.withColumn(
        "text", F.when(F.col("doc_id") % 29 == 0, F.lit("")).otherwise(
            F.col("text")))
    # model trained WITHOUT one lang -> those docs must score (0, NULL)
    ref = docs.filter(F.col("lang") != "zh")
    mpath = str(tmp_path / "model")
    train_ngram_model(
        ref, order=1, vocab_top_k=TOPK, quantize=6).write.parquet(mpath)
    model = spark.read.parquet(mpath)

    join_path = ngram_logprob_score(
        docs, order=1, model=model, vocab_top_k=TOPK, quantize=6)
    fast_path = score_with_stored_ngram(docs, model, quantize=6)
    a = sorted(tuple(r) for r in join_path.collect())
    b = sorted(tuple(r) for r in fast_path.collect())
    assert a == b
    zh = [r for r in a if r[1] == "zh"]
    assert zh and all(r[2] == 0 and r[3] is None for r in zh)


def test_stored_model_scorer_streams(spark, tmp_path):
    """the scorer is a stateless projection: the SAME function over a
    readStream (1 file per trigger) yields exactly the batch scores."""
    from sketchlib.spark.textops import (
        score_with_stored_ngram,
        train_ngram_model,
    )

    src = str(tmp_path / "src")
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "lang", "text")
    docs.repartition(4).write.parquet(src)
    static = spark.read.parquet(src)
    model = train_ngram_model(static, order=1, vocab_top_k=TOPK, quantize=6)
    model = model.cache()
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
    streamed = {r["doc_id"]: (r["n_tokens"], r["logprob_per_token"])
                for r in got}
    assert streamed == batch


def test_model_quantize_mismatch_raises(spark):
    from sketchlib.spark.textops import (
        ngram_logprob_score,
        score_with_stored_ngram,
        train_ngram_model,
    )

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "lang", "text")
    m_q = train_ngram_model(docs, order=1, vocab_top_k=TOPK, quantize=6)
    m_f = train_ngram_model(docs, order=1, vocab_top_k=TOPK)
    with pytest.raises(ValueError, match="quantize"):
        score_with_stored_ngram(docs, m_q, quantize=None)
    with pytest.raises(ValueError, match="quantize"):
        ngram_logprob_score(docs, order=1, model=m_f, quantize=6)


def test_streaming_bucket_labeling_with_stored_cuts(spark, tmp_path):
    """the full curriculum pipeline on a stream: stored model + stored cut
    table -> score_with_stored_ngram + bucket_by_cuts over a readStream is
    stateless and yields exactly the batch labels."""
    from sketchlib.spark.textops import (
        bucket_by_cuts,
        score_cut_table,
        score_with_stored_ngram,
        train_ngram_model,
    )

    src = str(tmp_path / "src")
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "lang", "text")
    docs.repartition(3).write.parquet(src)
    static = spark.read.parquet(src)
    model = train_ngram_model(
        static, order=1, vocab_top_k=TOPK, quantize=6).cache()
    scored = score_with_stored_ngram(static, model)
    cuts = score_cut_table(
        scored.filter(F.col("logprob_per_token").isNotNull())).cache()
    cuts.count()
    batch = {r["doc_id"]: r["bucket"]
             for r in bucket_by_cuts(scored, cuts).collect()}
    assert set(batch.values()) == {"head", "middle", "tail"}

    stream = spark.readStream.schema(static.schema).option(
        "maxFilesPerTrigger", "1").parquet(src)
    got = []
    q = (bucket_by_cuts(score_with_stored_ngram(stream, model), cuts)
         .writeStream.outputMode("append")
         .foreachBatch(lambda b, _i: got.extend(b.collect())).start())
    q.processAllAvailable()
    q.stop()
    assert {r["doc_id"]: r["bucket"] for r in got} == batch

    # lang absent from the cut table -> NULL bucket, row kept
    part = bucket_by_cuts(scored, cuts.filter(F.col("lang") != "zh"))
    rows = part.filter(F.col("lang") == "zh").collect()
    assert rows and all(r["bucket"] is None for r in rows)
    assert part.count() == scored.count()


def test_huge_model_guard_routes_to_join_path(spark):
    from sketchlib.spark.textops import (
        score_with_stored_ngram,
        train_ngram_model,
    )

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "lang", "text")
    model = train_ngram_model(docs, order=1, vocab_top_k=TOPK, quantize=6)
    with pytest.raises(ValueError, match="max_broadcast_rows"):
        score_with_stored_ngram(docs, model, max_broadcast_rows=3)
    # explicit disable works
    out = score_with_stored_ngram(docs, model, max_broadcast_rows=None)
    assert out.count() == docs.count()


def test_property_random_corpora_match_python_oracle(spark):
    """Hypothesis: random corpora (tiny vocab, odd whitespace, dup docs,
    uncovered langs) — quantized Spark scores == pure-python recompute."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from sketchlib.spark.textops import ngram_logprob_score

    words = st.sampled_from(["aa", "b", "ccc", "dd", "e"])
    text = st.lists(
        st.one_of(words, st.just(""), st.just(" ")), min_size=0, max_size=12
    ).map(" ".join)
    doc = st.tuples(st.sampled_from(["x", "y"]), text)

    def py_round(x):
        # Spark ROUND = half away from zero (not python banker's)
        return int(math.copysign(math.floor(abs(x) + 0.5), x))

    @settings(max_examples=8, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(st.lists(doc, min_size=1, max_size=14))
    def run(docs_py):
        rows = [(i, lang, t) for i, (lang, t) in enumerate(docs_py)]
        df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
        got = {r["doc_id"]: (r["n_tokens"], r["logprob_per_token"])
               for r in ngram_logprob_score(
                   df, order=1, vocab_top_k=3, alpha=0.5,
                   quantize=6).collect()}
        # python oracle with the same top-3 cap / smoothing / quantization
        counts = defaultdict(Counter)
        for _, lang, t in rows:
            for w in t.split(" "):
                if w:
                    counts[lang][w] += 1
        lps, oovs = {}, {}
        for lang, c in counts.items():
            top = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
            denom = sum(n for _, n in top) + 0.5 * (len(top) + 1.0)
            lps[lang] = {w: py_round(math.log((n + 0.5) / denom) * 1e6)
                         for w, n in top}
            oovs[lang] = py_round(math.log(0.5 / denom) * 1e6)
        for i, lang, t in rows:
            toks = [w for w in t.split(" ") if w]
            if not toks or lang not in oovs:
                assert got[i] == (0, None), (i, got[i])
                continue
            s = sum(lps[lang].get(w, oovs[lang]) for w in toks)
            want = ((-s) / len(toks)) / 1e6
            assert got[i] == (len(toks), want), (i, got[i], want)

    run()


def test_path_scorer_bit_identical_and_streams(spark, tmp_path):
    """score_with_ngram_path (executor-side model read, no driver collect,
    no broadcast): bit-identical to both other paths, worker cache warm on
    the second pass, and stateless on a readStream."""
    from sketchlib.spark.textops import (
        score_with_ngram_path,
        score_with_stored_ngram,
        train_ngram_model,
    )

    src = str(tmp_path / "src")
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "lang", "text")
    docs.repartition(3).write.parquet(src)
    static = spark.read.parquet(src)
    mpath = str(tmp_path / "model")
    train_ngram_model(
        static, order=1, vocab_top_k=TOPK, quantize=6).write.parquet(mpath)
    model = spark.read.parquet(mpath)

    bcast = sorted(tuple(r) for r in
                   score_with_stored_ngram(static, model).collect())
    from_path = score_with_ngram_path(static, mpath)
    assert sorted(tuple(r) for r in from_path.collect()) == bcast
    # second pass: worker cache path (same results)
    assert sorted(tuple(r) for r in from_path.collect()) == bcast

    # quantize mismatch rejected from the stored schema
    with pytest.raises(ValueError, match="quantize"):
        score_with_ngram_path(static, mpath, quantize=None)

    stream = spark.readStream.schema(static.schema).option(
        "maxFilesPerTrigger", "1").parquet(src)
    got = []
    q = (score_with_ngram_path(stream, mpath)
         .writeStream.outputMode("append")
         .foreachBatch(lambda b, _i: got.extend(b.collect())).start())
    q.processAllAvailable()
    q.stop()
    assert sorted(tuple(r) for r in got) == bcast


def test_legacy_three_column_model_scores_as_order1(spark, tmp_path):
    """a model table stored in the old ([lang], word, lp) format — no ctx
    column — scores bit-identically to the same model in the one
    ([lang], ctx, word, lp) schema, through all three distributions
    (broadcast dict, executor-side path read, broadcast join)."""
    from sketchlib.spark.textops import (
        ngram_logprob_score,
        score_with_ngram_path,
        score_with_stored_ngram,
        train_ngram_model,
    )

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "lang", "text")
    docs = docs.withColumn(
        "text", F.when(F.col("doc_id") % 29 == 0, F.lit("")).otherwise(
            F.col("text")))
    ref = docs.filter(F.col("lang") != "zh")
    new_path = str(tmp_path / "model_new")
    old_path = str(tmp_path / "model_old")
    train_ngram_model(
        ref, order=1, vocab_top_k=TOPK, quantize=6).write.parquet(new_path)
    spark.read.parquet(new_path).select("lang", "word", "lp") \
        .write.parquet(old_path)
    assert spark.read.parquet(old_path).columns == ["lang", "word", "lp"]

    def three_ways(path):
        model = spark.read.parquet(path)
        return [sorted(tuple(r) for r in df.collect()) for df in (
            score_with_stored_ngram(docs, model),
            score_with_ngram_path(docs, path),
            ngram_logprob_score(docs, order=1, model=model, quantize=6),
        )]

    new = three_ways(new_path)
    assert new[0] == new[1] == new[2]
    assert three_ways(old_path) == new
    zh = [r for r in new[0] if r[1] == "zh"]
    assert zh and all(r[2] == 0 and r[3] is None for r in zh)
