"""Text-analysis operators: token stats, quality, lang-ID, fingerprints."""

import hashlib

import pytest

from tests.conftest import SF_SMALL


def _docs(spark):
    return spark.read.parquet(f"{SF_SMALL}/documents.parquet")


def test_token_stats_matches_python(spark):
    from sketchlib.spark.textops import STOPWORDS, token_stats

    rows = {r["doc_id"]: r["text"] for r in _docs(spark).collect()}
    got = {r["doc_id"]: r.asDict() for r in token_stats(_docs(spark)).collect()}
    assert set(got) == set(rows)
    for doc_id, text in rows.items():
        toks = [w for w in text.split(" ") if w]
        g = got[doc_id]
        assert g["n_tokens"] == len(toks)
        assert g["n_uniq_tokens"] == len(set(toks))
        assert g["n_stopwords"] == sum(1 for w in toks if w in STOPWORDS)
        assert g["max_token_len"] == max(len(w) for w in toks)
        assert g["n_chars_nospace"] == sum(len(w) for w in toks)


def test_quality_partition_invariant(spark):
    from sketchlib.spark.textops import quality_by_lang

    a = {r["lang"]: r.asDict() for r in quality_by_lang(_docs(spark)).collect()}
    b = {
        r["lang"]: r.asDict()
        for r in quality_by_lang(_docs(spark).repartition(13)).collect()
    }
    assert a == b  # exact (integer-sum-derived) doubles, order-independent


def test_lang_id_total_preserved(spark):
    from sketchlib.spark.textops import lang_id_confusion

    conf = lang_id_confusion(_docs(spark)).collect()
    assert sum(r["n_docs"] for r in conf) == _docs(spark).count()


def test_fingerprint_matches_python(spark):
    from sketchlib.spark.textops import fingerprint_docs

    rows = {r["doc_id"]: r["text"] for r in _docs(spark).collect()}
    got = {r["doc_id"]: r["fingerprint"] for r in fingerprint_docs(_docs(spark)).collect()}

    def fp(text: str, ngram: int = 5) -> str:
        toks = [w for w in text.split(" ") if w]
        if len(toks) < ngram:
            return hashlib.md5(text.encode()).hexdigest()[:16]
        return min(
            hashlib.md5(" ".join(toks[i : i + ngram]).encode()).hexdigest()[:16]
            for i in range(len(toks) - ngram + 1)
        )

    for doc_id, text in rows.items():
        assert got[doc_id] == fp(text), doc_id


def test_fingerprint_short_doc(spark):
    from sketchlib.spark.textops import fingerprint_docs

    df = spark.createDataFrame([(1, "tiny doc")], "doc_id long, text string")
    [r] = fingerprint_docs(df).collect()
    assert r["fingerprint"] == hashlib.md5(b"tiny doc").hexdigest()[:16]
    assert r["n_tokens"] == 2


def test_repetition_stats_matches_python(spark):
    from sketchlib.spark.textops import repetition_stats

    docs = _docs(spark)
    got = {r["lang"]: r.asDict() for r in repetition_stats(docs).collect()}
    # python reference
    import collections
    agg = collections.defaultdict(lambda: [0, 0, 0, 0])  # docs, flagged, n, dup
    for r in docs.select("lang", "text").collect():
        toks = [w for w in (r["text"] or "").split(" ") if w] if r["text"] is not None else None
        if toks is None or len(toks) < 3:
            n = dup = 0
        else:
            grams = [" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)]
            n = len(grams)
            dup = n - len(set(grams))
        a = agg[r["lang"]]
        a[0] += 1
        a[1] += 1 if dup * 10 > n * 2 else 0
        a[2] += n
        a[3] += dup
    assert set(got) == set(agg)
    for lang, (nd, nf, sn, sd) in agg.items():
        g = got[lang]
        assert (g["n_docs"], g["n_flagged"], g["sum_ngrams"],
                g["sum_dup_ngrams"]) == (nd, nf, sn, sd)
        assert g["dup_ratio"] == sd / sn


def test_repetition_flags_repetitive_doc(spark):
    from sketchlib.spark.textops import repetition_stats

    df = spark.createDataFrame(
        [("x", "spam " * 50), ("x", " ".join(f"w{i}" for i in range(50))),
         ("x", "ab"), ("x", None)],
        "lang string, text string",
    )
    row = repetition_stats(df).collect()[0].asDict()
    # "spam"*50 -> 48 3-grams all identical -> dup=47 -> flagged;
    # distinct doc dup=0; short + NULL docs contribute 0 n-grams, unflagged
    assert row["n_docs"] == 4
    assert row["n_flagged"] == 1
    assert row["sum_dup_ngrams"] == 47


def test_distinctive_terms_exact_and_approx(spark):
    import pyspark.sql.functions as F

    from sketchlib.spark.textops import distinctive_terms

    docs = _docs(spark)
    exact = distinctive_terms(docs).collect()
    assert len(exact) == 5 * 3  # 5 langs x top-3
    by_lang = {}
    for r in exact:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, rows in by_lang.items():
        rows.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rows] == [1, 2, 3]
        # ranking is score desc, term asc — verify the sort invariant
        keys = [(-r["score"], r["term"]) for r in rows]
        assert keys == sorted(keys)
        for r in rows:
            assert r["score"] == r["tf"] / r["df"]

    # partition invariance of the exact mode (deterministic ranking)
    again = distinctive_terms(docs.repartition(17)).collect()
    assert sorted(map(tuple, exact)) == sorted(map(tuple, again))

    # approx mode: same shape; df within HLL tolerance of exact
    approx = distinctive_terms(docs, approx_df=True).collect()
    assert len(approx) == 15
    exact_df = {
        r["term"]: r["df"]
        for r in distinctive_terms(docs, top_k=10**6).collect()
    }
    for r in approx:
        # approx_count_distinct's default rsd is 5% (1 sigma) — allow 3 sigma
        assert abs(r["df"] - exact_df[r["term"]]) <= max(2, 0.15 * exact_df[r["term"]])


def test_pack_sequences_invariants(spark):
    from sketchlib.spark.textops import pack_sequences

    rows = pack_sequences(_docs(spark), ctx_len=128, n_buckets=4).collect()
    by_bucket = {}
    for r in rows:
        by_bucket.setdefault(r["bucket"], []).append(r)
    assert set(by_bucket) <= set(range(4))
    for b, rs in by_bucket.items():
        rs.sort(key=lambda r: r["doc_id"])
        pos = 0
        for r in rs:
            # doc starts exactly where the previous one ended
            assert r["chunk_id"] == pos // 128
            assert r["offset_in_chunk"] == pos % 128
            end = pos + r["n_tokens"]
            want_span = 0 if r["n_tokens"] == 0 else (
                (end - 1) // 128 - pos // 128 + 1)
            assert r["n_chunks_spanned"] == want_span
            pos = end
        # bucket's total chunk count is ceil(total_tokens / ctx)
        total = sum(r["n_tokens"] for r in rs)
        last_used = max(r["chunk_id"] + max(r["n_chunks_spanned"], 1)
                        for r in rs) if rs else 0
        assert last_used == -(-total // 128) or total == 0


def test_pack_sequences_empty_and_null_docs(spark):
    from sketchlib.spark.textops import pack_sequences

    df = spark.createDataFrame(
        [(1, "a b c"), (2, None), (3, ""), (4, "d e")],
        "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in
           pack_sequences(df, ctx_len=4, n_buckets=1).collect()}
    assert got[2]["n_tokens"] == 0 and got[2]["n_chunks_spanned"] == 0
    assert got[3]["n_tokens"] == 0
    # stream = docs in id order: [a b c][d e] -> doc4 starts at offset 3
    assert got[1]["chunk_id"] == 0 and got[1]["offset_in_chunk"] == 0
    assert got[4]["chunk_id"] == 0 and got[4]["offset_in_chunk"] == 3
    assert got[4]["n_chunks_spanned"] == 2  # spans tokens 3..4 across chunks


def test_redact_pii_semantics(spark):
    """counts hit the ORIGINAL text per kind, replacement applies in kinds
    order, NULL propagates, unknown kind raises, plan stays shuffle-free."""
    import pytest

    from sketchlib.spark.textops import redact_pii

    df = spark.createDataFrame(
        [(0, "mail a@b.co and b@c.org ip 10.1.2.3 call +1 415 555 0100"),
         (1, "no pii here"),
         (2, None)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in redact_pii(df).collect()}
    assert (out[0]["n_email"], out[0]["n_ipv4"], out[0]["n_phone"]) == (2, 1, 1)
    assert out[0]["text_redacted"] == (
        "mail <EMAIL> and <EMAIL> ip <IPV4> call <PHONE>")
    assert (out[1]["n_email"], out[1]["text_redacted"]) == (0, "no pii here")
    assert out[2]["n_email"] is None and out[2]["text_redacted"] is None

    with pytest.raises(ValueError, match="unknown kinds"):
        redact_pii(df, kinds=("email", "ssn"))

    plan = redact_pii(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    for op in ("MapInPandas", "MapInArrow", "ArrowEvalPython", "BatchEvalPython",
               "FlatMapGroupsInPandas"):
        assert op not in plan, op


def test_redact_pii_streams(spark, tmp_path):
    """stateless projection: the SAME call over a readStream yields exactly
    the batch redactions."""
    from sketchlib.spark.textops import redact_pii

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(i, f"doc {i} mail u{i}@ex.com" if i % 2 else f"doc {i}")
         for i in range(40)],
        "doc_id long, text string",
    ).repartition(4).write.parquet(src)
    static = spark.read.parquet(src)
    batch = {r["doc_id"]: (r["n_email"], r["text_redacted"])
             for r in redact_pii(static).collect()}
    stream = spark.readStream.schema(static.schema).option(
        "maxFilesPerTrigger", "1").parquet(src)
    got = []
    q = (redact_pii(stream).writeStream.outputMode("append")
         .foreachBatch(lambda bdf, _id: got.extend(bdf.collect())).start())
    q.processAllAvailable()
    q.stop()
    assert {r["doc_id"]: (r["n_email"], r["text_redacted"])
            for r in got} == batch


def test_quality_keep_expr_equals_naive_string_form(spark):
    """The bound-lambda hashed quality predicate must keep EXACTLY the docs
    the naive string-n-gram formulation keeps (hash collisions are the only
    divergence mode, ~1e-13/doc), across boundary cases: exact min_tokens,
    ratio exactly at the threshold, all-identical tokens, short docs, NULL
    and empty text."""
    import numpy as np
    from pyspark.sql import functions as F

    from sketchlib.spark.textops import quality_keep_expr, with_tokens

    rng = np.random.default_rng(3)
    vocab = [f"w{i}" for i in range(50)]

    rows = [(0, None), (1, ""), (2, "one two"),
            (3, " ".join(["dup"] * 30)),                 # ratio ~ 1
            (4, " ".join(rng.choice(vocab, 10))),        # exactly min_tokens
            (5, " ".join(rng.choice(vocab, 9))),         # one under
            (6, " ".join(f"u{i}" for i in range(12)))]   # ratio 0
    # ratio exactly at 0.2: 12 total 3-grams, need dup = 2.4 -> plant doc
    # with known repeat structure around the boundary both sides
    base = [f"b{i}" for i in range(11)]                  # 14 tokens, 12 grams
    rows.append((7, " ".join(base + base[:3])))
    rows += [(100 + i, " ".join(rng.choice(vocab, 40))) for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    for min_tokens, frac, ng in ((10, 0.2, 3), (3, 0.5, 2), (1, 0.0, 3)):
        got = {r["doc_id"] for r in df.filter(
            quality_keep_expr("text", min_tokens, frac, ng)).collect()}

        d = with_tokens(df.filter(F.col("text").isNotNull()), "text")
        n_total = F.when(F.size("tokens") >= ng,
                         F.size("tokens") - (ng - 1)).otherwise(0).cast("long")
        n_distinct = F.when(F.size("tokens") >= ng, F.size(F.array_distinct(
            F.transform(F.sequence(F.lit(1), F.size("tokens") - (ng - 1)),
                        lambda i: F.concat_ws(" ", F.slice("tokens", i, ng)))
        ))).otherwise(0).cast("long")
        num = int(round(frac * 1000))
        want = {r["doc_id"] for r in d.filter(
            (F.size("tokens") >= min_tokens)
            & ((n_total - n_distinct) * 1000 <= n_total * num)).collect()}
        assert got == want, (min_tokens, frac, ng, got ^ want)


def test_frequent_phrases_boilerplate_miner(spark):
    """Planted boilerplate dominates; exact doc-frequencies match a pure
    python recompute; the MG structural guarantee holds (every phrase with
    doc-freq > n_pairs/(m+1) is in the candidate output at k = m)."""
    import itertools

    from sketchlib.spark.textops import frequent_phrases

    filler = ["alpha bravo charlie delta echo foxtrot golf hotel",
              "india juliet kilo lima mike november oscar papa",
              "quebec romeo sierra tango uniform victor whiskey xray"]
    boiler = "subscribe to our newsletter now"
    rows = []
    for i in range(120):
        body = filler[i % 3]
        text = f"{body} {boiler}" if i % 2 == 0 else f"{body} token{i} end"
        rows.append((i, "en" if i % 4 else "de", text))
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")

    got = frequent_phrases(df, ngram=5, k=5, m=64).collect()
    assert got[0]["phrase"] == boiler and got[0]["n_docs"] == 60
    # est_lower is an MG underestimate, never above the exact count
    assert all(r["est_lower"] <= r["n_docs"] for r in got)

    # python oracle: within-doc-distinct 5-gram doc frequencies
    def grams(t):
        toks = [w for w in t.split(" ") if w]
        return {" ".join(toks[i:i + 5]) for i in range(len(toks) - 4)} \
            if len(toks) >= 5 else {t}

    from collections import Counter
    dfreq = Counter()
    for _i, _l, t in rows:
        dfreq.update(grams(t))
    want_top = sorted(dfreq.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    assert [(r["phrase"], r["n_docs"]) for r in got] == want_top

    # structural guarantee at k = m: candidates hold every phrase whose
    # doc-freq exceeds n_pairs/(m+1)
    m = 64
    n_pairs = sum(len(grams(t)) for _i, _l, t in rows)
    heavy = {p for p, c in dfreq.items() if c > n_pairs / (m + 1)}
    all_cands = {r["phrase"] for r in frequent_phrases(
        df, ngram=5, k=m, m=m).collect()}
    assert heavy <= all_cands

    # per-key mining: per-lang top-1 with the oracle's tie-break (count
    # desc, phrase asc).  Every de doc (i % 4 == 0, all even) carries the
    # boilerplate so it wins there outright; in en it TIES the first
    # filler 5-gram at 30 docs and the alphabetical tie-break decides.
    by_lang = frequent_phrases(df, ngram=5, k=1, m=64, keys=["lang"]).collect()
    per = {r["lang"]: r for r in by_lang}
    want_lang = {}
    for lang in ("en", "de"):
        c = Counter()
        for _i, lg, t in rows:
            if lg == lang:
                c.update(grams(t))
        want_lang[lang] = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[0]
    assert per["de"]["phrase"] == boiler and per["de"]["n_docs"] == 30
    for lang in ("en", "de"):
        assert (per[lang]["phrase"], per[lang]["n_docs"]) == want_lang[lang]


def test_normalize_text_matches_duckdb_mirror(spark):
    """normalize_text_expr restricted to the Java∩RE2 subset: DuckDB
    reproduces the canonical KEY bytes exactly, all flag combos."""
    import itertools

    import duckdb

    from sketchlib.spark.textops import normalize_text

    rows = [
        (0, "Hello   World"),
        (1, "  HELLO\tworld \n again  "),
        (2, "punct, here! (lots); of: it?"),
        (3, "MiXeD CaSeé and 中文 chars"),
        (4, ""),
        (5, None),
        (6, "a  b\tc\nd\re"),
        (7, "already normal"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    con = duckdb.connect()
    con.execute("CREATE TABLE t(id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    for lower, punct in itertools.product([True, False], repeat=2):
        got = {r["id"]: r["text_norm"] for r in normalize_text(
            df, lower=lower, strip_punct=punct).collect()}
        e = "text"
        if lower:
            e = f"lower({e})"
        if punct:
            e = f"regexp_replace({e}, '[^\\w\\s]+', '', 'g')"
        e = f"trim(regexp_replace({e}, '\\s+', ' ', 'g'))"
        want = dict(con.execute(f"SELECT id, {e} FROM t").fetchall())
        assert got == want, (lower, punct)


def test_dedup_lines_within_doc(spark):
    """First occurrence kept, later repeats dropped; counts exact; NULL
    passes through; DuckDB order-preserving mirror agrees byte-for-byte."""
    import duckdb

    from sketchlib.spark.textops import dedup_lines_within_doc

    rows = [
        (0, "a\nb\na\nc\nb"),
        (1, "only\none\nof\neach"),
        (2, "x\nx\nx"),
        (3, ""),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r["id"]: (r["text_clean"], r["n_lines"], r["n_dup_lines"])
           for r in dedup_lines_within_doc(df).collect()}
    assert got[0] == ("a\nb\nc", 5, 2)
    assert got[1] == ("only\none\nof\neach", 4, 0)
    assert got[2] == ("x", 3, 2)
    assert got[3] == ("", 1, 0)
    assert got[4] == (None, 0, 0)

    con = duckdb.connect()
    con.execute("CREATE TABLE t(id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want = dict(con.execute("""
        SELECT id, array_to_string(
          list_filter(l, (x, i) -> list_position(l, x) = i), chr(10))
        FROM (SELECT id, str_split(text, chr(10)) AS l FROM t)
    """).fetchall())
    for i, (clean, _n, _d) in got.items():
        assert clean == want[i]
