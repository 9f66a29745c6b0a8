"""Text-analysis operators for training-data pipelines (task mandate:
language-ID, quality scoring, token counting, document fingerprinting).

Everything here is pure ``pyspark.sql.functions`` — JVM-side, inside
whole-stage codegen, no Python workers.  At 100 TB these run at parquet-scan
speed with full predicate pushdown / column pruning; the only shuffles are
the final small aggregations (per-lang / per-source rows) and the tiny
broadcast profile join in language-ID.

Determinism discipline (driver gate hashes values): every floating-point
output is a single division of two exactly-aggregated integer sums, so Spark
and the DuckDB oracle produce bit-identical doubles regardless of
partitioning / aggregation order.  No float is ever summed across rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from sketchlib.spark.shipping import ensure_on_workers

#: tiny fixed "function word" list used for the stopword-ratio quality
#: signal (the synthetic corpus vocabulary includes these fillers).
STOPWORDS = ["a", "the", "and", "of", "to", "in"]


def with_tokens(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace tokenization (split + drop empties) — the shared front-end
    of every operator in this module."""
    toks = F.filter(F.split(F.col(text_col), " "), lambda w: w != "")
    return df.withColumn("tokens", toks)


def bind_once(arr, fn):
    """Evaluate the array expression ``arr`` ONCE and pass it to ``fn`` as a
    lambda variable: ``transform(array(arr), x -> fn(x))[1]``.

    Why this exists: higher-order functions (transform/filter/
    array_distinct with lambdas) are NOT whole-stage-codegen'd, and inside
    an interpreted Filter condition Catalyst performs no common-
    subexpression elimination — every column reference re-inlines its
    defining expression, so a predicate that mentions ``tokens`` six times
    re-runs ``split(text)`` six times (measured: the curate quality filter
    could not finish 550k pages in 10 min; bound form does it in ~30 s at
    the same parallelism).  Binding through a lambda variable forces
    single evaluation while staying a pure expression — no plan barriers,
    no non-deterministic pushdown hacks."""
    return F.element_at(F.transform(F.array(arr), fn), 1)


def quality_keep_expr(
    text_col: str = "text",
    min_tokens: int = 10,
    max_rep_frac: float = 0.2,
    rep_ngram: int = 3,
) -> F.Column:
    """Boolean keep-predicate for the standard webtext quality gate:
    >= ``min_tokens`` whitespace tokens AND duplicate-``rep_ngram``-gram
    ratio <= ``max_rep_frac`` (the Gopher/C4 repetition rule, integer
    cross-multiply — ``max_rep_frac`` quantized to 1/1000).  NULL text is
    dropped.  Duplicate counting runs in the chained-xxhash64 space (each
    token string-hashed ONCE, then one long-hash per position — no n-gram
    strings; equal to the string count up to ~s²/2^65 within-doc
    collisions), and the token array is evaluated once via
    :func:`bind_once` — together ~20x the naive string-n-gram filter on
    real page text.  Pure expression: composes into any Filter/Project,
    runs on a readStream."""
    num = int(round(max_rep_frac * 1000))
    ng = rep_ngram
    tokens = F.filter(F.split(F.col(text_col), " "), lambda w: w != "")

    def pred(tk):
        def dup_ok(th):
            nt = (F.size(th) - (ng - 1)).cast("long")
            nd = F.size(F.array_distinct(F.transform(
                F.sequence(F.lit(1), F.size(th) - (ng - 1)),
                lambda i: F.xxhash64(*[F.element_at(th, i + k)
                                       for k in range(ng)]),
            ))).cast("long")
            return (nt - nd) * 1000 <= nt * num

        return (F.size(tk) >= min_tokens) & (
            F.when(F.size(tk) >= ng,
                   bind_once(F.transform(tk, lambda t: F.xxhash64(t)), dup_ok))
            .otherwise(F.lit(True)))

    return F.col(text_col).isNotNull() & bind_once(tokens, pred)


def token_stats(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document token counting + quality counters (all exact integers):

    n_tokens, n_uniq_tokens, n_stopwords, max_token_len, n_chars_nospace.
    """
    d = with_tokens(df, text_col)
    stop = F.array(*[F.lit(s) for s in STOPWORDS])
    return d.select(
        F.col(id_col),
        F.size("tokens").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("tokens")).cast("long").alias("n_uniq_tokens"),
        F.size(F.filter("tokens", lambda w: F.array_contains(stop, w)))
        .cast("long")
        .alias("n_stopwords"),
        F.array_max(F.transform("tokens", lambda w: F.length(w)))
        .cast("long")
        .alias("max_token_len"),
        F.aggregate(
            F.transform("tokens", lambda w: F.length(w).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("n_chars_nospace"),
    )


def quality_by_lang(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus quality scoring per lang.  Ratios are one division of two
    exact BIGINT sums — deterministic under any partitioning."""
    stats = token_stats(with_tokens(df, text_col).select("lang", "doc_id", text_col), "doc_id")
    joined = df.select("doc_id", "lang").join(stats, "doc_id")
    agg = joined.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
        F.sum("n_uniq_tokens").alias("sum_uniq_tokens"),
        F.sum("n_stopwords").alias("sum_stopwords"),
        F.sum("n_chars_nospace").alias("sum_chars"),
    )
    return agg.select(
        "lang",
        "n_docs",
        "sum_tokens",
        (F.col("sum_stopwords") / F.col("sum_tokens")).alias("stopword_ratio"),
        (F.col("sum_uniq_tokens") / F.col("sum_tokens")).alias("uniq_ratio"),
        (F.col("sum_chars") / F.col("sum_tokens")).alias("mean_token_len"),
    )


def lang_id_confusion(df: DataFrame, text_col: str = "text",
                      profile_top_k: int = 4096) -> DataFrame:
    """Language-ID by unigram frequency profile (the n-gram heuristic with
    n=1 over a closed vocabulary), evaluated as a confusion matrix against
    the labeled ``lang`` column.

    Profile = occurrence count per (lang, word) over the corpus, CAPPED to
    the ``profile_top_k`` most frequent words per language (ties broken by
    word) before the broadcast hint — on real web text the raw (lang × word)
    table is unbounded vocabulary and not broadcastable; the cap makes the
    broadcast ≤ langs × K rows by construction (langID literature uses
    top-K profiles anyway, Cavnar-Trenkle style).  A document's score for
    candidate language L is the integer sum of profile counts of its tokens;
    the prediction is the max-score language, ties broken lexicographically.
    At scale: tokens explode is map-side; the profile join is a broadcast
    hash join; the only wide shuffle is groupBy(doc_id, cand) on integer
    rows.
    """
    toks = (
        with_tokens(df.select("doc_id", "lang", text_col), text_col)
        .select("doc_id", "lang", F.explode("tokens").alias("word"))
    )
    profile = toks.groupBy(F.col("lang").alias("cand"), "word").agg(
        F.count("*").alias("cnt")
    )
    wk = Window.partitionBy("cand").orderBy(F.desc("cnt"), F.asc("word"))
    profile = (
        profile.withColumn("_rk", F.row_number().over(wk))
        .filter(F.col("_rk") <= profile_top_k)
        .drop("_rk")
    )
    scores = (
        toks.select("doc_id", "word")
        .join(F.broadcast(profile), "word")
        .groupBy("doc_id", "cand")
        .agg(F.sum("cnt").alias("score"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("cand"))
    pred = (
        scores.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("doc_id", F.col("cand").alias("predicted"))
    )
    return (
        df.select("doc_id", "lang")
        .join(pred, "doc_id")
        .groupBy("lang", "predicted")
        .agg(F.count("*").alias("n_docs"))
    )


def fingerprint_docs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", ngram: int = 5
) -> DataFrame:
    """Document fingerprinting: winnowing-style — the minimum hash over the
    document's word ``ngram``-shingles, where the shingle hash is the first
    16 hex chars of md5 (engine-portable, unlike xxhash64 which DuckDB
    lacks).  Documents shorter than ``ngram`` tokens hash the whole text.

    A fingerprint collision is a strong near-duplicate containment signal
    (it is MinHash with one permutation); groupBy(fingerprint) is the
    cheapest first-pass near-dup blocking key at 100 TB scale.
    """
    d = with_tokens(df.select(id_col, text_col), text_col)
    sh = F.transform(
        F.sequence(F.lit(1), F.size("tokens") - (ngram - 1)),
        lambda i: F.substring(
            F.md5(F.encode(F.concat_ws(" ", F.slice("tokens", i, ngram)), "UTF-8")),
            1,
            16,
        ),
    )
    return d.select(
        F.col(id_col),
        F.when(F.size("tokens") >= ngram, F.array_min(sh))
        .otherwise(F.substring(F.md5(F.encode(F.col(text_col), "UTF-8")), 1, 16))
        .alias("fingerprint"),
        F.size("tokens").cast("long").alias("n_tokens"),
    )


def doc_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", ngram: int = 5
) -> DataFrame:
    """Per-document feature extraction in ONE projection: the token/quality
    counters of :func:`token_stats` plus the winnowing fingerprint of
    :func:`fingerprint_docs`, all computed from a single tokens array over a
    single 2-column scan — at 100 TB this is strictly cheaper than running
    the two operators separately and joining (no second scan, no join
    shuffle; doc-grain outputs never need one)."""
    d = with_tokens(df.select(id_col, text_col), text_col)
    stop = F.array(*[F.lit(s) for s in STOPWORDS])
    sh = F.transform(
        F.sequence(F.lit(1), F.size("tokens") - (ngram - 1)),
        lambda i: F.substring(
            F.md5(F.encode(F.concat_ws(" ", F.slice("tokens", i, ngram)), "UTF-8")),
            1,
            16,
        ),
    )
    return d.select(
        F.col(id_col),
        F.size("tokens").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("tokens")).cast("long").alias("n_uniq_tokens"),
        F.size(F.filter("tokens", lambda w: F.array_contains(stop, w)))
        .cast("long")
        .alias("n_stopwords"),
        F.array_max(F.transform("tokens", lambda w: F.length(w)))
        .cast("long")
        .alias("max_token_len"),
        F.aggregate(
            F.transform("tokens", lambda w: F.length(w).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("n_chars_nospace"),
        F.when(F.size("tokens") >= ngram, F.array_min(sh))
        .otherwise(F.substring(F.md5(F.encode(F.col(text_col), "UTF-8")), 1, 16))
        .alias("fingerprint"),
    )


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "lang",
    ngram: int = 3,
    flag_num: int = 2,
    flag_den: int = 10,
) -> DataFrame:
    """Within-document repetition filter (the Gopher/C4-style "fraction of
    duplicate n-grams" quality rule): per ``group_col``, how many documents
    exceed a duplicate-``ngram`` ratio of flag_num/flag_den (default 0.2),
    plus the corpus-level duplicate mass.

    All counters are exact BIGINTs computed inside ONE projection — total
    n-grams is ``len - ngram + 1`` read off the token array, distinct
    n-grams is ``size(array_distinct(...))``, and the flag test is the
    integer cross-multiply ``dup * flag_den > total * flag_num`` (no float
    compares anywhere).  The only float output, dup_ratio, is a single
    division of two exactly-aggregated BIGINT sums — bit-identical across
    engines and partitionings.  The shuffle is one tiny per-group row.

    Per-row work: the token array is lambda-bound (:func:`bind_once` —
    higher-order expressions are interpreted and re-inline ``split(text)``
    per reference otherwise) and distinct counting runs on chained
    xxhash64 longs, never n-gram strings — equal to the string count up to
    ~s²/2^65 within-doc collisions (the DuckDB oracle counts by CONTENT;
    the driver gate stays EXACT at any realistic scale).
    """
    ng = ngram

    def stats(tk):
        def on_hashes(th):
            nt = (F.size(th) - (ng - 1)).cast("long")
            nd = F.size(F.array_distinct(F.transform(
                F.sequence(F.lit(1), F.size(th) - (ng - 1)),
                lambda i: F.xxhash64(*[F.element_at(th, i + k)
                                       for k in range(ng)]),
            ))).cast("long")
            return F.struct(nt.alias("n"), (nt - nd).alias("dup"))

        return F.when(
            F.size(tk) >= ng,
            bind_once(F.transform(tk, lambda t: F.xxhash64(t)), on_hashes),
        ).otherwise(F.struct(F.lit(0).cast("long").alias("n"),
                             F.lit(0).cast("long").alias("dup")))

    d = with_tokens(df.select(group_col, text_col), text_col)
    per_doc = d.select(
        group_col, bind_once(F.col("tokens"), stats).alias("_s")
    ).select(group_col, F.col("_s.n").alias("_n"), F.col("_s.dup").alias("_dup"))
    flagged = (
        (F.col("_dup") * F.lit(flag_den) > F.col("_n") * F.lit(flag_num))
        .cast("long")
    )
    return (
        per_doc.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(flagged).alias("n_flagged"),
            F.sum("_n").alias("sum_ngrams"),
            F.sum("_dup").alias("sum_dup_ngrams"),
        )
        .select(
            group_col,
            "n_docs",
            "n_flagged",
            "sum_ngrams",
            "sum_dup_ngrams",
            (
                F.col("sum_dup_ngrams").cast("double")
                / F.col("sum_ngrams").cast("double")
            ).alias("dup_ratio"),
        )
    )


def distinctive_terms(
    df: DataFrame,
    group_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 3,
    approx_df: bool = False,
) -> DataFrame:
    """Distinctive-vocabulary extraction: per ``group_col``, the ``top_k``
    terms ranked by a TF-IDF-style score ``tf_in_group / df_corpus`` (term
    frequency inside the group over the number of distinct documents
    containing the term corpus-wide).  The score is ONE division of two
    exactly-aggregated BIGINTs — a deterministic double — and ties break on
    the term ascending, so the ranking is engine-portable and
    hash-gateable.

    Scale design: token explosion and both counts are pure JVM codegen; tf
    shuffles (group, term) partial counts (map-side combined), df shuffles
    DISTINCT (term, doc) pairs.  The tf⋈df stitch is keyed on the term —
    vocab-sized, which Spark/AQE broadcast when small.  At web scale exact
    per-term doc counts are the expensive half; ``approx_df=True`` switches
    df to ``approx_count_distinct`` (HLL, one pass, no distinct shuffle) —
    ranking then inherits HLL error, which is why the gated query keeps the
    exact mode.  The final top-k is a per-group window over the vocab-sized
    score table (WindowGroupLimit pushes the limit below the Exchange).
    """
    toks = with_tokens(df.select(id_col, group_col, text_col), text_col).select(
        id_col, group_col, F.explode("tokens").alias("term")
    )
    tf = toks.groupBy(group_col, "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    if approx_df:
        dfreq = toks.groupBy("term").agg(
            F.approx_count_distinct(id_col).cast("long").alias("df")
        )
    else:
        dfreq = (
            toks.select("term", id_col)
            .distinct()
            .groupBy("term")
            .agg(F.count(F.lit(1)).cast("long").alias("df"))
        )
    scored = tf.join(dfreq, "term").select(
        group_col,
        "term",
        "tf",
        "df",
        (F.col("tf").cast("double") / F.col("df").cast("double")).alias("score"),
    )
    w = Window.partitionBy(group_col).orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_k)
        .select(group_col, "term", "tf", "df", "score", F.col("rn").cast("long").alias("rank"))
    )


def pack_sequences(
    df: DataFrame,
    ctx_len: int = 512,
    n_buckets: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_count=None,
) -> DataFrame:
    """Sequence packing (concat-and-chunk): assign every document its
    position in fixed-``ctx_len`` training chunks — the tokenizer-feeding
    step of an LLM data pipeline.  Documents are concatenated in
    deterministic ``id_col`` order within ``n_buckets`` hash buckets and
    the chunk grid is laid over the token stream; each doc reports the
    chunk it starts in, its offset there, and how many chunks it spans.

    Scale design: packing is inherently sequential, so the global stream
    is sharded into hash buckets that pack INDEPENDENTLY (standard
    practice — each bucket is one worker's stream).  The plan is one
    window cumsum per bucket (PARTITION BY bucket ORDER BY id): the
    shuffle is one hash Exchange of (id, n_tokens) pairs — no global
    sort, no driver state, and bucket count scales with the cluster.
    Tokenizer-agnostic: by default token counts are whitespace-split sizes,
    but ``token_count`` accepts ANY integer Column expression over ``df``
    (a real tokenizer's precomputed count column, a BPE estimate, ...) —
    the packing arithmetic never assumes how tokens were counted.
    """
    if token_count is not None:
        n_tok = token_count.cast("long")
        d = df
    else:
        d = with_tokens(df.select(id_col, text_col), text_col)
        n_tok = F.size("tokens").cast("long")
    # bucket from an md5-derived 32-bit hash of the id's decimal string —
    # engine-portable (the DuckDB oracle reproduces it bit-for-bit), same
    # idiom as sampling.stratified_hash_sample
    h32 = F.conv(
        F.substring(F.md5(F.encode(F.col(id_col).cast("string"), "UTF-8")), 1, 8),
        16, 10,
    ).cast("long")
    toks = d.select(
        F.col(id_col),
        F.pmod(h32, F.lit(n_buckets)).cast("long").alias("bucket"),
        F.greatest(n_tok, F.lit(0).cast("long")).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = toks.withColumn("_end", F.sum("n_tokens").over(w))
    start = F.col("_end") - F.col("n_tokens")
    first_chunk = F.floor(start / ctx_len).cast("long")
    last_chunk = F.floor((F.col("_end") - 1) / ctx_len).cast("long")
    return run.select(
        id_col,
        "bucket",
        "n_tokens",
        first_chunk.alias("chunk_id"),
        (start % ctx_len).cast("long").alias("offset_in_chunk"),
        F.when(F.col("n_tokens") == 0, F.lit(0).cast("long"))
        .otherwise(last_chunk - first_chunk + 1)
        .alias("n_chunks_spanned"),
    )


# ---------------------------------------------------------------------------
# CCNet-style LM quality scoring + digest-driven corpus bucketing
# ---------------------------------------------------------------------------


def _top_k(df: DataFrame, keys: list, k: int, *order) -> DataFrame:
    """The first ``k`` rows per ``keys`` group under the total ``order``."""
    if keys:
        w = Window.partitionBy(*keys).orderBy(*order)
        return (df.withColumn("_rk", F.row_number().over(w))
                .filter(F.col("_rk") <= k).drop("_rk"))
    # global model: sort+limit compiles to TakeOrderedAndProject
    # (distributed partial top-k) — a keyless row_number window would
    # drag the whole vocabulary through ONE task
    return df.orderBy(*order).limit(k)


def _lp_units(lp: "F.Column", quantize: int | None) -> "F.Column":
    # integer micro-nat (10^-q) units: per-doc sums become exact long
    # arithmetic — identical on any partition layout or engine
    if quantize is None:
        return lp
    return F.round(lp * float(10**quantize)).cast("long")


def _token_ngrams(order: int) -> "F.Column":
    """Per-token struct (word, ctx1, .., ctx{order-1}) computed INSIDE the
    tokens array: ``ctx_j`` is the space-join of the ``j`` preceding tokens
    (NULL when fewer than ``j`` precede; ``F.get`` is 0-based and NULL out
    of bounds).  Tokens are whitespace-split, so the space-join is
    collision-free; this is a pure JVM projection at scan grain — no
    window, no shuffle, any order."""
    def fields(w, i):
        fs = [w.alias("word")]
        for j in range(1, order):
            parts = [F.get(F.col("tokens"), i - k) for k in range(j, 0, -1)]
            ctx = parts[0] if j == 1 else F.concat_ws(" ", *parts)
            fs.append(F.when(i >= j, ctx).alias(f"ctx{j}"))
        return F.struct(*fs)

    return F.transform(F.col("tokens"), fields)


def train_ngram_model(
    ref: DataFrame,
    order: int = 3,
    lang_col: str | None = "lang",
    text_col: str = "text",
    vocab_top_k: int = 65536,
    ngram_top_k: int = 262144,
    alpha: float = 0.5,
    quantize: int | None = None,
    min_count: int = 1,
    context_top_k: int | None = None,
) -> DataFrame:
    """Train the stupid-backoff LM of any ``order`` used by
    ``ngram_logprob_score`` and return ONE storable table ([lang], ctx,
    word, lp).  Write it once with ``df.write.parquet`` and every future
    batch/stream scores against it without rescanning the reference corpus
    (CCNet's train-on-Wikipedia / score-Common-Crawl split).

    - ``ctx IS NULL`` → the unigram level, the whole model at ``order=1``:
      per ``lang_col`` (pass ``lang_col=None`` for one global model) token
      counts capped to the ``vocab_top_k`` most frequent words (tie-break
      word ASC), add-``alpha`` smoothing over vocab + one OOV bucket —
      p(w) = (cnt + alpha) / (total + alpha·(V+1)), the ``word IS NULL``
      row gets alpha / (total + alpha·(V+1)).
    - a ``ctx`` of ``j`` space-joined words → the (j+1)-gram rows with
      lp = ln(cnt(ctx,word)/cnt(ctx)), the stupid-backoff relative
      frequency (Brants et al. 2007, "Large Language Models in Machine
      Translation"): NO normalization across the backoff — the published
      web-scale choice precisely because training stays one explode of
      the per-token context struct feeding ``order-1`` independent
      pair-count aggregates, embarrassingly parallel at any order.

    Each level above 1 is capped independently at ``ngram_top_k`` rows per
    lang (total-ordered tie-break cnt DESC, ctx, word), with context totals
    computed over ALL n-grams BEFORE capping, so stored probabilities stay
    true relative frequencies whichever rows survive.  ``min_count`` prunes
    rarer n-grams BEFORE the cap — at web scale the n-gram vocabulary is
    hapax-dominated, so ``min_count=2`` typically halves the window input.
    ``context_top_k=K`` additionally keeps only the K most frequent
    CONTEXTS per lang per level (by total context count, tie-break ctx
    ASC) before the row cap: a rare context's continuations are noise the
    backoff chain handles better than a stored 1-count estimate — a
    dropped context simply backs off one level (one ln(backoff) penalty),
    exactly as if it had never been seen.  ``quantize=q`` stores integer
    10^-q-nat log-probs (exact arithmetic downstream).  ≤ langs × (K+1)
    rows at order 1 by construction."""
    if order < 1:
        raise ValueError(f"train_ngram_model: order must be >= 1, got {order}")
    keys = [lang_col] if lang_col else []
    toks = with_tokens(ref.select(*keys, text_col), text_col)
    null_ctx = F.lit(None).cast("string").alias("ctx")
    counts = (
        toks.select(*keys, F.explode("tokens").alias("word"))
        .groupBy(*keys, "word").agg(F.count("*").alias("cnt"))
    )
    vocab = _top_k(counts, keys, vocab_top_k, F.desc("cnt"), F.asc("word"))
    totals = vocab.groupBy(*keys).agg(
        F.sum("cnt").alias("_total"), F.count("*").alias("_v")
    )
    denom = F.col("_total") + F.lit(alpha) * (F.col("_v") + F.lit(1.0))
    word_rows = vocab.join(
        totals, keys or None, "inner" if keys else "cross"
    ).select(*keys, null_ctx, "word",
             _lp_units(F.log((F.col("cnt") + F.lit(alpha)) / denom),
                       quantize).alias("lp"))
    oov_rows = totals.select(
        *keys, null_ctx, F.lit(None).cast("string").alias("word"),
        _lp_units(F.log(F.lit(alpha) / denom), quantize).alias("lp"),
    )
    out = word_rows.unionByName(oov_rows)
    base = toks.select(*keys, F.explode(_token_ngrams(order)).alias("_p"))
    for j in range(2, order + 1):
        grams = base.select(
            *keys,
            F.col(f"_p.ctx{j - 1}").alias("ctx"),
            F.col("_p.word").alias("word"),
        ).filter(F.col("ctx").isNotNull())
        cnt = grams.groupBy(*keys, "ctx", "word").agg(F.count("*").alias("cnt"))
        tot = cnt.groupBy(*keys, "ctx").agg(F.sum("cnt").alias("_tot"))
        if context_top_k is not None:
            # prune to the K hottest contexts BEFORE the row cap; `tot` is
            # one row per context, so this ranks contexts, not rows
            tot = _top_k(tot, keys, context_top_k, F.desc("_tot"), F.asc("ctx"))
        if min_count > 1:
            cnt = cnt.filter(F.col("cnt") >= min_count)
        capped = _top_k(cnt.join(tot, keys + ["ctx"]), keys, ngram_top_k,
                        F.desc("cnt"), F.asc("ctx"), F.asc("word"))
        out = out.unionByName(capped.select(
            *keys, "ctx", "word",
            _lp_units(F.log(F.col("cnt") / F.col("_tot")), quantize).alias("lp"),
        ))
    return out


def _model_table(model: DataFrame, quantize: int | None) -> DataFrame:
    """The one entry check of every scorer: the model's lp type must match
    ``quantize``, and a table stored before the ``ctx`` column existed —
    ([lang], word, lp) — reads as the order-1 model it is."""
    lp_type = dict(model.dtypes)["lp"]
    if (lp_type == "bigint") != (quantize is not None):
        raise ValueError(
            f"model lp column is {lp_type} but quantize={quantize}: pass the "
            "same quantize= the model was trained with"
        )
    if "ctx" in model.columns:
        return model
    return model.withColumn("ctx", F.lit(None).cast("string"))


def _backoff_units(backoff: float, quantize: int | None):
    import math

    if quantize is None:
        return math.log(backoff)
    return int(round(math.log(backoff) * 10**quantize))


def ngram_logprob_score(
    df: DataFrame,
    ref: DataFrame | None = None,
    order: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str | None = "lang",
    vocab_top_k: int = 65536,
    ngram_top_k: int = 262144,
    alpha: float = 0.5,
    quantize: int | None = None,
    backoff: float = 0.4,
    model: DataFrame | None = None,
) -> DataFrame:
    """CCNet-style language-model quality score: the mean negative log
    probability of a document's tokens under a stupid-backoff n-gram model
    of ``order`` trained on a REFERENCE corpus (``ref``, default ``df``
    itself; CCNet scores Common-Crawl against a Wikipedia-trained KenLM —
    stupid backoff keeps this operator pure-DataFrame and bit-checkable
    while the plumbing — train on ref, broadcast the model, score at scan
    grain — is exactly the production shape).  Pass ``model=`` (a
    ``train_ngram_model`` result, e.g. read back from parquet) to skip
    training; ``quantize`` must then match the stored model's.

    Returns (id, [lang], n_tokens, logprob_per_token); LOWER is more
    fluent, and empty docs and docs whose lang has no model row score
    (0, NULL).  Per-token score walks the backoff chain top-down: the
    stored (j+1)-gram lp when (ctx_j, word) is in the model, else
    ln(``backoff``) + the j-gram score, down to the unigram lp or the OOV
    bucket — penalties accumulate per missed level, and a position with
    fewer than ``j`` preceding tokens skips level j+1 WITHOUT penalty (a
    doc's first token is pure unigram).  ``order=1`` is the plain unigram
    model.

    Plan: per-token contexts are an in-array JVM projection
    (``_token_ngrams`` — no window, no extra shuffle), every model level
    joins as a broadcast, and the only wide shuffle is the per-doc
    aggregate behind a map-side partial — the same plan as one sketch
    build.  ``quantize=q`` rounds each token's log-prob to integer units
    of 10^-q nats, making the per-doc score EXACT integer arithmetic (one
    final IEEE division): bit-identical on any partition layout, addition
    order, or engine (a raw float sum is order-dependent at ~1e-16, which
    turns exact ties between duplicate documents into nondeterministic
    near-ties — fatal for reproducible corpus splits and for oracle
    checking).  q=6 (micro-nats) keeps per-token quantization error below
    5e-7 while 10^4-token docs still sum < 2^53.  Gated as
    ``lm_quality_buckets`` (order 1), ``lm_bigram_score`` and
    ``lm_trigram_score``."""
    if order < 1:
        raise ValueError(f"ngram_logprob_score: order must be >= 1, got {order}")
    keys = [lang_col] if lang_col else []
    if model is None:
        model = train_ngram_model(
            df if ref is None else ref, order, lang_col, text_col,
            vocab_top_k, ngram_top_k, alpha, quantize,
        )
    else:
        model = _model_table(model, quantize)
    bq = F.lit(_backoff_units(backoff, quantize))
    zero = F.lit(0).cast("long") if quantize is not None else F.lit(0.0)
    uni = model.filter(F.col("ctx").isNull() & F.col("word").isNotNull()).select(
        *keys, "word", F.col("lp").alias("_uni")
    )
    oov = model.filter(F.col("ctx").isNull() & F.col("word").isNull()).select(
        *keys, F.col("lp").alias("_oov")
    )
    # explode_OUTER keeps empty/NULL-text docs as one word-NULL row, and the
    # OOV join is LEFT so docs whose lang has no model row keep their rows
    # too: every doc reaches the aggregate, so there is NO row-scale
    # join-back to restore (0, NULL) rows — that join was a SortMergeJoin +
    # an extra full-corpus Exchange (plan-audited out).  A row counts as a
    # scored token only when it has a word AND its lang has a model
    # (`valid`); docs with zero valid rows score (0, NULL).
    toks = (
        with_tokens(df.select(id_col, *keys, text_col), text_col)
        .select(id_col, *keys, F.explode_outer(_token_ngrams(order)).alias("_p"))
        .select(id_col, *keys, F.col("_p.word").alias("word"),
                *[F.col(f"_p.ctx{j}").alias(f"ctx{j}") for j in range(1, order)])
    )
    joined = toks
    for j in range(2, order + 1):
        # level-j rows: ctx has exactly j-1 space-separated words
        lv = model.filter(
            F.col("ctx").isNotNull()
            & (F.size(F.split(F.col("ctx"), " ")) == j - 1)
        ).select(
            *keys, F.col("ctx").alias(f"ctx{j - 1}"), "word",
            F.col("lp").alias(f"_g{j}"),
        )
        joined = joined.join(
            F.broadcast(lv), keys + [f"ctx{j - 1}", "word"], "left")
    joined = joined.join(F.broadcast(uni), keys + ["word"], "left")
    joined = (joined.join(F.broadcast(oov), keys, "left") if keys
              else joined.crossJoin(F.broadcast(oov)))
    valid = F.col("word").isNotNull() & F.col("_oov").isNotNull()
    # backoff chain bottom-up: unigram base, then each level wraps it
    lp = F.coalesce("_uni", "_oov")
    for j in range(2, order + 1):
        pen = F.when(F.col(f"ctx{j - 1}").isNull(), zero).otherwise(bq)
        lp = F.when(F.col(f"_g{j}").isNotNull(), F.col(f"_g{j}")).otherwise(
            pen + lp
        )
    joined = joined.withColumn("_lp", F.when(valid, lp))
    n_expr = F.sum(valid.cast("long"))
    score_expr = -F.sum("_lp") / n_expr
    if quantize is not None:
        # ONE float division of two exact integers — deterministic
        score_expr = score_expr / F.lit(float(10**quantize))
    return joined.groupBy(id_col, *keys).agg(
        n_expr.cast("long").alias("n_tokens"),
        F.when(n_expr > 0, score_expr).alias("logprob_per_token"),
    )


def _ngram_level_dicts(rows_iter):
    """(lang, ctx, word, lp) rows -> (uni, oov, levels) where ``levels[j]``
    maps lang -> {(ctx_word_1, .., ctx_word_j, word): lp} for context
    length j.  Tuple keys avoid re-joining strings in the scoring loop;
    the stored model's space-joined ctx splits back losslessly because
    tokens are whitespace-split."""
    uni: dict = {}
    oov: dict = {}
    levels: dict = {}
    for lang, c, w, lp in rows_iter:
        if c is not None:
            cw = tuple(c.split(" "))
            levels.setdefault(len(cw), {}).setdefault(lang, {})[cw + (w,)] = lp
        elif w is None:
            oov[lang] = lp
        else:
            uni.setdefault(lang, {})[w] = lp
    return uni, oov, levels


def score_with_stored_ngram(
    df: DataFrame,
    model: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str | None = "lang",
    quantize: int | None = 6,
    backoff: float = 0.4,
    max_broadcast_rows: int | None = 2_000_000,
) -> DataFrame:
    """Score documents against a STORED n-gram model of ANY order with
    ZERO shuffle (the order is implied by the model's deepest context — no
    parameter to get wrong): the capped model table is collected once,
    broadcast as per-level dicts, and scoring is one stateless
    Arrow-batched ``mapInPandas`` over the scan — no explode, no join, no
    aggregate.  Because it is stateless it runs unchanged on a
    ``readStream`` (no watermark, no state store): the production shape
    for scoring a live crawl against last month's model.  With
    ``quantize`` (must match the model's) results are BIT-IDENTICAL to
    ``ngram_logprob_score(df, model=...)`` at the model's order — asserted
    in pytest.  Same output contract as ``ngram_logprob_score``.

    The broadcast dict is the scale trade: ~60 MB per million model rows
    on every executor.  ``max_broadcast_rows`` (default 2M ≈ 30 langs at
    K=65536) guards against silently shipping a giant model — above it
    this raises, and ``score_with_ngram_path`` (executor-side read) or the
    broadcast-JOIN path (``ngram_logprob_score`` with ``model=``, fully
    JVM, no driver collect) is the right plan."""
    model = _model_table(model, quantize)
    if max_broadcast_rows is not None:
        n_model = model.count()  # model tables are KB-MB parquet — cheap
        if n_model > max_broadcast_rows:
            raise ValueError(
                f"model has {n_model} rows > max_broadcast_rows="
                f"{max_broadcast_rows}: use score_with_ngram_path "
                "(executor-side read, no broadcast) or ngram_logprob_score"
                "(df, model=model) (broadcast-join path, fully JVM), or "
                "raise/disable the guard explicitly"
            )
    packed = _ngram_level_dicts(
        (r[lang_col] if lang_col else None, r["ctx"], r["word"], r["lp"])
        for r in model.collect()
    )
    bc = df.sparkSession.sparkContext.broadcast(packed)
    return _apply_ngram_kernel(df, lambda: bc.value, id_col, text_col,
                               lang_col, quantize, backoff)


#: worker-side (path, lang_col) -> (uni, oov, levels) cache; python workers
#: are long-lived (spark.python.worker.reuse), so each worker pays the
#: model read once per job, not once per task
_WORKER_MODEL_CACHE: dict = {}


def _load_ngram_dicts(path: str, lang_col: str | None, schema):
    """worker-side columnar read of a stored model table in the arrow
    ``schema`` of its ``_model_table`` (a column the files lack reads as
    NULLs) -> (uni, oov, levels), cached per worker."""
    key = (path, lang_col)
    hit = _WORKER_MODEL_CACHE.get(key)
    if hit is not None:
        return hit
    import pyarrow.dataset as ds

    tbl = ds.dataset(path, format="parquet", schema=schema).to_table()
    langs = (tbl[lang_col].to_pylist() if lang_col
             else [None] * tbl.num_rows)
    packed = _ngram_level_dicts(zip(
        langs, tbl["ctx"].to_pylist(), tbl["word"].to_pylist(),
        tbl["lp"].to_pylist()))
    if len(_WORKER_MODEL_CACHE) >= 3:  # bound worker memory across jobs
        _WORKER_MODEL_CACHE.clear()
    _WORKER_MODEL_CACHE[key] = packed
    return packed


def score_with_ngram_path(
    df: DataFrame,
    model_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str | None = "lang",
    quantize: int | None = 6,
    backoff: float = 0.4,
) -> DataFrame:
    """The big-model variant of :func:`score_with_stored_ngram`: instead
    of driver-collecting and broadcasting the model, each executor-side
    Python WORKER reads the stored model parquet itself (pyarrow, pruned
    to the model columns) and caches the dicts for the life of the worker
    — no driver collect, no broadcast, so a 10M-row multi-language model
    costs the driver nothing and each worker one pruned columnar read.
    Same stateless zero-shuffle plan, same streaming capability, and
    BIT-IDENTICAL output to both other paths under ``quantize``
    (pytest-gated).  ``model_path`` must be readable from the executors
    (shared FS / object store — the normal cluster arrangement)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    model = _model_table(df.sparkSession.read.parquet(model_path), quantize)
    cols = ([lang_col] if lang_col else []) + ["ctx", "word", "lp"]
    schema = to_arrow_schema(model.select(*cols).schema)
    return _apply_ngram_kernel(
        df, lambda: _load_ngram_dicts(model_path, lang_col, schema),
        id_col, text_col, lang_col, quantize, backoff)


def _apply_ngram_kernel(df, get_model, id_col, text_col, lang_col,
                        quantize, backoff):
    """Arrow-batched any-order stupid-backoff scoring kernel: per token,
    walk the backoff chain from the deepest context the model stores (and
    the position allows) down to the unigram/OOV base, adding one backoff
    penalty per missed level — the exact semantics of the
    ``ngram_logprob_score`` join chain, in one pass over the tokens."""
    id_type = dict(df.dtypes)[id_col]
    lang_field = f"{lang_col} string, " if lang_col else ""
    schema = (f"{id_col} {id_type}, {lang_field}"
              "n_tokens long, logprob_per_token double")
    bq = _backoff_units(backoff, quantize)
    scale = float(10**quantize) if quantize is not None else None

    def score_batches(batches):
        from itertools import repeat

        import pandas as pd

        uni_, oov_, levels_ = get_model()
        max_ctx = max(levels_, default=0)
        bq2 = bq + bq
        lv1_all = levels_.get(1, {})
        lv2_all = levels_.get(2, {})
        _EMPTY: dict = {}
        for pdf in batches:
            out_n, out_s = [], []
            langs = pdf[lang_col] if lang_col else [None] * len(pdf)
            for text, lang in zip(pdf[text_col], langs):
                toks = (text or "").split(" ")
                if "" in toks:  # only pay the filter on irregular spacing
                    toks = [w for w in toks if w]
                m = uni_.get(lang)
                o = oov_.get(lang)
                if not toks or o is None:
                    out_n.append(0)
                    out_s.append(None)
                    continue
                if max_ctx == 0:
                    # unigram model: sum(map(dict.get, toks, repeat(oov)))
                    # is the whole score, one C-level lookup loop
                    s = sum(map(m.get, toks, repeat(o)))
                else:
                    u = list(map(m.get, toks, repeat(o)))
                if max_ctx == 2:
                    # trigram fast path: rolling (p2, p1) context vars, no
                    # per-token slicing — same chain as the generic loop
                    get2 = lv2_all.get(lang, _EMPTY).get
                    get1 = lv1_all.get(lang, _EMPTY).get
                    s = u[0]
                    p2 = None
                    p1 = toks[0]
                    for i in range(1, len(toks)):
                        w = toks[i]
                        if p2 is None:
                            g = get1((p1, w))
                            s += g if g is not None else bq + u[i]
                        else:
                            g = get2((p2, p1, w))
                            if g is not None:
                                s += g
                            else:
                                g = get1((p1, w))
                                s += (bq + g) if g is not None else bq2 + u[i]
                        p2 = p1
                        p1 = w
                elif max_ctx == 1:
                    # bigram fast path
                    get1 = lv1_all.get(lang, _EMPTY).get
                    s = u[0]
                    p1 = toks[0]
                    for i in range(1, len(toks)):
                        w = toks[i]
                        g = get1((p1, w))
                        s += g if g is not None else bq + u[i]
                        p1 = w
                elif max_ctx > 2:
                    lv = [None] + [levels_.get(j, {}).get(lang, _EMPTY)
                                   for j in range(1, max_ctx + 1)]
                    s = 0
                    for i, w in enumerate(toks):
                        acc = 0
                        lp = None
                        for j in range(min(max_ctx, i), 0, -1):
                            g = lv[j].get((*toks[i - j:i], w))
                            if g is not None:
                                lp = acc + g
                                break
                            acc += bq
                        s += lp if lp is not None else acc + u[i]
                n = len(toks)
                # same op order as the SQL path: (-s / n) / scale
                v = (-s) / n
                if scale is not None:
                    v = v / scale
                out_n.append(n)
                out_s.append(v)
            res = pd.DataFrame({id_col: pdf[id_col]})
            if lang_col:
                res[lang_col] = pdf[lang_col]
            res["n_tokens"] = pd.array(out_n, dtype="int64")
            res["logprob_per_token"] = pd.array(out_s, dtype="float64")
            yield res

    cols = [id_col] + ([lang_col] if lang_col else []) + [text_col]
    ensure_on_workers(df.sparkSession)
    return df.select(*cols).mapInPandas(score_batches, schema)


def quality_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    cuts: tuple[float, float] = (1.0 / 3.0, 2.0 / 3.0),
    with_cuts: bool = False,
    **score_kwargs,
) -> DataFrame:
    """CCNet's head/middle/tail corpus split, driven by our own sketches:
    score every doc with the unigram model (``ngram_logprob_score`` at
    ``order=1``), build one DISCRETE t-digest of scores per language
    (lossless → the cut points are exact per-lang score quantiles),
    broadcast the ≤|langs| threshold rows back, and bucket each doc with
    pure JVM comparisons — head = most fluent (lowest score) third, as
    CCNet keeps it.

    The whole plan is: score (one broadcast join + one aggregate) → digest
    build over the tiny (id, score) frame → 5-row broadcast → codegen CASE.
    No row-scale shuffle beyond the score aggregate itself; at 100 TB the
    thresholds are a stored KB artifact that new batches reuse, which is
    how a curriculum stays stable while the corpus grows.
    """
    if "model" not in score_kwargs:
        # the scores frame feeds BOTH the cut-table build and the bucket
        # labeling, so an inline-trained model would be re-derived once per
        # consumer (each re-derivation is a full training pass over the
        # reference corpus).  Train it once and cache the KB-scale table.
        ref = score_kwargs.pop("ref", None)
        train_kw = {
            k: score_kwargs.pop(k)
            for k in ("vocab_top_k", "alpha", "quantize")
            if k in score_kwargs
        }
        score_kwargs["model"] = train_ngram_model(
            df if ref is None else ref, 1, lang_col, text_col, **train_kw
        ).cache()
        score_kwargs["quantize"] = train_kw.get("quantize")
    scores = ngram_logprob_score(
        df, order=1, id_col=id_col, text_col=text_col, lang_col=lang_col,
        **score_kwargs,
    ).filter(F.col("logprob_per_token").isNotNull())
    thr = score_cut_table(scores, lang_col=lang_col, cuts=cuts)
    return bucket_by_cuts(scores, thr, id_col=id_col, lang_col=lang_col,
                          with_cuts=with_cuts)


def score_cut_table(
    scores: DataFrame,
    lang_col: str = "lang",
    cuts: tuple[float, float] = (1.0 / 3.0, 2.0 / 3.0),
    score_col: str = "logprob_per_token",
) -> DataFrame:
    """The STORED form of the corpus split: one DISCRETE t-digest of scores
    per language (lossless -> cut points are exact nearest-rank quantiles),
    reduced to a (lang, cut_lo, cut_hi) table of <=|langs| rows.  Write it
    once per curriculum epoch; :func:`bucket_by_cuts` then labels any later
    batch or stream against it with zero recomputation, which is how the
    head/middle/tail split stays STABLE while the corpus grows."""
    from sketchlib.spark.tdigest_ops import tdigest_aggregate, tdigest_quantiles_udf

    digs = tdigest_aggregate(scores, [lang_col], score_col, discrete=True)
    q = tdigest_quantiles_udf(list(cuts), discrete=True)
    return digs.select(
        lang_col,
        q("digest")[0].alias("cut_lo"),
        q("digest")[1].alias("cut_hi"),
    )


def bucket_by_cuts(
    scores: DataFrame,
    cut_table: DataFrame,
    id_col: str = "doc_id",
    lang_col: str = "lang",
    score_col: str = "logprob_per_token",
    with_cuts: bool = False,
) -> DataFrame:
    """Label scored docs head/middle/tail against a (lang, cut_lo, cut_hi)
    table (freshly built or read back from storage): a <=|langs|-row
    broadcast join + one codegen CASE — stateless, so it runs unchanged on
    a readStream.  head = most fluent (lowest score) third, as CCNet keeps
    it; score <= cut_lo -> head, <= cut_hi -> middle, else tail.  NULL
    scores (empty docs) and languages absent from the cut table label NULL
    — the left join keeps every input row."""
    extra = ([F.col("cut_lo"), F.col("cut_hi")] if with_cuts else [])
    return (
        scores.join(F.broadcast(cut_table), lang_col, "left")
        .select(
            id_col, lang_col, "n_tokens", F.col(score_col),
            F.when(F.col(score_col).isNull() | F.col("cut_lo").isNull(),
                   F.lit(None).cast("string"))
            .when(F.col(score_col) <= F.col("cut_lo"), "head")
            .when(F.col(score_col) <= F.col("cut_hi"), "middle")
            .otherwise("tail")
            .alias("bucket"),
            *extra,
        )
    )


# Engine-portable PII patterns: Java regex (Spark) and RE2 (DuckDB, the
# oracle) agree on every construct used here — ASCII \d and \b, bounded
# repetition, non-capturing groups; NO lookaround, NO backrefs (RE2 has
# neither), so redaction is reproducible across engines byte-for-byte.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
    "phone": r"\+\d[\d -]{7,}\d",
}


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    kinds: tuple[str, ...] = ("email", "ipv4", "phone"),
    out_col: str = "text_redacted",
) -> DataFrame:
    """PII scrubbing — the standard pre-training redaction pass (emails,
    IPv4 addresses, +international phone numbers) as ONE codegen'd
    projection: per kind, ``n_<kind>`` counts the matches in the ORIGINAL
    text and the match is replaced with the placeholder ``<KIND>``;
    replacements apply in ``kinds`` order.  Pure ``regexp_count`` /
    ``regexp_replace`` — no Python, no shuffle, runs at scan speed on a
    readStream, and the patterns (module constant ``PII_PATTERNS``) are
    deliberately restricted to the regex subset where Java and RE2 agree,
    so the DuckDB oracle reproduces counts AND redacted bytes exactly.
    NULL text propagates as NULL counts/redaction (SQL semantics)."""
    unknown = set(kinds) - set(PII_PATTERNS)
    if unknown:
        raise ValueError(f"redact_pii: unknown kinds {sorted(unknown)}")
    out = df
    red = F.col(text_col)
    for kind in kinds:
        pat = PII_PATTERNS[kind]
        out = out.withColumn(
            f"n_{kind}", F.regexp_count(F.col(text_col), F.lit(pat))
        )
        red = F.regexp_replace(red, pat, f"<{kind.upper()}>")
    return out.withColumn(out_col, red)


# ---------------------------------------------------------------------------
# URL / host / registrable-domain extraction (webtext curation primitive)
# ---------------------------------------------------------------------------

# Two-level public suffixes recognized by ``registrable_domain`` — a frozen,
# documented SUBSET of the public-suffix list (the full PSL is external data;
# this heuristic covers the common ccTLD second levels and is deterministic).
TWO_LEVEL_SUFFIXES: tuple[str, ...] = (
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk", "net.uk", "sch.uk",
    "com.au", "net.au", "org.au", "edu.au", "gov.au", "id.au",
    "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp",
    "co.kr", "or.kr", "go.kr", "co.in", "net.in", "org.in",
    "com.br", "net.br", "org.br", "gov.br",
    "com.cn", "net.cn", "org.cn", "gov.cn",
    "com.mx", "com.ar", "com.tr", "com.tw", "com.sg", "com.hk",
    "com.my", "co.za", "co.nz", "org.nz", "net.nz", "co.id", "co.th",
)

# Java∩RE2-safe (no lookaround/backrefs) so the DuckDB oracle reproduces the
# extraction byte-for-byte — same discipline as PII_PATTERNS above.
_URL_AUTHORITY_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)"


def url_host(url) -> F.Column:  # type: ignore[name-defined]
    """Lower-cased host of an absolute URL as ONE codegen'd expression:
    authority = text between ``scheme://`` and the first ``/?#``, then strip
    userinfo (``user:pw@``), strip ``:port``, lower-case, strip a trailing
    dot; '' (relative / unparseable URL) becomes NULL.  No Python, no UDF —
    runs at scan speed, and the regexes are in the Java∩RE2 subset so the
    same steps in DuckDB yield identical bytes (the oracle contract)."""
    c = F.col(url) if isinstance(url, str) else url
    auth = F.regexp_extract(c, _URL_AUTHORITY_RE, 1)
    # greedy .* strips userinfo up to the LAST '@' (RFC 3986 authority)
    host = F.regexp_replace(auth, r"^.*@", "")
    host = F.regexp_replace(host, r":[0-9]*$", "")
    host = F.regexp_replace(F.lower(host), r"\.$", "")
    return F.when(host == "", F.lit(None).cast("string")).otherwise(host)


def registrable_domain(host) -> F.Column:  # type: ignore[name-defined]
    """Registrable ("eTLD+1") domain of a host, pure codegen: IPv4 literals
    and single/two-label hosts map to themselves; otherwise the last two
    labels — or the last three when the last two form a known two-level
    public suffix (``TWO_LEVEL_SUFFIXES``, a documented PSL subset).  This
    is the grouping key for per-domain corpus curation (domain quotas,
    blocklists, per-domain quality rollups) where a host-level key would
    shatter ``www.`` / CDN subdomains into distinct groups."""
    c = F.col(host) if isinstance(host, str) else host
    parts = F.split(c, r"\.")
    n = F.size(parts)
    last1 = F.element_at(parts, -1)
    last2 = F.concat_ws(".", F.element_at(parts, -2), last1)
    last3 = F.concat_ws(".", F.element_at(parts, -3), F.element_at(parts, -2), last1)
    is_ipv4 = c.rlike(r"^[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}$")
    return (
        F.when(c.isNull(), F.lit(None).cast("string"))
        .when(is_ipv4, c)
        .when(n <= 2, c)
        .when(last2.isin(*TWO_LEVEL_SUFFIXES), last3)
        .otherwise(last2)
    )


# ---------------------------------------------------------------------------
# URL canonicalization (the key-prep step for URL-level dedup)
# ---------------------------------------------------------------------------

# tracking parameters every major CC-curation pipeline strips before URL
# dedup (utm_* campaign tags, ad-click ids, social share refs); one
# Java∩RE2-safe alternation so Spark rlike and DuckDB regexp_matches agree
TRACKING_PARAM_RE = (
    r"^(utm_[a-z0-9_]*|gclid|gbraid|wbraid|fbclid|msclkid|dclid|twclid|"
    r"igshid|mc_cid|mc_eid|ref|ref_src|ref_url|_ga|_gl|yclid|s_kwcid)="
)

_URL_SPLIT_RE = r"^([A-Za-z][A-Za-z0-9+.\-]*)://([^/?#]*)([^?#]*)[?]?([^#]*)"


def canonical_url(url, fold_scheme: bool = True,
                  drop_www: bool = True) -> F.Column:  # type: ignore[name-defined]
    """Canonical form of an absolute http(s) URL as ONE codegen'd
    expression — the key-prep step before URL-level exact dedup (the same
    page is crawled as ``http://`` vs ``https://``, with/without ``www.``,
    with tracking params, reordered query strings, fragments, default
    ports, trailing slashes; naive URL dedup misses all of these).

    Steps (all byte-reproducible in DuckDB — regexes in the Java∩RE2
    subset, list ops with binary sort order; NOTE Spark's regexp_replace
    is global while DuckDB's needs the explicit 'g' flag — so an oracle
    can gate the exact output; see tests/test_url_canonical.py for the
    full mirror):

    1. split scheme / authority / path / query on one regex; fragments
       never enter (the regex stops at ``#``);
    2. scheme lower-cased; ``https`` folds to ``http`` (``fold_scheme``,
       the CC-pipeline default: scheme is not content identity);
    3. host from ``url_host`` (userinfo stripped, lower, no trailing dot,
       ALL ports dropped — deliberately aggressive: in crawl dedup a port
       is hosting detail, not content identity) minus one leading
       ``www.`` (``drop_www``);
    4. path: runs of ``/`` collapse to one, trailing ``/`` stripped
       ('' and '/' meet at '');
    5. query: split on ``&``, drop empty params and ``TRACKING_PARAM_RE``
       matches, remaining params sorted (byte order) and rejoined — param
       ORDER is not identity, tracking params are not identity.

    Non-http(s) or unparseable inputs pass through trimmed (canonicalize
    what we understand, never corrupt what we don't); NULL stays NULL."""
    c = F.trim(F.col(url) if isinstance(url, str) else url)
    scheme = F.lower(F.regexp_extract(c, _URL_SPLIT_RE, 1))
    if fold_scheme:
        scheme = F.when(scheme == "https", F.lit("http")).otherwise(scheme)
    host = url_host(c)
    if drop_www:
        host = F.regexp_replace(host, r"^www\.", "")
    path = F.regexp_extract(c, _URL_SPLIT_RE, 3)
    path = F.regexp_replace(F.regexp_replace(path, r"/+", "/"), r"/$", "")
    query = F.regexp_extract(c, _URL_SPLIT_RE, 4)
    kept = F.array_sort(F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE),
    ))
    qjoin = F.array_join(kept, "&")
    rebuilt = F.concat(
        scheme, F.lit("://"), host, path,
        F.when(qjoin == "", F.lit("")).otherwise(F.concat(F.lit("?"), qjoin)),
    )
    return F.when(
        scheme.isin("http", "https") & host.isNotNull(), rebuilt
    ).otherwise(c)


def frequent_phrases(
    df: DataFrame,
    ngram: int = 5,
    k: int = 20,
    m: int = 256,
    keys: list[str] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Boilerplate-phrase miner: the ``k`` most document-frequent word
    ``ngram``-grams of the corpus ("All rights reserved", cookie banners,
    newsletter prompts, templated navigation) — the diagnostic a curation
    pipeline runs BEFORE writing its filter rules, and the direct input to
    a paragraph/phrase blocklist.  Optional ``keys`` (e.g. ``["lang"]``)
    mine per group.

    Two stages, both scale-safe:

    1. Candidate discovery — one scan: within-doc-DISTINCT phrase strings
       (``dedup.shingle_sets``) feed a Misra–Gries summary via the
       two-phase ``sketch_aggregate`` plan (map-side partials, KB sketch
       rows shuffled, never the phrases).  MG's deterministic guarantee
       (pytest law): EVERY phrase whose doc-frequency exceeds
       n_pairs/(m+1) survives into the candidate set — the miss bound is
       structural, not probabilistic.
    2. Exact recovery — one more scan: the ≤m candidate phrases per group
       are broadcast back, hits grouped on (keys, phrase) for EXACT
       document frequencies (the shingle set is within-doc distinct, so
       ``count(*)`` IS n_docs), and the top ``k`` per group kept via a
       rank window (partial WindowGroupLimit below one KB-scale
       Exchange).

    Output: (keys..., phrase, n_docs, est_lower) ordered by n_docs
    descending within each group; ``est_lower`` is stage 1's MG count
    (an underestimate by ≤ n_pairs/(m+1) — the standard MG bound).
    Docs shorter than ``ngram`` tokens contribute their whole text as one
    phrase (the ``shingle_sets`` fallback convention).
    """
    from sketchlib.spark.dedup import shingle_sets
    from sketchlib.spark.sketch_ops import mg_items_udf, sketch_aggregate

    keys = list(keys or [])
    cols = [id_col] + keys
    sh = shingle_sets(
        df.select(*cols, text_col), id_col=id_col, text_col=text_col,
        ngram=ngram, keep=keys,
    ).filter(F.col("shingle").isNotNull())
    sk = sketch_aggregate(sh, keys, "shingle", "mg", {"m": m})
    cands = (
        sk.select(*keys, F.explode(mg_items_udf()("sketch")).alias("kv"))
        .select(*keys, F.col("kv.item").alias("shingle"),
                F.col("kv.est").alias("est_lower"))
    )
    exact = (
        sh.join(F.broadcast(cands), keys + ["shingle"])
        .groupBy(*keys, "shingle", "est_lower")
        .agg(F.count("*").alias("n_docs"))
    )
    w = Window.partitionBy(*keys) if keys else Window.partitionBy()
    ranked = exact.withColumn(
        "_rk",
        F.row_number().over(w.orderBy(F.desc("n_docs"), F.asc("shingle"))),
    )
    return (
        ranked.filter(F.col("_rk") <= k)
        .select(*keys, F.col("shingle").alias("phrase"), "n_docs",
                "est_lower")
        .orderBy(*keys, F.desc("n_docs"), "phrase")
    )


# ---------------------------------------------------------------------------
# Text canonicalization (dedup-key prep) + within-doc line dedup
# ---------------------------------------------------------------------------


def normalize_text_expr(
    col,
    lower: bool = True,
    strip_punct: bool = False,
    collapse_ws: bool = True,
    trim: bool = True,
):
    """Dedup-KEY text canonicalization (the C4/CCNet-style normalization
    applied before hashing/shingling, so trivial crawl variants — case,
    whitespace runs, optionally punctuation — collapse to one key):

    1. ``lower``     — case-fold;
    2. ``strip_punct`` — drop every char outside ``[\\w\\s]`` (ASCII
       word/space classes — Java and RE2 agree on these without unicode
       flags);
    3. ``collapse_ws`` — any whitespace run becomes one space;
    4. ``trim``      — strip leading/trailing space.

    Pure codegen (``lower``/``regexp_replace``/``trim``) restricted to
    the Java∩RE2 regex subset, so a DuckDB mirror reproduces the BYTES
    exactly (pytest proves mirror equality over an edge battery).  This
    produces the canonical KEY — compose with ``exact_dedup_keepers`` /
    shingling, don't ship it as display text.  Unicode NFC/accent
    folding is deliberately absent: Spark has no built-in normalizer and
    a Python UDF would put the dedup hot path on the slow lane; do
    codepoint normalization at ingestion.  NULL propagates as NULL."""
    c = F.col(col) if isinstance(col, str) else col
    if lower:
        c = F.lower(c)
    if strip_punct:
        c = F.regexp_replace(c, r"[^\w\s]+", "")
    if collapse_ws:
        c = F.regexp_replace(c, r"\s+", " ")
    if trim:
        c = F.trim(c)
    return c


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "text_norm",
    **opts,
) -> DataFrame:
    """``normalize_text_expr`` as a DataFrame op: adds ``out_col``."""
    return df.withColumn(out_col, normalize_text_expr(text_col, **opts))


def dedup_lines_within_doc(
    df: DataFrame,
    text_col: str = "text",
    sep: str = "\n",
    out_col: str = "text_clean",
) -> DataFrame:
    """WITHIN-document repeated-line removal (the intra-doc half of the
    C4 boilerplate rules; ``paragraph_dedup`` is the cross-doc half):
    keep each line's FIRST occurrence, drop later repeats of the same
    line inside the same document.  ``array_distinct`` preserves
    first-occurrence order, so the rebuild is one codegen projection —
    no shuffle, no Python, stream-safe.  Adds (out_col, n_lines,
    n_dup_lines); NULL text passes through with NULL/zero counts."""
    lines = F.split(F.col(text_col), F.lit(sep))
    kept = F.array_distinct(lines)
    return df.select(
        "*",
        F.when(F.col(text_col).isNotNull(),
               F.array_join(kept, sep)).alias(out_col),
        F.coalesce(F.size(lines), F.lit(0)).cast("long").alias("n_lines"),
        F.coalesce(F.size(lines) - F.size(kept), F.lit(0))
        .cast("long").alias("n_dup_lines"),
    )
