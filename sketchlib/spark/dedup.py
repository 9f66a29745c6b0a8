"""Deduplication operators for training-data pipelines (task mandate: exact,
MinHash+LSH, SimHash, n-gram Jaccard).

Scale design (100 TB / 10^12 docs):

- **exact**: groupBy(md5(text)) — the hash is 16 bytes, so the shuffle
  carries hashes + ids, never text.  Keeper = min(doc_id) per hash group.
- **n-gram Jaccard (exact pairs)**: shingle self-join.  Inherently
  O(sum of shingle-bucket^2); it is the *verification* oracle, not the
  discovery path — at scale it only ever runs on LSH candidate subsets.
- **MinHash+LSH (discovery path)**: signatures are computed entirely
  JVM-side — one chained xxhash64 per shingle, then the 64-member hash
  family ``xxhash64(i, shingle_hash)`` as 64 ``min()`` aggregate
  expressions (no Python worker in the signature scan).  Banding (16
  bands x 4 rows by default; ``bands="auto"`` tunes to the threshold)
  turns near-dup search into an equi-join on (band, band_hash): shuffle
  volume is docs x 16 tiny rows.  Candidates are then exactly verified
  with true Jaccard, so false positives are impossible and the only
  approximation is recall (P[miss | J=0.9] ~= 4e-8 at these parameters).
- **SimHash**: 60-bit signature from md5-derived token hashes (md5 so the
  DuckDB oracle can reproduce it bit-for-bit; xxhash64 would be faster but
  is Spark-only).  Hamming-distance<=d pair search uses (d+1)-band blocking,
  which is *complete* by pigeonhole — a pair within d bit flips must agree
  on at least one of d+1 disjoint bands — so blocked search equals the
  brute-force cross join exactly, at equi-join cost.

- **test-set decontamination**: ``contamination_hits`` (exact per-doc
  eval-n-gram containment; broadcast eval set, train side never shuffled
  at shingle grain) and the streaming-grade ``eval_ngram_bloom`` +
  ``bloom_decontam_flags`` (eval corpus → one KB-scale Bloom blob → a
  stateless zero-false-negative flag projection that runs unchanged on a
  readStream).

Everything is built-in ``pyspark.sql.functions`` — JVM-side codegen, no
Python in any hot path (the one Python stage, the Bloom probe, is a
vectorized per-Arrow-batch ``contains_hashed`` over JVM-computed hashes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from sketchlib.spark.shipping import ensure_on_workers

from sketchlib.spark.textops import with_tokens

# Shingle identity and the minhash family both live in the FULL 64-bit
# xxhash64 space: an n-gram's hash is one chained xxhash64 over its n tokens
# (Spark folds multi-arg hashes left-to-right, seeding each value's hash with
# the previous result, so ("ab","c") and ("a","bc") differ), and minhash
# function i is xxhash64(i, shingle_hash).  An earlier revision used affine
# permutations mod the 31-bit Mersenne prime to keep products inside int64;
# that shrank the shingle space to 2^31, and at ~10^8 shingles per huge
# document the within-document birthday collisions (~s²/2^32) shaved a
# percent-level bite off large docs' shingle sets, biasing hashed-verify
# Jaccard upward.  64-bit identity puts collisions at ~s²/2^65 — negligible
# at any document size — with no modular arithmetic at all.


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup_keepers(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Exact duplicate grouping by content hash: every doc is assigned the
    minimum doc_id of its identical-text group (its own id when unique).
    ``filter(doc_id != keeper_id)`` is the drop set."""
    h = F.md5(F.encode(F.col(text_col), "UTF-8"))
    w = Window.partitionBy("content_hash")
    return (
        df.select(F.col(id_col), h.alias("content_hash"))
        .withColumn("keeper_id", F.min(id_col).over(w))
        .withColumn("group_size", F.count("*").over(w).cast("long"))
    )


# ---------------------------------------------------------------------------
# Shingles + exact n-gram Jaccard
# ---------------------------------------------------------------------------


def _string_shingle_expr(text_col: str, ngram: int):
    """DISTINCT space-joined word-``ngram`` array expression over the
    ``tokens`` column (whole-text fallback below ``ngram`` tokens)."""
    return F.when(
        F.size("tokens") >= ngram,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size("tokens") - (ngram - 1)),
                lambda i: F.concat_ws(" ", F.slice("tokens", i, ngram)),
            )
        ),
    ).otherwise(F.array(F.col(text_col)))


def _hashed_shingle_expr(text_col: str, ngram: int):
    """64-bit chained-xxhash64 n-gram array expression over ``tokens`` (no
    n-gram string ever concatenated; NULL text yields a single NULL
    element, dropped by every equi-join)."""
    def _mix(i):
        return F.xxhash64(*[F.element_at("tokens", i + k) for k in range(ngram)])

    return F.when(
        F.size("tokens") >= ngram,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size("tokens") - (ngram - 1)), _mix
            )
        ),
    ).otherwise(
        F.array(F.when(F.col(text_col).isNotNull(), F.xxhash64(text_col)))
    )


def shingle_arrays(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                   ngram: int = 3, keep: list[str] | None = None) -> DataFrame:
    """(id, shingles: array<string>) with the DISTINCT word n-grams of each
    document (space-joined).  Documents with fewer than ``ngram`` tokens
    contribute one whole-text shingle.  ``keep``: extra columns carried
    through.

    CAUTION for callers that go on to ``explode``: explode a shingle
    EXPRESSION (as ``shingle_sets`` does), never this named array column —
    when the generator input is a plain attribute, Catalyst's
    InferFiltersFromGenerate adds ``size(col) > 0`` and predicate pushdown
    then inlines the whole shingle expression into an interpreted Filter
    where every ``element_at`` re-evaluates ``split(text)`` (measured 30x
    slower on real page text)."""
    cols = [id_col] + list(keep or [])
    d = with_tokens(df.select(*cols, text_col), text_col)
    return d.select(*cols, _string_shingle_expr(text_col, ngram).alias("shingles"))


def hashed_shingle_arrays(df: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text", ngram: int = 3,
                          keep: list[str] | None = None) -> DataFrame:
    """(id, shingles: array<long>) — ``shingle_arrays`` in the 64-bit
    chained-xxhash64 space (no n-gram string ever concatenated, ~2x the
    shingle build and 8 B/n-gram instead of strings for any downstream
    broadcast/shuffle).  Same cardinality as the string sets up to
    ~s²/2^65 within-document collisions.  NULL text yields a single NULL
    element (dropped by every equi-join)."""
    cols = [id_col] + list(keep or [])
    d = with_tokens(df.select(*cols, text_col), text_col)
    return d.select(*cols, _hashed_shingle_expr(text_col, ngram).alias("shingles"))


def shingle_sets(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                 ngram: int = 3, keep: list[str] | None = None) -> DataFrame:
    """(id, shingle) distinct pairs; shingles are word n-grams joined by a
    single space.  Documents with fewer than ``ngram`` tokens contribute one
    whole-text shingle.  Explodes the shingle expression directly (see the
    CAUTION on ``shingle_arrays``)."""
    cols = [id_col] + list(keep or [])
    d = with_tokens(df.select(*cols, text_col), text_col)
    return d.select(
        *cols, F.explode(_string_shingle_expr(text_col, ngram)).alias("shingle")
    )


def hashed_shingle_sets(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", ngram: int = 3,
                        keep: list[str] | None = None) -> DataFrame:
    """(id, shingle) distinct pairs where the shingle is the full 64-bit
    chained xxhash64 of the n-gram's tokens — no n-gram string is ever
    concatenated.  ~8x faster than ``shingle_sets`` on long documents; the
    shingle SET has the same cardinality up to ~s²/2^65 within-document
    birthday collisions (negligible even at 10^8-shingle documents), so
    Jaccard over hashed shingles equals string-shingle Jaccard for all
    practical purposes (the oracle-gated queries keep the string path).
    Explodes the expression directly (see the CAUTION on
    ``shingle_arrays``)."""
    cols = [id_col] + list(keep or [])
    d = with_tokens(df.select(*cols, text_col), text_col)
    return d.select(
        *cols, F.explode(_hashed_shingle_expr(text_col, ngram)).alias("shingle")
    )


def _token_hash_expr(text_col: str):
    """``array<long>`` of per-token ``xxhash64`` over the ``tokens`` column —
    each token string hashed exactly ONCE (vs once per n-gram window it
    appears in).  NULL text yields a NULL array."""
    return F.when(
        F.col(text_col).isNotNull(),
        F.transform("tokens", lambda t: F.xxhash64(t)),
    )


def poly_shingle_values(df: DataFrame, text_col: str = "text",
                        ngram: int = 5) -> DataFrame:
    """One ``shingle: long`` row per token n-gram window, in the
    polynomial rolling-hash space (``sketchlib.hashing.poly_window_fold``
    over per-token JVM ``xxhash64`` values) — the decontamination
    build-side construction, and EXACTLY the space
    ``bloom_decontam_flags`` probes (both sides run the same kernel; the
    zero-false-negative law is build == probe by construction).

    Document conventions (mirroring the exact containment path): NULL text
    contributes nothing; empty/whitespace text contributes the empty-sum
    window (0) so byte-identical empty texts still collide across corpora;
    1 <= T < ngram tokens contribute one window over all T tokens.

    The JVM hashes each token string exactly ONCE (vs once per window in
    the v1 string-chain construction); the window combination runs
    O(total tokens) vectorized in numpy — ~70x the throughput of a
    per-window chained fold at ngram=8."""
    import numpy as np
    import pyarrow as pa

    from sketchlib.hashing import poly_window_fold

    d = with_tokens(df.select(text_col), text_col)
    staged = d.select(_token_hash_expr(text_col).alias("_th"))

    def windows(batches):
        for batch in batches:
            col = batch.column(0)
            offs = np.asarray(col.offsets, dtype=np.int64)
            vals = np.asarray(col.values, dtype=np.int64)
            nulls = np.asarray(col.is_null())
            lens = np.diff(offs)
            lens[nulls] = 0
            win, _ = poly_window_fold(vals, offs, ngram, lens=lens,
                                      min_one=~nulls)
            yield pa.RecordBatch.from_arrays(
                [pa.array(win.view(np.int64))], names=["shingle"]
            )

    ensure_on_workers(staged.sparkSession)
    return staged.mapInArrow(windows, schema="shingle long")


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    candidates: DataFrame | None = None,
    hashed_shingles: bool = False,
    shingle_storage: str = "memory",
    measure: str = "jaccard",
) -> DataFrame:
    """Exact pairwise n-gram Jaccard >= threshold via shingle self-join.

    ``measure="containment"`` switches the thresholded similarity to
    MAX-containment ``n_common / min(n_a, n_b)`` — the asymmetric-dup
    signal (a short doc quoted/embedded inside a long one scores ~1.0
    here but low Jaccard, because the union is dominated by the long
    side; Broder 1997 distinguishes resemblance from containment for
    exactly this).  Output column is then ``containment`` instead of
    ``jaccard`` — same exact-integer-division determinism.  NOTE for the
    LSH-discovery composition: MinHash banding estimates JACCARD, so a
    contained-but-small doc can sit below the banding threshold and never
    surface as a candidate — for containment discovery feed ``candidates``
    from a LOWER-threshold banding (``minhash_auto_bands(j_min, ...)``
    with ``j_min = threshold * s_min/s_max`` for your size ratio) or from
    ``duplicate_span_stats`` flags.

    ``candidates``: optional (a_id, b_id) frame restricting the pair space —
    the LSH verification mode.  Jaccard is emitted as one division of exact
    integer counts (bit-identical across engines).  In this mode the
    exploded shingle frame is pruned to candidate documents BEFORE it is
    persisted or aggregated, so the cached/materialized volume is bounded
    by the candidate set, never the corpus.

    ``hashed_shingles``: join on 64-bit shingle hashes (longs) instead of
    n-gram strings — the scale path (~8x cheaper shingle build, long
    equi-join instead of string); exact up to ~s²/2^65 collisions.  The
    gated query keeps the default string-exact mode.

    ``shingle_storage``: persistence for the triple-use shingle frame —
    ``"memory"`` (MEMORY_AND_DISK; right when it fits), ``"disk"``
    (DISK_ONLY; the full-corpus mode at web scale, where the exploded frame
    is ~60x corpus rows and memory caching is a spill storm), or ``"none"``
    (recompute per use; right when a rescan is cheaper than materializing).
    """
    from pyspark.storagelevel import StorageLevel

    maker = hashed_shingle_sets if hashed_shingles else shingle_sets
    sh = maker(df, id_col, text_col, ngram)
    if candidates is not None:
        # LSH verification mode: the whole point of LSH is never
        # materializing the O(n^2) shingle join — prune shingles to docs
        # that appear in ANY candidate pair before persisting (sizes only
        # matter for those docs), then restrict each join side further
        candidates = candidates.cache()
        cand_ids = (
            candidates.select(F.col("a_id").alias(id_col))
            .union(candidates.select(F.col("b_id").alias(id_col)))
            .distinct()
        )
        sh = sh.join(F.broadcast(cand_ids), id_col, "left_semi")
    if shingle_storage == "memory":
        sh = sh.persist(StorageLevel.MEMORY_AND_DISK)
    elif shingle_storage == "disk":
        sh = sh.persist(StorageLevel.DISK_ONLY)
    elif shingle_storage != "none":
        raise ValueError(f"unknown shingle_storage {shingle_storage!r}")
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col(id_col).alias("a_id"), "shingle")
    b = sh.select(F.col(id_col).alias("b_id"), "shingle")
    if candidates is not None:
        a = a.join(
            F.broadcast(candidates.select("a_id").distinct()), "a_id", "left_semi"
        )
        b = b.join(
            F.broadcast(candidates.select("b_id").distinct()), "b_id", "left_semi"
        )
    pair_rows = a.join(b, "shingle").filter(F.col("a_id") < F.col("b_id"))
    if candidates is not None:
        # no broadcast hint here: the candidate-pair list can be large at
        # scale; AQE picks broadcast vs shuffle from its actual size
        pair_rows = pair_rows.join(candidates, ["a_id", "b_id"], "left_semi")
    common = pair_rows.groupBy("a_id", "b_id").agg(F.count("*").alias("n_common"))
    if measure == "jaccard":
        sim = F.col("n_common") / (
            F.col("n_a") + F.col("n_b") - F.col("n_common"))
    elif measure == "containment":
        sim = F.col("n_common") / F.least("n_a", "n_b")
    else:
        raise ValueError(f"unknown measure {measure!r}")
    out = (
        common.join(sizes.withColumnRenamed(id_col, "a_id")
                    .withColumnRenamed("n_sh", "n_a"), "a_id")
        .join(sizes.withColumnRenamed(id_col, "b_id")
              .withColumnRenamed("n_sh", "n_b"), "b_id")
        .withColumn(measure, sim)
        .filter(F.col(measure) >= threshold)
        .select("a_id", "b_id", "n_common", "n_a", "n_b", measure)
    )
    return out


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", ngram: int = 3,
                       num_perm: int = 64, stateless: bool = False,
                       kernel: str = "xxh") -> DataFrame:
    """MinHash signatures computed entirely JVM-side.  Output:
    (id, sig array<long> of length num_perm).

    Shingle hashing is ARITHMETIC: an n-gram's hash is one chained
    xxhash64 over its n tokens — no n-gram string is ever concatenated.
    Building the 58M string shingles for 1M pages cost ~44 s of the 46 s
    signature stage; the hash mix runs the same signatures in ~8.5 s (~5x,
    BENCH/BASELINE.md).  Shingle IDENTITY therefore differs from the
    string-shingle exact path (``shingle_sets``) — irrelevant for LSH,
    which only generates candidates whose Jaccard is then verified on the
    exact string shingles; the collision analysis is unchanged (both are
    uniform hashes of the same n-gram set).  The minhash family is the
    k-hash-functions variant: function i is ``xxhash64(i, shingle_hash)``
    (full signed-int64 range, min over a uniform 64-bit space), not an
    affine permutation of one hash — 64 independent uniform hashes give
    the same Pr[min collision] = J analysis without modular arithmetic.
    NOTE: keep the per-element expression an element_at/xxhash64 chain; an
    ``F.aggregate(F.slice(...))`` formulation allocates a slice per shingle
    and interprets the lambda per element, costing ~8x on the same data —
    these chains stay in whole-stage codegen.

    ``stateless=True`` computes the BYTE-IDENTICAL signatures as one
    per-row projection (``array_min(transform(shingles, ...))`` per perm):
    no explode, no groupBy, ZERO Exchange — so it runs unchanged on a
    readStream (sign the live crawl and probe a stored index with a
    stream-static join).  Cost: the higher-order functions evaluate
    interpreted, measured 2.3x the codegen hash-agg path per CPU at 1M
    pages (36 s vs 15.6 s, local[32]) — pay it when you need streaming or
    when removing the signature shuffle matters more than CPU.

    ``kernel="poly"`` moves the whole signature build into the polynomial
    rolling-hash Arrow kernel decontamination uses
    (``sketchlib.hashing.poly_window_fold``): the JVM hashes each token
    string exactly ONCE (vs once per window position here), the window
    combination is O(total tokens), and the ``num_perm`` minima are one
    shared splitmix64 mix + a two-pass multiply-add remix and segmented
    min each (measured ~2x the xxh kernel at 1M pages, eff(2→8) 0.85–0.99
    — BENCH/BASELINE.md, "poly-kernel MinHash signatures") — all inside one
    zero-Exchange, stateless projection (runs on a readStream unchanged,
    like ``stateless=True``, without the interpreted higher-order-function
    tax).  The SHINGLE SPACE differs from the default (polynomial sums of
    per-token hashes vs chained xxhash64) and so does the minhash family
    (multiply-add remixes of one splitmix64 mix vs seeded xxhash64) —
    irrelevant for LSH, whose
    candidates are verified on exact shingles, but signatures/banded
    indices from different kernels must never be mixed (stored-index meta
    records the kernel; ``jobs/dedup_corpus.py``).  Pr[min collision] = J
    analysis is unchanged: both families are independent uniform 64-bit
    hashes of the same n-gram set.  Convention deltas vs the default
    kernel, mirroring ``poly_shingle_values``: all-whitespace/empty texts
    share ONE empty-sum shingle (the xxh kernel hashes the raw text, so
    "" and "  " differ there); NULL text yields a NULL signature (xxh
    yields a constant-signature row).

    SMALL-UNIVERSE caveat (both kernels): when the corpus's distinct
    shingle set is small (low-entropy/templated text — the synthetic
    bench vocab yields only ~30k distinct 3-gram hashes), banding gains
    a heavy-tailed false-candidate floor INDEPENDENT of true Jaccard: a
    single shingle whose remixed values happen to fall in the bottom ~p
    of one band's r perms becomes the min of every doc containing it
    with probability ~(1-p)^W per perm, welding those docs into one
    bucket.  The per-(shingle, band) odds are identical for any uniform
    hash family — measured on the 876k-doc bench slice, one such
    coincidence gave the poly kernel a 128-doc bucket (pair mass 16.3k
    vs xxh's 6.2k, while an independent-hash numpy reference measured
    6.0k — same lottery, different tickets; candidates' median exact
    Jaccard was 0.015 for BOTH kernels, i.e. all noise).  Real web-scale
    shingle universes are astronomically larger, so the floor vanishes;
    the defenses where it can bite are ``max_bucket_size`` (buckets from
    hot shingles are exactly what it prunes) and exact verification in
    every gated path."""
    if kernel == "poly":
        return _minhash_signatures_poly(df, id_col, text_col, ngram, num_perm)
    if kernel != "xxh":
        raise ValueError(f"minhash_signatures: unknown kernel {kernel!r} "
                         "(expected 'xxh' or 'poly')")
    if stateless:
        arr = hashed_shingle_arrays(df, id_col, text_col, ngram)

        def _perm(i: int):
            # single-arg closure: a 2-arg lambda would make transform()
            # pass the ARRAY INDEX as the second argument
            return lambda s: F.xxhash64(F.lit(i), s)

        sig = F.array(*[
            F.array_min(F.transform("shingles", _perm(i)))
            for i in range(num_perm)
        ]).alias("sig")
        return arr.select(F.col(id_col), sig)
    hashed = hashed_shingle_sets(df, id_col, text_col, ngram) \
        .withColumnRenamed("shingle", "h")
    mins = [
        F.min(F.xxhash64(F.lit(i), F.col("h"))).alias(f"m{i}")
        for i in range(num_perm)
    ]
    agg = hashed.groupBy(id_col).agg(*mins)
    return agg.select(
        F.col(id_col), F.array(*[f"m{i}" for i in range(num_perm)]).alias("sig")
    )


def _minhash_signatures_poly(df: DataFrame, id_col: str, text_col: str,
                             ngram: int, num_perm: int) -> DataFrame:
    """``minhash_signatures(kernel="poly")``: one mapInArrow projection.

    Per Arrow batch: per-token JVM xxhash64 values arrive as ONE flat
    int64 buffer (zero-copy); ``poly_window_fold`` produces every n-gram
    window hash in O(total tokens); ONE splitmix64 pass avalanche-mixes
    the polynomial sums, then minhash function i is the universal-hash
    remix ``a_i·m + b_i mod 2^64`` (a_i odd — a bijection, so uniform over
    the mixed values; the standard multiply-add minhash family, two
    vectorized passes per perm instead of a full seeded splitmix64 remix —
    measured 6.6x on the perm loop), reduced per document with one
    ``np.minimum.reduceat``.  Duplicate windows need no dedup pass — the
    min is idempotent under multiplicity, so signatures over the window
    MULTISET equal signatures over the set.  Deterministic and
    batch-slicing/partitioning invariant (per-doc computation only)."""
    import numpy as np
    import pyarrow as pa

    from sketchlib.hashing import poly_window_fold, splitmix64

    id_field = next(f for f in df.schema.fields if f.name == id_col)
    d = with_tokens(df.select(id_col, text_col), text_col)
    staged = d.select(id_col, _token_hash_expr(text_col).alias("_th"))
    out_schema = f"{id_col} {id_field.dataType.simpleString()}, sig array<long>"
    n = ngram
    # deterministic per-perm multipliers/offsets (splitmix64 of the perm
    # index; multipliers forced odd so each remix is a bijection mod 2^64)
    perm_idx = np.arange(num_perm, dtype=np.uint64)
    perm_a = splitmix64(perm_idx * np.uint64(2) + np.uint64(1)) | np.uint64(1)
    perm_b = splitmix64(perm_idx * np.uint64(2) + np.uint64(2))

    def sign(batches):
        for batch in batches:
            i_th = batch.schema.get_field_index("_th")
            col = batch.column(i_th)
            offs = np.asarray(col.offsets, dtype=np.int64)
            vals = np.asarray(col.values, dtype=np.int64)
            nulls = np.asarray(col.is_null())
            lens = np.diff(offs)
            lens[nulls] = 0  # NULL text: no windows -> NULL signature
            win, woffs = poly_window_fold(vals, offs, n, lens=lens,
                                          min_one=~nulls)
            nw = np.diff(woffs)
            has = nw > 0
            nkept = int(has.sum())
            sig = np.empty((nkept, num_perm), dtype=np.uint64)
            if nkept:
                # reduceat over the kept (nonzero-length) segments only:
                # consecutive kept starts are strictly increasing, so each
                # segment spans exactly its own document's windows
                starts = woffs[:-1][has]
                m = splitmix64(win)
                tmp = np.empty_like(m)
                with np.errstate(over="ignore"):
                    for i in range(num_perm):
                        np.multiply(m, perm_a[i], out=tmp)
                        tmp += perm_b[i]
                        sig[:, i] = np.minimum.reduceat(tmp, starts)
            out_offs = np.zeros(len(nw) + 1, dtype=np.int32)
            np.cumsum(has * np.int32(num_perm), out=out_offs[1:])
            la = pa.ListArray.from_arrays(
                pa.array(out_offs, type=pa.int32()),
                pa.array(sig.view(np.int64).ravel(), type=pa.int64()),
                mask=pa.array(~has),
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column(batch.schema.get_field_index(id_col)), la],
                names=[id_col, "sig"],
            )

    ensure_on_workers(staged.sparkSession)
    return staged.mapInArrow(sign, schema=out_schema)


def _cap_buckets(banded: DataFrame, bucket_cols: list[str],
                 max_bucket_size: int | None) -> DataFrame:
    """Hot-bucket skew guard for banding self-joins.

    A bucket of b members contributes b² candidate rows; on real web text a
    single boilerplate template can put millions of documents in one bucket
    and turn the equi-join into an accidental cross join (observed on the
    synthetic 1M-page corpus: 254M candidate pairs from one templated
    band).  Capping drops buckets with more than ``max_bucket_size``
    members BEFORE the join — a deliberate recall trade (members of a
    dropped bucket can still pair through their other bands; a group larger
    than the cap is better handled by exact dedup on its shared template).
    ``None`` keeps the exact lossless behavior (the oracle-gated mode)."""
    if max_bucket_size is None:
        return banded
    from pyspark.sql import Window

    w = Window.partitionBy(*bucket_cols)
    return (
        banded.withColumn("_bsz", F.count("*").over(w))
        .filter(F.col("_bsz") <= max_bucket_size)
        .drop("_bsz")
    )


def minhash_auto_bands(
    threshold: float,
    num_perm: int = 64,
    n_rows: int | None = None,
    recall_target: float = 0.9,
) -> tuple[int, int | None]:
    """Pick (bands, default max_bucket_size) for MinHash LSH.

    Band count: over the divisor pairs b·r = num_perm with banding curve
    P[candidate|s] = 1−(1−s^r)^b (standard tuning; MMDS ch.3), take the
    candidate-CHEAPEST b — minimal wasted-verification integral
    fp = ∫₀ᵗ P ds — among those whose recall AT the threshold clears
    ``recall_target`` (discovery must not drop just-above-threshold pairs;
    a symmetric fp/fn objective would, badly).  Falls back to max-recall if
    nothing clears the bar.  At t=0.8 / 64 perms this reproduces the
    hand-chosen default (b=16, r=4).

    Unlike sign-LSH, random-pair collisions are not the driver here (band
    hashes live in the full 64-bit xxhash64 space), so sizing keys off the
    threshold; the corpus size only sets the bucket cap — boilerplate
    templates put near-identical docs in one bucket, and a bucket of k docs
    costs k² join rows, so cap at ~√n (floor 256), keeping any single
    bucket's candidate contribution ≤ n.  ``n_rows=None`` → cap None
    (lossless mode)."""
    import numpy as np

    s = np.linspace(0.0, 1.0, 501)
    feasible, fallback = [], (1, 0.0)
    for b in range(1, num_perm + 1):
        if num_perm % b:
            continue
        r = num_perm // b
        recall = 1.0 - (1.0 - threshold ** r) ** b
        p = 1.0 - (1.0 - s ** r) ** b
        fp = float(np.trapz(np.where(s < threshold, p, 0.0), s))
        if recall >= recall_target:
            feasible.append((fp, b))
        if recall > fallback[1]:
            fallback = (b, recall)
    best = min(feasible)[1] if feasible else fallback[0]
    cap = max(256, int(n_rows ** 0.5)) if n_rows else None
    return best, cap


def banded_signatures(sigs: DataFrame, id_col: str = "doc_id",
                      bands: int = 16, rows_per_band: int = 4) -> DataFrame:
    """Band MinHash signatures into the STORABLE LSH index: (id, band, bh)
    — band hash = xxhash64 over that band's signature slice.  This is the
    artifact an incremental pipeline persists (parquet, partitioned or
    bucketed by (band, bh)): dedup'ing tomorrow's crawl against a 10^12-doc
    corpus then touches only the new docs' shingles — the historical corpus
    is never re-signed, and the new-vs-index join
    (``lsh_candidates_vs_index``) shuffles only the NEW side when the index
    is stored bucketed on the join key.  Banding is deterministic, so
    indices built on different days/clusters compose."""
    return sigs.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bnd: F.struct(
                    bnd.alias("band"),
                    F.xxhash64(
                        bnd, F.slice("sig", bnd * rows_per_band + 1, rows_per_band)
                    ).alias("bh"),
                ),
            )
        ).alias("bk"),
    ).select(id_col, "bk.band", "bk.bh")


def write_bucketed_banded(banded: DataFrame, path: str,
                          n_buckets: int = 64) -> str:
    """Persist a banded index BUCKETED on the join key (band, bh) — the
    layout where a 10^12-row stored index never shuffles: Spark writes
    bucket ids into the part-file NAMES (``part-*_000NN``), so ANY later
    session can re-register the files as a bucketed table (see
    ``read_bucketed_banded``) and the probe's SortMergeJoin reads the
    index side shuffle-free AND pre-sorted (bucketed + SORTED BY scan
    satisfies both the join's clustering and its sort order); only the
    small new-crawl side hits an Exchange.  No Hive metastore involved:
    the table metadata lives only in the writing session (the external
    table is dropped right after the write — files persist) and is
    recreated from the returned DDL on every read.

    Returns the column DDL string a reader must pass back (the id
    column's name/type varies by corpus) — store it in the index meta."""
    spark = banded.sparkSession
    ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                    for f in banded.schema.fields)
    tbl = "sketchlib_lsh_index_w"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    (banded.write.bucketBy(n_buckets, "band", "bh").sortBy("band", "bh")
     .option("path", path).mode("overwrite").saveAsTable(tbl))
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")  # external: files persist
    return ddl


def read_bucketed_banded(spark, path: str, schema_ddl: str,
                         n_buckets: int = 64) -> DataFrame:
    """Re-register bucketed banded-index files written by
    ``write_bucketed_banded`` as a bucketed table in THIS session's
    catalog (in-memory catalog suffices — bucket ids come from the file
    names) and return it as a DataFrame whose scan reports
    ``Bucketed: true``: joins and windows keyed on (band, bh) then need
    no Exchange on this side (plan-audited)."""
    tbl = "sketchlib_lsh_index_ro"
    loc = path.replace("'", "''")  # SQL-literal escape for odd paths
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    spark.sql(
        f"CREATE TABLE {tbl} ({schema_ddl}) USING parquet "
        f"CLUSTERED BY (band, bh) SORTED BY (band, bh) "
        f"INTO {n_buckets} BUCKETS LOCATION '{loc}'"
    )
    return spark.table(tbl)


def lsh_candidates_vs_index(
    new_banded: DataFrame,
    index_banded: DataFrame,
    id_col: str = "doc_id",
    max_bucket_size: int | None = None,
    distinct: bool = True,
    prune: str | None = None,
    prune_fpr: float = 0.01,
) -> DataFrame:
    """Incremental near-dup discovery: distinct (new_id, index_id) pairs
    colliding in at least one band, between a NEW crawl's banded
    signatures and a STORED index (both from ``banded_signatures`` with
    identical banding).  Law (pytest-gated): with the cap off this equals
    the cross (new x index) restriction of ``lsh_candidate_pairs`` over
    the union corpus.  ``max_bucket_size`` caps each side's hot buckets
    independently (same skew rationale as ``_cap_buckets``).

    ``prune="bloom"`` (the daily-crawl asymmetry lever, new ≪ index):
    build a Bloom filter over the NEW side's distinct ``(band, bh)`` keys
    (one pass over the small side; KB–MB blob at typical crawl batches),
    broadcast it, and pre-filter the INDEX scan with a vectorized
    ``contains_hashed`` probe BEFORE the join — so instead of shuffling
    the whole 10^12-doc index to meet a 10^8-key new side, only the
    ~selectivity fraction of index rows that CAN collide ever reaches an
    Exchange.  Zero false negatives, so the candidate set is EXACTLY the
    unpruned one (Bloom false positives are eliminated by the equi-join
    itself); the bucket cap is applied to the index side AFTER pruning
    (surviving buckets only — cheaper, and the cap's skew rationale only
    concerns buckets that reach the join).  Do NOT use it when the new
    side's key count approaches the index's — the blob scales with the
    small side (~1.2 B/key at 1% fpr) and must stay broadcastable.

    ``distinct=False`` skips the final dedup (a pair colliding in k bands
    appears k times): required on a readStream, where the stream-static
    equi-join is stateless but a global distinct would need unbounded
    state — dedup per micro-batch in foreachBatch instead.  The Bloom
    prune is a stateless broadcast projection, so it composes with
    streaming unchanged."""
    l = _cap_buckets(new_banded, ["band", "bh"], max_bucket_size).select(
        F.col(id_col).alias("new_id"), "band", "bh"
    )
    r = index_banded.select(F.col(id_col).alias("index_id"), "band", "bh")
    if prune == "bloom":
        r = _bloom_prune_banded(l, r)
    elif prune is not None:
        raise ValueError(f"lsh_candidates_vs_index: unknown prune {prune!r} "
                         "(expected None or 'bloom')")
    r = _cap_buckets(r, ["band", "bh"], max_bucket_size)
    pairs = l.join(r, ["band", "bh"]).select("new_id", "index_id")
    return pairs.distinct() if distinct else pairs


def _bloom_prune_banded(small: DataFrame, big: DataFrame,
                        fpr: float = 0.01) -> DataFrame:
    """Filter ``big``'s (band, bh) rows through a broadcast Bloom of
    ``small``'s distinct (band, bh) keys — map-side, before any Exchange.
    Key = JVM ``xxhash64(band, bh)``; the Bloom aggregator base-hashes
    values with ``xxhash64(value)``, so the probe side computes the same
    double hash JVM-side and the Arrow stage is ONE vectorized
    ``contains_hashed`` per batch (same pattern as ``q_bloom_join_prune``
    and ``bloom_decontam_flags`` — no per-row Python)."""
    import numpy as np
    import pyarrow as pa

    from sketchlib.bloom import Bloom
    from sketchlib.spark.sketch_ops import sketch_aggregate

    keys = small.select(F.xxhash64("band", "bh").alias("_k")).distinct()
    n = keys.count()
    rows = sketch_aggregate(
        keys, [], "_k", "bloom", {"fpr": fpr, "expected_n": max(n, 1000)}
    ).collect()
    if not rows:  # empty small side: nothing can collide
        return big.limit(0)
    bc = big.sparkSession.sparkContext.broadcast(bytes(rows[0]["sketch"]))

    staged = big.withColumn("_h", F.xxhash64(F.xxhash64("band", "bh")))
    names = [f.name for f in big.schema.fields]
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in big.schema.fields
    )

    def probe(batches):
        b = Bloom.deserialize(bc.value)
        for batch in batches:
            i_h = batch.schema.get_field_index("_h")
            h = np.asarray(batch.column(i_h), dtype=np.int64).view(np.uint64)
            hits = b.contains_hashed(h)
            if not hits.any():
                continue
            keep = batch.filter(pa.array(hits))
            yield pa.RecordBatch.from_arrays(
                [keep.column(keep.schema.get_field_index(c)) for c in names],
                names=names,
            )

    ensure_on_workers(staged.sparkSession)
    return staged.mapInArrow(probe, schema=out_schema)


def lsh_candidate_pairs(sigs: DataFrame, id_col: str = "doc_id",
                        bands: int = 16, rows_per_band: int = 4,
                        max_bucket_size: int | None = None) -> DataFrame:
    """Band the signatures and emit distinct (a_id, b_id) candidate pairs
    (a < b) that collide in at least one band.  The band join shuffles only
    (band, hash, id) rows.  ``max_bucket_size`` enables the hot-bucket skew
    guard (see ``_cap_buckets``)."""
    banded = banded_signatures(sigs, id_col, bands, rows_per_band)
    banded = _cap_buckets(banded, ["band", "bh"], max_bucket_size)
    l = banded.select(F.col(id_col).alias("a_id"), "band", "bh")
    r = banded.select(F.col(id_col).alias("b_id"), "band", "bh")
    return (
        l.join(r, ["band", "bh"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )


def minhash_lsh_dedup_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    num_perm: int = 64,
    bands: int | str = 16,
    max_bucket_size: int | None = None,
    hashed_verify: bool = False,
    shingle_storage: str = "memory",
    n_rows: int | None = None,
    kernel: str = "xxh",
) -> DataFrame:
    """The full discovery path: MinHash -> LSH banding -> exact Jaccard
    verification of candidates.  No false positives; recall loss bounded by
    the banding curve (1-(1-t^r)^b).  ``max_bucket_size`` adds the
    hot-bucket skew guard for boilerplate-heavy corpora (extra recall
    caveat documented at ``_cap_buckets``); ``hashed_verify`` verifies on
    64-bit shingle hashes instead of n-gram strings (the scale mode — exact
    up to ~s²/2^65 collisions).  ``bands="auto"`` tunes the banding curve
    to the threshold and caps buckets at ~√n (``minhash_auto_bands``; one
    cheap count when ``n_rows`` isn't supplied).  ``kernel="poly"`` signs
    with the polynomial Arrow kernel (each token hashed once, zero
    Exchange in the signature stage — see ``minhash_signatures``); the
    verified output is IDENTICAL up to banding-recall noise, since
    verification runs on exact shingles either way.  The gated query keeps
    all scale levers off."""
    if bands == "auto":
        n = n_rows if n_rows is not None else df.count()
        bands, default_cap = minhash_auto_bands(threshold, num_perm, n)
        if max_bucket_size is None:
            max_bucket_size = default_cap
    sigs = minhash_signatures(df, id_col, text_col, ngram, num_perm,
                              kernel=kernel)
    cand = lsh_candidate_pairs(sigs, id_col, bands, num_perm // bands,
                               max_bucket_size)
    return ngram_jaccard_pairs(df, threshold, id_col, text_col, ngram,
                               candidates=cand, hashed_shingles=hashed_verify,
                               shingle_storage=shingle_storage)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 60  # fits a signed 64-bit int; 15 hex chars of md5


def _token_hash60(col):
    """First 60 bits of md5 of the token, as bigint — reproducible in any
    engine with md5 + hex parsing (DuckDB: ('0x'||substr(md5(w),1,15))::BIGINT)."""
    return F.conv(F.substring(F.md5(F.encode(col, "UTF-8")), 1, 15), 16, 10).cast("long")


def simhash_docs(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """60-bit SimHash over the token multiset: bit j of the signature is set
    iff the occurrence-weighted sum of (+1 / -1) for bit j over all token
    hashes is >= 0.  Pure built-ins: explode -> 60 conditional integer sums.
    """
    toks = (
        with_tokens(df.select(id_col, text_col), text_col)
        .select(F.col(id_col), F.explode("tokens").alias("word"))
        .select(id_col, _token_hash60(F.col("word")).alias("h"))
    )
    sums = [
        F.sum(
            F.when(F.shiftright("h", j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{j}")
        for j in range(SIMHASH_BITS)
    ]
    agg = toks.groupBy(id_col).agg(*sums)
    sig = None
    for j in range(SIMHASH_BITS):
        bit = F.when(F.col(f"s{j}") >= 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        ) * F.lit(1 << j).cast("long")
        sig = bit if sig is None else sig + bit
    return agg.select(F.col(id_col), sig.alias("simhash"))


def simhash_hamming_pairs(df: DataFrame, max_dist: int = 3,
                          id_col: str = "doc_id",
                          text_col: str = "text",
                          max_bucket_size: int | None = None) -> DataFrame:
    """All pairs within Hamming distance ``max_dist`` of their SimHash.

    Blocking: split the 60-bit signature into ``max_dist+1`` disjoint bands;
    any pair within max_dist flips agrees exactly on >=1 band (pigeonhole),
    so the band equi-join is lossless and the final bit_count filter makes
    the result identical to the brute-force cross join.  ``max_bucket_size``
    enables the hot-bucket skew guard (``_cap_buckets``) — necessary on
    boilerplate-heavy corpora where near-identical signatures put huge
    groups in one band bucket; with it the completeness guarantee holds
    only for pairs whose shared band bucket is under the cap."""
    sigs = simhash_docs(df, id_col, text_col).cache()
    nb = max_dist + 1
    width = SIMHASH_BITS // nb
    mask = (1 << width) - 1
    banded = sigs.select(
        F.col(id_col).alias("id"),
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(k).alias("band"),
                    F.shiftright("simhash", k * width).bitwiseAND(F.lit(mask))
                    .alias("bh"),
                )
                for k in range(nb)
            ])
        ).alias("bk"),
    ).select("id", "simhash", "bk.band", "bk.bh")
    banded = _cap_buckets(banded, ["band", "bh"], max_bucket_size)
    l = banded.select(F.col("id").alias("a_id"), F.col("simhash").alias("sa"),
                      "band", "bh")
    r = banded.select(F.col("id").alias("b_id"), F.col("simhash").alias("sb"),
                      "band", "bh")
    return (
        l.join(r, ["band", "bh"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id",
                F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_dist)
    )


# ---------------------------------------------------------------------------
# Transitive duplicate groups (connected components over duplicate evidence)
# ---------------------------------------------------------------------------


def propagate_min_keeper(edges: DataFrame, max_rounds: int = 32) -> DataFrame:
    """Collapse duplicate-evidence EDGES (a_id, b_id) into keep-min-id
    groups: each node's keeper converges to the minimum id of its connected
    component.

    Each round does TWO min steps: (a) hash-to-min over direct neighbors
    (keeper[x] = min over x's neighbors' keepers, and x's own) and (b)
    pointer jumping (keeper[x] = keeper[keeper[x]]).  Step (a) alone
    spreads the min one hop per round (linear in chain length); the jump
    step doubles the reach each round, so convergence is O(log L) rounds
    for chains of length L — two shuffles per round over the EDGE list
    only, which at web scale is tiny next to the corpus (only docs with
    duplicate evidence appear).  ``localCheckpoint`` truncates lineage so
    the iteration does not stack a quadratic plan.  Raises if
    ``max_rounds`` is hit without a fixpoint — a silently under-merged
    keeper mapping must never ship.

    The edge list is materialized ONCE up front (so the expensive edge
    producers — LSH + verification plans — never re-run per round) and the
    iteration's parallelism is then sized to the EDGE count, not the
    corpus: duplicate-evidence edges are a tiny fraction of a 100-TB
    corpus, and running log-L rounds of joins at corpus-level partition
    counts pays tens of scheduler/shuffle round-trips for KB-scale data.
    ~1M edge rows per partition keeps even billion-edge web corpora at a
    sane width.

    Returns (id, keeper_id) for ids that appear in any edge.
    """
    both = edges.select(
        F.col("a_id"), F.col("b_id")
    ).union(edges.select(F.col("b_id").alias("a_id"), F.col("a_id").alias("b_id"))).distinct().localCheckpoint()
    n_edges = both.count()
    n_parts = max(1, min(int(n_edges // 1_000_000) + 1, 2000))
    both = both.repartition(n_parts, "b_id").localCheckpoint()
    keeper = both.select(F.col("a_id").alias("id")).distinct().withColumn(
        "keeper_id", F.col("id")
    ).repartition(n_parts, "id").localCheckpoint()
    for _ in range(max_rounds):
        neigh = (
            both.join(keeper, both.b_id == keeper.id)
            .groupBy("a_id").agg(F.min("keeper_id").alias("nk"))
        )
        stepped = keeper.join(neigh, keeper.id == neigh.a_id, "left").select(
            "id",
            F.least(
                F.col("keeper_id"),
                F.coalesce(F.col("nk"), F.col("keeper_id")),
            ).alias("keeper_id"),
        )
        # pointer jumping: keeper[x] <- keeper[keeper[x]]
        parent = stepped.select(
            F.col("id").alias("pid"), F.col("keeper_id").alias("pk")
        )
        nxt = (
            stepped.join(parent, stepped.keeper_id == parent.pid, "left")
            .select(
                "id",
                F.least(
                    F.col("keeper_id"), F.coalesce("pk", F.col("keeper_id"))
                ).alias("keeper_id"),
            )
        ).localCheckpoint()
        changed = (
            nxt.alias("n")
            .join(keeper.alias("k"), "id")
            .filter(F.col("n.keeper_id") != F.col("k.keeper_id"))
            .count()
        )
        keeper = nxt
        if changed == 0:
            return keeper
    raise RuntimeError(
        f"propagate_min_keeper: no fixpoint after {max_rounds} rounds — "
        f"duplicate groups would be under-merged; raise max_rounds"
    )


def dedup_group_keepers(
    df: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    **lsh_kwargs,
) -> DataFrame:
    """Whole-corpus duplicate grouping: exact-duplicate edges (identical
    md5) UNION MinHash-LSH near-duplicate edges (verified Jaccard >=
    ``threshold``), collapsed transitively so every doc maps to the minimum
    id of its duplicate component — the policy a training-data pipeline
    actually ships (A~B and B~C must drop to ONE keeper even when A~C
    itself is below threshold).

    Scale: both edge producers are bucketed equi-join plans; the component
    collapse (``propagate_min_keeper``) iterates over the edge list only.
    NULL-text docs (failed fetches) never form groups and keep themselves.
    Returns (id, keeper_id) for EVERY input doc (keeper_id = id when
    unique).
    """
    base = df.filter(F.col(text_col).isNotNull())
    ek = exact_dedup_keepers(base, id_col, text_col)
    exact_edges = ek.filter(F.col(id_col) != F.col("keeper_id")).select(
        F.col("keeper_id").alias("a_id"), F.col(id_col).alias("b_id")
    )
    near_edges = minhash_lsh_dedup_pairs(
        df, threshold, id_col, text_col, **lsh_kwargs
    ).select("a_id", "b_id")
    grouped = propagate_min_keeper(exact_edges.union(near_edges))
    return (
        df.select(F.col(id_col).alias("id"))
        .join(grouped, "id", "left")
        .select("id", F.coalesce("keeper_id", F.col("id")).alias("keeper_id"))
    )


def dedup_group_best_keepers(
    df: DataFrame,
    score_col: str,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    ascending: bool = False,
    **lsh_kwargs,
) -> DataFrame:
    """``dedup_group_keepers`` with a QUALITY policy: within each duplicate
    component the keeper is the member with the best ``score_col``
    (highest by default; ``ascending=True`` for lower-is-better scores like
    LM logprob-per-token), tie-break minimum id — real pipelines keep the
    cleanest copy of a duplicated page, not the one with the smallest
    crawl id.  NULL scores lose to any non-NULL score (ranked last).

    Scale: the grouping is the same edge-list collapse; the best-of pass
    is one row_number window over (id, group, score) — Spark rewrites the
    rank-1 filter into a partial WindowGroupLimit below the exchange — and
    one group-keyed join back.  Returns (id, keeper_id) for EVERY input
    doc, keeper_id = id for singletons.
    """
    groups = dedup_group_keepers(
        df, threshold, id_col, text_col, **lsh_kwargs
    )  # (id, keeper_id) — keeper_id is the component label
    scores = df.select(F.col(id_col).alias("id"), F.col(score_col).alias("_s"))
    j = groups.join(scores, "id")
    order = F.col("_s").asc_nulls_last() if ascending \
        else F.col("_s").desc_nulls_last()
    w = Window.partitionBy("keeper_id").orderBy(order, F.col("id").asc())
    best = (
        j.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select(F.col("keeper_id").alias("_grp"), F.col("id").alias("_best"))
    )
    return (
        j.join(best, j["keeper_id"] == best["_grp"])
        .select("id", F.col("_best").alias("keeper_id"))
    )


# ---------------------------------------------------------------------------
# Cross-corpus contamination (train/eval decontamination)
# ---------------------------------------------------------------------------


def contamination_hits(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 5,
    keep: list[str] | None = None,
    broadcast_eval: bool = True,
    hashed: bool = False,
) -> DataFrame:
    """Per-train-document eval-set n-gram containment — the test-set
    decontamination primitive of an LLM training pipeline (flag training
    documents that share word n-grams with a held-out benchmark/eval
    corpus, the standard n-gram-overlap decontamination rule).

    Returns one row per train doc: (id, [keep...], n_ngrams, n_hits,
    containment) where n_ngrams is the doc's DISTINCT n-gram count, n_hits
    how many of those appear anywhere in the eval corpus, and containment
    = n_hits / n_ngrams (one division of two exact BIGINTs —
    bit-identical across engines).

    Scale design (100 TB train, MB..GB eval): the eval n-gram set is tiny
    relative to the corpus (benchmarks are at most millions of n-grams) —
    it is DISTINCTed, tagged, and **broadcast** as the build side of ONE
    left-outer hash join against the exploded train shingles, so the
    expensive shingle construction runs exactly ONCE over the train scan
    and the train corpus is never shuffled at shingle grain: the per-doc
    groupBy emits both n_ngrams (count of exploded rows — shingle arrays
    are distinct per doc) and n_hits (sum of broadcast-probe hit flags)
    behind a map-side partial aggregate, so the Exchange carries ~one tiny
    row per document per input partition, never the shingle frame.  For
    billion-n-gram eval sets switch ``broadcast_eval=False`` (shuffle
    equi-join) — same semantics.

    ``hashed=True`` is the web-scale mode: n-grams live in the 64-bit
    chained-xxhash64 space — ~2x the shingle build (no string concat) and
    the broadcast eval set costs 8 B/n-gram instead of whole strings
    (at ~100 tokens/page an eval corpus of 10k pages broadcasts ~10 MB of
    longs vs ~80 MB of strings).  Exact up to ~|eval|·|doc|/2^64 chance
    collisions per document — negligible; the gated query keeps the
    string-exact mode so the DuckDB oracle reproduces it bit-for-bit.
    """
    maker = hashed_shingle_sets if hashed else shingle_sets
    exploded = maker(train, id_col, text_col, ngram, keep=keep)
    ev = (
        maker(eval_df, id_col, text_col, ngram)
        .select("shingle")
        .distinct()
        .withColumn("_hit", F.lit(1).cast("long"))
    )
    if broadcast_eval:
        ev = F.broadcast(ev)
    per_doc = (
        exploded.join(ev, "shingle", "left")
        .groupBy(id_col, *(keep or []))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_ngrams"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0).cast("long")))
            .cast("long")
            .alias("n_hits"),
        )
    )
    return per_doc.select(
        id_col,
        *(keep or []),
        "n_ngrams",
        "n_hits",
        (F.col("n_hits").cast("double") / F.col("n_ngrams").cast("double")).alias(
            "containment"
        ),
    )


def eval_ngram_bloom(
    eval_df: DataFrame,
    ngram: int = 5,
    fpr: float = 0.01,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> bytes:
    """Serialize the eval corpus's hashed n-gram set into ONE Bloom filter
    blob — the reusable, storable decontamination artifact (build once per
    benchmark release, probe every training run).  ~1.2 KB per 1k n-grams
    at 1% fpr, vs 8 B/n-gram for the raw hash set: the blob stays
    broadcastable at eval corpora far past the raw-set comfort zone.
    Zero false negatives by construction."""
    from sketchlib.spark.sketch_ops import sketch_aggregate

    from sketchlib.bloom import Bloom

    # polynomial rolling-hash construction: build and probe run the SAME
    # kernel (``poly_shingle_values`` / ``bloom_decontam_flags`` both call
    # ``hashing.poly_window_fold``), so zero false negatives hold by
    # construction.  Blobs built by an older construction are incompatible
    # — rebuild them (the build is one tiny eval-corpus pass).  NULL-text
    # docs contribute nothing (the kernel zeroes their lengths; Spark's
    # xxhash64(NULL) = seed would otherwise flag every null-text train doc).
    # persist between the sizing count and the sketch build: the distinct
    # shingle set is 8 B/n-gram (KB-MB at eval-corpus scale) and caching it
    # avoids re-running the tokenize + Arrow window pass
    sh = poly_shingle_values(eval_df, text_col, ngram).distinct().persist()
    try:
        n = sh.count()
        params = {"fpr": fpr, "expected_n": max(n, 1000)}
        rows = sketch_aggregate(sh, [], "shingle", "bloom", params).collect()
    finally:
        sh.unpersist()
    if not rows:  # empty eval corpus -> empty filter (flags nothing)
        return Bloom(expected_n=params["expected_n"], fpr=fpr).serialize()
    return bytes(rows[0]["sketch"])


def bloom_decontam_flags(
    df: DataFrame,
    bloom_blob: bytes,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 5,
    keep: list[str] | None = None,
) -> DataFrame:
    """STATELESS decontamination flagging against a Bloom filter of eval
    n-grams: one row per input doc with a ``contaminated`` boolean (true
    iff ANY of the doc's n-grams probes positive).  Zero false negatives —
    no leaked eval content ever survives the filter; false positives drop
    extra docs at the fpr-bounded rate (the conservative trade a
    decontamination pass wants).

    Because this is a pure projection (no shuffle, no state), the SAME
    function runs on a Structured Streaming DataFrame unchanged — the
    streaming ingest decontaminator.

    Hot-path split (polynomial rolling-hash construction — the same kernel
    ``eval_ngram_bloom`` builds with): the JVM hashes each token string
    exactly ONCE (``xxhash64(token)`` inside one ``transform``); the Arrow
    stage gets the per-token hash arrays as ONE flat int64 buffer
    (zero-copy, no per-row objects) and runs ``poly_window_fold`` — the
    O(total-tokens) rolling window hash, ~70x a per-window chained fold —
    then the Bloom base hash (``xxh64_long``, bit-identical to the JVM
    ``xxhash64(shingle)`` the build-side aggregator ingests) and one
    vectorized ``contains_hashed`` probe per batch.
    """
    import numpy as np
    import pyarrow as pa

    from sketchlib.bloom import Bloom
    from sketchlib.hashing import poly_window_fold, xxh64_long

    cols = [id_col] + list(keep or [])
    d = with_tokens(df.select(*cols, text_col), text_col)
    staged = d.select(*cols, _token_hash_expr(text_col).alias("_th"))
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(bytes(bloom_blob))
    n = ngram

    out_fields = [f.name for f in staged.schema.fields if f.name != "_th"]
    out_schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in staged.schema.fields
         if f.name != "_th"] + ["contaminated boolean"]
    )

    def probe(batches):
        b = Bloom.deserialize(bc.value)
        for batch in batches:
            i_th = batch.schema.get_field_index("_th")
            col = batch.column(i_th)
            offs = np.asarray(col.offsets, dtype=np.int64)
            vals = np.asarray(col.values, dtype=np.int64)
            nulls = np.asarray(col.is_null())
            lens = np.diff(offs)
            lens[nulls] = 0  # null-text docs: no windows, never flagged
            # min_one: empty-text docs probe the empty-sum window (0),
            # mirroring the build side's convention for such docs
            win, woffs = poly_window_fold(vals, offs, n, lens=lens,
                                          min_one=~nulls)
            hits = b.contains_hashed(xxh64_long(win))
            hc = np.concatenate([[0], np.cumsum(hits)])
            seg = hc[woffs[1:]] > hc[woffs[:-1]]
            arrays = [batch.column(j) for j, f in enumerate(batch.schema)
                      if f.name != "_th"]
            yield pa.RecordBatch.from_arrays(
                arrays + [pa.array(seg)], names=out_fields + ["contaminated"]
            )

    ensure_on_workers(staged.sparkSession)
    return staged.mapInArrow(probe, schema=out_schema)


def bloom_overlap_stats(
    df: DataFrame,
    bloom_blob: bytes,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 5,
    keep: list[str] | None = None,
) -> DataFrame:
    """GRADED corpus-overlap scoring against a Bloom filter of reference
    n-grams: one row per input doc with ``n_windows`` (the doc's n-gram
    window count), ``n_hits`` (windows probing positive) and
    ``overlap_ratio`` = n_hits / n_windows — the graded form of
    ``bloom_decontam_flags``'s boolean.  Use it where "contains ANY eval
    n-gram" is the wrong bar: novelty scoring ("drop docs whose content
    is >X% already in the reference corpus"), memorization auditing
    (generated-text overlap with the training set), or soft
    decontamination thresholds.

    Zero false negatives inherit from the Bloom: a doc truly overlapping
    the reference can never under-count below its true hit count, so
    ``overlap_ratio`` is an upper-bound estimate whose error is
    fpr-bounded per window and one-sided — a doc that IS a reference doc
    scores exactly 1.0.  ``contaminated`` (n_hits > 0) is emitted too and
    agrees with ``bloom_decontam_flags`` on the same blob by construction
    (same kernel, same probe) for every doc with >= 1 token; NULL-text
    AND empty-text docs have no windows here (ratio NULL — a ratio over
    zero content is undefined), whereas the flags probe applies the
    empty-matches-empty convention to empty-but-non-null text.

    Same hot-path shape as the flags probe (one JVM token-hash pass, flat
    Arrow buffer, ``poly_window_fold``, one vectorized ``contains_hashed``
    per batch); a stateless projection, so it runs on a readStream
    unchanged.
    """
    import numpy as np
    import pyarrow as pa

    from sketchlib.bloom import Bloom
    from sketchlib.hashing import poly_window_fold, xxh64_long

    cols = [id_col] + list(keep or [])
    d = with_tokens(df.select(*cols, text_col), text_col)
    staged = d.select(*cols, _token_hash_expr(text_col).alias("_th"))
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(bytes(bloom_blob))
    n = ngram

    out_fields = [f.name for f in staged.schema.fields if f.name != "_th"]
    out_schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in staged.schema.fields
         if f.name != "_th"]
        + ["n_windows bigint", "n_hits bigint", "overlap_ratio double",
           "contaminated boolean"]
    )

    def probe(batches):
        b = Bloom.deserialize(bc.value)
        for batch in batches:
            i_th = batch.schema.get_field_index("_th")
            col = batch.column(i_th)
            offs = np.asarray(col.offsets, dtype=np.int64)
            vals = np.asarray(col.values, dtype=np.int64)
            nulls = np.asarray(col.is_null())
            lens = np.diff(offs)
            lens[nulls] = 0  # null-text docs: no windows
            # unlike the flags probe, empty-but-non-null docs get NO
            # fallback window here: a ratio over zero content is undefined
            win, woffs = poly_window_fold(vals, offs, n, lens=lens)
            hits = b.contains_hashed(xxh64_long(win))
            hc = np.concatenate([[0], np.cumsum(hits)])
            n_hits = hc[woffs[1:]] - hc[woffs[:-1]]
            n_win = woffs[1:] - woffs[:-1]
            ratio = np.where(n_win > 0, n_hits / np.maximum(n_win, 1), np.nan)
            arrays = [batch.column(j) for j, f in enumerate(batch.schema)
                      if f.name != "_th"]
            yield pa.RecordBatch.from_arrays(
                arrays + [
                    pa.array(n_win),
                    pa.array(n_hits),
                    pa.array(ratio, type=pa.float64(), from_pandas=True),
                    pa.array(n_hits > 0),
                ],
                names=out_fields + ["n_windows", "n_hits", "overlap_ratio",
                                    "contaminated"],
            )

    ensure_on_workers(staged.sparkSession)
    return staged.mapInArrow(probe, schema=out_schema)


def fuzzy_decontam_pairs(
    train: DataFrame,
    eval_df: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    broadcast_eval: bool = True,
    max_bucket_size: int | None = None,
    measure: str = "jaccard",
    hashed_shingles: bool = False,
    kernel: str = "xxh",
    eager: bool = False,
) -> DataFrame:
    """NEAR-DUPLICATE test-set decontamination (asymmetric LSH): every
    (train doc, eval doc) pair whose word-``ngram`` similarity is >=
    ``threshold``.  Exact n-gram containment (``contamination_hits``/
    the Bloom probes) catches verbatim leakage; this catches the
    paraphrased/lightly-edited/template-shifted contamination exact
    n-grams miss — the fuzzy pass LLM decontamination pipelines run
    next to the exact one.

    Scale design (train = the 10^12-doc corpus, eval = benchmark suites,
    ~10^4-10^6 docs — asymmetry is the whole lever):

    - both sides are signed with the SAME deterministic minhash family
      (``minhash_signatures``; seeded ``xxhash64``, no RNG state), so
      signatures built on different days/clusters compose;
    - the banded EVAL side is KB-MB-scale and broadcast
      (``broadcast_eval=True``): candidate discovery is a map-side hash
      join against the train scan — the train corpus never shuffles to
      discover candidates;
    - exact verification joins shingles of the CANDIDATE train docs only
      (left-semi pruned before persisting anything) against eval
      shingles, grouped per pair — no false positives; recall loss is
      the banding curve ``1-(1-t^r)^b``, identical to
      ``minhash_lsh_dedup_pairs``;
    - ``measure="containment_eval"`` thresholds ``n_common / n_eval``
      (the share of the EVAL doc present in the train doc) — the
      decontam-grade asymmetric signal: a benchmark question embedded in
      a long page scores ~1.0 even though Jaccard is tiny.  MinHash
      banding estimates JACCARD, so for containment discovery pass a
      lower banding threshold upstream (see ``ngram_jaccard_pairs``'s
      containment note); the default jaccard mode keeps discovery and
      verification aligned.

    Output: (train_id, eval_id, n_common, n_train, n_eval, <measure>).
    Ids may overlap between the two corpora — pairs are keyed by role,
    never by ``a<b`` ordering.  Downstream: ``groupBy(train_id)`` for
    doc flags, or anti-join the keeper set.  ``kernel="poly"`` signs both
    sides with the polynomial Arrow kernel (see ``minhash_signatures``);
    both sides always share one family — signatures from different
    kernels never mix.

    Caching contract: the verify stage persists the candidate set and
    both candidate shingle frames.  By default the result is a lazy plan
    (it composes into a larger one and runs once, when the caller acts on
    it), and the three persisted frames live until
    ``spark.catalog.clearCache()``.  ``eager=True`` runs the plan inside
    the call, ``localCheckpoint``s the (small, contamination-sized)
    result and unpersists every intermediate, so repeated calls in a
    long-lived session leak nothing; the checkpoint truncates lineage,
    so an executor lost after the call loses that result for good
    (``jobs/decontaminate_corpus.py`` opts in: it acts on the result
    twice and holds one session).
    """
    rpb = num_perm // bands
    sig_t = minhash_signatures(train, id_col, text_col, ngram, num_perm,
                               kernel=kernel)
    sig_e = minhash_signatures(eval_df, id_col, text_col, ngram, num_perm,
                               kernel=kernel)
    bt = banded_signatures(sig_t, id_col, bands, rpb)
    be = banded_signatures(sig_e, id_col, bands, rpb).select(
        F.col(id_col).alias("eval_id"), "band", "bh"
    )
    bt = _cap_buckets(bt, ["band", "bh"], max_bucket_size)
    if broadcast_eval:
        be = F.broadcast(be)
    cand = (
        bt.join(be, ["band", "bh"])
        .select(F.col(id_col).alias("train_id"), "eval_id")
        .distinct()
    )
    maker = hashed_shingle_sets if hashed_shingles else shingle_sets
    sh_t = maker(train, id_col, text_col, ngram)
    sh_e = maker(eval_df, id_col, text_col, ngram)
    cand = cand.cache()
    sh_t = sh_t.join(
        F.broadcast(cand.select(F.col("train_id").alias(id_col)).distinct()),
        id_col, "left_semi",
    ).select(F.col(id_col).alias("train_id"), "shingle")
    sh_e = sh_e.join(
        F.broadcast(cand.select(F.col("eval_id").alias(id_col)).distinct()),
        id_col, "left_semi",
    ).select(F.col(id_col).alias("eval_id"), "shingle")
    from pyspark.storagelevel import StorageLevel

    sh_t = sh_t.persist(StorageLevel.MEMORY_AND_DISK)
    sh_e = sh_e.persist(StorageLevel.MEMORY_AND_DISK)
    n_t = sh_t.groupBy("train_id").agg(F.count("*").alias("n_train"))
    n_e = sh_e.groupBy("eval_id").agg(F.count("*").alias("n_eval"))
    common = (
        sh_t.join(sh_e, "shingle")
        .join(cand, ["train_id", "eval_id"], "left_semi")
        .groupBy("train_id", "eval_id")
        .agg(F.count("*").alias("n_common"))
    )
    if measure == "jaccard":
        sim = F.col("n_common") / (
            F.col("n_train") + F.col("n_eval") - F.col("n_common"))
    elif measure == "containment_eval":
        sim = F.col("n_common") / F.col("n_eval")
    else:
        raise ValueError(f"unknown measure {measure!r}")
    out = (
        common.join(n_t, "train_id")
        .join(F.broadcast(n_e), "eval_id")
        .withColumn(measure, sim)
        .filter(F.col(measure) >= threshold)
        .select("train_id", "eval_id", "n_common", "n_train", "n_eval", measure)
    )
    if eager:
        out = out.localCheckpoint(eager=True)
        for d in (cand, sh_t, sh_e):
            d.unpersist()
    return out


# ---------------------------------------------------------------------------
# Cross-document paragraph dedup (boilerplate removal)
# ---------------------------------------------------------------------------


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
    sep: str = "\n\n",
    broadcast_dups: bool = False,
) -> DataFrame:
    """Cross-document paragraph deduplication — the CCNet/Gopher
    boilerplate rule: a paragraph appearing in >= ``min_docs`` DISTINCT
    documents (navigation, cookie banners, footers) is removed from EVERY
    document.  Returns (id, text_clean, n_paragraphs, n_removed) for all
    input docs (NULL text passes through with zero counts).

    Scale design (the point at 100 TB):

    - paragraph TEXT never shuffles.  Stage 1 explodes (id, pos,
      md5(paragraph)) — 16-byte hashes; stage 2 finds duplicated hashes
      with one count-distinct-ids aggregate; stage 3 left-semi joins the
      removal positions back at (id, pos) grain and collapses them to one
      tiny int array per doc;
    - the rebuild is pure JVM codegen over the ORIGINAL row: re-split the
      text, drop the flagged positions with ``filter(transform(...))``,
      ``array_join`` the survivors — no Python, no text round-trip, and
      byte-exact for every surviving paragraph;
    - empty/whitespace-only paragraphs are ignored for counting (they'd
      all collide) but preserved positionally until removal decisions are
      made, so reconstruction is deterministic;
    - ``broadcast_dups=True`` broadcasts the duplicated-hash set when the
      boilerplate vocabulary is known to be small; the default shuffle
      join is safe at any cardinality.
    """
    paras = F.split(F.col(text_col), F.lit(sep))
    base = df.select(id_col, text_col).withColumn("_paras", paras)
    exploded = (
        base.select(id_col, F.posexplode("_paras").alias("_pos", "_p"))
        .filter(F.trim(F.col("_p")) != "")
        .select(id_col, "_pos", F.md5(F.encode("_p", "UTF-8")).alias("_h"))
    )
    dup_h = (
        exploded.groupBy("_h")
        .agg(F.count_distinct(F.col(id_col)).alias("_d"))
        .filter(F.col("_d") >= min_docs)
        .select("_h")
    )
    if broadcast_dups:
        dup_h = F.broadcast(dup_h)
    removals = (
        exploded.join(dup_h, "_h", "left_semi")
        .groupBy(id_col)
        .agg(F.collect_set("_pos").alias("_rm"))
    )
    rebuilt = (
        base.join(removals, id_col, "left")
        .withColumn("_rm", F.coalesce("_rm", F.array().cast("array<int>")))
        .select(
            id_col,
            F.when(
                F.col(text_col).isNull(), F.lit(None).cast("string")
            ).otherwise(
                F.array_join(
                    F.transform(
                        F.filter(
                            F.transform(
                                "_paras",
                                lambda p, i: F.struct(
                                    p.alias("p"), i.alias("i")),
                            ),
                            lambda s: ~F.array_contains("_rm", s["i"]),
                        ),
                        lambda s: s["p"],
                    ),
                    sep,
                )
            ).alias("text_clean"),
            F.coalesce(
                F.size(F.filter("_paras", lambda p: F.trim(p) != "")),
                F.lit(0),
            ).cast("long").alias("n_paragraphs"),
            F.size("_rm").cast("long").alias("n_removed"),
        )
    )
    return rebuilt


def duplicate_span_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span: int = 20,
    min_docs: int = 2,
    broadcast_dups: bool = False,
) -> DataFrame:
    """Cross-document duplicate-SPAN detection — the ExactSubstr family
    (Lee et al., "Deduplicating Training Data Makes Language Models
    Better"): a ``span``-token window whose content appears in >=
    ``min_docs`` DISTINCT documents is flagged at every position it
    occupies.  Paragraph dedup misses these (quotes, licence blocks,
    syndicated fragments rarely align to paragraph boundaries); this is
    the token-window form.  Returns one row per input doc:
    (id, n_tokens, n_dup_spans, dup_tokens, dup_frac) where ``dup_tokens``
    is the size of the UNION of the flagged [pos, pos+span) intervals and
    ``dup_frac`` = dup_tokens / n_tokens (0.0 for clean/short/NULL docs).

    Scale design: span text never shuffles — each position contributes
    ONE chained-xxhash64 int64 (the O(tokens x span) hash work stays in
    whole-stage codegen); the duplicated-hash set comes from one
    count-distinct-ids aggregate; flagged positions come back via a
    left-semi join at (id, pos) grain; interval-union coverage is a lead()
    window over flagged positions only.  At the reference 50-token grain a
    suffix array finds arbitrary-length repeats; this fixed-window form
    finds every repeat >= span tokens (a repeat of length L >= span flags
    L-span+1 overlapping windows whose union is exactly L tokens) at
    one-pass shuffle cost — Spark-first, resumable, streaming the corpus
    once.  ``broadcast_dups``: same trade as paragraph_dedup."""
    from sketchlib.spark.textops import with_tokens

    if span < 2:
        raise ValueError("duplicate_span_stats: span must be >= 2")
    base = with_tokens(df.select(id_col, text_col), text_col)
    # NULL text -> size() is NULL (or -1 under legacy conf): report 0 tokens
    n_tok = base.select(
        id_col,
        F.greatest(F.coalesce(F.size("tokens"), F.lit(0)), F.lit(0))
        .alias("n_tokens"),
    )

    # Hash each token ONCE (string xxhash64), then chain the span's int64
    # token-hashes per position — O(span) cheap long-hash ops instead of
    # O(span) string hashes per position (each token would otherwise be
    # string-hashed `span` times).  Same collision guarantees (two chained
    # 64-bit universes).
    def _h(th, i):
        return F.xxhash64(*[F.element_at(th, i + k) for k in range(span)])

    grams = (
        base.filter(F.size("tokens") >= span)
        .withColumn("_th", F.transform("tokens", lambda t: F.xxhash64(t)))
        .select(
            id_col,
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("tokens") - (span - 1)),
                    lambda i: F.struct(
                        i.alias("pos"), _h(F.col("_th"), i).alias("h")
                    ),
                )
            ).alias("g"),
        )
        .select(id_col, "g.pos", "g.h")
    )
    dup_h = (
        grams.groupBy("h")
        .agg(F.countDistinct(id_col).alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("h")
    )
    if broadcast_dups:
        dup_h = F.broadcast(dup_h)
    flagged = grams.join(dup_h, "h", "left_semi")

    w = Window.partitionBy(id_col).orderBy("pos")
    contrib = F.least(
        F.lit(span), F.coalesce(F.lead("pos").over(w) - F.col("pos"), F.lit(span))
    )
    per_doc = (
        flagged.withColumn("_c", contrib)
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_dup_spans"),
            F.sum("_c").alias("dup_tokens"),
        )
    )
    return (
        n_tok.join(per_doc, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
            F.when(
                F.col("n_tokens") > 0,
                F.coalesce("dup_tokens", F.lit(0))
                / F.col("n_tokens").cast("double"),
            ).otherwise(F.lit(0.0)).alias("dup_frac"),
        )
    )


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span: int = 20,
    min_docs: int = 2,
    keep_first: bool = False,
    broadcast_dups: bool = False,
    out_col: str = "text_clean",
    with_stats: bool = False,
) -> DataFrame:
    """The REMOVAL half of the ExactSubstr family (Lee et al. 2022):
    ``duplicate_span_stats`` measures cross-document duplicate-span
    coverage; this rebuilds each document WITHOUT the covered tokens — a
    repeat of length L >= ``span`` flags L−span+1 overlapping windows
    whose union is exactly the L repeated tokens, so the whole repeated
    passage is excised while surrounding text survives.

    ``keep_first=False`` (default) removes every occurrence — the
    quote/licence-block/syndication boilerplate convention (like
    ``paragraph_dedup``).  ``keep_first=True`` keeps the copy in the span
    hash's MIN-id document (every occurrence there), the
    content-preserving convention: exactly one document retains the
    passage.

    Output: (id, out_col, n_tokens, dup_tokens, n_kept_tokens);
    ``with_stats=True`` appends the ``duplicate_span_stats`` columns
    (``n_dup_spans``, ``dup_frac``) from the SAME single gram pass — the
    flagged-start set is already in hand, so measuring and removing
    together costs one scan where calling both operators costs two.  A doc
    with nothing to remove keeps its ORIGINAL text bytes verbatim; a
    touched doc is rebuilt as its kept tokens single-space-joined (the
    whitespace-tokenizer round trip — compose with ``normalize_text``
    upstream if byte-stable whitespace matters).  NULL/short docs pass
    through untouched with zero counts.

    Scale design — identical to the stats op: span text never shuffles
    (one chained-xxhash64 int64 per position); flagged starts come back
    per doc as ONE sorted int array; overlapping starts are merged into
    disjoint intervals by a JVM ``aggregate`` lambda and the rebuild is a
    per-row ``filter``+``array_join`` projection over the merged
    intervals — no Python anywhere, no second scan of the text.
    """
    from sketchlib.spark.textops import with_tokens

    if span < 2:
        raise ValueError("remove_duplicate_spans: span must be >= 2")
    base = with_tokens(df.select(id_col, text_col), text_col)

    def _h(th, i):
        return F.xxhash64(*[F.element_at(th, i + k) for k in range(span)])

    grams = (
        base.filter(F.size("tokens") >= span)
        .withColumn("_th", F.transform("tokens", lambda t: F.xxhash64(t)))
        .select(
            id_col,
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("tokens") - (span - 1)),
                    lambda i: F.struct(
                        i.alias("pos"), _h(F.col("_th"), i).alias("h")
                    ),
                )
            ).alias("g"),
        )
        .select(id_col, "g.pos", "g.h")
    )
    dup_h = (
        grams.groupBy("h")
        .agg(
            F.countDistinct(id_col).alias("_nd"),
            F.min(id_col).alias("_keeper"),
        )
        .filter(F.col("_nd") >= min_docs)
        .select("h", "_keeper")
    )
    if broadcast_dups:
        dup_h = F.broadcast(dup_h)
    flagged = grams.join(dup_h, "h")
    if keep_first:
        flagged = flagged.filter(F.col(id_col) != F.col("_keeper"))
    starts = flagged.groupBy(id_col).agg(
        F.sort_array(F.collect_set("pos")).alias("_starts")
    )

    # merge sorted starts into disjoint [lo, hi) intervals, JVM-side
    iv_schema = "array<struct<lo:int,hi:int>>"
    merged = F.aggregate(
        F.col("_starts"),
        F.expr(f"CAST(array() AS {iv_schema})"),
        lambda acc, s: F.when(
            (F.size(acc) == 0) | (s > F.element_at(acc, -1)["hi"]),
            F.concat(
                acc,
                F.array(F.struct(
                    s.cast("int").alias("lo"),
                    (s + span).cast("int").alias("hi"),
                )),
            ),
        ).otherwise(
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.struct(
                    F.element_at(acc, -1)["lo"].alias("lo"),
                    F.greatest(
                        F.element_at(acc, -1)["hi"], (s + span).cast("int")
                    ).alias("hi"),
                )),
            )
        ),
    )

    n_tokens = F.greatest(F.coalesce(F.size("tokens"), F.lit(0)), F.lit(0))
    joined = base.join(starts, id_col, "left").withColumn("_iv", merged)
    covered = F.coalesce(
        F.aggregate(
            "_iv",
            F.lit(0),
            # clip hi to T+1: a window near the end never covers past T
            lambda acc, iv: acc
            + F.least(iv["hi"], n_tokens + 1) - iv["lo"],
        ),
        F.lit(0),
    )
    kept = F.filter(
        F.zip_with(
            F.col("tokens"),
            F.sequence(F.lit(1), F.greatest(F.size("tokens"), F.lit(1))),
            lambda t, i: F.struct(t.alias("t"), i.alias("i")),
        ),
        lambda x: ~F.exists(
            F.coalesce(F.col("_iv"), F.expr(f"CAST(array() AS {iv_schema})")),
            lambda iv: (x["i"] >= iv["lo"]) & (x["i"] < iv["hi"]),
        ),
    )
    rebuilt = F.array_join(F.transform(kept, lambda x: x["t"]), " ")
    cols = [
        id_col,
        F.when(F.col("_iv").isNull() | (F.size("_iv") == 0),
               F.col(text_col))
        .when(F.col(text_col).isNotNull(), rebuilt)
        .alias(out_col),
        n_tokens.cast("long").alias("n_tokens"),
        covered.cast("long").alias("dup_tokens"),
        (n_tokens - covered).cast("long").alias("n_kept_tokens"),
    ]
    if with_stats:
        cols += [
            F.coalesce(F.size("_starts"), F.lit(0)).cast("long")
            .alias("n_dup_spans"),
            F.when(
                n_tokens > 0,
                covered / n_tokens.cast("double"),
            ).otherwise(F.lit(0.0)).alias("dup_frac"),
        ]
    return joined.select(*cols)
