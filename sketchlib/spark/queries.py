"""Headline queries + their DuckDB oracle SQL — the driver correctness gate.

Each ``QUERIES[name]`` is ``(spark, sf_dir) -> DataFrame``; ``ORACLES[name]``
is ANSI SQL DuckDB runs over the same parquet (views: region nation customer
supplier part orders lineitem events documents embeddings).  Column names and
types are aligned on both sides because the driver hashes values after
sorting columns by name.

Exactness strategy (SURVEY.md §5.9): the t-digest pipeline runs in *exact
mode* for gated queries — ``delta=0.0`` ("never merge", legal per reference
src/tdigest.ml, test:125) or ``discrete=True`` — so the full Spark path
(mapInPandas partials → shuffle → byte-concat merge → query UDF) is lossless
and its answers are bit-identical to SQL:

* merging-mode interpolated quantiles ≡ piecewise-linear interpolation at
  centroid midpoints (mean_cumn) — expressed with window functions;
* discrete-mode quantiles ≡ weighted Nearest Rank (min v with cum ≥ N·p,
  compared exactly: ``_rank_sql``);
* discrete-mode CDF ≡ count(x ≤ q)/count(*).

Compressed-mode (delta=0.01) accuracy is validated in pytest with tolerance
(rank error < delta) and exposed to the driver as a rows-only query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from sketchlib.spark.tdigest_ops import (
    tdigest_aggregate,
    tdigest_cdf_udf,
    tdigest_count_udf,
    tdigest_quantiles_udf,
)
from sketchlib.tdigest.core import rank_fraction


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from sketchlib.spark.shipping import ensure_on_workers

    ensure_on_workers(spark)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _released(out: DataFrame, *cached: DataFrame) -> DataFrame:
    """``out`` materialized (``localCheckpoint``), then the caches it was
    built from released: a query leaves nothing cached in the session, so
    repeated calls leak no storage memory."""
    out = out.localCheckpoint(eager=True)
    for df in cached:
        df.unpersist()
    return out


# ---------------------------------------------------------------------------
# Oracle SQL fragments
# ---------------------------------------------------------------------------


def _interp_quantile_sql(table: str, key: str, val: str, ps: dict[str, float]) -> str:
    """Exact SQL for merging-mode t-digest quantiles (midpoint interpolation).

    Replicates quantiles_of_centroids() bit-for-bit: identical expression
    tree in float64 (lerp ``pv + (h-pmc)*(v-pv)/(mc-pmc)``), identical
    clamping and Equal-hit semantics.
    """
    cases = []
    for alias, p in ps.items():
        cases.append(
            f"""  CASE WHEN max(total) * {p} <= min(mc) THEN min(v)
       WHEN max(total) * {p} >= max(mc) THEN max(v)
       ELSE max(CASE WHEN pmc < total * {p} AND total * {p} <= mc THEN
                  CASE WHEN total * {p} = mc THEN v
                       ELSE pv + (total * {p} - pmc) * (v - pv) / (mc - pmc) END
                END)
  END AS {alias}"""
        )
    sel = ",\n".join(cases)
    return f"""
WITH g AS (
  SELECT {key} AS k, CAST({val} AS DOUBLE) AS v, CAST(count(*) AS DOUBLE) AS c
  FROM {table}
  WHERE {val} IS NOT NULL
  GROUP BY {key}, {val}
), s AS (
  SELECT k, v, c,
         sum(c) OVER (PARTITION BY k ORDER BY v) AS cum,
         sum(c) OVER (PARTITION BY k) AS total
  FROM g
), m AS (
  SELECT k, v, cum - c/2 AS mc,
         lag(v) OVER (PARTITION BY k ORDER BY v) AS pv,
         lag(cum - c/2) OVER (PARTITION BY k ORDER BY v) AS pmc,
         total
  FROM s
)
SELECT k AS {key},
{sel}
FROM m
GROUP BY k
"""


def _rank_sql(p: float, cum: str = "cum", total: str = "total") -> str:
    """``cum ≥ total·p`` in exact integer arithmetic: ``(a, b) =
    rank_fraction(p)``, then ``cum·b ≥ total·a`` in HUGEINT (a ``total·a``
    of ``1/3``'s 16-digit numerator overflows BIGINT).  ``cum`` and
    ``total`` must hold integer values."""
    a, b = rank_fraction(p)
    return f"CAST({cum} AS HUGEINT) * {b} >= CAST({total} AS HUGEINT) * {a}"


def _nearest_rank_sql(source: str, keys: list[str], val: str,
                      ps: dict[str, float], weight: str | None = None,
                      total: str | None = None) -> str:
    """Exact SQL for discrete-mode t-digest quantiles: weighted Nearest Rank
    (reference percentile Discrete branch, src/tdigest.ml:454-455), the
    rule of ``core.nearest_rank``.  Per key of ``source``: the smallest
    ``val`` whose cumulative weight is ≥ ``N·p``, p read as the decimal
    ``a/b`` the caller wrote, i.e. the ``⌈N·a/b⌉``-th smallest value.
    The weight is ``weight`` summed (integer-valued) or the row count;
    ``total`` names an extra ``max(N)`` column.  ``source`` is a table,
    CTE or parenthesized subquery."""
    k = "".join(f"{c}, " for c in keys)
    part = f"PARTITION BY {', '.join(keys)}" if keys else ""
    sel = [f"min(v) FILTER (WHERE {_rank_sql(p)}) AS {alias}"
           for alias, p in ps.items()]
    if total:
        sel.append(f"max(total) AS {total}")
    group = f"\nGROUP BY {', '.join(keys)}" if keys else ""
    return f"""
SELECT {k}{', '.join(sel)}
FROM (
  SELECT {k}v,
         sum(c) OVER ({part} ORDER BY v) AS cum,
         sum(c) OVER ({part}) AS total
  FROM (SELECT {k}CAST({val} AS DOUBLE) AS v,
               CAST({f"sum({weight})" if weight else "count(*)"} AS DOUBLE) AS c
        FROM {source} WHERE {val} IS NOT NULL GROUP BY {k}{val})
){group}
"""


# ---------------------------------------------------------------------------
# Query implementations
# ---------------------------------------------------------------------------


def _explode_quantiles(digests: DataFrame, key: str, ps: dict[str, float],
                       discrete: bool) -> DataFrame:
    q = tdigest_quantiles_udf(list(ps.values()), discrete=discrete)
    out = digests.withColumn("_qs", q("digest"))
    for i, alias in enumerate(ps.keys()):
        out = out.withColumn(alias, F.col("_qs")[i])
    return out.select(key, *ps.keys())


PS_FLAGSHIP = {"q50": 0.5, "q95": 0.95, "q99": 0.99}
PS_DISCRETE = {"q25": 0.25, "q50": 0.5, "q75": 0.75, "q95": 0.95}


def q_td_quantiles_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: p50/p95/p99 of text length per lang — exact-mode t-digest
    through the full distributed plan."""
    docs = load(spark, sf_dir, "documents")
    dig = tdigest_aggregate(docs, ["lang"], "n_chars", delta=0.0)
    return _explode_quantiles(dig, "lang", PS_FLAGSHIP, discrete=False)


def q_td_discrete_quantiles_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-mode quantiles (reference Nearest Rank Method) of n_chars
    per lang — every distinct value is its own exact centroid."""
    docs = load(spark, sf_dir, "documents")
    dig = tdigest_aggregate(docs, ["lang"], "n_chars", discrete=True)
    return _explode_quantiles(dig, "lang", PS_DISCRETE, discrete=True)


def q_td_cdf_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-mode CDF (p_rank) of n_chars at fixed thresholds."""
    docs = load(spark, sf_dir, "documents")
    dig = tdigest_aggregate(docs, ["lang"], "n_chars", discrete=True)
    cdf = tdigest_cdf_udf([200.0, 500.0, 1000.0], discrete=True)
    out = dig.withColumn("_c", cdf("digest"))
    return out.select(
        "lang",
        F.col("_c")[0].alias("cdf_200"),
        F.col("_c")[1].alias("cdf_500"),
        F.col("_c")[2].alias("cdf_1000"),
    )


def q_td_compressed_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production mode (delta=0.01, compressed centroids) gated by the
    reference accuracy law (test/test_tdigest.ml:137-154): for each estimate
    the EXACT rank interval [count(v < est)/N, count(v <= est)/N] must
    intersect [p - delta, p + delta].  The booleans are driver-hashable, so
    the approximate production path gets a hard oracle: the DuckDB side
    asserts TRUE per (lang, p).  Plan: digest build scan + one broadcast of
    the 5 estimate rows back over a second scan for the exact rank counts."""
    delta = 0.01
    docs = load(spark, sf_dir, "documents")
    dig = tdigest_aggregate(docs, ["lang"], "n_chars", delta=delta)
    est = _explode_quantiles(dig, "lang", PS_FLAGSHIP, discrete=False)
    j = docs.select("lang", "n_chars").join(F.broadcast(est), "lang")
    aggs = [F.count("*").alias("n_docs")]
    for alias in PS_FLAGSHIP:
        aggs.append(F.sum((F.col("n_chars") < F.col(alias)).cast("long")).alias(f"_lt_{alias}"))
        aggs.append(F.sum((F.col("n_chars") <= F.col(alias)).cast("long")).alias(f"_le_{alias}"))
    agg = j.groupBy("lang").agg(*aggs)
    checks = [
        (
            (F.col(f"_le_{alias}") / F.col("n_docs") >= F.lit(p - delta))
            & (F.col(f"_lt_{alias}") / F.col("n_docs") <= F.lit(p + delta))
        ).alias(f"{alias}_ok")
        for alias, p in PS_FLAGSHIP.items()
    ]
    return agg.select("lang", "n_docs", *checks)


# ---------------------------------------------------------------------------
# Sibling sketches (HLL / CMS / Bloom / KLL)
# ---------------------------------------------------------------------------


# filled in by q_bloom_membership_by_source for inspection/benchmarking:
# {source: serialized filter bytes} of the most recent run
LAST_BLOOM_FILTER_BYTES: dict[str, int] = {}


def q_bloom_membership_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a per-source Bloom filter over doc_ids (distributed two-phase),
    broadcast the filters, and probe every doc_id — zero false negatives
    means the matched count equals the row count exactly.

    Each source's filter is sized to ITS row count (one cheap JVM
    ``groupBy(source).count()`` whose output is #sources rows), not the
    global table count: with S sources, global sizing makes the collected
    filter set S× larger than needed — at web scale that is S × GB-scale
    broadcast.  Per-key sizing keeps total broadcast bytes ≈ n_total·9.6
    bits regardless of S.  Sizes are recorded in LAST_BLOOM_FILTER_BYTES."""
    import pandas as pd

    from sketchlib.bloom import Bloom
    from sketchlib.spark.sketch_ops import sketch_aggregate

    docs = load(spark, sf_dir, "documents")
    counts = {
        r["source"]: r["n"]
        for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    per_key = {(s,): {"expected_n": max(n, 1000)} for s, n in counts.items()}
    filters = {
        r["source"]: bytes(r["sketch"])
        for r in sketch_aggregate(
            docs, ["source"], "doc_id", "bloom", {"fpr": 0.01},
            params_by_key=spark.sparkContext.broadcast(per_key),
        ).collect()
    }
    LAST_BLOOM_FILTER_BYTES.clear()
    LAST_BLOOM_FILTER_BYTES.update({s: len(b) for s, b in filters.items()})
    bc = spark.sparkContext.broadcast(filters)

    probe = docs.select("source", F.xxhash64("doc_id").alias("h"))
    schema = "source string, matched long, total long"

    def check(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for src, idx in pdf.groupby("source", sort=False).indices.items():
                b = Bloom.deserialize(bc.value[src])
                hits = b.contains_hashed(
                    pdf["h"].to_numpy(dtype="int64")[idx].view(np.uint64)
                )
                rows.append((src, int(hits.sum()), len(idx)))
            yield pd.DataFrame(rows, columns=["source", "matched", "total"])

    per_batch = probe.mapInPandas(check, schema=schema)
    return per_batch.groupBy("source").agg(
        F.sum("matched").alias("n_members"), F.sum("total").alias("n_docs")
    )


def q_cms_source_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global count-min over the source column; point-query each distinct
    source.  With w≫#keys the min over 5 rows is collision-free, so the
    estimates equal the exact counts (CMS never undercounts).

    The probe is DISTRIBUTED: the fixed-size CMS blob (w*d*8 bytes,
    ~640 KB here) is broadcast and each executor queries its own slice of
    the distinct-key frame in one vectorized ``query_hashed`` call per
    Arrow batch — nothing but the one-row global sketch ever reaches the
    driver, so an unbounded key domain (source ≈ web domain) stays safe."""
    import pandas as pd

    from sketchlib.cms import CMS
    from sketchlib.spark.sketch_ops import sketch_aggregate

    docs = load(spark, sf_dir, "documents")
    blob = bytes(
        sketch_aggregate(docs, [], "source", "cms", {"width": 16384, "depth": 5})
        .collect()[0]["sketch"]
    )
    bc = spark.sparkContext.broadcast(blob)
    keys = docs.select("source", F.xxhash64("source").alias("h")).distinct()

    def probe(batches):
        import numpy as np

        cms = CMS.deserialize(bc.value)
        for pdf in batches:
            est = cms.query_hashed(
                pdf["h"].to_numpy(dtype="int64").view(np.uint64)
            )
            yield pd.DataFrame(
                {"source": pdf["source"], "est_count": est.astype("int64")}
            )

    return keys.mapInPandas(probe, schema="source string, est_count long")


def q_hll_union_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL as a semilattice: the UNION of the per-event-type user sketches
    must (a) estimate the overall distinct-user count within 2% and (b) be
    byte-identical to a direct global build — register-max union is
    commutative/associative/idempotent, so composing stored per-type
    sketches answers the cross-type question with zero fact rescans.
    Both laws are emitted as driver-hashable booleans; the oracle asserts
    them TRUE next to the exact count."""
    from sketchlib.hll import HLL
    from sketchlib.spark.sketch_ops import sketch_aggregate, sketch_merge

    ev = load(spark, sf_dir, "events")
    per_type = sketch_aggregate(ev, ["event_type"], "user_id", "hll", {"p": 14})
    unioned = sketch_merge(per_type.select("sketch"), [], "hll", {"p": 14})
    direct = sketch_aggregate(ev, [], "user_id", "hll", {"p": 14})
    # three tiny frames (1 row each / #types rows) — the comparison work is
    # O(sketch bytes), legitimately driver-side
    u_blob = bytes(unioned.collect()[0]["sketch"])
    d_blob = bytes(direct.collect()[0]["sketch"])
    est = HLL.deserialize(u_blob).estimate()
    return ev.agg(F.countDistinct("user_id").alias("n_exact")).select(
        "n_exact",
        (F.abs(F.lit(est) / F.col("n_exact") - 1.0) < 0.02).alias("union_within_2pct"),
        F.lit(u_blob == d_blob).alias("union_equals_direct"),
    )


_CMS_HH_SQL = """
SELECT lang, count(*) AS est_count, count(*) AS n_docs
FROM documents GROUP BY lang
HAVING count(*) >= ceil(0.2 * (SELECT count(*) FROM documents))
"""

def q_kll_nearest_rank_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL in oracle mode (k large enough that no compaction triggers at
    test scale): weighted nearest-rank quantiles, exactly SQL-checkable."""
    from pyspark.sql.types import ArrayType, DoubleType

    from sketchlib.kll import KLL
    from sketchlib.spark.sketch_ops import _blob_udf, sketch_aggregate

    docs = load(spark, sf_dir, "documents")
    sk = sketch_aggregate(docs, ["lang"], "n_chars", "kll", {"k": 32768})
    ps = list(PS_DISCRETE.values())
    quant = _blob_udf(ArrayType(DoubleType()),
                      lambda b: KLL.deserialize(b).quantile(ps).tolist())
    out = sk.withColumn("_q", quant("sketch"))
    for i, alias in enumerate(PS_DISCRETE):
        out = out.withColumn(alias, F.col("_q")[i])
    return out.select("lang", *PS_DISCRETE.keys())


# ---------------------------------------------------------------------------
# Training-data pipeline ops: text analysis, dedup, similarity search
# ---------------------------------------------------------------------------

_STOP_SQL = "['a','the','and','of','to','in']"
_TOKS = "list_filter(string_split(text, ' '), w -> w != '')"


def q_text_quality_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus quality scoring per lang; every ratio is one division of two
    exact integer sums (bit-identical under any partitioning)."""
    from sketchlib.spark.textops import quality_by_lang

    return quality_by_lang(load(spark, sf_dir, "documents"))


def q_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID via unigram frequency profile (broadcast join + argmax
    window), evaluated as a confusion matrix against the labeled lang."""
    from sketchlib.spark.textops import lang_id_confusion

    return lang_id_confusion(load(spark, sf_dir, "documents"))


def q_dedup_exact_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: every doc assigned min(doc_id) of its identical-text
    group via a window over md5(text) — hashes shuffle, never text."""
    from sketchlib.spark.dedup import exact_dedup_keepers

    return exact_dedup_keepers(load(spark, sf_dir, "documents"))


def q_dedup_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FOLD of the two near-dup pair paths (r4 slot consolidation —
    previously gated separately as dedup_jaccard_pairs +
    dedup_minhash_lsh_pairs, both green since r01 against the SAME exact
    SQL oracle): the exact word-3-gram shingle self-join runs once, and
    the MinHash → LSH banding discovery's candidate set joins per
    (a_id, b_id), so one entry gates the exact pair set AND LSH
    discovery completeness (``paths_agree`` — LSH recall is 1.0 at these
    params on well-separated planted near-dups, P[miss | J=0.9] ~= 4e-8;
    a missed pair yields a false verdict, failing the hash gate).  The
    LSH verification kernel is the same ``ngram_jaccard_pairs`` the
    exact side runs (no false positives), so each exact pair's candidate
    membership fully determines the LSH path's output —
    tests/test_dedup.py::test_minhash_lsh_equals_exact_pairs proves that
    end-to-end equality separately."""
    from sketchlib.spark.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        ngram_jaccard_pairs,
    )

    docs = load(spark, sf_dir, "documents")
    exact = ngram_jaccard_pairs(docs, threshold=0.8)
    # The LSH path's verified output is exactly (exact pairs) ∩ (candidate
    # pairs): same threshold, same exact verification kernel
    # (minhash_lsh_dedup_pairs IS ngram_jaccard_pairs over
    # lsh_candidate_pairs' output, and verification admits no false
    # positives).  So one exact join + candidate MEMBERSHIP proves both
    # paths without running the shingle join twice: paths_agree is false
    # for any exact pair LSH discovery missed (sub-threshold candidates
    # are legitimately absent from the exact side, hence LEFT join).
    cand = lsh_candidate_pairs(
        minhash_signatures(docs), bands=16, rows_per_band=4
    ).withColumn("_c", F.lit(True))
    return exact.join(cand, ["a_id", "b_id"], "left").select(
        "a_id", "b_id", "n_common", "n_a", "n_b", "jaccard",
        F.coalesce(F.col("_c"), F.lit(False)).alias("paths_agree"),
    )


_PROFILE_TABLE_COLS = [
    "l_quantity", "l_extendedprice", "l_returnflag", "l_linestatus",
    "l_shipdate",
]


def q_table_profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-driven table profiler (``sketch_ops.profile_table``): five
    lineitem columns of three types profiled in ONE scan + one KB-scale
    sketch shuffle — numerics get a production δ=0.01 t-digest + HLL,
    strings/timestamps HLL + an exact-total CMS.  Exact facts
    (n_rows/n_vals/n_nulls) hash-gate directly; the estimates gate as
    verdict booleans against in-plan exact checks (the DDSketch-law
    pattern): ``q50_ok``/``q95_ok`` = the digest estimate lies inside the
    exact value window [percentile(q−δ), percentile(q+δ)] (the reference
    rank-error ≤ δ law, test/test_tdigest.ml:137-154), ``distinct_ok`` =
    HLL within max(2%, ±2) of exact count(DISTINCT).  All estimates are
    deterministic (seeded hashing, no RNG), so the booleans are stable."""
    from sketchlib.spark.sketch_ops import profile_table

    li = load(spark, sf_dir, "lineitem").select(*_PROFILE_TABLE_COLS)
    prof = profile_table(li, _PROFILE_TABLE_COLS, delta=0.01)
    d = 0.01
    # exact apparatus in TWO separate aggregates: Spark's multi-distinct
    # rewrite Expands the input 5x, and a percentile in the SAME agg is
    # then evaluated over the expanded rows (measured 15-19 s vs ~4 s
    # split at sf0.1)
    ex_pct = li.agg(
        F.expr(f"percentile(l_quantity, array({0.5-d},{0.5+d},{0.95-d},"
               f"{0.95+d}))").alias("_wq"),
        F.expr(f"percentile(l_extendedprice, array({0.5-d},{0.5+d},"
               f"{0.95-d},{0.95+d}))").alias("_we"),
    )
    ex_dist = li.agg(
        *[F.count_distinct(F.col(c)).alias(f"_d_{c}")
          for c in _PROFILE_TABLE_COLS],
    )
    ex = ex_pct.crossJoin(ex_dist)
    j = prof.crossJoin(F.broadcast(ex))
    win = (
        F.when(F.col("column") == "l_quantity", F.col("_wq"))
        .when(F.col("column") == "l_extendedprice", F.col("_we"))
    )
    exact_d = F.coalesce(
        *[F.when(F.col("column") == c, F.col(f"_d_{c}").cast("double"))
          for c in _PROFILE_TABLE_COLS]
    )
    return j.select(
        "column", "dtype", "n_rows", "n_vals", "n_nulls",
        (F.abs(F.col("est_distinct") - exact_d)
         <= F.greatest(exact_d * 0.02, F.lit(2.0))).alias("distinct_ok"),
        F.when(win.isNotNull(),
               F.col("q50").between(win[0], win[1])).alias("q50_ok"),
        F.when(win.isNotNull(),
               F.col("q95").between(win[2], win[3])).alias("q95_ok"),
    )


def _profile_table_sql() -> str:
    parts = []
    for c in _PROFILE_TABLE_COLS:
        num = c in ("l_quantity", "l_extendedprice")
        dtype = ("double" if num
                 else "string" if c in ("l_returnflag", "l_linestatus")
                 else "timestamp_ntz")
        qok = "TRUE" if num else "NULL::BOOLEAN"
        parts.append(f"""
SELECT '{c}' AS "column", '{dtype}' AS dtype,
       count(*)::BIGINT AS n_rows, count({c})::BIGINT AS n_vals,
       (count(*) - count({c}))::BIGINT AS n_nulls,
       TRUE AS distinct_ok, {qok} AS q50_ok, {qok} AS q95_ok
FROM lineitem""")
    return "\nUNION ALL\n".join(parts)


def q_frequent_phrases_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-phrase miner (``textops.frequent_phrases``): the 10 most
    document-frequent word bigrams per lang — MG candidate discovery (one
    scan, KB sketch rows shuffle) + exact doc-frequency recovery (second
    scan, broadcast candidates, partial-top-k window).  Gated at
    m=1024 > the corpus's distinct-bigram count per lang (fixed 31-token
    synthetic vocab → ≤ 961 bigrams at ANY scale factor), so the MG stage
    is unsaturated: candidates are the full vocabulary with EXACT counts,
    the recovered top-k is exactly the SQL top-k, and ``est_lower`` equals
    ``n_docs`` — the same full-capacity gating trick as
    mg_sources_by_lang (the saturated n/(m+1) bounds are pytest laws:
    tests/test_textops.py plants boilerplate against a python oracle)."""
    from sketchlib.spark.textops import frequent_phrases

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    return frequent_phrases(docs, ngram=2, k=10, m=1024, keys=["lang"])


_FREQ_PHRASES_SQL = f"""
WITH t AS (SELECT doc_id, lang, text, {_TOKS} AS tk FROM documents),
sh AS (
  SELECT doc_id, lang, unnest(
    CASE WHEN len(tk) >= 2 THEN
      list_distinct(list_transform(range(1, len(tk)),
                                   i -> array_to_string(tk[i:i+1], ' ')))
    ELSE [text] END) AS phrase
  FROM t WHERE text IS NOT NULL
), df AS (
  SELECT lang, phrase, count(*)::BIGINT AS n_docs FROM sh GROUP BY 1, 2
), rk AS (
  SELECT lang, phrase, n_docs,
         row_number() OVER (PARTITION BY lang
                            ORDER BY n_docs DESC, phrase) AS r
  FROM df
)
SELECT lang, phrase, n_docs, n_docs AS est_lower FROM rk WHERE r <= 10
"""


def q_decontam_fuzzy_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-DUP decontamination (``dedup.fuzzy_decontam_pairs``): train
    docs (doc_id % 5 != 0) near-duplicate to ANY eval doc (doc_id % 5 ==
    0) at word-3-gram Jaccard >= 0.8 — the fuzzy pass that catches the
    paraphrased/edited contamination the exact n-gram containment gate
    (decontam_eval_overlap) misses.  Discovery is the asymmetric LSH
    join: the banded EVAL side broadcasts, the train corpus never
    shuffles to find candidates; verification is exact shingle Jaccard
    per candidate pair.  The oracle recomputes the full cross-split
    exact-Jaccard join; equality holds because banding recall at these
    params is ~1 on the planted near-dups (same curve as
    dedup_neardup_pairs)."""
    from sketchlib.spark.dedup import fuzzy_decontam_pairs

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    train = docs.filter(F.col("doc_id") % 5 != 0)
    ev = docs.filter(F.col("doc_id") % 5 == 0)
    return fuzzy_decontam_pairs(train, ev, threshold=0.8, eager=True)


def q_dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash pairs within Hamming distance 3 via 4-band blocking —
    complete by pigeonhole, so it equals the brute-force cross join that
    the generated 60-bit SQL oracle computes."""
    from sketchlib.spark.dedup import simhash_hamming_pairs

    return simhash_hamming_pairs(load(spark, sf_dir, "documents"), max_dist=3).select(
        "a_id", "b_id", F.col("hamming").cast("int").alias("hamming")
    )


def q_dedup_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicate-SPAN coverage (ExactSubstr family, Lee et
    al. 2022): per doc, how many 10-token windows also appear in another
    doc, and the token-union coverage of those windows
    (``dedup.duplicate_span_stats``).  Span text never shuffles — one
    chained-xxhash64 int64 per position; the oracle recomputes the same
    definition from gram CONTENT (hash collisions are the only divergence
    mode, ~1e-13 at this scale).

    Round-5 fold (strictly more work, same slot): the REMOVAL half
    (``dedup.remove_duplicate_spans``) rides along — per doc, the md5 of
    the rebuilt text with every covered token excised plus the kept-token
    count; untouched docs must hash their ORIGINAL bytes verbatim.  The
    oracle rebuilds the same bytes from gram content (per-doc covered
    position list + order-preserving ``list_filter``), so the removal is
    driver-gated byte-exactly, not just pytest-proved.  One gram pass:
    ``with_stats=True`` derives the stats columns from the remover's own
    flagged-start sets instead of running both operators (the two-call
    fold measured 2× the scan cost for identical output)."""
    from sketchlib.spark.dedup import remove_duplicate_spans

    docs = load(spark, sf_dir, "documents")
    rm = remove_duplicate_spans(docs, span=10, with_stats=True)
    return rm.select(
        "doc_id",
        "n_tokens",
        "n_dup_spans",
        "dup_tokens",
        "dup_frac",
        F.md5(
            F.encode(F.coalesce("text_clean", F.lit("")), "UTF-8")
        ).alias("clean_md5"),
        "n_kept_tokens",
    )


_SPAN_STATS_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
n AS (
  SELECT doc_id, greatest(coalesce(len(tk), 0), 0)::BIGINT AS n_tokens FROM t
), g AS (
  SELECT doc_id, u.pos, array_to_string(tk[u.pos:u.pos+9], ' ') AS gram
  FROM t, UNNEST(CASE WHEN len(tk) >= 10 THEN range(1, len(tk) - 8)
                 ELSE [] END) AS u(pos)
), dup AS (
  SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
), f AS (
  SELECT g.doc_id, g.pos FROM g JOIN dup USING (gram)
), c AS (
  SELECT doc_id, pos,
         least(10, coalesce(lead(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                            - pos, 10)) AS cov
  FROM f
), per AS (
  SELECT doc_id, count(*)::BIGINT AS n_dup_spans, sum(cov)::BIGINT AS dup_tokens
  FROM c GROUP BY doc_id
), cps AS (  -- per-doc covered token positions (1-based, matches list_filter i)
  SELECT doc_id, list(DISTINCT p) AS cov_pos
  FROM (SELECT f.doc_id, f.pos + u2.o AS p
        FROM f, UNNEST(range(0, 10)) AS u2(o))
  GROUP BY doc_id
), kept AS (
  SELECT t.doc_id,
         CASE WHEN cps.cov_pos IS NULL THEN coalesce(t.text, '')
              -- coalesce: DuckDB's array_to_string of an EMPTY list is
              -- NULL where Spark's array_join is '' (fully-covered docs)
              ELSE coalesce(array_to_string(
                list_filter(t.tk, (x, i) -> NOT list_contains(cps.cov_pos, i)),
                ' '), '')
         END AS clean,
         (greatest(coalesce(len(t.tk), 0), 0)
          - coalesce(len(cps.cov_pos), 0))::BIGINT AS n_kept_tokens
  FROM (SELECT doc_id, text, {_TOKS} AS tk FROM documents) t
  LEFT JOIN cps USING (doc_id)
)
SELECT n.doc_id, n.n_tokens,
       coalesce(per.n_dup_spans, 0)::BIGINT AS n_dup_spans,
       coalesce(per.dup_tokens, 0)::BIGINT AS dup_tokens,
       CASE WHEN n.n_tokens > 0
            THEN CAST(coalesce(per.dup_tokens, 0) AS DOUBLE)
                 / CAST(n.n_tokens AS DOUBLE)
            ELSE 0.0 END AS dup_frac,
       md5(kept.clean) AS clean_md5,
       kept.n_kept_tokens
FROM n LEFT JOIN per USING (doc_id) JOIN kept USING (doc_id)
"""


def q_ann_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 neighbors of 8 query vectors: broadcast queries,
    per-partition partial top-k, tiny global window."""
    from sketchlib.spark.ann import topk_neighbors

    emb = load(spark, sf_dir, "embeddings")
    return topk_neighbors(emb, query_ids=list(range(8)), k=10)


def q_ann_exact_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fold of the two long-green exact-cosine gates (r01 `ann_topk_cosine`
    + `emb_cosine_pairs`, both green since CORRECTNESS_r01): top-10
    neighbors of 8 query vectors UNION the >=0.45 near-dup pair set, tagged
    by kind.  Round-5 fold (VERDICT r04 #3): also subsumes
    `emb_signlsh_precision` (green since r02) — its 1-row precision
    verdict broadcasts onto every pair/topk row, freeing a gate slot for
    `text_normalize_dedup`.  The fold is cheaper than the two standalone
    queries were: the exact >=0.45 pair set (the expensive block-matmul
    plan) is computed ONCE and cached (ids-only, KB), feeding both the
    pair rows and the precision full-outer join; the result is
    ``localCheckpoint``-ed and the cache released before returning."""
    from sketchlib.spark.ann import cosine_pairs_exact, signrandom_lsh_pairs

    emb = load(spark, sf_dir, "embeddings")
    exact = cosine_pairs_exact(emb, threshold=0.45).cache()
    topk = q_ann_topk_cosine(spark, sf_dir).select(
        F.lit("topk").alias("kind"),
        F.col("query_id").cast("long").alias("a_id"),
        F.col("neighbor_id").cast("long").alias("b_id"),
        F.col("rank").cast("int").alias("rank"),
    )
    pairs = exact.select(
        F.lit("pair").alias("kind"),
        F.col("a_id").cast("long").alias("a_id"),
        F.col("b_id").cast("long").alias("b_id"),
        F.lit(None).cast("int").alias("rank"),
    )
    # scale-path exactness law (was emb_signlsh_precision): every pair the
    # sign-LSH discovery emits must appear in the exact pair set
    lsh = signrandom_lsh_pairs(emb, threshold=0.45, dim=64).withColumn(
        "in_lsh", F.lit(1)
    )
    prec = (
        exact.withColumn("in_exact", F.lit(1))
        .join(lsh, ["a_id", "b_id"], "full_outer")
        .agg(
            F.count("in_exact").alias("n_exact_pairs"),
            (F.count(F.when(F.col("in_exact").isNull(), 1)) == 0)
            .alias("lsh_precision_1"),
        )
    )
    return _released(topk.unionByName(pairs).crossJoin(F.broadcast(prec)), exact)


def q_emb_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup DEDUP (SemDeDup-style,
    `ann.embedding_dedup_keepers`): vectors within cosine >= 0.45 of each
    other form duplicate components (transitively — same pointer-jumping
    kernel as the text dedup family); output is the keeper mapping over ALL
    vectors (keeper_id = component min id, = self when no near-dup
    evidence) with the survivor flag.  The oracle recomputes the components
    with a recursive transitive-closure CTE over the exact pair set —
    equality holds because the edge producer is the exact
    `cosine_pairs_exact` (no recall argument needed); the 0.45 threshold
    carries the measured no-boundary-pair margin law (test_ann.py)."""
    from sketchlib.spark.ann import cosine_pairs_exact
    from sketchlib.spark.dedup import propagate_min_keeper

    emb = load(spark, sf_dir, "embeddings")
    edges = cosine_pairs_exact(emb, threshold=0.45)
    keeper = propagate_min_keeper(edges).withColumnRenamed("id", "vec_id")
    return (
        emb.select("vec_id")
        .join(keeper, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce("keeper_id", F.col("vec_id")).alias("keeper_id"),
        )
        .withColumn("is_kept", F.col("keeper_id") == F.col("vec_id"))
    )


def q_td_weighted_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted ingest (reference ``add ~n``, src/tdigest.ml:313): each
    l_extendedprice carries weight l_quantity.  Discrete mode -> weighted
    nearest-rank quantiles, exactly SQL-checkable; total_weight proves the
    weight path (integer-valued quantities sum exactly in float64)."""
    from sketchlib.spark.tdigest_ops import tdigest_count_udf

    li = load(spark, sf_dir, "lineitem")
    dig = tdigest_aggregate(li, ["l_returnflag"], "l_extendedprice",
                            discrete=True, weight_col="l_quantity")
    q = tdigest_quantiles_udf([0.5, 0.95], discrete=True)
    return dig.select(
        "l_returnflag",
        q("digest")[0].alias("wq50"),
        q("digest")[1].alias("wq95"),
        tdigest_count_udf("digest").alias("total_weight"),
    )


_WEIGHTED_SQL = _nearest_rank_sql(
    "lineitem", ["l_returnflag"], "l_extendedprice", {"wq50": 0.5, "wq95": 0.95},
    weight="l_quantity", total="total_weight",
)


def q_td_tpch_digests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FOLD of the two TPC-H-shaped digest queries (r4 slot consolidation
    — previously gated separately as td_weighted_lineitem +
    td_order_value_by_nation, both green since r01/r02): weighted ingest
    over lineitem (reference ``add ~n``) and the broadcast-join
    composition over orders ⋈ customer ⋈ nation, union-tagged on
    ``scope`` with aligned (key, q50, q95, total) columns.  Both plans
    run unchanged; the tag keeps the row spaces disjoint."""
    w = q_td_weighted_lineitem(spark, sf_dir).select(
        F.lit("lineitem_weighted").alias("scope"),
        F.col("l_returnflag").alias("key"),
        F.col("wq50").alias("q50"), F.col("wq95").alias("q95"),
        F.col("total_weight").alias("total"),
    )
    n = q_td_order_value_by_nation(spark, sf_dir).select(
        F.lit("orders_by_nation").alias("scope"),
        F.col("nation").alias("key"),
        "q50", "q95", F.col("n_orders").cast("double").alias("total"),
    )
    return w.unionByName(n)


def q_td_cube_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``_td_cube_lang_source_plan`` materialized, its partials cache released."""
    return _released(*_td_cube_lang_source_plan(spark, sf_dir))


def _td_cube_lang_source_plan(spark: SparkSession,
                              sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """CUBE(lang, source) digests from ONE set of partials — the showcase of
    mergeability: the same per-partition (lang, source) partial digests are
    re-merged under each grouping set instead of re-scanning the input.
    At 100 TB this turns a 4-pass cube into one scan + three tiny
    sketch-row shuffles.  Discrete mode -> exact nearest-rank oracle."""
    from sketchlib.spark.tdigest_ops import tdigest_merge, tdigest_partials

    docs = load(spark, sf_dir, "documents")
    partials = tdigest_partials(docs, ["lang", "source"], "n_chars",
                                discrete=True).cache()
    ps = {"q50": 0.5, "q90": 0.9}

    def qs(dig: DataFrame, with_lang: bool, with_source: bool) -> DataFrame:
        out = _explode_quantiles_keys(
            dig,
            (["lang"] if with_lang else []) + (["source"] if with_source else []),
            ps,
        )
        if not with_lang:
            out = out.withColumn("lang", F.lit(None).cast("string"))
        if not with_source:
            out = out.withColumn("source", F.lit(None).cast("string"))
        return out.select("lang", "source", *ps.keys())

    full = qs(tdigest_merge(partials, ["lang", "source"], discrete=True), True, True)
    by_lang = qs(tdigest_merge(partials, ["lang"], discrete=True), True, False)
    by_source = qs(tdigest_merge(partials, ["source"], discrete=True), False, True)
    overall = qs(tdigest_merge(partials, [], discrete=True), False, False)
    return full.unionByName(by_lang).unionByName(by_source).unionByName(overall), partials


def _explode_quantiles_keys(digests: DataFrame, keys: list[str],
                            ps: dict[str, float]) -> DataFrame:
    q = tdigest_quantiles_udf(list(ps.values()), discrete=True)
    out = digests.withColumn("_qs", q("digest"))
    for i, alias in enumerate(ps.keys()):
        out = out.withColumn(alias, F.col("_qs")[i])
    return out.select(*keys, *ps.keys())


def _cube_sql() -> str:
    blocks = []
    for dims in (["lang", "source"], ["lang"], ["source"], []):
        lang, source = (d if d in dims else "CAST(NULL AS VARCHAR)"
                        for d in ("lang", "source"))
        nr = _nearest_rank_sql("documents", dims, "n_chars", {"q50": 0.5, "q90": 0.9})
        blocks.append(f"SELECT {lang} AS lang, {source} AS source, q50, q90\nFROM ({nr})")
    return "\nUNION ALL\n".join(blocks)


def q_top_sources_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-3 heavy hitters (sources) per lang by document count —
    the sorts/limits/top-k category as a gated query.  Pure JVM window;
    at scale Spark rewrites the rank-filter into per-partition partial
    top-k + tiny final merge.  Ties broken by source name so the result
    is total-order deterministic."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    counts = docs.groupBy("lang", "source").agg(F.count("*").alias("n_docs"))
    w = Window.partitionBy("lang").orderBy(F.desc("n_docs"), F.asc("source"))
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("lang", F.col("rk").cast("int").alias("rk"), "source", "n_docs")
    )


_TOP_SOURCES_SQL = """
SELECT lang, rk::INT AS rk, source, n_docs FROM (
  SELECT lang, source, count(*) AS n_docs,
         row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, source) AS rk
  FROM documents GROUP BY lang, source
) WHERE rk <= 3
"""


def q_kmv_sample_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV / bottom-k consistent sample + distinct estimate per lang, as a
    PURE built-in DataFrame plan (whole-stage codegen): hash each doc_id
    with the engine-portable md5-derived 60-bit hash, keep the k smallest
    per lang (row_number window), and derive the KMV distinct estimate
    (kept−1)/U(max kept hash) from the same rows.  The identical hash exists
    in DuckDB, so sample AND estimate gate hash-exactly.  At scale the
    window is a partial top-k per partition + tiny final merge (Spark
    rewrites rank-filter windows); the sample is *coordinated* — the same
    doc_id keeps the same hash everywhere — so bottom-k samples of two
    corpora compose into overlap estimates."""
    from pyspark.sql import Window

    k = 32
    docs = load(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(F.md5(F.encode(F.col("doc_id").cast("string"), "UTF-8")), 1, 15),
        16, 10,
    ).cast("long")
    w = Window.partitionBy("lang").orderBy(F.asc("h"), F.asc("doc_id"))
    kept = (
        docs.select("lang", "doc_id", h.alias("h"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
    )
    wl = Window.partitionBy("lang")
    return kept.select(
        "lang",
        F.col("rk").cast("int").alias("rk"),
        "doc_id",
        (
            (F.count("*").over(wl) - F.lit(1)).cast("double")
            * F.lit(float(1 << 60))
            / F.max("h").over(wl).cast("double")
        ).alias("est_distinct"),
    )


_KMV_SQL = """
WITH h AS (
  SELECT lang, doc_id,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM documents
), r AS (
  SELECT lang, doc_id, h,
         row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rk
  FROM h
), kept AS (
  SELECT * FROM r WHERE rk <= 32
)
SELECT lang, rk::INT AS rk, doc_id,
       CAST(count(*) OVER (PARTITION BY lang) - 1 AS DOUBLE)
         * 1152921504606846976.0
         / CAST(max(h) OVER (PARTITION BY lang) AS DOUBLE) AS est_distinct
FROM kept
"""


def q_kmv_user_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-set overlap from coordinated samples: one KMV per event_type
    over user_id, then the pairwise Jaccard ESTIMATE from the sketches is
    gated against the exact Jaccard — |est − exact| ≤ 0.05 per pair (σ ≈
    √(J(1−J)/k) ≈ 0.016 at k=1024).  This is the operation HLL cannot do
    without inclusion-exclusion error blowup and the reason the bottom-k
    sample is coordinated.  Exact side: distinct (type,user) self-join —
    the verification oracle, not the scale path."""
    from pyspark.sql.types import DoubleType

    from sketchlib.kmv import KMV
    from sketchlib.spark.sketch_ops import _blob_udf, sketch_aggregate

    ev = load(spark, sf_dir, "events")
    sk = sketch_aggregate(ev, ["event_type"], "user_id", "kmv", {"k": 1024})
    jac = _blob_udf(DoubleType(), lambda x, y: (
        KMV.deserialize(x).jaccard(KMV.deserialize(y))))
    diff_est = _blob_udf(DoubleType(), lambda x, y: (
        KMV.deserialize(x).difference_estimate(KMV.deserialize(y))))

    a = sk.select(F.col("event_type").alias("type_a"), F.col("sketch").alias("sa"))
    b = sk.select(F.col("event_type").alias("type_b"), F.col("sketch").alias("sb"))
    est = (
        a.crossJoin(b)
        .filter(F.col("type_a") < F.col("type_b"))
        .select(
            "type_a", "type_b", jac("sa", "sb").alias("_jest"),
            diff_est("sa", "sb").alias("_dest"),
        )
    )

    u = ev.select("event_type", "user_id").distinct()
    sizes = u.groupBy("event_type").agg(F.count("*").alias("n"))
    common = (
        u.select(F.col("event_type").alias("type_a"), "user_id")
        .join(u.select(F.col("event_type").alias("type_b"), "user_id"), "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("n_common"))
    )
    exact = (
        common.join(F.broadcast(sizes.withColumnRenamed("event_type", "type_a")
                                .withColumnRenamed("n", "na")), "type_a")
        .join(F.broadcast(sizes.withColumnRenamed("event_type", "type_b")
                          .withColumnRenamed("n", "nb")), "type_b")
        .withColumn("_jexact",
                    F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common")))
    )
    # set-algebra completion: |A∖B| from the same coordinated union sample,
    # gated within 3σ-ish of exact (σ ≈ |A∪B|·√(f(1−f)/k), k=1024) — the
    # estimate HLL inclusion-exclusion cannot bound when |A∖B| ≪ |A|
    return exact.join(F.broadcast(est), ["type_a", "type_b"]).select(
        "type_a", "type_b", "n_common",
        (F.abs(F.col("_jest") - F.col("_jexact")) <= 0.05).alias("jaccard_ok"),
        (
            F.abs(F.col("_dest") - (F.col("na") - F.col("n_common")))
            <= 0.05 * (F.col("na") + F.col("nb") - F.col("n_common")) + 2.0
        ).alias("difference_ok"),
    )


_KMV_OVERLAP_SQL = """
WITH u AS (SELECT DISTINCT event_type, user_id FROM events)
SELECT a.event_type AS type_a, b.event_type AS type_b,
       count(*) AS n_common, TRUE AS jaccard_ok, TRUE AS difference_ok
FROM u a JOIN u b USING (user_id)
WHERE a.event_type < b.event_type
GROUP BY 1, 2
"""


def q_td_order_value_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketches composed with relational joins (TPC-H shape): digest of
    order values per customer nation — orders ⋈ customer ⋈ nation with both
    dimension sides broadcast (facts never shuffle for the join), then the
    two-phase discrete digest.  At 100 TB: the fact scan streams through
    two broadcast hash joins into the partials stage; the only wide shuffle
    is digest rows per nation."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    facts = (
        orders.select("o_custkey", "o_totalprice")
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .select(F.col("n_name").alias("nation"), "o_totalprice")
    )
    dig = tdigest_aggregate(facts, ["nation"], "o_totalprice", discrete=True)
    q = tdigest_quantiles_udf([0.5, 0.95], discrete=True)
    return dig.select(
        "nation",
        q("digest")[0].alias("q50"),
        q("digest")[1].alias("q95"),
        tdigest_count_udf("digest").alias("n_orders"),
    )


_ORDER_NATION_SQL = _nearest_rank_sql(
    """(SELECT n.n_name AS nation, o.o_totalprice
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
                      JOIN nation n ON c.c_nationkey = n.n_nationkey)""",
    ["nation"], "o_totalprice", {"q50": 0.5, "q95": 0.95}, total="n_orders",
)


_TD_TPCH_SQL = f"""
SELECT 'lineitem_weighted' AS scope, l_returnflag AS key,
       wq50 AS q50, wq95 AS q95, total_weight AS total
FROM ({_WEIGHTED_SQL}) w
UNION ALL
SELECT 'orders_by_nation' AS scope, nation AS key, q50, q95,
       CAST(n_orders AS DOUBLE) AS total
FROM ({_ORDER_NATION_SQL}) o
"""


def q_event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (gap > 30 min splits a user's session) as pure window
    functions: lag + conditional cumsum assigns session ids, then per-user
    session stats.  Exactly SQL-expressible, so fully hash-gated; the
    stateful-streaming analog is ``applyInPandasWithState`` with a session
    timeout, which shares this batch oracle."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").select(
        "user_id", "ts", F.unix_timestamp(F.col("ts").cast("timestamp")).alias("_e")
    )
    w = Window.partitionBy("user_id").orderBy("ts")
    gap = F.col("_e") - F.lag("_e").over(w)
    sess = (
        ev.withColumn("_new", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
        .withColumn("session_id", F.sum("_new").over(w))
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        (F.max("_e") - F.min("_e")).alias("duration_s"),
    ).groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
        F.max("duration_s").alias("max_session_s"),
    )


_SESSIONS_SQL = """
WITH e AS (
  -- floor to whole epoch seconds per ROW, matching Spark's unix_timestamp
  SELECT user_id, ts, floor(epoch(ts))::BIGINT AS es FROM events
), g AS (
  SELECT user_id, ts, es,
         CASE WHEN es - lag(es) OVER (PARTITION BY user_id ORDER BY ts) > 1800
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_s
  FROM e
), s AS (
  SELECT user_id, ts, es,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS session_id
  FROM g
), per AS (
  SELECT user_id, session_id, count(*) AS n_events,
         max(es) - min(es) AS duration_s
  FROM s GROUP BY user_id, session_id
)
SELECT user_id, count(*) AS n_sessions, sum(n_events)::BIGINT AS n_events,
       max(duration_s) AS max_session_s
FROM per GROUP BY user_id
"""


def q_td_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style time rollup on sketches: ONE scan builds per-
    (event_type × hour) digests; the per-(event_type × day) digests are then
    derived by MERGING the 24 hourly sketches — never rescanning the facts.
    At 100 TB this is the continuous-aggregate pattern: store the hourly
    digest table (≤40 KB/row), answer day/week/month quantiles by sketch
    merge at interactive cost.  Discrete mode → exact nearest-rank oracle."""
    from sketchlib.spark.tdigest_ops import (
        tdigest_count_udf,
        tdigest_merge,
        tdigest_partials,
    )

    # drop NULL values up front so a (type, day) whose values are ALL NULL
    # emits no row at all — matching the oracle's WHERE value IS NOT NULL
    # (the digest builder would otherwise emit an empty-digest row for it)
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull()).withColumn(
        "hour", F.date_trunc("HOUR", F.col("ts"))
    )
    hourly = tdigest_merge(
        tdigest_partials(ev, ["event_type", "hour"], "value", discrete=True),
        ["event_type", "hour"],
        discrete=True,
    )
    # rollup: the hourly DIGESTS are the input now — no second scan of events
    daily = tdigest_merge(
        hourly.withColumn(
            "day", F.date_format(F.date_trunc("DAY", F.col("hour")), "yyyy-MM-dd")
        ),
        ["event_type", "day"],
        discrete=True,
    )
    q = tdigest_quantiles_udf([0.5, 0.95], discrete=True)
    return daily.select(
        "event_type",
        "day",
        q("digest")[0].alias("q50"),
        q("digest")[1].alias("q95"),
        tdigest_count_udf("digest").alias("n_events"),
    )


_ROLLUP_SQL = _nearest_rank_sql(
    """(SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, value
        FROM events)""",
    ["event_type", "day"], "value", {"q50": 0.5, "q95": 0.95}, total="n_events",
)


def q_pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composite training-data pipeline, end-to-end in one plan:
    quality filter (token count >= 10, stopword share <= 30%) -> exact
    dedup (keep min doc_id per identical text) -> per-lang corpus stats +
    discrete-mode t-digest quantiles of n_chars over the surviving docs.
    Every stage is deterministic, so the whole pipeline has an exact SQL
    oracle."""
    from sketchlib.spark.dedup import exact_dedup_keepers
    from sketchlib.spark.textops import token_stats

    docs = load(spark, sf_dir, "documents")
    stats = token_stats(docs)
    quality = stats.filter(
        (F.col("n_tokens") >= 10)
        & (F.col("n_stopwords") * 10 <= F.col("n_tokens") * 3)
    ).select("doc_id")
    filtered = docs.join(quality, "doc_id", "left_semi")
    keepers = exact_dedup_keepers(filtered).filter(
        F.col("doc_id") == F.col("keeper_id")
    ).select("doc_id")
    kept = filtered.join(keepers, "doc_id", "left_semi")

    dig = tdigest_aggregate(kept, ["lang"], "n_chars", discrete=True)
    qs = _explode_quantiles(dig, "lang", {"q50": 0.5, "q90": 0.9}, discrete=True)
    counts = kept.groupBy("lang").agg(
        F.count("*").alias("n_docs_kept"),
        F.countDistinct("source").alias("n_sources"),
    )
    return counts.join(qs, "lang")


_PIPELINE_SQL = f"""
WITH tk AS (
  SELECT doc_id, len(list_filter(string_split(text, ' '), w -> w != '')) AS n_tokens,
         len(list_filter(string_split(text, ' '),
             w -> list_contains(['a','the','and','of','to','in'], w))) AS n_stop
  FROM documents
), quality AS (
  SELECT doc_id FROM tk WHERE n_tokens >= 10 AND n_stop * 10 <= n_tokens * 3
), filtered AS (
  SELECT d.* FROM documents d JOIN quality USING (doc_id)
), kept AS (
  SELECT * FROM (
    SELECT *, min(doc_id) OVER (PARTITION BY text) AS keeper
    FROM filtered) WHERE doc_id = keeper
), q AS ({_nearest_rank_sql("kept", ["lang"], "n_chars", {"q50": 0.5, "q90": 0.9})})
SELECT k.lang, count(*) AS n_docs_kept, count(DISTINCT k.source) AS n_sources,
       any_value(q.q50) AS q50, any_value(q.q90) AS q90
FROM kept k JOIN q USING (lang)
GROUP BY k.lang
"""


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer ANN with full probing (nprobe = n_lists), which
    is exactly brute force — so it shares the exact top-k oracle while
    driving the train/assign/probe machinery end-to-end.  Partial-probe
    recall is measured in tests/test_ann.py."""
    from sketchlib.spark.ann import ivf_topk

    emb = load(spark, sf_dir, "embeddings")
    return ivf_topk(emb, query_ids=list(range(8)), k=10, n_lists=16, nprobe=16)


def q_ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate the IVF *partial-probe* trade (nprobe=4 of 16 lists ⇒ ~25% scan
    fraction): overall recall@10 against exact brute force must clear 0.5.
    Deterministic (seeded centroids, hash-ordered training sample), so the
    verdict boolean is driver-hashable; the oracle asserts TRUE."""
    from sketchlib.spark.ann import ivf_topk, topk_neighbors

    emb = load(spark, sf_dir, "embeddings")
    qids = list(range(8))
    exact = topk_neighbors(emb, query_ids=qids, k=10).select(
        "query_id", "neighbor_id"
    )
    part = ivf_topk(emb, query_ids=qids, k=10, n_lists=16, nprobe=4).select(
        "query_id", "neighbor_id"
    )
    hits = exact.join(part, ["query_id", "neighbor_id"], "left_semi")
    return exact.agg(
        F.countDistinct("query_id").alias("n_queries"),
    ).crossJoin(
        hits.agg((F.count("*") >= F.lit(0.5 * 10 * len(qids)))
                 .alias("recall_ge_half"))
    )


_MEDIA_META_SQL = """
SELECT doc_id AS media_id,
  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
  CASE WHEN doc_id % 3 = 1 THEN 0 ELSE (16 + (doc_id * 7919) % 1024) END::INT AS width,
  CASE WHEN doc_id % 3 = 1 THEN 0 ELSE (16 + (doc_id * 104729) % 768) END::INT AS height,
  CASE WHEN doc_id % 3 = 0 THEN 0 ELSE (1000 + (doc_id * 31) % 60000) END::INT AS duration_ms,
  (16 + strlen(text))::BIGINT AS payload_bytes
FROM documents
"""

_MEDIA_FRAMES_SQL = """
WITH v AS (
  SELECT doc_id AS media_id, (1000 + (doc_id * 31) % 60000) AS dur
  FROM documents WHERE doc_id % 3 = 2
)
SELECT media_id, i::INT AS frame_idx, (i * 7000)::INT AS ts_ms
FROM v, unnest(range(0, (dur + 6999) // 7000)) AS u(i)
"""


def _quality_sql() -> str:
    return f"""
WITH t AS (SELECT lang, {_TOKS} AS tk FROM documents),
per AS (
  SELECT lang,
    len(tk)::BIGINT AS n_tokens,
    len(list_distinct(tk))::BIGINT AS n_uniq,
    len(list_filter(tk, w -> list_contains({_STOP_SQL}, w)))::BIGINT AS n_stop,
    list_sum(list_transform(tk, w -> length(w)))::BIGINT AS n_chars
  FROM t
)
SELECT lang, count(*) AS n_docs, sum(n_tokens)::BIGINT AS sum_tokens,
  sum(n_stop)::DOUBLE / sum(n_tokens)::DOUBLE AS stopword_ratio,
  sum(n_uniq)::DOUBLE / sum(n_tokens)::DOUBLE AS uniq_ratio,
  sum(n_chars)::DOUBLE / sum(n_tokens)::DOUBLE AS mean_token_len
FROM per GROUP BY lang
"""


def _lang_id_sql(profile_top_k: int = 4096) -> str:
    # the oracle mirrors the Spark side's top-K-per-language profile cap so
    # both compute the SAME function even when vocabulary exceeds K
    return f"""
WITH toks AS (
  SELECT doc_id, lang, unnest({_TOKS}) AS word FROM documents
), profile_full AS (
  SELECT lang AS cand, word, count(*) AS cnt FROM toks GROUP BY 1, 2
), profile AS (
  SELECT cand, word, cnt FROM (
    SELECT cand, word, cnt,
           row_number() OVER (PARTITION BY cand ORDER BY cnt DESC, word) AS rk
    FROM profile_full
  ) WHERE rk <= {profile_top_k}
), scores AS (
  SELECT t.doc_id, p.cand, sum(p.cnt) AS score
  FROM toks t JOIN profile p USING (word) GROUP BY 1, 2
), pred AS (
  SELECT doc_id, cand AS predicted FROM (
    SELECT doc_id, cand,
           row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cand) AS rn
    FROM scores) WHERE rn = 1
)
SELECT d.lang, p.predicted, count(*) AS n_docs
FROM documents d JOIN pred p USING (doc_id) GROUP BY 1, 2
"""


def _jaccard_pairs_sql(threshold: float = 0.8) -> str:
    return f"""
WITH t AS (SELECT doc_id, text, {_TOKS} AS tk FROM documents),
sh AS (
  SELECT doc_id, unnest(
    CASE WHEN len(tk) >= 3 THEN
      list_distinct(list_transform(range(1, len(tk) - 1),
                                   i -> array_to_string(tk[i:i+2], ' ')))
    ELSE [text] END) AS shingle
  FROM t
), sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
common AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_common
  FROM sh a JOIN sh b USING (shingle) WHERE a.doc_id < b.doc_id GROUP BY 1, 2
)
SELECT a_id, b_id, n_common, x.n_sh AS n_a, y.n_sh AS n_b,
       n_common / (x.n_sh + y.n_sh - n_common) AS jaccard
FROM common JOIN sz x ON x.doc_id = a_id JOIN sz y ON y.doc_id = b_id
WHERE n_common / (x.n_sh + y.n_sh - n_common) >= {threshold}
"""


def _fuzzy_decontam_sql(threshold: float = 0.8, mod: int = 5) -> str:
    return f"""
WITH t AS (SELECT doc_id, text, {_TOKS} AS tk FROM documents),
sh AS (
  SELECT doc_id, unnest(
    CASE WHEN len(tk) >= 3 THEN
      list_distinct(list_transform(range(1, len(tk) - 1),
                                   i -> array_to_string(tk[i:i+2], ' ')))
    ELSE [text] END) AS shingle
  FROM t
), sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
common AS (
  SELECT a.doc_id AS train_id, b.doc_id AS eval_id, count(*) AS n_common
  FROM sh a JOIN sh b USING (shingle)
  WHERE a.doc_id % {mod} != 0 AND b.doc_id % {mod} = 0
  GROUP BY 1, 2
)
SELECT train_id, eval_id, n_common, x.n_sh AS n_train, y.n_sh AS n_eval,
       n_common / (x.n_sh + y.n_sh - n_common) AS jaccard
FROM common JOIN sz x ON x.doc_id = train_id JOIN sz y ON y.doc_id = eval_id
WHERE n_common / (x.n_sh + y.n_sh - n_common) >= {threshold}
"""


def _simhash_pairs_sql(max_dist: int = 3) -> str:
    from sketchlib.spark.dedup import SIMHASH_BITS

    sums = ",\n    ".join(
        f"sum(CASE WHEN (hv >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(SIMHASH_BITS)
    )
    sig = " + ".join(
        f"(CASE WHEN s{j} >= 0 THEN {1 << j}::BIGINT ELSE 0::BIGINT END)"
        for j in range(SIMHASH_BITS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS}) AS word FROM documents
), h AS (
  SELECT doc_id, ('0x' || substr(md5(word), 1, 15))::BIGINT AS hv FROM toks
), bits AS (
  SELECT doc_id,
    {sums}
  FROM h GROUP BY doc_id
), sig AS (
  SELECT doc_id, {sig} AS simhash FROM bits
)
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       bit_count(xor(a.simhash, b.simhash))::INT AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_dist}
"""


_ANN_TOPK_SQL = """
WITH q AS (
  SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 8
), s AS (
  SELECT q.qid, e.vec_id AS nid,
         list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS sim
  FROM embeddings e, q WHERE e.vec_id != q.qid
)
SELECT qid AS query_id,
       row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid)::INT AS rank,
       nid AS neighbor_id
FROM s
QUALIFY rank <= 10
"""

_COSINE_PAIRS_SQL = """
SELECT a.vec_id AS a_id, b.vec_id AS b_id
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.45
"""

_ANN_EXACT_COSINE_SQL = f"""
SELECT 'topk' AS kind, query_id AS a_id, neighbor_id AS b_id, rank
FROM ({_ANN_TOPK_SQL}) t
UNION ALL
SELECT 'pair' AS kind, a_id, b_id, NULL::INT AS rank
FROM ({_COSINE_PAIRS_SQL}) p
"""

_EMB_GROUPS_SQL = f"""
WITH RECURSIVE
cp AS ({_COSINE_PAIRS_SQL}),
edges AS (
  SELECT a_id, b_id FROM cp UNION SELECT b_id AS a_id, a_id AS b_id FROM cp
),
reach AS (
  SELECT vec_id AS id, vec_id AS k FROM embeddings
  UNION
  SELECT e.a_id AS id, r.k FROM edges e JOIN reach r ON r.id = e.b_id
)
SELECT id AS vec_id, min(k) AS keeper_id, (min(k) = id) AS is_kept
FROM reach GROUP BY id
"""


def q_td_trimmed_mean_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-mode digest trimmed mean (10–90% rank window) per lang,
    gated by the exactness law: a discrete digest IS the full weighted
    value histogram, so its trimmed mean must equal the exact
    overlap-weight formula computed with pure JVM window arithmetic on the
    same table — to 1e-9, the verdict-boolean trick that absorbs
    summation-order float drift between the two paths (and between
    engines; pytest separately checks the centroid formula vs DuckDB to
    1e-12).  Robust-stats companion of percentile — reference kin
    src/tdigest.ml:437-456."""
    from pyspark.sql import Window

    from sketchlib.spark.tdigest_ops import tdigest_trimmed_mean_udf

    lo, hi = 0.1, 0.9
    docs = load(spark, sf_dir, "documents")
    dig = tdigest_aggregate(docs, ["lang"], "n_chars", discrete=True)
    approx = dig.select(
        "lang", tdigest_trimmed_mean_udf(lo, hi)("digest").alias("_tm")
    )
    g = (
        docs.filter(F.col("n_chars").isNotNull())
        .groupBy("lang", "n_chars")
        .agg(F.count("*").cast("double").alias("c"))
    )
    w = Window.partitionBy("lang").orderBy("n_chars")
    s = g.withColumn("cum", F.sum("c").over(w)).withColumn(
        "total", F.sum("c").over(Window.partitionBy("lang"))
    )
    wgt = F.greatest(
        F.least(F.col("cum"), F.lit(hi) * F.col("total"))
        - F.greatest(F.col("cum") - F.col("c"), F.lit(lo) * F.col("total")),
        F.lit(0.0),
    )
    exact = (
        s.withColumn("w", wgt)
        .groupBy("lang")
        .agg(
            (F.sum(F.col("n_chars") * F.col("w")) / F.sum("w")).alias("_exact"),
            F.sum("c").cast("long").alias("n_docs"),
        )
    )
    return exact.join(approx, "lang").select(
        "lang",
        "n_docs",
        (F.abs(F.col("_tm") - F.col("_exact")) < 1e-9).alias("tm_ok"),
    )


def q_dedup_group_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive duplicate grouping: exact (identical md5) UNION
    MinHash-LSH near-dup (verified Jaccard >= 0.8) edges, collapsed to
    min-id connected components by ``propagate_min_keeper`` (hash-to-min +
    pointer jumping, O(log chain) rounds over the edge list only).  The
    oracle computes the same components with a recursive transitive-closure
    CTE — equality holds because both sides see identical edge sets (the
    LSH path's recall-1.0 argument from ``dedup_minhash_lsh_pairs``)."""
    from sketchlib.spark.dedup import dedup_group_keepers

    return dedup_group_keepers(load(spark, sf_dir, "documents"), threshold=0.8)


def _group_keepers_sql(threshold: float = 0.8) -> str:
    return f"""
WITH RECURSIVE
jp AS ({_jaccard_pairs_sql(threshold)}),
ex AS (
  SELECT min(doc_id) OVER (PARTITION BY md5(text)) AS a_id, doc_id AS b_id
  FROM documents WHERE text IS NOT NULL
),
e0 AS (
  SELECT a_id, b_id FROM jp
  UNION
  SELECT a_id, b_id FROM ex WHERE a_id <> b_id
),
edges AS (
  SELECT a_id, b_id FROM e0 UNION SELECT b_id AS a_id, a_id AS b_id FROM e0
),
reach AS (
  SELECT doc_id AS id, doc_id AS k FROM documents
  UNION
  SELECT e.a_id AS id, r.k FROM edges e JOIN reach r ON r.id = e.b_id
)
SELECT id, min(k) AS keeper_id FROM reach GROUP BY id
"""


def q_events_asof_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: every event is matched to the latest STRICTLY-PRIOR
    'purchase' event of the same user (last-touch attribution).  Spark
    plan is the scalable union-tag + running-last window — ONE shuffle on
    user_id, no inequality join — vs the oracle's window-SQL spelling of
    DuckDB's ASOF JOIN semantics with ties pinned to max event_id."""
    from sketchlib.spark.joins import asof_join

    ev = load(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("pts"),
        F.col("event_id").alias("last_purchase_id"),
        F.col("value").alias("last_purchase_value"),
    )
    return asof_join(
        ev.select("event_id", "user_id", "ts", "event_type"),
        purchases,
        on="user_id",
        left_ts="ts",
        right_ts="pts",
        payload_cols=["last_purchase_id", "last_purchase_value"],
        allow_exact_matches=False,
        tiebreak_cols=["last_purchase_id"],
    ).select("event_id", "user_id", "event_type",
             "last_purchase_id", "last_purchase_value")


_ASOF_SQL = """
WITH r AS (
  SELECT user_id, ts AS pts, event_id AS pid, value AS pvalue
  FROM events WHERE event_type = 'purchase'
), j AS (
  SELECT e.event_id, r.pid, r.pvalue,
         row_number() OVER (PARTITION BY e.event_id
                            ORDER BY r.pts DESC, r.pid DESC) AS rn
  FROM events e JOIN r ON r.user_id = e.user_id AND r.pts < e.ts
)
SELECT e.event_id, e.user_id, e.event_type,
       j.pid AS last_purchase_id, j.pvalue AS last_purchase_value
FROM events e LEFT JOIN (SELECT event_id, pid, pvalue FROM j WHERE rn = 1) j
  USING (event_id)
"""


SAMPLE_RATES = {"en": 0.25, "zh": 0.5}


def q_sample_stratified_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsampling: keep a doc iff
    md5-bucket(doc_id) < rate(lang)·10000 — reproducible on any partition
    layout/engine (unlike seeded ``df.sample``), monotone in the rate (a
    lower rate keeps a strict subset).  Pure codegen filter, no shuffle."""
    from sketchlib.spark.sampling import stratified_hash_sample

    return stratified_hash_sample(
        load(spark, sf_dir, "documents"), SAMPLE_RATES
    ).select("doc_id", "lang", "source")


def _sample_sql(rates: dict[str, float], default_rate: float = 1.0,
                buckets: int = 10_000) -> str:
    cases = " ".join(
        f"WHEN '{k}' THEN {float(v)!r}" for k, v in sorted(rates.items())
    )
    return f"""
SELECT doc_id, lang, source FROM documents
WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % {buckets}
      < floor((CASE lang {cases} ELSE {float(default_rate)!r} END) * {buckets})
"""


def q_sample_weighted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis), 10 docs
    per lang weighted by n_chars, priorities drawn deterministically from
    md5(doc_id) — the same sample on any cluster layout or engine.  The
    per-stratum rank compiles to a partial WindowGroupLimit below the
    shuffle (plan-audited).  Oracle: identical ln(u)/w priority in DuckDB;
    pytest asserts the rank-10/11 priority margin is > 1e-9 per lang, so
    libm ulp differences cannot flip membership."""
    from sketchlib.spark.sampling import weighted_priority_sample

    return weighted_priority_sample(
        load(spark, sf_dir, "documents"), k=10, weight_col="n_chars", by="lang"
    ).select("doc_id", "lang")


_WEIGHTED_SAMPLE_SQL = """
WITH scored AS (
  SELECT doc_id, lang,
         ln((('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT + 0.5)
            / 1152921504606846976.0) / n_chars AS pk
  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
), ranked AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang ORDER BY pk DESC, doc_id) AS rk
  FROM scored
)
SELECT doc_id, lang FROM ranked WHERE rk <= 10
"""


def q_td_prank_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row p_rank scoring (quantile normalization): every document gains
    the fraction of its lang's n_chars mass <= its own n_chars, computed by
    broadcasting the per-lang digests and scoring in ONE scan-side
    mapInPandas — no join, no second shuffle (plan-audited: zero Exchange).
    Discrete digests are lossless, so the score is EXACTLY SQL
    ``cume_dist()``: discrete p_rank = cumn/N at the hit centroid, an
    identical integer division on both engines (reference p_rank,
    src/tdigest.ml:437-456, Discrete branch)."""
    from sketchlib.spark.tdigest_ops import tdigest_prank_rows

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    docs = docs.filter(F.col("n_chars").isNotNull())
    return tdigest_prank_rows(
        docs, ["lang"], "n_chars", discrete=True, out_col="prank"
    ).select("doc_id", "lang", "prank")


def q_events_in_purchase_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: every event falling inside ANY 1-hour
    attribution window [purchase_ts, purchase_ts+1h) of the same user.
    Spark plan is the bucketized equi-join from ``joins.range_join`` —
    explode intervals to hour buckets, hash-join on (user_id, bucket),
    codegen range filter; NEVER the BroadcastNestedLoopJoin an inequality
    join would get (plan-audited).  Oracle: the literal inequality join in
    DuckDB; equality holds because epoch-double comparison is monotone and
    exact at microsecond resolution."""
    from sketchlib.spark.joins import range_join, ts_epoch_seconds

    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    evp = load(spark, sf_dir, "events")
    purch = (
        evp.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            ts_epoch_seconds(evp, "ts").alias("lo"),
            (ts_epoch_seconds(evp, "ts") + 3600.0).alias("hi"),
        )
    )
    out = range_join(ev, purch, "user_id", "ts", "lo", "hi",
                     bucket_width=3600.0, closed="left")
    return out.select("event_id", "purchase_id")


def q_events_join_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FOLD of the two custom-join showcases (r4 slot consolidation —
    previously gated separately as events_asof_purchase +
    events_in_purchase_window, both green since r02/r03): the as-of join
    (union-tag + running-last window, ONE shuffle, no inequality join)
    and the bucketized range join (interval -> hour-bucket equi-join,
    never BroadcastNestedLoop), union-tagged into one frame.  Each
    branch keeps its own oracle semantics; the ``op`` tag keeps the rows
    disjoint so the hash gate still proves both joins row-for-row."""
    asof = q_events_asof_purchase(spark, sf_dir).select(
        F.lit("asof").alias("op"), "event_id", "user_id", "event_type",
        F.col("last_purchase_id").alias("match_id"),
        F.col("last_purchase_value").alias("match_value"),
    )
    rng = q_events_in_purchase_window(spark, sf_dir).select(
        F.lit("range").alias("op"), "event_id",
        F.lit(None).cast("long").alias("user_id"),
        F.lit(None).cast("string").alias("event_type"),
        F.col("purchase_id").alias("match_id"),
        F.lit(None).cast("double").alias("match_value"),
    )
    return asof.unionByName(rng)


def q_mg_top_sources_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra–Gries frequent items per lang at m=64 — unsaturated for this
    corpus's source cardinality, so the summary holds EVERY source with its
    exact count (the same full-capacity gating trick as CMS-at-full-width:
    the gate proves the distributed two-phase plan + wire format; the
    saturated n/(m+1) bounds are pytest laws).  One scan; shuffle carries
    one KB-scale sketch per (partition × lang)."""
    from sketchlib.spark.sketch_ops import mg_items_udf, sketch_aggregate

    docs = load(spark, sf_dir, "documents")
    sk = sketch_aggregate(docs, ["lang"], "source", "mg", {"m": 64})
    items = mg_items_udf()
    return (
        sk.select("lang", F.explode(items("sketch")).alias("kv"))
        .select("lang", F.col("kv.item").alias("source"),
                F.col("kv.est").alias("cnt"))
    )


def q_mg_guarantee_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SATURATED Misra–Gries (m=2 over this corpus's ~9 sources): gates the
    published guarantees as verdict booleans per distinct source —
    underestimate-only (est <= true), bounded error (true − est <= n/(m+1)),
    and retention (true > n/(m+1) ⟹ item survived).  The oracle emits TRUE
    per source; which items survive is merge-order-dependent, but the laws
    hold under ANY merge tree (Agarwal et al. 2012 Theorem 1), which is
    exactly what the booleans check."""
    from sketchlib.spark.sketch_ops import mg_items_udf, sketch_aggregate

    m = 2
    docs = load(spark, sf_dir, "documents")
    sk = sketch_aggregate(docs, [], "source", "mg", {"m": m})
    items = mg_items_udf()
    est = (
        sk.select(F.explode(items("sketch")).alias("kv"))
        .select(F.col("kv.item").alias("source"), F.col("kv.est").alias("est"))
    )
    exact = docs.groupBy("source").agg(F.count("*").alias("true_cnt"))
    n = docs.count()
    bound = float(n) / (m + 1)
    j = exact.join(F.broadcast(est), "source", "left").select(
        "source",
        F.coalesce(F.col("est"), F.lit(0)).alias("est"),
        "true_cnt",
    )
    return j.select(
        "source",
        (F.col("est") <= F.col("true_cnt")).alias("ok_underestimate"),
        ((F.col("true_cnt") - F.col("est")) <= F.lit(bound)).alias("ok_bound"),
        ((F.col("true_cnt") <= F.lit(bound)) | (F.col("est") > 0)).alias(
            "ok_retention"
        ),
    )


_RANGE_JOIN_SQL = """
SELECT e.event_id, p.event_id AS purchase_id
FROM events e JOIN events p
  ON e.user_id = p.user_id AND p.event_type = 'purchase'
 AND e.ts >= p.ts AND e.ts < p.ts + INTERVAL 1 HOUR
"""


_EVENTS_JOIN_SQL = f"""
SELECT 'asof' AS op, event_id, user_id, event_type,
       last_purchase_id AS match_id, last_purchase_value AS match_value
FROM ({_ASOF_SQL}) a
UNION ALL
SELECT 'range' AS op, event_id, NULL::BIGINT AS user_id,
       NULL::VARCHAR AS event_type, purchase_id AS match_id,
       NULL::DOUBLE AS match_value
FROM ({_RANGE_JOIN_SQL}) r
"""


_PRANK_SQL = """
SELECT doc_id, lang,
       cume_dist() OVER (PARTITION BY lang ORDER BY n_chars) AS prank
FROM documents WHERE n_chars IS NOT NULL
"""


def q_td_merge_laws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north-rule merge laws as a GATED query (they previously lived
    only in pytest): "exact merge associativity and commutativity across
    partition orders ... on serialized centroids".

    Four driver-hashable verdict booleans per lang, production δ=0.01:

    * ``merge_commutative`` — folding one fixed set of partial digests in
      several permutations yields byte-identical final digests;
    * ``union_assoc`` — the lossless (mean → Σn) union is grouping-invariant
      on serialized centroids: fold-left == fold-right == balanced tree
      (``merge(a, merge(b, c)) == merge(merge(a, b), c)``, the reference's
      concat-merge law, README.md:25-41 / src/tdigest.ml:402-408);
    * ``engine_equals_driver_fold`` — the distributed two-phase plan
      (shuffle + byte-concat merge, arbitrary arrival order) equals the
      driver-side fold byte-for-byte;
    * ``exact_layout_invariant`` — a full δ=0 build is byte-identical
      across different ``repartition`` layouts (in exact mode partials are
      lossless, so even the PARTIAL-construction step commutes).

    The partial set is ≤ |langs| × 8 rows of ≤40 KB digests — the law
    comparison is O(sketch bytes), legitimately driver-side (same license
    as q_hll_union_users); the verdicts re-enter the plan via one broadcast
    join against the distributed per-lang counts."""
    from sketchlib.spark.tdigest_ops import tdigest_aggregate, tdigest_merge, tdigest_partials
    from sketchlib.tdigest.core import (
        MergingDigest,
        bytes_to_centroids,
        centroids_to_bytes,
        merge_centroid_arrays,
    )

    delta = 0.01
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    parts_df = tdigest_partials(
        docs.repartition(8, "doc_id"), ["lang"], "n_chars", delta=delta
    )
    engine = tdigest_merge(parts_df, ["lang"], delta=delta)
    parts: dict[str, list[bytes]] = {}
    for r in parts_df.collect():
        parts.setdefault(r["lang"], []).append(bytes(r["digest"]))
    engine_bytes = {r["lang"]: bytes(r["digest"]) for r in engine.collect()}

    def final(blobs: list[bytes]) -> bytes:
        means, ns = merge_centroid_arrays([bytes_to_centroids(b) for b in blobs])
        d = MergingDigest(delta=delta)
        d._means, d._ns = means, ns
        d.compress()
        return d.serialize()

    verdicts = []
    for lang, blobs in sorted(parts.items()):
        base = final(blobs)
        comm = all(
            final(perm) == base
            for perm in (blobs[::-1], blobs[1:] + blobs[:1], sorted(blobs))
        )
        cents = [bytes_to_centroids(b) for b in blobs]
        fold_l = cents[0]
        for c in cents[1:]:
            fold_l = merge_centroid_arrays([fold_l, c])
        fold_r = cents[-1]
        for c in cents[-2::-1]:
            fold_r = merge_centroid_arrays([c, fold_r])

        def tree(cs):
            if len(cs) == 1:
                return cs[0]
            mid = len(cs) // 2
            return merge_centroid_arrays([tree(cs[:mid]), tree(cs[mid:])])

        assoc = (
            centroids_to_bytes(*fold_l)
            == centroids_to_bytes(*fold_r)
            == centroids_to_bytes(*tree(cents))
        )
        verdicts.append(
            (lang, bool(comm), bool(assoc), engine_bytes.get(lang) == base)
        )

    vdf = spark.createDataFrame(
        verdicts,
        "lang string, merge_commutative boolean, union_assoc boolean, "
        "engine_equals_driver_fold boolean",
    )
    ex_a = tdigest_aggregate(docs.repartition(5, "doc_id"), ["lang"], "n_chars", delta=0.0)
    ex_b = tdigest_aggregate(docs.repartition(13, "doc_id"), ["lang"], "n_chars", delta=0.0)
    layout = (
        ex_a.select("lang", F.col("digest").alias("_da"))
        .join(ex_b.select("lang", F.col("digest").alias("_db")), "lang")
        .select("lang", (F.col("_da") == F.col("_db")).alias("exact_layout_invariant"))
    )
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_docs"))
    return (
        counts.join(F.broadcast(vdf), "lang")
        .join(F.broadcast(layout), "lang")
        .select(
            "lang", "n_docs", "merge_commutative", "union_assoc",
            "engine_equals_driver_fold", "exact_layout_invariant",
        )
    )


_MERGE_LAWS_SQL = """
SELECT lang, count(*) AS n_docs,
       TRUE AS merge_commutative, TRUE AS union_assoc,
       TRUE AS engine_equals_driver_fold, TRUE AS exact_layout_invariant
FROM documents GROUP BY lang
"""


def q_td_prank_merge_laws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5 fold (VERDICT r04 #8 slot mechanics): td_prank_by_lang +
    td_merge_laws, both green in every driver run since r03 — the 5-row
    merge-law verdict table broadcasts onto the 500 per-doc p_rank rows on
    lang, freeing a gate slot for `td_sliding_windows`.  Each side keeps
    its own semantics: per-doc discrete p_rank == SQL ``cume_dist()``
    EXACT, and the four north-rule merge-law booleans ride every row of
    that doc's lang."""
    base = q_td_prank_by_lang(spark, sf_dir)
    laws = q_td_merge_laws(spark, sf_dir)
    return base.join(F.broadcast(laws), "lang")


_PRANK_MERGE_LAWS_SQL = f"""
SELECT p.doc_id, p.lang, p.prank, m.n_docs,
       m.merge_commutative, m.union_assoc,
       m.engine_equals_driver_fold, m.exact_layout_invariant
FROM ({_PRANK_SQL}) p JOIN ({_MERGE_LAWS_SQL}) m ON m.lang = p.lang
"""


# filled in by q_bloom_join_prune for inspection/benchmarking:
# {"orders_total": n, "candidates": n, "filter_bytes": n} of the last run
LAST_BLOOM_JOIN_STATS: dict[str, int] = {}


def q_bloom_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accelerated join (Bloom runtime filter made explicit): build a
    Bloom filter over the SMALL join side's keys (European customers, dim ⋈
    dim broadcast), broadcast the KB-scale blob, and pre-filter the BIG probe
    side (orders) with a vectorized ``contains_hashed`` probe BEFORE the
    join.  Bloom has zero false negatives, so the pruned join's result is
    EXACTLY the plain join's — false positives are eliminated by the join
    itself.  At 100 TB this is the difference between shuffling/broadcast-
    probing every orders row and touching only the ~selectivity fraction
    that can match: the filter prunes at the SCAN stage (map-side, before
    any Exchange), like Spark's own runtime bloom filter but storable,
    mergeable, and reusable across queries.  Build and probe both hash
    JVM-side with ``xxhash64`` on the int64 key — no Python per-row work."""
    import pandas as pd

    from sketchlib.bloom import Bloom
    from sketchlib.spark.sketch_ops import sketch_aggregate

    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    cust = (
        load(spark, sf_dir, "customer")
        .join(
            F.broadcast(nat.join(F.broadcast(reg), nat["n_regionkey"] == reg["r_regionkey"])),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", "n_name")
    )
    n_keys = cust.count()
    blob = bytes(
        sketch_aggregate(
            cust, [], "c_custkey", "bloom",
            {"fpr": 0.01, "expected_n": max(n_keys, 1000)},
        ).collect()[0]["sketch"]
    )
    bc = spark.sparkContext.broadcast(blob)
    LAST_BLOOM_JOIN_STATS.clear()
    LAST_BLOOM_JOIN_STATS["filter_bytes"] = len(blob)

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.xxhash64("o_custkey").alias("_h")
    )

    def keep(batches):
        import numpy as np

        b = Bloom.deserialize(bc.value)
        for pdf in batches:
            hits = b.contains_hashed(
                pdf["_h"].to_numpy(dtype="int64").view(np.uint64)
            )
            yield pdf.loc[hits, ["o_orderkey", "o_custkey"]]

    cand = orders.mapInPandas(keep, schema="o_orderkey long, o_custkey long")
    return (
        cand.join(F.broadcast(cust), cand["o_custkey"] == cust["c_custkey"])
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_custs"),
        )
    )


_BLOOM_JOIN_SQL = """
SELECT n_name, count(*) AS n_orders, count(DISTINCT o_custkey) AS n_custs
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'EUROPE'
GROUP BY n_name
"""


def q_hll_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate pattern for DISTINCT counts (the HLL analog of
    q_td_hourly_rollup): ONE scan builds per-(event_type × hour) HLL user
    sketches; per-(event_type × day) sketches are derived by MERGING the 24
    hourly blobs — never rescanning the facts.  Two gated laws per row:
    the rolled-up daily estimate is within max(2%, ±2) of the exact daily
    distinct count, and the merged-from-hourly sketch is BYTE-IDENTICAL to
    a direct daily build (register-max union is associative/idempotent, so
    storing hourly granularity costs nothing in answer quality).  At 100 TB
    the hourly sketch table is KB/row and day/week/month distinct-user
    questions never touch the fact table again."""
    from sketchlib.spark.sketch_ops import hll_estimate_udf, sketch_aggregate, sketch_merge

    ev = load(spark, sf_dir, "events").select(
        "event_type",
        "user_id",
        F.date_trunc("HOUR", F.col("ts")).alias("hour"),
        F.date_format(F.date_trunc("DAY", F.col("ts")), "yyyy-MM-dd").alias("day"),
    )
    hourly = sketch_aggregate(ev, ["event_type", "hour", "day"], "user_id", "hll", {"p": 14})
    daily = sketch_merge(
        hourly.select("event_type", "day", "sketch"),
        ["event_type", "day"], "hll", {"p": 14},
    )
    direct = sketch_aggregate(ev, ["event_type", "day"], "user_id", "hll", {"p": 14})

    cmp = (
        daily.select("event_type", "day", F.col("sketch").alias("_sa"))
        .join(
            direct.select("event_type", "day", F.col("sketch").alias("_sb")),
            ["event_type", "day"],
        )
        .select(
            "event_type", "day", hll_estimate_udf("_sa").alias("_est"),
            (F.col("_sa") == F.col("_sb")).alias("rollup_equals_direct"),
        )
    )
    exact = ev.groupBy("event_type", "day").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    return exact.join(F.broadcast(cmp), ["event_type", "day"]).select(
        "event_type", "day", "n_exact",
        (
            F.abs(F.col("_est") - F.col("n_exact"))
            <= F.greatest(F.lit(2.0), F.col("n_exact") * 0.02)
        ).alias("within_tol"),
        "rollup_equals_direct",
    )


_HLL_ROLLUP_SQL = """
SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       count(DISTINCT user_id) AS n_exact,
       TRUE AS within_tol, TRUE AS rollup_equals_direct
FROM events GROUP BY event_type, day
"""


def q_td_ks_drift_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``_td_ks_drift_by_lang_plan`` materialized, its digest cache released."""
    return _released(*_td_ks_drift_by_lang_plan(spark, sf_dir))


def _td_ks_drift_by_lang_plan(spark: SparkSession,
                              sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Distribution drift from STORED sketches: the two-sample KS distance
    between each lang's n_chars distribution and the whole-corpus
    distribution, computed entirely from discrete digests — one scan builds
    the per-lang digests, the global digest is their MERGE (zero fact
    rescans), and KS is a pointwise max over the union support
    (``ks_of_centroids``).  At 100 TB this is the drift monitor between any
    two stored corpus slices (yesterday vs today, source A vs B) at
    KB-sketch cost.  Discrete digests are lossless, so the statistic is the
    EXACT KS of the data and the oracle recomputes it with window-function
    CDFs.  PSI and Jensen–Shannon divergence ride the same two digests
    (``psi_jsd_of_centroids``: global-decile bins, eps-floored masses) —
    the three standard drift monitors from ONE sketch pass; both are
    likewise exact in discrete mode and the oracle recomputes them from
    decile-bin counts (rounded to 6 decimals on BOTH sides so engine
    sum-order ulps can't flip the hash).  Plan: the 5 digest rows
    cross-join a broadcast single global row — no row-scale join
    anywhere."""
    from sketchlib.spark.tdigest_ops import (
        tdigest_ks_udf,
        tdigest_merge,
        tdigest_psi_jsd_udf,
    )

    docs = load(spark, sf_dir, "documents").select("lang", "n_chars")
    docs = docs.filter(F.col("n_chars").isNotNull())
    # cache the (tiny) digest table: it feeds BOTH the per-lang side and the
    # global merge — without it the plan re-scans the fact table twice
    lang_dig = tdigest_aggregate(docs, ["lang"], "n_chars", discrete=True).cache()
    glob = tdigest_merge(lang_dig, [], discrete=True).select(
        F.col("digest").alias("_gdigest")
    )
    pj = tdigest_psi_jsd_udf(bins=10, ndigits=6)
    out = (
        lang_dig.crossJoin(F.broadcast(glob))
        .withColumn("_pj", pj("digest", "_gdigest"))
        .select(
            "lang",
            tdigest_count_udf("digest").cast("long").alias("n_docs"),
            # rounded to 6 decimals on BOTH sides (same discipline as
            # psi/jsd below): KS from discrete digests is exact, so the
            # round loses nothing, but an unrounded max-of-differences
            # double is the one term a foreign engine's libm / summation
            # order can flip at the value-hash gate (r04 verdict #1)
            F.round(tdigest_ks_udf("digest", "_gdigest"), 6).alias("ks_global"),
            F.col("_pj")[0].alias("psi_global"),
            F.col("_pj")[1].alias("jsd_global"),
        )
    )
    return out, lang_dig


_DECILE_EDGES_SQL = "\n  UNION ALL ".join(
    f"SELECT {i} AS i, min(v) AS edge FROM sa WHERE {_rank_sql(i / 10, 'cuma', 'na')}"
    for i in range(1, 10)
)

_KS_DRIFT_SQL = f"""
WITH d AS (
  SELECT lang AS k, CAST(n_chars AS DOUBLE) AS v
  FROM documents WHERE n_chars IS NOT NULL
), g AS (
  SELECT k, v, CAST(count(*) AS DOUBLE) AS c FROM d GROUP BY k, v
), grid AS (  -- every lang is evaluated at EVERY union support point
  SELECT ks.k, pts.v
  FROM (SELECT DISTINCT k FROM d) ks CROSS JOIN (SELECT DISTINCT v FROM d) pts
), j AS (
  SELECT grid.k, grid.v, coalesce(g.c, 0) AS c
  FROM grid LEFT JOIN g ON g.k = grid.k AND g.v = grid.v
), s AS (
  SELECT k, v,
         sum(c) OVER (PARTITION BY k ORDER BY v) AS cum,
         sum(c) OVER (PARTITION BY k) AS n
  FROM j
), ga AS (
  SELECT v, CAST(count(*) AS DOUBLE) AS c FROM d GROUP BY v
), sa AS (
  SELECT v,
         sum(c) OVER (ORDER BY v) AS cuma,
         sum(c) OVER () AS na
  FROM ga
), lt AS (  -- per-lang totals
  SELECT k, sum(c) AS n FROM g GROUP BY k
), e AS (   -- global decile edges: weighted Nearest Rank (min v, cum >= N*i/10)
  {_DECILE_EDGES_SQL}
), fk AS (  -- per-lang step CDF at each edge
  SELECT l.k, e.i,
         coalesce(sum(CASE WHEN g2.v <= e.edge THEN g2.c END), 0) / l.n AS f
  FROM lt l CROSS JOIN e LEFT JOIN g g2 ON g2.k = l.k
  GROUP BY l.k, e.i, l.n
), fg AS (  -- global step CDF at each edge
  SELECT e.i,
         (SELECT sum(CASE WHEN ga.v <= e.edge THEN ga.c END) FROM ga)
           / (SELECT sum(c) FROM ga) AS f
  FROM e
), pk AS (  -- per-lang decile-bin masses (F_i - F_{{i-1}}, top bin to 1.0)
  SELECT k, i, f - coalesce(lag(f) OVER (PARTITION BY k ORDER BY i), 0) AS p
  FROM (SELECT k, i, f FROM fk UNION ALL SELECT k, 10 AS i, 1.0 AS f FROM lt)
), pg AS (
  SELECT i, f - coalesce(lag(f) OVER (ORDER BY i), 0) AS q
  FROM (SELECT i, f FROM fg UNION ALL SELECT 10 AS i, 1.0 AS f)
), terms AS (  -- eps-floored masses, one row per (lang, bin)
  SELECT pk.k, greatest(pk.p, 1e-6) AS p, greatest(pg.q, 1e-6) AS q
  FROM pk JOIN pg ON pk.i = pg.i
), pj AS (
  SELECT k,
         round(sum((p - q) * ln(p / q)), 6) AS psi_global,
         round(sum(0.5 * p * ln(2 * p / (p + q))
                 + 0.5 * q * ln(2 * q / (p + q))), 6) AS jsd_global
  FROM terms GROUP BY k
)
SELECT s.k AS lang,
       CAST(max(s.n) AS BIGINT) AS n_docs,
       round(max(abs(s.cum / s.n - sa.cuma / sa.na)), 6) AS ks_global,
       max(pj.psi_global) AS psi_global,
       max(pj.jsd_global) AS jsd_global
FROM s JOIN sa ON s.v = sa.v JOIN pj ON pj.k = s.k
GROUP BY s.k
"""


def q_td_winsorize_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-clip (winsorize) normalization — the outlier-taming step of
    a training-data pipeline, driven by sketches: per-lang p05/p95 come from
    discrete digests (one scan), are broadcast back as 5 TINY rows, and the
    row-level clip is pure JVM codegen ``greatest(lo, least(hi, v))`` — NO
    Python anywhere in the row-scale path, no shuffle of data rows for the
    join (broadcast hash join; plan-audited).  Two pruned 2-column scans
    total (stats pass + apply pass) — the canonical compute-then-normalize
    shape.  Discrete-mode percentiles are
    exact data values (Nearest Rank), so clipped sums are exact integer
    arithmetic and the oracle matches bit-for-bit."""
    docs = load(spark, sf_dir, "documents").select("lang", "n_chars")
    docs = docs.filter(F.col("n_chars").isNotNull())
    dig = tdigest_aggregate(docs, ["lang"], "n_chars", discrete=True)
    q = tdigest_quantiles_udf([0.05, 0.95], discrete=True)
    bounds = dig.select("lang", q("digest").alias("_b")).select(
        "lang", F.col("_b")[0].alias("_lo"), F.col("_b")[1].alias("_hi")
    )
    v = F.col("n_chars").cast("double")
    clipped = docs.join(F.broadcast(bounds), "lang").select(
        "lang",
        (v < F.col("_lo")).cast("long").alias("_is_lo"),
        (v > F.col("_hi")).cast("long").alias("_is_hi"),
        F.greatest("_lo", F.least("_hi", v)).cast("long").alias("_w"),
        F.col("_lo").cast("long").alias("p05"),
        F.col("_hi").cast("long").alias("p95"),
    )
    return clipped.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_is_lo").alias("n_clipped_lo"),
        F.sum("_is_hi").alias("n_clipped_hi"),
        F.sum("_w").alias("sum_winsorized"),
        F.min("p05").alias("p05"),
        F.min("p95").alias("p95"),
    )


_WINSORIZE_SQL = f"""
WITH d AS (
  SELECT lang AS k, CAST(n_chars AS DOUBLE) AS v
  FROM documents WHERE n_chars IS NOT NULL
), b AS ({_nearest_rank_sql("d", ["k"], "v", {"lo": 0.05, "hi": 0.95})})
SELECT d.k AS lang,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN d.v < b.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_lo,
       CAST(sum(CASE WHEN d.v > b.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_hi,
       sum(CAST(greatest(b.lo, least(b.hi, d.v)) AS BIGINT)) AS sum_winsorized,
       CAST(min(b.lo) AS BIGINT) AS p05,
       CAST(min(b.hi) AS BIGINT) AS p95
FROM d JOIN b ON d.k = b.k
GROUP BY d.k
"""


def q_td_drift_winsor_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fold of the two digest-driven normalization monitors (both
    previously green standalone): per-lang KS drift vs the merged global
    digest (``q_td_ks_drift_by_lang``) joined on lang with the
    p05/p95 winsorization pass (``q_td_winsorize_by_lang``).  One gate
    slot, both laws."""
    ks = q_td_ks_drift_by_lang(spark, sf_dir)
    w = q_td_winsorize_by_lang(spark, sf_dir).drop("n_docs")
    return ks.join(w, "lang")


_DRIFT_WINSOR_SQL = f"""
SELECT ks.lang, ks.n_docs, ks.ks_global, ks.psi_global, ks.jsd_global,
       w.n_clipped_lo, w.n_clipped_hi, w.sum_winsorized, w.p05, w.p95
FROM ({_KS_DRIFT_SQL}) ks JOIN ({_WINSORIZE_SQL}) w ON ks.lang = w.lang
"""


def q_corpus_profile_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-PASS corpus profile: a single scan + a single KB-scale shuffle
    builds FOUR sketch families per lang (discrete t-digest of n_chars,
    HLL++ of source, full-capacity Misra–Gries of source, wide CMS of
    source) via ``sketch_ops.profile_aggregate``.  The dedicated
    single-sketch paths would cost 4 scans + 4 shuffles; at 100 TB the scan
    IS the job, so the profile operator is a 4× pass reduction.  Gates:
    digest quantiles/count are discrete-exact; MG at full capacity (m=64 >
    20 sources) reports EXACT per-source counts, so top-1 (tie-break
    (count, source) DESC, pinned in the oracle) is exact; the wide CMS
    (w=8192 ≫ 20 keys) point-probes the top source collision-free, again
    exact; HLL++ gets the bounded-error verdict boolean (within max(2%,
    ±2) of exact).  pytest additionally proves profile output byte-equals
    each dedicated single-sketch path."""
    import numpy as np
    from pyspark.sql.types import LongType

    from sketchlib.cms import CMS
    from sketchlib.spark.sketch_ops import (
        _blob_udf,
        hll_estimate_udf,
        mg_items_udf,
        profile_aggregate,
        profile_pivot,
    )

    docs = load(spark, sf_dir, "documents").select("lang", "source", "n_chars")
    specs = [
        {"name": "td", "col": "n_chars", "kind": "tdigest",
         "params": {"discrete": True}},
        {"name": "hll", "col": "source", "kind": "hll", "params": {"p": 14}},
        {"name": "mg", "col": "source", "kind": "mg", "params": {"m": 64}},
        {"name": "cms", "col": "source", "kind": "cms",
         "params": {"width": 8192, "depth": 5}},
    ]
    wide = profile_pivot(profile_aggregate(docs, ["lang"], specs), ["lang"], specs)

    cms_probe = _blob_udf(LongType(), lambda b, h: int(CMS.deserialize(b).query_hashed(
        np.array([h], dtype="int64").view(np.uint64))[0]))

    qq = tdigest_quantiles_udf([0.5, 0.95], discrete=True)
    top = F.array_max(F.expr(
        "transform(_items, x -> struct(x.est AS est, x.item AS item))"
    ))
    prof = (
        wide.withColumn("_qs", qq("td"))
        .withColumn("_items", mg_items_udf()("mg"))
        .withColumn("_top", top)
        .select(
            "lang",
            tdigest_count_udf("td").cast("long").alias("n_docs"),
            F.col("_qs")[0].alias("p50"),
            F.col("_qs")[1].alias("p95"),
            hll_estimate_udf("hll").alias("_hll_est"),
            F.col("_top.item").alias("top_source"),
            F.col("_top.est").alias("top_source_count"),
            cms_probe("cms", F.xxhash64(F.col("_top.item"))).alias("cms_top_count"),
        )
    )
    # gate-side exact cardinality (the verdict's reference value, same
    # pattern as hll_users_by_type) — joined broadcast: 5 sketch rows
    exact = docs.groupBy("lang").agg(
        F.countDistinct("source").alias("n_sources_exact")
    )
    return exact.join(F.broadcast(prof), "lang").select(
        "lang", "n_docs", "p50", "p95", "n_sources_exact",
        (
            F.abs(F.col("_hll_est") - F.col("n_sources_exact"))
            <= F.greatest(F.lit(2.0), F.col("n_sources_exact") * 0.02)
        ).alias("hll_within_tol"),
        "top_source", "top_source_count", "cms_top_count",
    )


_PROFILE_SQL = f"""
WITH q AS (
  SELECT lang AS k, CAST(n AS BIGINT) AS n_docs, p50, p95
  FROM ({_nearest_rank_sql("documents", ["lang"], "n_chars",
                           {"p50": 0.5, "p95": 0.95}, total="n")})
), src AS (
  SELECT lang, source, count(*) AS cnt FROM documents GROUP BY lang, source
), top AS (
  SELECT lang, source, cnt,
         row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, source DESC) AS rn
  FROM src
), ns AS (
  SELECT lang, count(DISTINCT source) AS n_sources_exact
  FROM documents GROUP BY lang
)
SELECT q.k AS lang, q.n_docs, q.p50, q.p95, ns.n_sources_exact,
       TRUE AS hll_within_tol,
       top.source AS top_source, top.cnt AS top_source_count,
       top.cnt AS cms_top_count
FROM q JOIN ns ON ns.lang = q.k JOIN top ON top.lang = q.k AND top.rn = 1
"""


def q_decontam_eval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination: per-lang stats of train documents sharing
    word 4-grams with a held-out eval split (doc_id % 23 == 0 — the
    deterministic stand-in for a benchmark corpus).  The eval n-gram set is
    DISTINCTed and broadcast, train-side per-doc n-gram counts are read off
    the shingle array BEFORE exploding, and the hit groupBy shuffles only
    HIT rows — the train corpus is never shuffled (see
    ``dedup.contamination_hits``).  All counters exact BIGINTs;
    max_containment is a max over single exact divisions."""
    from sketchlib.spark.dedup import contamination_hits

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    train = docs.filter(F.col("doc_id") % 23 != 0)
    ev = docs.filter(F.col("doc_id") % 23 == 0)
    per_doc = contamination_hits(train, ev, ngram=4, keep=["lang"])
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_train_docs"),
        F.sum((F.col("n_hits") > 0).cast("long")).alias("n_contaminated"),
        F.sum("n_hits").alias("sum_hits"),
        F.sum("n_ngrams").alias("sum_ngrams"),
        F.max("containment").alias("max_containment"),
    )


_DECONTAM_SQL = f"""
WITH t AS (SELECT doc_id, lang, text, {_TOKS} AS tk FROM documents),
arr AS (
  SELECT doc_id, lang,
    CASE WHEN len(tk) >= 4 THEN
      list_distinct(list_transform(range(1, len(tk) - 2),
                                   i -> array_to_string(tk[i:i+3], ' ')))
    ELSE [text] END AS sh
  FROM t
),
tr AS (SELECT * FROM arr WHERE doc_id % 23 != 0),
ev AS (SELECT DISTINCT unnest(sh) AS shingle FROM arr WHERE doc_id % 23 = 0),
ex AS (SELECT doc_id, unnest(sh) AS shingle FROM tr),
hits AS (SELECT ex.doc_id, count(*) AS h
         FROM ex JOIN ev USING (shingle) GROUP BY 1),
per AS (
  SELECT tr.doc_id, tr.lang, len(sh)::BIGINT AS n_ngrams,
         coalesce(h, 0)::BIGINT AS n_hits
  FROM tr LEFT JOIN hits ON tr.doc_id = hits.doc_id
)
SELECT lang,
       count(*) AS n_train_docs,
       CAST(sum(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_contaminated,
       CAST(sum(n_hits) AS BIGINT) AS sum_hits,
       CAST(sum(n_ngrams) AS BIGINT) AS sum_ngrams,
       max(CAST(n_hits AS DOUBLE) / CAST(n_ngrams AS DOUBLE))
         AS max_containment
FROM per GROUP BY lang
"""


def q_decontam_bloom_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-grade decontamination via a Bloom filter of eval n-grams
    (``dedup.eval_ngram_bloom`` + ``bloom_decontam_flags``): the eval
    corpus collapses to ONE storable KB-scale blob, and flagging is a
    stateless projection (works unchanged on a readStream — pytest proves
    stream == batch).  Gated on the laws, verdict-boolean style: the
    per-lang exact contamination counts (oracle-checkable SQL) plus
    ``no_false_negatives`` (Bloom guarantees every truly-contaminated doc
    is flagged — MUST be true) and ``fp_rate_ok`` (doc-level false-flag
    rate ≤ 5%; at fpr=1e-4 and ~70 n-grams/doc the expected rate is
    ~0.7%).  The flags⋈truth join is the verification side, not the
    production path — production is the flags projection alone."""
    from sketchlib.spark.dedup import (
        bloom_decontam_flags,
        contamination_hits,
        eval_ngram_bloom,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    train = docs.filter(F.col("doc_id") % 23 != 0)
    ev = docs.filter(F.col("doc_id") % 23 == 0)
    blob = eval_ngram_bloom(ev, ngram=4, fpr=1e-4)
    flags = bloom_decontam_flags(train, blob, ngram=4, keep=["lang"])
    truth = contamination_hits(train, ev, ngram=4, hashed=True).select(
        "doc_id", (F.col("n_hits") > 0).alias("_is_true")
    )
    j = flags.join(truth, "doc_id")
    agg = j.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("_is_true").cast("long")).alias("n_true_contaminated"),
        F.sum(F.col("contaminated").cast("long")).alias("_n_flagged"),
        F.sum((F.col("_is_true") & ~F.col("contaminated")).cast("long"))
        .alias("_n_fn"),
    )
    return agg.select(
        "lang",
        "n_docs",
        "n_true_contaminated",
        (F.col("_n_fn") == 0).alias("no_false_negatives"),
        (
            (F.col("_n_flagged") - F.col("n_true_contaminated")) * 20
            <= (F.col("n_docs") - F.col("n_true_contaminated"))
        ).alias("fp_rate_ok"),
    )


_DECONTAM_BLOOM_SQL = f"""
WITH t AS (SELECT doc_id, lang, text, {_TOKS} AS tk FROM documents),
arr AS (
  SELECT doc_id, lang,
    CASE WHEN len(tk) >= 4 THEN
      list_distinct(list_transform(range(1, len(tk) - 2),
                                   i -> array_to_string(tk[i:i+3], ' ')))
    ELSE [text] END AS sh
  FROM t
),
tr AS (SELECT * FROM arr WHERE doc_id % 23 != 0),
ev AS (SELECT DISTINCT unnest(sh) AS shingle FROM arr WHERE doc_id % 23 = 0),
ex AS (SELECT doc_id, unnest(sh) AS shingle FROM tr),
hits AS (SELECT ex.doc_id, count(*) AS h
         FROM ex JOIN ev USING (shingle) GROUP BY 1),
per AS (
  SELECT tr.doc_id, tr.lang, coalesce(h, 0) AS n_hits
  FROM tr LEFT JOIN hits ON tr.doc_id = hits.doc_id
)
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_true_contaminated,
       TRUE AS no_false_negatives,
       TRUE AS fp_rate_ok
FROM per GROUP BY lang
"""


def q_cms_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation from sketches (CMS inner product,
    Cormode & Muthukrishnan §4.2): |orders ⋈ customer| estimated from TWO
    KB-scale CMS blobs — min over depth rows of the counter-table dot
    product — without running the join.  The query-optimizer primitive: at
    100 TB you ask "how big is this join" from stored per-table sketches
    before committing a shuffle strategy.  Laws gated as verdict booleans:
    est >= exact (collisions only ADD mass — unconditional) and
    est <= exact + 3·(e/w)·N_a·N_b (3x the expected collision excess).
    The exact join count is the distributed verification side (and the
    oracle's SQL); both sketch builds are distributed two-phase plans."""
    from sketchlib.cms import CMS
    from sketchlib.spark.sketch_ops import sketch_aggregate

    params = {"width": 16384, "depth": 5}
    orders = load(spark, sf_dir, "orders").select("o_custkey")
    cust = load(spark, sf_dir, "customer").select("c_custkey")
    blob_o = bytes(
        sketch_aggregate(orders, [], "o_custkey", "cms", params)
        .collect()[0]["sketch"]
    )
    blob_c = bytes(
        sketch_aggregate(cust, [], "c_custkey", "cms", params)
        .collect()[0]["sketch"]
    )
    a, b = CMS.deserialize(blob_o), CMS.deserialize(blob_c)
    est = a.inner_product(b)

    import math

    exact = orders.join(
        F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"]
    ).agg(
        F.count(F.lit(1)).alias("exact_join_rows"),
    )
    n_a, n_b = a.total, b.total
    bound = 3.0 * (math.e / params["width"]) * n_a * n_b
    return exact.select(
        F.lit(int(n_a)).cast("long").alias("n_orders"),
        F.lit(int(n_b)).cast("long").alias("n_customers"),
        "exact_join_rows",
        (F.lit(est) >= F.col("exact_join_rows")).alias("est_ge_exact"),
        (F.lit(float(est)) <= F.col("exact_join_rows") + F.lit(bound)).alias(
            "est_within_bound"
        ),
    )


_CMS_JOIN_SIZE_SQL = """
SELECT (SELECT count(*) FROM orders) AS n_orders,
       (SELECT count(*) FROM customer) AS n_customers,
       (SELECT count(*) FROM orders JOIN customer ON o_custkey = c_custkey)
         AS exact_join_rows,
       TRUE AS est_ge_exact,
       TRUE AS est_within_bound
"""


def q_text_repetition_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition quality filter (Gopher/C4-style duplicate
    3-gram ratio > 0.2 flag) per lang — pure JVM codegen over a 2-column
    scan, one tiny per-lang shuffle row, integer cross-multiply flag test
    (see ``textops.repetition_stats``)."""
    from sketchlib.spark.textops import repetition_stats

    return repetition_stats(load(spark, sf_dir, "documents"))


_REPETITION_SQL = f"""
WITH t AS (SELECT lang, {_TOKS} AS tk FROM documents),
per AS (
  SELECT lang,
    (CASE WHEN len(tk) >= 3 THEN len(tk) - 2 ELSE 0 END)::BIGINT AS n,
    (CASE WHEN len(tk) >= 3 THEN
       len(tk) - 2 - len(list_distinct(list_transform(
         range(1, len(tk) - 1), i -> array_to_string(tk[i:i+2], ' '))))
     ELSE 0 END)::BIGINT AS dup
  FROM t
)
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN dup * 10 > n * 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_flagged,
       CAST(sum(n) AS BIGINT) AS sum_ngrams,
       CAST(sum(dup) AS BIGINT) AS sum_dup_ngrams,
       CAST(sum(dup) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS dup_ratio
FROM per GROUP BY lang
"""


def q_distinctive_terms_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-lang top-3 distinctive vocabulary by the exact tf/df score (one
    BIGINT division ⇒ deterministic double; term-asc tie-break ⇒ portable
    ranking).  Exact-df mode for the gate; ``approx_df=True`` is the
    HLL one-pass scale path (see ``textops.distinctive_terms``)."""
    from sketchlib.spark.textops import distinctive_terms

    return distinctive_terms(load(spark, sf_dir, "documents"))


_DISTINCTIVE_SQL = f"""
WITH toks AS (
  SELECT doc_id, lang, unnest({_TOKS}) AS term FROM documents
),
tf AS (SELECT lang, term, CAST(count(*) AS BIGINT) AS tf
       FROM toks GROUP BY 1, 2),
dfq AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        FROM toks GROUP BY 1),
sc AS (
  SELECT lang, term, tf, df,
         CAST(tf AS DOUBLE) / CAST(df AS DOUBLE) AS score
  FROM tf JOIN dfq USING (term)
),
rk AS (
  SELECT *, row_number() OVER (PARTITION BY lang
                               ORDER BY score DESC, term ASC) AS rn
  FROM sc
)
SELECT lang, term, tf, df, score, CAST(rn AS BIGINT) AS rank
FROM rk WHERE rn <= 3
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (concat-and-chunk, ctx=512, 8 hash buckets): every
    doc's chunk assignment from one bucket-partitioned window cumsum — no
    global sort, exact integer arithmetic (see ``textops.pack_sequences``).

    Gated with TWO tokenizers to prove the operator is tokenizer-agnostic
    (the count source is an injected Column): the default whitespace split
    and a chars/4 surrogate (``(length(text)+3) DIV 4`` — the standard
    "~4 chars per BPE token" estimate), tagged in the ``tokenizer`` col."""
    from sketchlib.spark.textops import pack_sequences

    docs = load(spark, sf_dir, "documents")
    ws = pack_sequences(docs, ctx_len=512, n_buckets=8).withColumn(
        "tokenizer", F.lit("whitespace")
    )
    ch = pack_sequences(
        docs, ctx_len=512, n_buckets=8,
        token_count=F.expr("(length(text) + 3) DIV 4"),
    ).withColumn("tokenizer", F.lit("chars4"))
    return ws.unionByName(ch)


def _pack_sql(n_tokens_expr: str, tag: str) -> str:
    return f"""
WITH t AS (
  SELECT doc_id,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 8
           AS bucket,
         greatest({n_tokens_expr}, 0)::BIGINT AS n_tokens
  FROM documents
),
run AS (
  SELECT doc_id, bucket, n_tokens,
         sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS e
  FROM t
)
SELECT doc_id, bucket, n_tokens,
       CAST(floor((e - n_tokens) / 512) AS BIGINT) AS chunk_id,
       CAST((e - n_tokens) % 512 AS BIGINT) AS offset_in_chunk,
       CASE WHEN n_tokens = 0 THEN 0
            ELSE CAST(floor((e - 1) / 512) - floor((e - n_tokens) / 512)
                      + 1 AS BIGINT) END AS n_chunks_spanned,
       '{tag}' AS tokenizer
FROM run
"""


_PACK_SQL = f"""
SELECT * FROM ({_pack_sql(f"len({_TOKS})", "whitespace")})
UNION ALL
SELECT * FROM ({_pack_sql("(length(text) + 3) // 4", "chars4")})
"""


# ---------------------------------------------------------------------------
# Folded queries (round 4): the driver's correctness gate records at most
# ~50 rows, so near-duplicate catalog entries are consolidated — each fold
# below subsumes TWO previously-green queries (usually strictly more work:
# both operators' outputs in one gated result), freeing gate slots so EVERY
# registered query gets a driver CORRECTNESS row.  The original per-operator
# functions remain above (tests and plan audits still exercise them).
# ---------------------------------------------------------------------------


def q_td_kll_quantiles_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Folds td_discrete_quantiles_by_lang + kll_nearest_rank_by_lang: the
    same weighted nearest-rank quantiles computed by BOTH sketch families
    (discrete t-digest → q*, oracle-mode KLL → kq*), joined on lang.  Two
    KB-row frames join-broadcast; the fact scans are the only real cost."""
    td = q_td_discrete_quantiles_by_lang(spark, sf_dir)
    kll = q_kll_nearest_rank_by_lang(spark, sf_dir)
    for a in PS_DISCRETE:
        kll = kll.withColumnRenamed(a, f"k{a}")
    return td.join(F.broadcast(kll), "lang")


def q_td_quantiles_multi_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Folds td_events_by_type + td_lineitem_price: one tagged union of
    per-key quantiles over two fact tables — discrete nearest-rank on
    events.value, merging-mode interpolation on lineitem prices."""
    ev = load(spark, sf_dir, "events")
    li = load(spark, sf_dir, "lineitem")
    e = _explode_quantiles(
        tdigest_aggregate(ev, ["event_type"], "value", discrete=True),
        "event_type", PS_FLAGSHIP, discrete=True,
    ).select(
        F.lit("events").alias("tbl"), F.col("event_type").alias("grp"),
        *PS_FLAGSHIP.keys(),
    )
    l = _explode_quantiles(
        tdigest_aggregate(li, ["l_returnflag"], "l_extendedprice", delta=0.0),
        "l_returnflag", PS_FLAGSHIP, discrete=False,
    ).select(
        F.lit("lineitem").alias("tbl"), F.col("l_returnflag").alias("grp"),
        *PS_FLAGSHIP.keys(),
    )
    return e.unionByName(l)


_MULTI_TABLE_SQL = f"""
SELECT 'events' AS tbl, event_type AS grp, q50, q95, q99
FROM ({_nearest_rank_sql("events", ["event_type"], "value", PS_FLAGSHIP)})
UNION ALL
SELECT 'lineitem' AS tbl, l_returnflag AS grp, q50, q95, q99
FROM ({_interp_quantile_sql("lineitem", "l_returnflag", "l_extendedprice", PS_FLAGSHIP)})
"""


def q_td_info_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Folds td_info_by_lang + td_digest_stats_by_lang: the full reference
    ``info``/``to_string`` introspection surface off ONE exact-mode digest
    build — count/size/min/max read from the payload AFTER a wire-container
    round trip (so both serde formats stay gated), raw and wire byte sizes
    from octet_length."""
    from sketchlib.spark.tdigest_ops import (
        tdigest_info_udf,
        tdigest_unwire_udf,
        tdigest_wire_udf,
    )

    docs = load(spark, sf_dir, "documents")
    dig = tdigest_aggregate(docs, ["lang"], "n_chars", delta=0.0)
    wire = tdigest_wire_udf(delta=0.0, discrete=False)
    d = (
        dig.withColumn("_wire", wire("digest"))
        .withColumn("_payload", tdigest_unwire_udf("_wire"))
    )
    return d.select(
        "lang",
        tdigest_info_udf("_payload").alias("i"),
        F.octet_length("digest").cast("long").alias("digest_bytes"),
        F.octet_length("_wire").cast("long").alias("wire_bytes"),
    ).select(
        "lang",
        F.col("i.count").alias("total_weight"),
        F.col("i.size").cast("long").alias("n_centroids"),
        F.col("i.min").alias("min_val"),
        F.col("i.max").alias("max_val"),
        "digest_bytes",
        "wire_bytes",
    )


_INFO_STATS_SQL = """
SELECT lang,
  CAST(count(*) AS DOUBLE) AS total_weight,
  count(DISTINCT n_chars) AS n_centroids,
  CAST(min(n_chars) AS DOUBLE) AS min_val,
  CAST(max(n_chars) AS DOUBLE) AS max_val,
  16 * count(DISTINCT n_chars) AS digest_bytes,
  20 + 16 * count(DISTINCT n_chars) AS wire_bytes
FROM documents GROUP BY lang
"""


def q_mg_sources_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Folds mg_top_sources_by_lang + mg_guarantee_sources: the unsaturated
    per-lang frequent-items table with the saturated global MG guarantee
    booleans broadcast-joined per source."""
    per = q_mg_top_sources_by_lang(spark, sf_dir)
    laws = q_mg_guarantee_sources(spark, sf_dir)
    return per.join(F.broadcast(laws), "source").select(
        "lang", "source", "cnt",
        "ok_underestimate", "ok_bound", "ok_retention",
    )


_MG_FOLD_SQL = """
SELECT lang, source, count(*) AS cnt,
       TRUE AS ok_underestimate, TRUE AS ok_bound, TRUE AS ok_retention
FROM documents GROUP BY lang, source
"""


def q_text_doc_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Folds text_token_stats + doc_fingerprint — and improves on running
    them separately: ONE projection over one tokens array yields all token/
    quality counters plus the winnowing fingerprint (no second scan, no
    doc-grain join)."""
    from sketchlib.spark.textops import doc_features

    return doc_features(load(spark, sf_dir, "documents"))


def _doc_features_sql() -> str:
    return f"""
WITH t AS (SELECT doc_id, text, {_TOKS} AS tk FROM documents)
SELECT doc_id,
  len(tk)::BIGINT AS n_tokens,
  len(list_distinct(tk))::BIGINT AS n_uniq_tokens,
  len(list_filter(tk, w -> list_contains({_STOP_SQL}, w)))::BIGINT AS n_stopwords,
  list_max(list_transform(tk, w -> length(w)))::BIGINT AS max_token_len,
  list_sum(list_transform(tk, w -> length(w)))::BIGINT AS n_chars_nospace,
  CASE WHEN len(tk) >= 5 THEN
    list_min(list_transform(range(1, len(tk) - 3),
                            i -> substr(md5(array_to_string(tk[i:i+4], ' ')), 1, 16)))
  ELSE substr(md5(text), 1, 16) END AS fingerprint
FROM t
"""


def q_rollup_hourly_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Folds td_hourly_rollup + hll_hourly_rollup: the continuous-aggregate
    pattern for BOTH sketch families at once — per-(event_type × day)
    quantiles merged from hourly t-digests next to the distinct-user
    estimate merged from hourly HLLs, joined on the rollup key."""
    td = q_td_hourly_rollup(spark, sf_dir)
    hll = q_hll_hourly_rollup(spark, sf_dir)
    return td.join(hll, ["event_type", "day"])


_ROLLUP_FOLD_SQL = f"""
SELECT td.*, hll.n_exact, hll.within_tol, hll.rollup_equals_direct
FROM ({_ROLLUP_SQL}) td JOIN ({_HLL_ROLLUP_SQL}) hll
USING (event_type, day)
"""


def q_media_meta_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Folds media_sniff_meta + media_frame_sample: typed metadata for every
    synthetic media payload LEFT-joined with the per-frame sampling plan
    (frame cols NULL for non-video), so header parsing for all three kinds
    AND the UDTF-style frame explosion stay gated in one result."""
    from sketchlib.spark.media import (
        sample_frames,
        sniff_media_meta,
        synth_media_from_docs,
    )

    media = synth_media_from_docs(load(spark, sf_dir, "documents"))
    meta = sniff_media_meta(media)
    frames = sample_frames(media, every_ms=7000)
    return meta.join(frames, "media_id", "left")


_MEDIA_FOLD_SQL = f"""
SELECT m.media_id, m.kind, m.width, m.height, m.duration_ms, m.payload_bytes,
       f.frame_idx, f.ts_ms
FROM ({_MEDIA_META_SQL}) m LEFT JOIN ({_MEDIA_FRAMES_SQL}) f USING (media_id)
"""


def q_ann_ivf_topk_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Folds ann_ivf_topk + ann_ivf_recall: the full-probe IVF top-k rows
    (≡ brute force, hash-exact) carrying the partial-probe recall@10 ≥ 0.5
    verdict boolean from the nprobe=4 run, plus — round-4 — the STORED
    index verdict: ``stored_equals_inmemory`` is true iff a
    ``write_ivf_index`` built in a scratch dir, probed partition-pruned
    via ``ivf_topk_vs_index`` with the SAME params, returns exactly the
    in-memory nprobe=4 run's (query, rank, neighbor) set AND the probe
    plan carries a ``list_id`` PartitionFilter.  Training is
    deterministic, so the verdict is driver-hashable AND process-stable —
    it is computed once per (process, sf_dir) and memoized, so bench
    reps don't rebuild the scratch index (the index write/probe is
    verification apparatus, not part of the operator under test)."""
    full = q_ann_ivf_topk(spark, sf_dir)
    gate = q_ann_ivf_recall(spark, sf_dir).select("recall_ge_half")
    ok = _IVF_STORED_GATE.get(sf_dir)
    if ok is None:
        ok = _IVF_STORED_GATE[sf_dir] = _ivf_stored_gate(spark, sf_dir)
    return full.crossJoin(F.broadcast(gate)).withColumn(
        "stored_equals_inmemory", F.lit(bool(ok)))


_IVF_STORED_GATE: dict = {}


def _ivf_stored_gate(spark: SparkSession, sf_dir: str) -> bool:
    import re
    import shutil
    import tempfile

    from sketchlib.spark.ann import (
        ivf_topk,
        ivf_topk_vs_index,
        write_ivf_index,
    )

    emb = load(spark, sf_dir, "embeddings")
    qids = list(range(8))
    tmp = tempfile.mkdtemp(prefix="sketchlib_ivf_gate_")
    try:
        write_ivf_index(emb, tmp, n_lists=16)
        stored_df = ivf_topk_vs_index(
            spark, tmp, emb.filter(F.col("vec_id").isin(qids)),
            k=10, nprobe=4)
        plan = stored_df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            stored_df._jdf.queryExecution(), "formatted")
        pruned = bool(
            re.search(r"PartitionFilters: \[[^\]]*list_id", plan))
        stored = {(r["query_id"], r["rank"], r["neighbor_id"])
                  for r in stored_df.collect()}
        mem = {(r["query_id"], r["rank"], r["neighbor_id"])
               for r in ivf_topk(emb, qids, k=10, n_lists=16,
                                 nprobe=4).collect()}
        return pruned and stored == mem
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


_HLL_FOLD_SQL = """
WITH t AS (
  SELECT event_type, count(DISTINCT user_id) AS n_exact, TRUE AS within_2pct
  FROM events GROUP BY event_type
), g AS (
  SELECT count(DISTINCT user_id) AS n_exact_all,
         TRUE AS union_within_2pct, TRUE AS union_equals_direct
  FROM events
)
SELECT t.*, g.* FROM t, g
"""


LM_TOPK = 4096  # per-lang vocab cap for the gated LM-quality query


def q_lm_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM-quality corpus split (head/middle/tail thirds of a
    unigram-LM fluency score, per language), gated as per-(lang, bucket)
    doc counts + token mass + the exact per-lang cut scores.  CCNet scores
    Common-Crawl with a Wikipedia KenLM and keeps the most-fluent third;
    here the model is the order-1 case of the stupid-backoff n-gram stack
    (``train_ngram_model``/``ngram_logprob_score`` at ``order=1``, via
    ``quality_buckets``) so every number is bit-checkable: ``quantize=6``
    stores per-token log-probs as integer micro-nats, making each doc's
    score EXACT integer arithmetic (one final IEEE division) — identical
    on any partition layout or engine — and the DISCRETE per-lang t-digest
    makes the cut points exact nearest-rank quantiles of those scores.
    Plan: broadcast model join → one (doc,lang) aggregate → KB digest
    build → 5-row broadcast → codegen CASE; no row-scale shuffle beyond
    the score aggregate."""
    from sketchlib.spark.textops import quality_buckets

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    b = quality_buckets(
        docs, vocab_top_k=LM_TOPK, alpha=0.5, quantize=6, with_cuts=True
    )
    return b.groupBy("lang", "bucket").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("sum_tokens"),
        F.min("cut_lo").alias("cut_lo"),
        F.min("cut_hi").alias("cut_hi"),
    )


_LM_QUALITY_SQL = f"""
WITH toks AS (
  SELECT lang, unnest(list_filter(string_split(text, ' '), w -> w != '')) AS word
  FROM documents
), counts AS (
  SELECT lang, word, count(*) AS cnt FROM toks GROUP BY lang, word
), model AS (
  SELECT lang, word, cnt FROM (
    SELECT lang, word, cnt,
           row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, word) AS rk
    FROM counts) WHERE rk <= {LM_TOPK}
), totals AS (
  SELECT lang, sum(cnt)::BIGINT AS total, count(*)::BIGINT AS v
  FROM model GROUP BY lang
), lp AS (
  SELECT m.lang, m.word,
         round(ln((m.cnt + 0.5) / (t.total + 0.5 * (t.v + 1.0))) * 1000000)::BIGINT AS lp
  FROM model m JOIN totals t USING (lang)
), oov AS (
  SELECT lang,
         round(ln(0.5 / (total + 0.5 * (v + 1.0))) * 1000000)::BIGINT AS oov_lp
  FROM totals
), dtoks AS (
  SELECT doc_id, lang,
         unnest(list_filter(string_split(text, ' '), w -> w != '')) AS word
  FROM documents
), scored AS (
  SELECT d.doc_id, d.lang, count(*)::BIGINT AS n_tokens,
         (-sum(coalesce(l.lp, o.oov_lp))::DOUBLE / count(*)) / 1000000.0 AS score
  FROM dtoks d
  LEFT JOIN lp l ON l.lang = d.lang AND l.word = d.word
  JOIN oov o ON o.lang = d.lang
  GROUP BY d.doc_id, d.lang
), cuts AS ({_nearest_rank_sql("scored", ["lang"], "score",
                                {"cut_lo": 1.0 / 3.0, "cut_hi": 2.0 / 3.0})})
SELECT sc.lang,
       CASE WHEN sc.score <= c.cut_lo THEN 'head'
            WHEN sc.score <= c.cut_hi THEN 'middle'
            ELSE 'tail' END AS bucket,
       count(*)::BIGINT AS n_docs,
       sum(sc.n_tokens)::BIGINT AS sum_tokens,
       min(c.cut_lo) AS cut_lo,
       min(c.cut_hi) AS cut_hi
FROM scored sc JOIN cuts c USING (lang)
GROUP BY sc.lang, bucket
"""


def q_sample_cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota cap ("keep at most 20 docs per source") — the
    anti-monoculture curation op for oversampled hosts/domains.  Kept set
    is a pure deterministic function of (source, doc_id, k): rows rank by
    md5(doc_id) within source (tie-break doc_id), so the oracle reproduces
    it bit-for-bit and raising k only ADDS rows.  Plan: ONE hash exchange
    on source with a partial WindowGroupLimit below it (each map task
    forwards <= k rows per source — the shuffle carries O(k·sources),
    never the corpus; plan-audited in pytest)."""
    from sketchlib.spark.sampling import cap_per_key

    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "lang")
    return cap_per_key(docs, "source", 20, keep_rank=True)


_CAP_PER_SOURCE_SQL = """
SELECT doc_id, source, lang, _cap_rank
FROM (
  SELECT doc_id, source, lang,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5(doc_id::VARCHAR), doc_id) AS _cap_rank
  FROM documents)
WHERE _cap_rank <= 20
"""


def q_text_quality_langid_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Folds text_quality_by_lang + lang_id_confusion (both green in every
    driver run since r01; freed a gate slot for sample_cap_per_source):
    per-lang corpus quality ratios joined with the language-ID confusion
    row — two 5-row per-lang tables joined on lang."""
    q = q_text_quality_by_lang(spark, sf_dir)
    c = q_lang_id_confusion(spark, sf_dir).select(
        "lang", "predicted", F.col("n_docs").alias("pred_n_docs"))
    return q.join(F.broadcast(c), "lang")


def q_sample_corpus_methods(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Folds sample_stratified_hash + sample_weighted_topk (both long-green;
    freed a gate slot per VERDICT r03 #1): the two deterministic sampling
    operators over the same corpus, tagged by method.  Stratified =
    md5-bucket rate filter (pure codegen, no shuffle); weighted = 10 docs
    per lang by Efraimidis–Spirakis priority (partial WindowGroupLimit)."""
    from sketchlib.spark.sampling import (
        stratified_hash_sample,
        weighted_priority_sample,
    )

    docs = load(spark, sf_dir, "documents")
    strat = stratified_hash_sample(docs, SAMPLE_RATES).select(
        F.lit("stratified_hash").alias("method"), "doc_id", "lang"
    )
    wtd = weighted_priority_sample(
        docs, k=10, weight_col="n_chars", by="lang"
    ).select(F.lit("weighted_topk").alias("method"), "doc_id", "lang")
    return strat.unionByName(wtd)


def _sample_fold_sql() -> str:
    return f"""
SELECT 'stratified_hash' AS method, doc_id, lang
FROM ({_sample_sql(SAMPLE_RATES)})
UNION ALL
SELECT 'weighted_topk' AS method, doc_id, lang
FROM ({_WEIGHTED_SAMPLE_SQL})
"""


def q_td_timeline_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed-trend report over stored per-epoch digests (the time-series
    form of the drift monitor): build one DISCRETE digest of event value
    per (event_type, day) — in production these are the per-epoch tables
    ``jobs/build_digests.py`` already writes — then walk each key's epochs
    reporting n, p50/p95, their deltas vs the previous stored epoch, and
    the exact two-sample KS distance vs the previous epoch's digest.  All
    trend arithmetic runs on ~150 KB sketch rows (one lag window); the
    fact table is scanned ONCE for the digest build and never again, so at
    100 TB a 90-day × 10k-key timeline costs seconds.  Discrete digests
    are lossless → every number is the exact statistic, and the oracle
    recomputes KS with window-function CDFs over the per-key union
    support."""
    from sketchlib.spark.tdigest_ops import digest_timeline

    ev = load(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("day"), "value"
    ).filter(F.col("value").isNotNull())
    dig = tdigest_aggregate(ev, ["event_type", "day"], "value", discrete=True)
    return digest_timeline(
        dig, ["event_type"], "day", ps=[0.5, 0.95], discrete=True
    )


_TIMELINE_SQL = f"""
WITH d AS (
  SELECT event_type AS k, CAST(ts AS DATE) AS day, value AS v
  FROM events WHERE value IS NOT NULL
), g AS (
  SELECT k, day, v, CAST(count(*) AS DOUBLE) AS c FROM d GROUP BY k, day, v
), q AS (
  SELECT k, day, CAST(n AS BIGINT) AS n, p5, p95
  FROM ({_nearest_rank_sql("d", ["k", "day"], "v", {"p5": 0.5, "p95": 0.95}, total="n")})
), grid AS (  -- every (key, day) CDF evaluated on the key's union support
  SELECT kd.k, kd.day, pts.v
  FROM (SELECT DISTINCT k, day FROM d) kd
  JOIN (SELECT DISTINCT k, v FROM d) pts ON pts.k = kd.k
), cdf AS (
  SELECT grid.k, grid.day, grid.v,
         sum(coalesce(g.c, 0)) OVER (PARTITION BY grid.k, grid.day ORDER BY grid.v)
           / sum(coalesce(g.c, 0)) OVER (PARTITION BY grid.k, grid.day) AS f
  FROM grid LEFT JOIN g ON g.k = grid.k AND g.day = grid.day AND g.v = grid.v
), pairs AS (
  SELECT k, day, lag(day) OVER (PARTITION BY k ORDER BY day) AS prev_day
  FROM (SELECT DISTINCT k, day FROM d)
), ks AS (
  SELECT p.k, p.day, max(abs(a.f - b.f)) AS ks_prev
  FROM pairs p
  JOIN cdf a ON a.k = p.k AND a.day = p.day
  JOIN cdf b ON b.k = p.k AND b.day = p.prev_day AND b.v = a.v
  GROUP BY p.k, p.day
)
SELECT q.k AS event_type, q.day, q.n,
       q.p5,
       q.p5 - lag(q.p5) OVER (PARTITION BY q.k ORDER BY q.day) AS delta_p5,
       q.p95,
       q.p95 - lag(q.p95) OVER (PARTITION BY q.k ORDER BY q.day) AS delta_p95,
       ks.ks_prev
FROM q LEFT JOIN ks ON ks.k = q.k AND ks.day = q.day
"""


def q_td_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window digests from stored tumbling digests
    (``tdigest_ops.sliding_from_tumbling``) — the storage-side "trailing
    p99 every slide" operator, previously proved only by a pytest
    byte-equality law (VERDICT r04 #8): tumbling DISCRETE digests of event
    value at day grain are built ONCE, then each trailing-3-day window is
    derived by a pure-JVM byte concat of the ≤3 stored KB blobs (RANGE
    window frame — gaps contribute nothing, so ``n_slides`` < k across
    them).  Production cost at 100 TB: one digest build + a window over
    KB sketch rows, ZERO fact rescans per sliding window.

    Gated three ways per (event_type, anchor day): (a) discrete-exact n /
    p50 / p95 of the trailing window vs the oracle's nearest-rank window
    SQL; (b) ``n_slides`` vs the oracle's stored-day count; (c) the
    canonicalized-concat ≡ direct-build byte law as a verdict boolean —
    the direct side re-aggregates each event into its ≤k anchor windows
    (explode + semi-join on stored anchors; the LAW side only, the
    production path never rescans)."""
    from sketchlib.spark.tdigest_ops import (
        sliding_from_tumbling,
        tdigest_compress_udf,
    )

    ev = (
        load(spark, sf_dir, "events")
        .select("event_type", F.to_date("ts").alias("day"), "value")
        .filter(F.col("value").isNotNull())
    )
    dig = tdigest_aggregate(ev, ["event_type", "day"], "value", discrete=True)
    sld = sliding_from_tumbling(
        dig, ["event_type"], k=3, slide_seconds=86400, window_col="day"
    )
    canon = tdigest_compress_udf(delta=0.01, discrete=True)
    q = tdigest_quantiles_udf([0.5, 0.95], discrete=True)
    base = sld.select(
        "event_type",
        F.col("slide_end_start").alias("day"),
        "n_slides",
        canon("sliding_digest").alias("_c"),
    )
    # direct-build law side: each event contributes to the ≤k anchors
    # whose trailing window contains its day; anchors exist only where a
    # tumbling digest was stored
    anchors = ev.withColumn(
        "anchor", F.explode(F.array(*[F.date_add("day", i) for i in range(3)]))
    )
    stored = dig.select("event_type", F.col("day").alias("anchor"))
    direct = tdigest_aggregate(
        anchors.join(F.broadcast(stored), ["event_type", "anchor"],
                     "left_semi"),
        ["event_type", "anchor"], "value", discrete=True,
    )
    return (
        base.join(
            direct.select(
                "event_type",
                F.col("anchor").alias("day"),
                F.col("digest").alias("_d"),
            ),
            ["event_type", "day"],
        )
        .select(
            "event_type",
            "day",
            tdigest_count_udf("_c").cast("long").alias("n"),
            q("_c")[0].alias("p50"),
            q("_c")[1].alias("p95"),
            "n_slides",
            (F.col("_c") == F.col("_d")).alias("concat_equals_direct"),
        )
    )


_SLIDING_SQL = f"""
WITH d AS (
  SELECT event_type AS k, CAST(ts AS DATE) AS day, value AS v
  FROM events WHERE value IS NOT NULL
), days AS (
  SELECT DISTINCT k, day FROM d
), win AS (
  SELECT a.k, a.day AS anchor, d.v
  FROM days a JOIN d ON d.k = a.k
   AND d.day BETWEEN a.day - 2 AND a.day
), q AS (
  SELECT k, anchor, CAST(n AS BIGINT) AS n, p50, p95
  FROM ({_nearest_rank_sql("win", ["k", "anchor"], "v", {"p50": 0.5, "p95": 0.95},
                           total="n")})
), ns AS (
  SELECT a.k, a.day AS anchor, CAST(count(*) AS INT) AS n_slides
  FROM days a JOIN days b ON b.k = a.k AND b.day BETWEEN a.day - 2 AND a.day
  GROUP BY a.k, a.day
)
SELECT q.k AS event_type, q.anchor AS day, q.n, q.p50, q.p95,
       ns.n_slides, TRUE AS concat_equals_direct
FROM q JOIN ns ON ns.k = q.k AND ns.anchor = q.anchor
"""


LM_BIGRAM_TOPK = 512  # per-lang bigram cap — small enough that the gated
#                       run actually exercises the top-k truncation (sf0.01
#                       has ~900 distinct bigrams/lang)


def q_lm_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-backoff bigram LM quality score, per document —
    ``ngram_logprob_score`` at ``order=2`` (Brants et al. 2007's web-scale
    scoring rule: stored relative frequency when the bigram is in the
    capped model, else ln(0.4) + the smoothed unigram score; a doc's first
    token scores as pure unigram).  ``quantize=6`` makes every per-doc sum
    exact integer arithmetic, so all 500 per-doc doubles hash-match the
    oracle, which retrains the same capped model in SQL (total-ordered
    top-k tie-break) and rescores every document.  Plan: token pairing is
    an in-array JVM projection (no window), the three model joins
    broadcast, one per-doc aggregate — the same shape that scores a live
    crawl."""
    from sketchlib.spark.textops import ngram_logprob_score, train_ngram_model

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    # cache the (KB-scale) model table: it feeds THREE broadcast joins in
    # the scorer — uncached, each join re-derives the whole training
    # sub-plan (9 fact scans instead of 1 training pass + 1 scoring scan)
    model = train_ngram_model(
        docs, order=2, vocab_top_k=LM_TOPK, ngram_top_k=LM_BIGRAM_TOPK,
        alpha=0.5, quantize=6,
    ).cache()
    return _released(ngram_logprob_score(
        docs, order=2, model=model, quantize=6, backoff=0.4,
    ), model)


_LM_BIGRAM_SQL = f"""
WITH dt AS (
  SELECT doc_id, lang,
         list_filter(string_split(text, ' '), w -> w != '') AS toks
  FROM documents
), rtoks AS (
  SELECT lang, unnest(toks) AS word FROM dt
), counts AS (
  SELECT lang, word, count(*) AS cnt FROM rtoks GROUP BY lang, word
), model AS (
  SELECT lang, word, cnt FROM (
    SELECT lang, word, cnt,
           row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, word) AS rk
    FROM counts) WHERE rk <= {LM_TOPK}
), totals AS (
  SELECT lang, sum(cnt)::BIGINT AS total, count(*)::BIGINT AS v
  FROM model GROUP BY lang
), ulp AS (
  SELECT m.lang, m.word,
         round(ln((m.cnt + 0.5) / (t.total + 0.5 * (t.v + 1.0))) * 1000000)::BIGINT AS lp
  FROM model m JOIN totals t USING (lang)
), oov AS (
  SELECT lang,
         round(ln(0.5 / (total + 0.5 * (v + 1.0))) * 1000000)::BIGINT AS oov_lp
  FROM totals
), rpairs AS (
  SELECT lang, p[1] AS word, p[2] AS ctx FROM (
    SELECT lang, unnest(list_zip(toks, list_prepend(NULL, toks))) AS p
    FROM dt) z
  WHERE p[1] IS NOT NULL AND p[2] IS NOT NULL
), bic AS (
  SELECT lang, ctx, word, count(*) AS cnt FROM rpairs GROUP BY lang, ctx, word
), tot AS (
  SELECT lang, ctx, sum(cnt) AS tot FROM bic GROUP BY lang, ctx
), bim AS (
  SELECT lang, ctx, word,
         round(ln(CAST(cnt AS DOUBLE) / tot) * 1000000)::BIGINT AS blp
  FROM (
    SELECT b.lang, b.ctx, b.word, b.cnt, t.tot,
           row_number() OVER (PARTITION BY b.lang
                              ORDER BY b.cnt DESC, b.ctx, b.word) AS rk
    FROM bic b JOIN tot t ON t.lang = b.lang AND t.ctx = b.ctx)
  WHERE rk <= {LM_BIGRAM_TOPK}
), dpairs AS (
  SELECT doc_id, lang, p[1] AS word, p[2] AS ctx FROM (
    SELECT doc_id, lang, unnest(list_zip(toks, list_prepend(NULL, toks))) AS p
    FROM dt) z
  WHERE p[1] IS NOT NULL
), scored AS (
  SELECT d.doc_id, d.lang, count(*)::BIGINT AS n_tokens,
         (-sum(CASE WHEN bm.blp IS NOT NULL THEN bm.blp
               ELSE (CASE WHEN d.ctx IS NULL THEN 0 ELSE -916291 END)
                    + coalesce(u.lp, o.oov_lp) END)::DOUBLE
          / count(*)) / 1000000.0 AS logprob_per_token
  FROM dpairs d
  LEFT JOIN bim bm ON bm.lang = d.lang AND bm.ctx = d.ctx AND bm.word = d.word
  LEFT JOIN ulp u ON u.lang = d.lang AND u.word = d.word
  JOIN oov o ON o.lang = d.lang
  GROUP BY d.doc_id, d.lang
)
SELECT doc.doc_id, doc.lang,
       coalesce(s.n_tokens, 0)::BIGINT AS n_tokens, s.logprob_per_token
FROM documents doc
LEFT JOIN scored s ON s.doc_id = doc.doc_id AND s.lang = doc.lang
"""


def q_lm_trigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-backoff TRIGRAM LM quality score, per document — the
    order-agnostic extension of ``lm_bigram_score`` (Brants et al. 2007's
    backoff chain walked top-down: stored trigram relative frequency when
    (w-2 w-1, w) is in the capped model, else ln(0.4) + the bigram score,
    else 2·ln(0.4) + the smoothed unigram; positions lacking the context
    skip that level with NO penalty).  ``quantize=6`` keeps every per-doc
    sum exact integer arithmetic, so all 500 per-doc doubles hash-match the
    oracle, which retrains the same per-level capped model in SQL
    (total-ordered top-k tie-break per level) and rescores every document.
    Plan: per-token contexts are one in-array JVM projection (no window),
    all three model levels join as broadcasts, one per-doc aggregate."""
    from sketchlib.spark.textops import ngram_logprob_score, train_ngram_model

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    # cache the KB-scale model: it feeds FOUR broadcast joins in the scorer
    model = train_ngram_model(
        docs, order=3, vocab_top_k=LM_TOPK, ngram_top_k=LM_BIGRAM_TOPK,
        alpha=0.5, quantize=6,
    ).cache()
    return _released(ngram_logprob_score(
        docs, order=3, model=model, quantize=6, backoff=0.4,
    ), model)


_LM_TRIGRAM_SQL = f"""
WITH dt AS (
  SELECT doc_id, lang,
         list_filter(string_split(text, ' '), w -> w != '') AS toks
  FROM documents
), rtoks AS (
  SELECT lang, unnest(toks) AS word FROM dt
), counts AS (
  SELECT lang, word, count(*) AS cnt FROM rtoks GROUP BY lang, word
), model AS (
  SELECT lang, word, cnt FROM (
    SELECT lang, word, cnt,
           row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, word) AS rk
    FROM counts) WHERE rk <= {LM_TOPK}
), totals AS (
  SELECT lang, sum(cnt)::BIGINT AS total, count(*)::BIGINT AS v
  FROM model GROUP BY lang
), ulp AS (
  SELECT m.lang, m.word,
         round(ln((m.cnt + 0.5) / (t.total + 0.5 * (t.v + 1.0))) * 1000000)::BIGINT AS lp
  FROM model m JOIN totals t USING (lang)
), oov AS (
  SELECT lang,
         round(ln(0.5 / (total + 0.5 * (v + 1.0))) * 1000000)::BIGINT AS oov_lp
  FROM totals
), grams AS (
  SELECT doc_id, lang, p[1] AS word, p[2] AS ctx1,
         p[3] || ' ' || p[2] AS ctx2
  FROM (
    SELECT doc_id, lang,
           unnest(list_zip(toks, list_prepend(NULL, toks),
                           list_prepend(NULL, list_prepend(NULL, toks)))) AS p
    FROM dt) z
  WHERE p[1] IS NOT NULL
), bic AS (
  SELECT lang, ctx1 AS ctx, word, count(*) AS cnt FROM grams
  WHERE ctx1 IS NOT NULL GROUP BY lang, ctx1, word
), btot AS (
  SELECT lang, ctx, sum(cnt) AS tot FROM bic GROUP BY lang, ctx
), bim AS (
  SELECT lang, ctx, word,
         round(ln(CAST(cnt AS DOUBLE) / tot) * 1000000)::BIGINT AS blp
  FROM (
    SELECT b.lang, b.ctx, b.word, b.cnt, t.tot,
           row_number() OVER (PARTITION BY b.lang
                              ORDER BY b.cnt DESC, b.ctx, b.word) AS rk
    FROM bic b JOIN btot t ON t.lang = b.lang AND t.ctx = b.ctx)
  WHERE rk <= {LM_BIGRAM_TOPK}
), tric AS (
  SELECT lang, ctx2 AS ctx, word, count(*) AS cnt FROM grams
  WHERE ctx2 IS NOT NULL GROUP BY lang, ctx2, word
), ttot AS (
  SELECT lang, ctx, sum(cnt) AS tot FROM tric GROUP BY lang, ctx
), trim AS (
  SELECT lang, ctx, word,
         round(ln(CAST(cnt AS DOUBLE) / tot) * 1000000)::BIGINT AS tlp
  FROM (
    SELECT b.lang, b.ctx, b.word, b.cnt, t.tot,
           row_number() OVER (PARTITION BY b.lang
                              ORDER BY b.cnt DESC, b.ctx, b.word) AS rk
    FROM tric b JOIN ttot t ON t.lang = b.lang AND t.ctx = b.ctx)
  WHERE rk <= {LM_BIGRAM_TOPK}
), scored AS (
  SELECT d.doc_id, d.lang, count(*)::BIGINT AS n_tokens,
         (-sum(CASE WHEN tm.tlp IS NOT NULL THEN tm.tlp
               ELSE (CASE WHEN d.ctx2 IS NULL THEN 0 ELSE -916291 END)
                    + CASE WHEN bm.blp IS NOT NULL THEN bm.blp
                      ELSE (CASE WHEN d.ctx1 IS NULL THEN 0 ELSE -916291 END)
                           + coalesce(u.lp, o.oov_lp) END
               END)::DOUBLE
          / count(*)) / 1000000.0 AS logprob_per_token
  FROM grams d
  LEFT JOIN trim tm ON tm.lang = d.lang AND tm.ctx = d.ctx2 AND tm.word = d.word
  LEFT JOIN bim bm ON bm.lang = d.lang AND bm.ctx = d.ctx1 AND bm.word = d.word
  LEFT JOIN ulp u ON u.lang = d.lang AND u.word = d.word
  JOIN oov o ON o.lang = d.lang
  GROUP BY d.doc_id, d.lang
)
SELECT doc.doc_id, doc.lang,
       coalesce(s.n_tokens, 0)::BIGINT AS n_tokens, s.logprob_per_token
FROM documents doc
LEFT JOIN scored s ON s.doc_id = doc.doc_id AND s.lang = doc.lang
"""


def q_td_compress_trim_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Folds td_compressed_by_lang + td_trimmed_mean_by_lang (both green in
    every driver run since r01; freed a gate slot for lm_trigram_score):
    the production-mode rank-interval accuracy law per (lang, p) joined
    with the discrete-digest trimmed-mean exactness law — two 5-row
    verdict-boolean tables joined on lang."""
    c = q_td_compressed_by_lang(spark, sf_dir)
    t = q_td_trimmed_mean_by_lang(spark, sf_dir).select("lang", "tm_ok")
    return c.join(F.broadcast(t), "lang")


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing gate: deterministic synthetic PII (emails on doc_id%7,
    IPv4 on %11, +phone on %13) is appended to each doc, then
    ``redact_pii`` counts and replaces every kind in ONE codegen'd
    projection (no Python, no shuffle — scan-speed, stream-safe).  The
    oracle re-injects and re-redacts with RE2 equivalents of the same
    patterns and must match counts AND the md5 of the redacted bytes —
    byte-exact cross-engine redaction, per document."""
    from sketchlib.spark.textops import redact_pii

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    did = F.col("doc_id")
    aug = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(did % 7 == 0, F.lit(" contact me@example.com")
                   ).otherwise(F.lit("")),
            F.when(did % 11 == 0, F.concat(
                F.lit(" host 10.0."), (did % 250).cast("string"), F.lit(".17"))
                   ).otherwise(F.lit("")),
            F.when(did % 13 == 0, F.lit(" call +1 415 555 0100")
                   ).otherwise(F.lit("")),
        ),
    )
    red = redact_pii(aug)
    return red.select(
        "doc_id", "lang", "n_email", "n_ipv4", "n_phone",
        F.md5(F.encode(F.col("text_redacted"), "UTF-8")).alias("redacted_md5"),
    )


_PII_SQL = r"""
WITH aug AS (
  SELECT doc_id, lang,
         text
         || CASE WHEN doc_id % 7 = 0 THEN ' contact me@example.com' ELSE '' END
         || CASE WHEN doc_id % 11 = 0
                 THEN ' host 10.0.' || (doc_id % 250)::VARCHAR || '.17'
                 ELSE '' END
         || CASE WHEN doc_id % 13 = 0 THEN ' call +1 415 555 0100' ELSE '' END
           AS t
  FROM documents)
SELECT doc_id, lang,
       len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
       len(regexp_extract_all(t, '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS n_ipv4,
       len(regexp_extract_all(t, '\+\d[\d -]{7,}\d')) AS n_phone,
       md5(regexp_replace(regexp_replace(regexp_replace(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IPV4>', 'g'),
             '\+\d[\d -]{7,}\d', '<PHONE>', 'g')) AS redacted_md5
FROM aug
"""


def q_text_normalize_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate for the two C4/CCNet curation staples previously proved only
    by pytest mirrors (VERDICT r04 #3): ``dedup_lines_within_doc``
    (within-document repeated-line removal — the intra-doc half of the C4
    boilerplate rules) and ``normalize_text`` (the dedup-key
    canonicalization applied before hashing/shingling).  Deterministic
    line structure is synthesized per doc (same injection pattern as
    pii_redact): the doc text plus a boilerplate line, each repeated, plus
    a case/whitespace variant of the boilerplate — so the line dedup drops
    exactly 2 lines per doc and the case-variant line survives it but
    collapses under normalization.  Emits per-doc exact counts and the md5
    of three byte streams: the line-deduped text, its default
    normalization (lower+collapse_ws+trim), and the strip_punct arm.  Both
    operators are single codegen projections (no Python, no shuffle,
    stream-safe — scan-speed at 100 TB); the oracle recomputes all three
    byte streams in DuckDB via the order-preserving ``list_filter``
    first-occurrence mirror and the Java∩RE2 regex subset."""
    from sketchlib.spark.textops import (
        dedup_lines_within_doc,
        normalize_text_expr,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    aug = docs.withColumn(
        "text",
        F.concat_ws(
            "\n",
            F.col("text"),
            F.lit("Subscribe  NOW!"),
            F.col("text"),
            F.lit("SUBSCRIBE  now!"),
            F.lit("Subscribe  NOW!"),
        ),
    )
    d = dedup_lines_within_doc(aug)
    return d.select(
        "doc_id",
        "lang",
        "n_lines",
        "n_dup_lines",
        F.md5(F.encode(F.col("text_clean"), "UTF-8")).alias("clean_md5"),
        F.md5(F.encode(normalize_text_expr("text_clean"), "UTF-8"))
        .alias("norm_md5"),
        F.md5(
            F.encode(
                normalize_text_expr("text_clean", strip_punct=True), "UTF-8"
            )
        ).alias("normpunct_md5"),
    )


_NORMALIZE_DEDUP_SQL = r"""
WITH aug AS (
  SELECT doc_id, lang,
         concat_ws(chr(10), text, 'Subscribe  NOW!', text,
                   'SUBSCRIBE  now!', 'Subscribe  NOW!') AS t
  FROM documents
), s AS (
  SELECT doc_id, lang, str_split(t, chr(10)) AS l FROM aug
), c AS (
  SELECT doc_id, lang, len(l)::BIGINT AS n_lines,
         list_filter(l, (x, i) -> list_position(l, x) = i) AS kept
  FROM s
), r AS (
  SELECT doc_id, lang, n_lines,
         (n_lines - len(kept))::BIGINT AS n_dup_lines,
         array_to_string(kept, chr(10)) AS clean
  FROM c
)
SELECT doc_id, lang, n_lines, n_dup_lines,
       md5(clean) AS clean_md5,
       md5(trim(regexp_replace(lower(clean), '\s+', ' ', 'g'))) AS norm_md5,
       md5(trim(regexp_replace(
             regexp_replace(lower(clean), '[^\w\s]+', '', 'g'),
             '\s+', ' ', 'g'))) AS normpunct_md5
FROM r
"""


def q_sketch_laws_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Folds hll_users_union + cms_heavy_hitters + the DDSketch law row —
    REWRITTEN one-pass in round 5 (VERDICT r04 #2): the three law families
    used to re-scan their fact tables separately (documents ×4: CMS build,
    distinct-key probe, exact verify, dd value load; events ×3: per-type
    HLL, direct HLL, exact rollup).  Now ONE ``profile_partials`` scan of
    documents builds EVERY documents-side sketch the laws need — the
    heavy-hitter CMS, both dd variants (merge law + active-collapse law),
    a DISCRETE t-digest (a lossless value→count map, so the dd
    relative-error law's exact rank values come from the sketch instead of
    a row_number job), and a 1-cell row-counter CMS per lang whose exact
    ``total`` replaces the heavy-hitter verify rescan — and ONE scan of
    events builds the per-type HLL partials from which BOTH the per-type
    sketches and the flat global merge derive (the byte law
    ``union_equals_direct`` is merge-grouping invariance: two different
    merge trees over the same scan's partials must serialize identically —
    same class of law as ``dd_merge_bitwise``; register-max ingest is
    row-deterministic, so it implies equality with an independent direct
    build).  Only the exact-distinct rollup keeps its own events scan
    (exactness can't ride a sketch pass).  2 fact scans + 1 rollup total,
    was ~7; all law arithmetic runs on collected KB-scale blobs."""
    import math

    import numpy as np

    from sketchlib.cms import CMS
    from sketchlib.ddsketch import DDSketch
    from sketchlib.hll import HLL
    from sketchlib.spark.sketch_ops import profile_merge, profile_partials
    from sketchlib.tdigest.core import bytes_to_centroids

    alpha, phi = 0.01, 0.2
    ps = [0.01, 0.25, 0.5, 0.75, 0.95, 0.99]

    # ---- documents side: ONE scan, five sketch specs, keyed by lang ----
    d_specs = [
        {"name": "cmsl", "col": "lang", "kind": "cms",
         "params": {"width": 16384, "depth": 5}},
        {"name": "dd_m", "col": "n_chars", "kind": "dd",
         "params": {"alpha": alpha, "max_bins": 2048}},
        {"name": "dd_c", "col": "n_chars", "kind": "dd",
         "params": {"alpha": alpha, "max_bins": 64}},
        {"name": "tdx", "col": "n_chars", "kind": "tdigest",
         "params": {"discrete": True}},
        {"name": "rows", "col": "_ones", "kind": "cms",
         "params": {"width": 4, "depth": 1}},
    ]
    docs = (
        load(spark, sf_dir, "documents")
        .select("lang", "n_chars")
        .withColumn("_ones", F.lit(1))
    )
    parts = profile_partials(docs, ["lang"], d_specs).cache()

    # exact per-lang doc counts: the row-counter CMS total counts every
    # ingested row exactly — the heavy-hitter verify pass with no rescan
    lang_rows = profile_merge(
        parts.filter(F.col("sk_name") == "rows"), ["lang"], d_specs
    )
    lang_counts = {
        r["lang"]: int(CMS.deserialize(bytes(r["sketch"])).total)
        for r in lang_rows.collect()
    }
    thr = int(math.ceil(phi * sum(lang_counts.values())))

    glob = profile_merge(
        parts.filter(F.col("sk_name") != "rows"), [], d_specs
    )
    gmap = {r["sk_name"]: bytes(r["sketch"]) for r in glob.collect()}

    # dd bitwise laws: fold the SAME partials left/reversed/balanced-tree
    # and compare to the engine's shuffle-merge, byte-for-byte
    def fold_ok(name: str) -> tuple[bool, bytes]:
        blobs = [
            bytes(r["sketch"])
            for r in parts.filter(F.col("sk_name") == name).collect()
        ]

        def fold(bs):
            acc = DDSketch.deserialize(bs[0])
            for b in bs[1:]:
                acc.merge(DDSketch.deserialize(b))
            return acc.serialize()

        def tree(bs):
            if len(bs) == 1:
                return DDSketch.deserialize(bs[0])
            mid = len(bs) // 2
            return tree(bs[:mid]).merge(tree(bs[mid:]))

        base = fold(blobs)
        return (
            base == fold(blobs[::-1]) == tree(blobs).serialize() == gmap[name]
        ), base

    merge_ok, merged = fold_ok("dd_m")
    collapse_ok, _ = fold_ok("dd_c")

    # dd relative-error law: exact rank values recovered from the discrete
    # digest (lossless value→count map) instead of a row_number job
    means, ns = bytes_to_centroids(gmap["tdx"])
    cum = np.cumsum(ns)
    n = int(round(cum[-1])) if len(cum) else 0
    targets = sorted({int(p * (n - 1)) + 1 for p in ps})
    exact_at = {
        r: float(means[np.searchsorted(cum, r, side="left")]) for r in targets
    }
    dd = DDSketch.deserialize(merged)
    est = dd.quantile(ps)
    rel_ok = bool(dd.n == n) and all(
        abs(float(e) - exact_at[int(p * (n - 1)) + 1])
        <= alpha * abs(exact_at[int(p * (n - 1)) + 1])
        for e, p in zip(est, ps)
    )
    ddrow = spark.createDataFrame(
        [(alpha, n, bool(rel_ok), bool(merge_ok), bool(collapse_ok))],
        "dd_alpha double, dd_n long, dd_rel_err_ok boolean, "
        "dd_merge_bitwise boolean, dd_collapse_bitwise boolean",
    )

    # CMS heavy hitters: distributed probe of the per-lang key rows (K
    # rows, never the fact table) against the broadcast global CMS; the
    # candidate filter keeps a SUPERSET (CMS never undercounts), the exact
    # row-counter totals confirm — SQL-exact because w ≫ #keys
    import pandas as pd

    bc = spark.sparkContext.broadcast(gmap["cmsl"])
    keys_df = spark.createDataFrame(
        sorted(lang_counts.items()), "lang string, n_docs long"
    ).select("lang", "n_docs", F.xxhash64("lang").alias("h"))

    def probe(batches):
        cms = CMS.deserialize(bc.value)
        for pdf in batches:
            est_c = cms.query_hashed(
                pdf["h"].to_numpy(dtype="int64").view(np.uint64)
            )
            yield pd.DataFrame(
                {"lang": pdf["lang"], "n_docs": pdf["n_docs"],
                 "est_count": est_c.astype("int64")}
            )

    hh = (
        keys_df.mapInPandas(
            probe, schema="lang string, n_docs long, est_count long"
        )
        .filter((F.col("est_count") >= thr) & (F.col("n_docs") >= thr))
        .select(
            F.col("lang").alias("hh_lang"),
            F.col("est_count").alias("hh_est_count"),
            F.col("n_docs").alias("hh_n_docs"),
        )
    )

    # ---- events side: ONE HLL partials scan + the exact rollup scan ----
    h_specs = [{"name": "hll", "col": "user_id", "kind": "hll",
                "params": {"p": 14}}]
    ev = load(spark, sf_dir, "events")
    hparts = profile_partials(ev, ["event_type"], h_specs).cache()
    per_type = profile_merge(hparts, ["event_type"], h_specs)
    tblobs = {r["event_type"]: bytes(r["sketch"]) for r in per_type.collect()}
    # two engine merges over the same leaves, different trees: per-type
    # then union vs flat global — byte-identical iff merge is
    # grouping-invariant at the byte level (the semilattice law)
    u_blob = bytes(
        profile_merge(per_type, [], h_specs).collect()[0]["sketch"]
    )
    d_blob = bytes(profile_merge(hparts, [], h_specs).collect()[0]["sketch"])
    u_est = HLL.deserialize(u_blob).estimate()

    exacts = ev.rollup("event_type").agg(
        F.countDistinct("user_id").alias("n_exact"),
        F.grouping("event_type").alias("_g"),
    ).cache()
    approx = spark.createDataFrame(
        [(t, HLL.deserialize(b).estimate()) for t, b in sorted(tblobs.items())],
        "event_type string, _est double",
    )
    per_rows = (
        exacts.filter(F.col("_g") == 0)
        .join(F.broadcast(approx), "event_type")
        .select(
            "event_type",
            "n_exact",
            (F.abs(F.col("_est") / F.col("n_exact") - 1.0) < 0.02)
            .alias("within_2pct"),
        )
    )
    gate = exacts.filter(F.col("_g") == 1).select(
        F.col("n_exact").alias("n_exact_all"),
        (F.abs(F.lit(u_est) / F.col("n_exact") - 1.0) < 0.02)
        .alias("union_within_2pct"),
        F.lit(u_blob == d_blob).alias("union_equals_direct"),
    )
    h = per_rows.crossJoin(F.broadcast(gate))

    # every sketch result is already collected (KB) — the returned plan
    # only needs the exact rollup, so the partial caches can go now
    parts.unpersist()
    hparts.unpersist()
    return _released(h.crossJoin(F.broadcast(hh)).crossJoin(F.broadcast(ddrow)), exacts)


def q_td_quantiles_cdf_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Folds td_quantiles_by_lang + td_cdf_by_lang (both green in every
    driver run since r01; freed a gate slot for the round-4 timeline/bigram
    wave): exact-mode p50/p95/p99 of n_chars per lang joined with the
    discrete-mode CDF at fixed thresholds — two digest builds reduced to 5
    rows each, then a 5-row broadcast join."""
    q = q_td_quantiles_by_lang(spark, sf_dir)
    c = q_td_cdf_by_lang(spark, sf_dir)
    return q.join(F.broadcast(c), "lang")


def q_sketch_source_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Folds bloom_membership_by_source + cms_source_counts (both green in
    every driver run since r01; freed a gate slot): per-source Bloom
    membership totals (zero false negatives → matched == total) joined
    with the CMS point estimates (w≫#keys → collision-free → exact) — 20
    sketch-derived rows joined on source."""
    b = q_bloom_membership_by_source(spark, sf_dir)
    c = q_cms_source_counts(spark, sf_dir)
    return b.join(c, "source")


def q_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registrable-domain corpus rollup — the webtext curation primitive
    behind domain quotas/blocklists (C4/RefinedWeb-style).  The driver
    tables carry no url column, so an absolute URL is synthesized
    deterministically per document (same injection pattern as pii_redact;
    the oracle re-synthesizes identical bytes in SQL) covering the gnarly
    authority forms: ``www.`` + co.uk, mixed case + trailing dot + port,
    userinfo, IPv4 literals, deep subdomains + com.au.  Host and eTLD+1
    come from the pure-codegen ``textops.url_host`` /
    ``registrable_domain`` (Java∩RE2 regex subset — byte-reproducible in
    DuckDB), then ONE hash-aggregate per domain: docs, distinct hosts,
    distinct sources, total chars.  Plan: scan → codegen projection → one
    Exchange; at 100 TB the domain is the canonical per-site key —
    compose with ``sampling.cap_per_key`` for quotas.

    Also gates ``textops.canonical_url`` (the URL-dedup key): per domain,
    the distinct canonical-URL count plus two verdict booleans computed
    over crawl-variant pairs of every synthesized URL — appending a
    fragment and swapping ``http://``→``https://`` must not change the
    canonical key (both laws recomputed from scratch by the DuckDB mirror
    of the canonicalization spec, not assumed)."""
    from sketchlib.spark.textops import (
        canonical_url,
        registrable_domain,
        url_host,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    d = F.col("doc_id")
    s = d.cast("string")
    url = (
        F.when(d % 6 == 0, F.concat(
            F.lit("https://www.news-"), (d % 50).cast("string"),
            F.lit(".co.uk/a/"), s))
        .when(d % 6 == 1, F.concat(
            F.lit("http://Blog-"), (d % 30).cast("string"),
            F.lit(".Example.COM.:8080/p?q=1")))
        .when(d % 6 == 2, F.concat(
            F.lit("https://cdn."), F.col("source"), F.lit(".net/asset/"), s))
        .when(d % 6 == 3, F.concat(
            F.lit("https://192.168."), (d % 200).cast("string"),
            F.lit(".1:80/raw")))
        .when(d % 6 == 4, F.concat(
            F.lit("https://u:p@deep.sub.shop"), (d % 20).cast("string"),
            F.lit(".com.au/x")))
        .otherwise(F.concat(F.lit("http://"), F.col("source"), F.lit(".org/"), s))
    )
    url_frag = F.concat(url, F.lit("#x"))
    url_sch = F.when(
        url.startswith("http://"),
        F.concat(F.lit("https://"), F.substring(url, 8, 1 << 20)),
    ).otherwise(url)
    hosts = (
        docs.withColumn("host", url_host(url))
        .withColumn("domain", registrable_domain("host"))
        .withColumn("canon", canonical_url(url))
        .withColumn("_c_frag", canonical_url(url_frag))
        .withColumn("_c_sch", canonical_url(url_sch))
    )
    return hosts.groupBy("domain").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("host").alias("n_hosts"),
        F.countDistinct("source").alias("n_sources"),
        F.sum("n_chars").alias("sum_chars"),
        F.countDistinct("canon").alias("n_canon_urls"),
        F.bool_and(F.col("_c_frag") == F.col("canon")).alias("frag_invariant"),
        F.bool_and(F.col("_c_sch") == F.col("canon")).alias("scheme_invariant"),
    )


def _domain_sql_suffixes() -> str:
    from sketchlib.spark.textops import TWO_LEVEL_SUFFIXES

    return ", ".join(f"'{x}'" for x in TWO_LEVEL_SUFFIXES)


def _canon_track_re() -> str:
    from sketchlib.spark.textops import TRACKING_PARAM_RE

    return TRACKING_PARAM_RE


def _canon_split_re() -> str:
    from sketchlib.spark.textops import _URL_SPLIT_RE

    return _URL_SPLIT_RE


_DOMAIN_STATS_SQL = f"""
WITH d0 AS (
  SELECT doc_id, source, n_chars,
    CASE doc_id % 6
      WHEN 0 THEN 'https://www.news-' || CAST(doc_id % 50 AS VARCHAR)
                  || '.co.uk/a/' || CAST(doc_id AS VARCHAR)
      WHEN 1 THEN 'http://Blog-' || CAST(doc_id % 30 AS VARCHAR)
                  || '.Example.COM.:8080/p?q=1'
      WHEN 2 THEN 'https://cdn.' || source || '.net/asset/'
                  || CAST(doc_id AS VARCHAR)
      WHEN 3 THEN 'https://192.168.' || CAST(doc_id % 200 AS VARCHAR)
                  || '.1:80/raw'
      WHEN 4 THEN 'https://u:p@deep.sub.shop' || CAST(doc_id % 20 AS VARCHAR)
                  || '.com.au/x'
      ELSE 'http://' || source || '.org/' || CAST(doc_id AS VARCHAR)
    END AS url
  FROM documents
), a AS (
  SELECT *, regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?#]*)', 1)
            AS auth
  FROM d0
), h AS (
  SELECT *, nullif(regexp_replace(lower(regexp_replace(regexp_replace(
              auth, '^.*@', ''), ':[0-9]*$', '')), '\\.$', ''), '') AS host
  FROM a
), p AS (
  SELECT *, string_split(host, '.') AS parts,
            len(string_split(host, '.')) AS n
  FROM h
), dom AS (
  SELECT *, CASE
      WHEN host IS NULL THEN NULL
      WHEN regexp_matches(host,
        '^[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}$')
        THEN host
      WHEN n <= 2 THEN host
      WHEN (parts[n-1] || '.' || parts[n]) IN ({_domain_sql_suffixes()})
        THEN parts[n-2] || '.' || parts[n-1] || '.' || parts[n]
      ELSE parts[n-1] || '.' || parts[n]
    END AS domain
  FROM p
), v AS (
  SELECT doc_id, 0 AS tag, url AS vu FROM d0
  UNION ALL SELECT doc_id, 1, url || '#x' FROM d0
  UNION ALL SELECT doc_id, 2,
    CASE WHEN url LIKE 'http://%' THEN 'https://' || substr(url, 8)
         ELSE url END
  FROM d0
), cx AS (
  SELECT doc_id, tag, trim(vu) AS u,
    lower(coalesce(regexp_extract(trim(vu), '{_canon_split_re()}', 1), ''))
      AS scheme0,
    coalesce(regexp_extract(trim(vu), '{_canon_split_re()}', 2), '') AS cauth,
    coalesce(regexp_extract(trim(vu), '{_canon_split_re()}', 3), '') AS path0,
    coalesce(regexp_extract(trim(vu), '{_canon_split_re()}', 4), '') AS query0
  FROM v
), ch AS (
  SELECT *, nullif(regexp_replace(lower(regexp_replace(regexp_replace(
      cauth, '^.*@', ''), ':[0-9]*$', '')), '\\.$', ''), '') AS chost
  FROM cx
), cy AS (
  SELECT *,
    CASE WHEN scheme0 = 'https' THEN 'http' ELSE scheme0 END AS scheme1,
    regexp_replace(chost, '^www\\.', '') AS host1,
    regexp_replace(regexp_replace(path0, '/+', '/', 'g'), '/$', '') AS path1,
    coalesce(array_to_string(list_sort(list_filter(string_split(query0, '&'),
        q -> q <> '' AND NOT regexp_matches(q, '{_canon_track_re()}'))),
      '&'), '') AS q1
  FROM ch
), cz AS (
  SELECT doc_id, tag, CASE
      WHEN scheme1 IN ('http', 'https') AND host1 IS NOT NULL
      THEN scheme1 || '://' || host1 || path1 ||
           CASE WHEN q1 = '' THEN '' ELSE '?' || q1 END
      ELSE u END AS canon
  FROM cy
), cp AS (
  SELECT doc_id,
    max(CASE WHEN tag = 0 THEN canon END) AS canon0,
    max(CASE WHEN tag = 1 THEN canon END) AS canon1,
    max(CASE WHEN tag = 2 THEN canon END) AS canon2
  FROM cz GROUP BY doc_id
)
SELECT domain, COUNT(*) AS n_docs, COUNT(DISTINCT host) AS n_hosts,
       COUNT(DISTINCT source) AS n_sources,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       COUNT(DISTINCT canon0) AS n_canon_urls,
       BOOL_AND(canon1 = canon0) AS frag_invariant,
       BOOL_AND(canon2 = canon0) AS scheme_invariant
FROM dom JOIN cp USING (doc_id) GROUP BY domain
"""


def q_kmv_sample_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Folds kmv_sample_by_lang + kmv_user_overlap (both green in every
    driver run since their debut; freed a gate slot for domain_stats): the
    per-lang bottom-k coordinated sample rows (hash-exact vs the identical
    md5-derived hash in DuckDB) with the cross-set overlap verdicts
    reduced to one broadcast row — pair count, exact common-user total,
    and the Jaccard/difference estimate-vs-exact booleans ANDed across all
    event-type pairs."""
    sample = q_kmv_sample_by_lang(spark, sf_dir)
    overlap = q_kmv_user_overlap(spark, sf_dir).agg(
        F.count("*").alias("n_type_pairs"),
        F.sum("n_common").alias("sum_common_users"),
        F.bool_and("jaccard_ok").alias("all_jaccard_ok"),
        F.bool_and("difference_ok").alias("all_difference_ok"),
    )
    return sample.crossJoin(F.broadcast(overlap))


_KMV_SAMPLE_OVERLAP_SQL = f"""
SELECT s.*, o.n_type_pairs, o.sum_common_users,
       o.all_jaccard_ok, o.all_difference_ok
FROM ({_KMV_SQL}) s CROSS JOIN (
  SELECT COUNT(*) AS n_type_pairs,
         CAST(SUM(n_common) AS BIGINT) AS sum_common_users,
         TRUE AS all_jaccard_ok, TRUE AS all_difference_ok
  FROM ({_KMV_OVERLAP_SQL}) x
) o
"""


# 50 entries — at most the driver's correctness gate records (~50 rows/run).
# Ordering rule (VERDICT r03 #1): queries that have never had a driver
# CORRECTNESS row come FIRST (the round-3 wave, then the round-4 folds);
# the long-green remainder follows.
QUERIES = {
    # --- new in round 5 (never driver-gated) ---
    "text_normalize_dedup": q_text_normalize_dedup,
    "td_sliding_windows": q_td_sliding_windows,
    # --- new in round 4 ---
    "decontam_fuzzy_neardup": q_decontam_fuzzy_neardup,
    "frequent_phrases_by_lang": q_frequent_phrases_by_lang,
    "table_profile_lineitem": q_table_profile_lineitem,
    "emb_dedup_groups": q_emb_dedup_groups,
    "dedup_span_stats": q_dedup_span_stats,
    "domain_stats": q_domain_stats,
    "kmv_sample_overlap": q_kmv_sample_overlap,
    "lm_trigram_score": q_lm_trigram_score,
    "sample_cap_per_source": q_sample_cap_per_source,
    "pii_redact": q_pii_redact,
    "sketch_laws_summary": q_sketch_laws_summary,
    "td_compress_trim_by_lang": q_td_compress_trim_by_lang,
    "text_quality_langid_by_lang": q_text_quality_langid_by_lang,
    "td_timeline_by_type": q_td_timeline_by_type,
    "lm_bigram_score": q_lm_bigram_score,
    # --- never driver-gated as of r03 ---
    "lm_quality_buckets": q_lm_quality_buckets,
    "sample_corpus_methods": q_sample_corpus_methods,
    "td_drift_winsor_by_lang": q_td_drift_winsor_by_lang,
    "corpus_profile_by_lang": q_corpus_profile_by_lang,
    "decontam_eval_overlap": q_decontam_eval_overlap,
    "text_repetition_by_lang": q_text_repetition_by_lang,
    "distinctive_terms_by_lang": q_distinctive_terms_by_lang,
    "decontam_bloom_flags": q_decontam_bloom_flags,
    "cms_join_size": q_cms_join_size,
    "pack_sequences": q_pack_sequences,
    # --- round-4 folds (each subsumes two previously-green queries) ---
    "td_kll_quantiles_by_lang": q_td_kll_quantiles_by_lang,
    "td_quantiles_multi_table": q_td_quantiles_multi_table,
    "td_info_stats_by_lang": q_td_info_stats_by_lang,
    "mg_sources_by_lang": q_mg_sources_by_lang,
    "text_doc_features": q_text_doc_features,
    "rollup_hourly_daily": q_rollup_hourly_daily,
    "media_meta_frames": q_media_meta_frames,
    "ann_ivf_topk_recall": q_ann_ivf_topk_recall,
    # --- round-4 second-wave folds (each subsumes two long-green queries) ---
    "td_quantiles_cdf_by_lang": q_td_quantiles_cdf_by_lang,
    "sketch_source_counts": q_sketch_source_counts,
    # --- round-4 third-wave folds ---
    "dedup_neardup_pairs": q_dedup_neardup_pairs,
    "events_join_ops": q_events_join_ops,
    "td_tpch_digests": q_td_tpch_digests,
    # --- long-green ---
    "dedup_exact_keepers": q_dedup_exact_keepers,
    "dedup_simhash_hamming": q_dedup_simhash_hamming,
    "ann_exact_cosine": q_ann_exact_cosine,
    "pipeline_clean_corpus": q_pipeline_clean_corpus,
    "top_sources_by_lang": q_top_sources_by_lang,
    "event_sessions": q_event_sessions,
    "td_cube_lang_source": q_td_cube_lang_source,
    "dedup_group_keepers": q_dedup_group_keepers,
    # r5 fold: td_prank_by_lang + td_merge_laws (slot freed for
    # td_sliding_windows)
    "td_prank_merge_laws": q_td_prank_merge_laws,
    "bloom_join_prune": q_bloom_join_prune,
}

ORACLES = {
    "td_timeline_by_type": _TIMELINE_SQL,
    "lm_trigram_score": _LM_TRIGRAM_SQL,
    "pii_redact": _PII_SQL,
    "sketch_laws_summary": f"""
SELECT h.*, c.lang AS hh_lang, c.est_count AS hh_est_count,
       c.n_docs AS hh_n_docs,
       d.dd_alpha, d.dd_n, d.dd_rel_err_ok, d.dd_merge_bitwise,
       d.dd_collapse_bitwise
FROM ({_HLL_FOLD_SQL}) h CROSS JOIN ({_CMS_HH_SQL}) c
CROSS JOIN (
  SELECT CAST(0.01 AS DOUBLE) AS dd_alpha, COUNT(n_chars) AS dd_n,
         TRUE AS dd_rel_err_ok, TRUE AS dd_merge_bitwise,
         TRUE AS dd_collapse_bitwise
  FROM documents
) d
""",
    "sample_cap_per_source": _CAP_PER_SOURCE_SQL,
    "text_quality_langid_by_lang": f"""
SELECT q.lang, q.n_docs, q.sum_tokens, q.stopword_ratio, q.uniq_ratio,
       q.mean_token_len, c.predicted, c.n_docs AS pred_n_docs
FROM ({_quality_sql()}) q JOIN ({_lang_id_sql()}) c ON c.lang = q.lang
""",
    "td_compress_trim_by_lang": """
SELECT lang, count(*) AS n_docs,
       TRUE AS q50_ok, TRUE AS q95_ok, TRUE AS q99_ok, TRUE AS tm_ok
FROM documents GROUP BY lang
""",
    "lm_bigram_score": _LM_BIGRAM_SQL,
    "lm_quality_buckets": _LM_QUALITY_SQL,
    "sample_corpus_methods": _sample_fold_sql(),
    # --- never driver-gated as of r03 (oracles unchanged, order matches QUERIES) ---
    # (entries below appear in the same group order as QUERIES for auditability;
    #  DuckDB runs each independently so only the key set must match)
    # --- round-4 folds ---
    "td_kll_quantiles_by_lang": _nearest_rank_sql(
        "documents", ["lang"], "n_chars",
        {**PS_DISCRETE, **{f"k{a}": p for a, p in PS_DISCRETE.items()}},
    ),
    "td_quantiles_multi_table": _MULTI_TABLE_SQL,
    "td_info_stats_by_lang": _INFO_STATS_SQL,
    "mg_sources_by_lang": _MG_FOLD_SQL,
    "text_doc_features": _doc_features_sql(),
    "rollup_hourly_daily": _ROLLUP_FOLD_SQL,
    "media_meta_frames": _MEDIA_FOLD_SQL,
    "ann_ivf_topk_recall": (
        f"SELECT t.*, TRUE AS recall_ge_half, "
        f"TRUE AS stored_equals_inmemory FROM ({_ANN_TOPK_SQL}) t"
    ),
    # --- round-4 second-wave folds ---
    "td_quantiles_cdf_by_lang": f"""
SELECT q.*, c.cdf_200, c.cdf_500, c.cdf_1000
FROM ({_interp_quantile_sql("documents", "lang", "n_chars", PS_FLAGSHIP)}) q
JOIN (
  SELECT lang,
    CAST(count(*) FILTER (WHERE n_chars <= 200) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS cdf_200,
    CAST(count(*) FILTER (WHERE n_chars <= 500) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS cdf_500,
    CAST(count(*) FILTER (WHERE n_chars <= 1000) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS cdf_1000
  FROM documents GROUP BY lang
) c USING (lang)
""",
    "sketch_source_counts": """
SELECT source, count(*) AS n_members, count(*) AS n_docs, count(*) AS est_count
FROM documents GROUP BY source
""",
    # --- originals ---
    "dedup_exact_keepers": """
SELECT doc_id, md5(text) AS content_hash,
       min(doc_id) OVER (PARTITION BY text) AS keeper_id,
       count(*) OVER (PARTITION BY text)::BIGINT AS group_size
FROM documents
""",
    "dedup_neardup_pairs": (
        f"SELECT *, TRUE AS paths_agree FROM ({_jaccard_pairs_sql(0.8)}) p"
    ),
    "decontam_fuzzy_neardup": _fuzzy_decontam_sql(0.8, 5),
    "frequent_phrases_by_lang": _FREQ_PHRASES_SQL,
    "table_profile_lineitem": _profile_table_sql(),
    "dedup_simhash_hamming": _simhash_pairs_sql(3),
    "ann_exact_cosine": f"""
SELECT c.*, p.n_exact_pairs, p.lsh_precision_1
FROM ({_ANN_EXACT_COSINE_SQL}) c CROSS JOIN (
  SELECT count(*) AS n_exact_pairs, TRUE AS lsh_precision_1
  FROM ({_COSINE_PAIRS_SQL}) x
) p
""",
    "emb_dedup_groups": _EMB_GROUPS_SQL,

    "pipeline_clean_corpus": _PIPELINE_SQL,

    "text_normalize_dedup": _NORMALIZE_DEDUP_SQL,
    "top_sources_by_lang": _TOP_SOURCES_SQL,
    "domain_stats": _DOMAIN_STATS_SQL,
    "kmv_sample_overlap": _KMV_SAMPLE_OVERLAP_SQL,
    "event_sessions": _SESSIONS_SQL,
    "td_cube_lang_source": _cube_sql(),
    "td_tpch_digests": _TD_TPCH_SQL,
    "dedup_group_keepers": _group_keepers_sql(0.8),
    "events_join_ops": _EVENTS_JOIN_SQL,
    "td_prank_merge_laws": _PRANK_MERGE_LAWS_SQL,
    "td_sliding_windows": _SLIDING_SQL,
    "bloom_join_prune": _BLOOM_JOIN_SQL,
    "td_drift_winsor_by_lang": _DRIFT_WINSOR_SQL,
    "dedup_span_stats": _SPAN_STATS_SQL,
    "corpus_profile_by_lang": _PROFILE_SQL,
    "decontam_eval_overlap": _DECONTAM_SQL,
    "text_repetition_by_lang": _REPETITION_SQL,
    "distinctive_terms_by_lang": _DISTINCTIVE_SQL,
    "decontam_bloom_flags": _DECONTAM_BLOOM_SQL,
    "cms_join_size": _CMS_JOIN_SIZE_SQL,
    "pack_sequences": _PACK_SQL,
}
