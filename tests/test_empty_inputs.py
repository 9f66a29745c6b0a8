"""Empty-input hardening: at 100 TB an empty day/stratum/filter result is
routine — every operator entry point must return a sane empty (or
explicitly documented) result on ZERO rows, never crash.  Grouped
aggregations yield 0 rows; global (keyless) aggregations yield one row
with an empty sketch (count 0) so downstream merges stay total."""

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.spark


@pytest.fixture()
def edocs(spark):
    return spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    )


@pytest.fixture()
def eevents(spark):
    return spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
    )


def test_sketch_aggregate_empty_grouped_and_global(edocs):
    from sketchlib.hll import HLL
    from sketchlib.spark.sketch_ops import sketch_aggregate

    for kind, params in [("hll", {"p": 12}), ("kll", {"k": 128}),
                         ("dd", {"alpha": 0.01}), ("kmv", {"k": 64}),
                         ("mg", {"k": 16}), ("cms", {}),
                         ("bloom", {"expected_n": 16})]:
        grouped = sketch_aggregate(edocs, ["lang"], "n_chars", kind, params)
        assert grouped.count() == 0, kind
    rows = sketch_aggregate(edocs, [], "n_chars", "hll", {"p": 12}).collect()
    assert len(rows) <= 1
    if rows:
        assert HLL.deserialize(bytes(rows[0]["sketch"])).estimate() == 0


def test_tdigest_aggregate_empty(edocs):
    from sketchlib.spark.tdigest_ops import tdigest_aggregate

    assert tdigest_aggregate(edocs, ["lang"], "n_chars").count() == 0


def test_profile_aggregate_empty(edocs):
    from sketchlib.spark.sketch_ops import profile_aggregate

    specs = [{"name": "len", "col": "n_chars", "kind": "tdigest",
              "params": {"delta": 0.01}}]
    assert profile_aggregate(edocs, ["lang"], specs).count() == 0


def test_dedup_ops_empty(edocs):
    from sketchlib.spark.dedup import (
        banded_signatures,
        exact_dedup_keepers,
        lsh_candidate_pairs,
        minhash_lsh_dedup_pairs,
        minhash_signatures,
        ngram_jaccard_pairs,
        paragraph_dedup,
        simhash_hamming_pairs,
    )

    assert exact_dedup_keepers(edocs).count() == 0
    sigs = minhash_signatures(edocs)
    assert sigs.count() == 0
    assert banded_signatures(sigs).count() == 0
    assert lsh_candidate_pairs(sigs).count() == 0
    assert minhash_lsh_dedup_pairs(edocs, 0.8).count() == 0
    assert ngram_jaccard_pairs(edocs, threshold=0.8).count() == 0
    assert simhash_hamming_pairs(edocs).count() == 0
    assert paragraph_dedup(edocs).count() == 0


def test_decontam_empty_sides(spark, edocs):
    from sketchlib.spark.dedup import (
        bloom_decontam_flags,
        contamination_hits,
        eval_ngram_bloom,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "f g h i j")], "doc_id long, text string")
    # empty TRAIN side
    assert contamination_hits(edocs.select("doc_id", "text"), docs).count() == 0
    # empty EVAL side: bloom of nothing flags nothing
    blob = eval_ngram_bloom(edocs.select("doc_id", "text"))
    flagged = bloom_decontam_flags(docs, blob)
    assert flagged.filter("contaminated").count() == 0
    assert flagged.count() == 2


def test_textops_empty(edocs):
    from sketchlib.spark.textops import (
        distinctive_terms,
        fingerprint_docs,
        pack_sequences,
        quality_by_lang,
        redact_pii,
        token_stats,
    )

    assert token_stats(edocs).count() == 0
    assert quality_by_lang(edocs).count() == 0
    assert fingerprint_docs(edocs).count() == 0
    assert redact_pii(edocs).count() == 0
    assert pack_sequences(edocs, ctx_len=128).count() == 0
    assert distinctive_terms(edocs, top_k=3).count() == 0


def test_lm_train_score_empty(spark, edocs):
    from sketchlib.spark.textops import (
        ngram_logprob_score,
        train_ngram_model,
    )

    model = train_ngram_model(edocs, order=1, vocab_top_k=10)
    # empty reference corpus -> empty (or OOV-only) model; scoring real
    # docs against it must not crash
    docs = spark.createDataFrame(
        [(1, "en", "a b"), (2, "en", "c")], "doc_id long, lang string, text string")
    scored = ngram_logprob_score(docs, order=1, model=model)
    assert scored.count() in (0, 2)
    # empty SCORING side against a real model
    ref = spark.createDataFrame(
        [(1, "en", "a b a")], "doc_id long, lang string, text string")
    m2 = train_ngram_model(ref, order=1, vocab_top_k=10)
    assert ngram_logprob_score(
        edocs.select("doc_id", "lang", "text"), order=1,
        model=m2).count() == 0


def test_sampling_empty(edocs):
    from sketchlib.spark.sampling import (
        cap_per_key,
        stratified_hash_sample,
        weighted_priority_sample,
    )

    assert stratified_hash_sample(
        edocs, {"en": 0.5}, "lang", "doc_id").count() == 0
    assert cap_per_key(edocs, "source", 5).count() == 0
    assert weighted_priority_sample(edocs, 5, "n_chars").count() == 0


def test_joins_empty_sides(spark, eevents):
    from sketchlib.spark.joins import asof_join, range_join

    right = spark.createDataFrame(
        [(7, 1.0, 2.0, "x")], "user_id long, lo double, hi double, tag string")
    probes = eevents.select("user_id", F.col("value").alias("v"))
    assert range_join(
        probes, right, "user_id", "v", "lo", "hi",
        bucket_width=1.0).count() == 0
    left = eevents.select("event_id", "ts", "user_id")
    r2 = eevents.select("ts", "user_id", "value")
    assert asof_join(
        left, r2, "user_id", "ts", "ts",
        payload_cols=["value"]).count() == 0


def test_ann_empty(spark):
    from sketchlib.spark.ann import topk_neighbors

    vecs = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert topk_neighbors(vecs, [1, 2], k=3).count() == 0


def test_profile_table_empty(edocs):
    """Keyless: the documented global-agg convention — one defined row per
    column, all-zero facts, NULL quantiles.  Grouped: zero rows."""
    from sketchlib.spark.sketch_ops import profile_table

    got = {r["column"]: r for r in
           profile_table(edocs, ["n_chars", "source"]).collect()}
    assert set(got) == {"n_chars", "source"}
    for r in got.values():
        assert (r["n_rows"], r["n_vals"], r["n_nulls"]) == (0, 0, 0)
        assert r["est_distinct"] == 0.0
        assert r["q50"] is None and r["q95"] is None
    assert profile_table(
        edocs, ["n_chars"], keys=["lang"]).collect() == []


def test_fuzzy_decontam_empty_sides(spark, edocs):
    from sketchlib.spark.dedup import fuzzy_decontam_pairs

    docs = spark.createDataFrame(
        [(1, "a b c d e f g")], "doc_id long, text string")
    e = edocs.select("doc_id", "text")
    assert fuzzy_decontam_pairs(docs, e).collect() == []
    assert fuzzy_decontam_pairs(e, docs).collect() == []
    assert fuzzy_decontam_pairs(e, e).collect() == []


def test_remove_duplicate_spans_empty(edocs):
    from sketchlib.spark.dedup import remove_duplicate_spans

    assert remove_duplicate_spans(
        edocs.select("doc_id", "text")).collect() == []


def test_normalize_and_line_dedup_empty(edocs):
    from sketchlib.spark.textops import (
        dedup_lines_within_doc,
        normalize_text,
    )

    assert normalize_text(edocs).collect() == []
    assert dedup_lines_within_doc(edocs).collect() == []
