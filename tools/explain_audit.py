"""Physical-plan audit: assert the plans we designed are the plans we got.

Checks, per key operator (at sf0.01, plans only — nothing executes):
- column pruning reaches the parquet scan (ReadSchema contains only the
  narrow columns, never `text`/`html` when the op doesn't need them);
- predicate pushdown shows up as PushedFilters;
- every wrapper of the two-phase sketch kernel (t-digest, sibling sketch,
  one-spec profile) plans exactly one Exchange;
- the lang-ID profile join and the resume anti-join are BroadcastHashJoins;
- whole-stage codegen covers the JVM-side ops (textops/dedup have no
  Python stage before the final aggregation).

Usage: python tools/explain_audit.py [sf_dir]
"""

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FAIL = []


def check(name: str, plan: str, must: list[str], must_not: list[str] = ()):  # noqa
    ok = True
    for pat in must:
        if not re.search(pat, plan):
            FAIL.append(f"{name}: MISSING {pat!r}")
            ok = False
    for pat in must_not:
        if re.search(pat, plan):
            FAIL.append(f"{name}: UNEXPECTED {pat!r}")
            ok = False
    print(f"{name:40s} {'OK' if ok else 'FAIL'}")


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from pyspark.sql import functions as F

    from sketchlib.spark.session import get_spark
    from sketchlib.spark.tdigest_ops import tdigest_aggregate, tdigest_partials

    spark = get_spark("explain-audit", cpus=4)
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    # 1. digest build: scan must read only (lang, n_chars) — not text
    p = plan_of(tdigest_partials(docs, ["lang"], "n_chars", 0.01))
    check("tdigest partials column pruning", p,
          must=[r"ReadSchema:.*lang.*n_chars|ReadSchema:.*n_chars.*lang"],
          must_not=[r"ReadSchema:[^\n]*text", r"Exchange"])

    # 2. filtered build: predicate pushed to the scan
    p = plan_of(
        tdigest_partials(docs.filter(F.col("lang") == "en"), ["lang"], "n_chars", 0.01)
    )
    check("filter pushdown to parquet", p, must=[r"PushedFilters: \[[^\]]*EqualTo\(lang,en\)"])

    # 3. full two-phase agg: exactly ONE exchange (the sketch-row shuffle)
    # for every wrapper of the sketch kernel
    from sketchlib.spark.sketch_ops import profile_aggregate, sketch_aggregate

    for name, df in [
        ("tdigest_aggregate", tdigest_aggregate(docs, ["lang"], "n_chars", 0.01)),
        ("sketch_aggregate hll", sketch_aggregate(docs, ["lang"], "source", "hll")),
        ("one-spec profile_aggregate", profile_aggregate(docs, ["lang"], [
            {"name": "td", "col": "n_chars", "kind": "tdigest", "params": {}}])),
    ]:
        n_exch = len(re.findall(r"\(\d+\) Exchange", plan_of(df)))
        print(f"{name + ' shuffle count':40s} {'OK' if n_exch == 1 else 'FAIL'} ({n_exch})")
        if n_exch != 1:
            FAIL.append(f"{name}: {n_exch} shuffles, want 1")

    # 4. lang-ID: profile join is broadcast, tokens never shuffle with text
    from sketchlib.spark.textops import lang_id_confusion

    p_langid = plan_of(lang_id_confusion(docs))
    check("lang-ID broadcast profile join", p_langid, must=[r"BroadcastHashJoin"])

    # 5. textops stay JVM-side: no Python evaluation anywhere
    from sketchlib.spark.textops import token_stats

    p = plan_of(token_stats(docs))
    check("token_stats pure JVM (no Python)", p,
          must=[r"codegen id"],
          must_not=[r"ArrowEvalPython|BatchEvalPython|MapInPandas"])

    # 6. dedup minhash signatures: JVM aggregates, no Python stage
    from sketchlib.spark.dedup import minhash_signatures

    p = plan_of(minhash_signatures(docs))
    check("minhash signatures pure JVM", p,
          must=[r"HashAggregate"],
          must_not=[r"ArrowEvalPython|BatchEvalPython|MapInPandas"])

    # 6b. LSH verification prunes to candidates BEFORE the pair count:
    # the plan must contain LeftSemi joins (candidate restriction), and they
    # must sit below the final aggregate
    from sketchlib.spark.dedup import minhash_lsh_dedup_pairs

    p = plan_of(minhash_lsh_dedup_pairs(docs, threshold=0.8))
    n_semi = len(re.findall(r"LeftSemi", p))
    print(f"{'LSH verify candidate semi-joins':40s} "
          f"{'OK' if n_semi >= 3 else 'FAIL'} ({n_semi})")
    if n_semi < 3:
        FAIL.append(f"LSH verify: {n_semi} semi-joins, want >=3")

    # 6b2. Bloom-pruned index probe: the prune must add a PythonMapInArrow
    # scan-side filter WITHOUT adding any Exchange (map-side, before the
    # shuffle — same Exchange count as the plain probe)
    from sketchlib.spark.dedup import (
        banded_signatures,
        lsh_candidates_vs_index,
        minhash_signatures,
    )

    old_side = docs.filter(F.col("doc_id") % 3 != 0).limit(400)
    new_side = docs.filter(F.col("doc_id") % 3 == 0).limit(60)
    idx_banded = banded_signatures(minhash_signatures(old_side))
    new_banded = banded_signatures(minhash_signatures(new_side))
    p_plain = plan_of(lsh_candidates_vs_index(new_banded, idx_banded))
    p_pruned = plan_of(
        lsh_candidates_vs_index(new_banded, idx_banded, prune="bloom"))
    n_ex_plain = len(re.findall(r"Exchange", p_plain))
    n_ex_pruned = len(re.findall(r"Exchange", p_pruned))
    ok = (re.search(r"MapInArrow", p_pruned) is not None
          and re.search(r"MapInArrow", p_plain) is None
          and n_ex_pruned == n_ex_plain)
    print(f"{'bloom index prune: map-side, no shuffle':40s} "
          f"{'OK' if ok else 'FAIL'} "
          f"(Exchanges plain={n_ex_plain} pruned={n_ex_pruned})")
    if not ok:
        FAIL.append(
            f"bloom index prune: want map-side MapInArrow + equal Exchange "
            f"count, got plain={n_ex_plain} pruned={n_ex_pruned}")

    # 6c. cube over partials: ONE parquet scan feeds all grouping sets (the
    # partials frame is cached and re-merged; no per-grouping-set rescan)
    from sketchlib.spark.queries import _td_cube_lang_source_plan

    # the lazy plan: the query itself returns it materialized, cache released
    cube, cached = _td_cube_lang_source_plan(spark, sf_dir)
    p = plan_of(cube)
    cached.unpersist()
    n_scan = len(re.findall(r"Scan parquet", p))
    n_mem = len(re.findall(r"InMemory(?:TableScan|Relation)", p))
    ok = n_mem >= 3
    print(f"{'cube reuses cached partials':40s} {'OK' if ok else 'FAIL'} "
          f"(cache refs={n_mem}, scans={n_scan})")
    if not ok:
        FAIL.append(f"cube: expected cached-partials reuse, cache refs={n_mem}")

    # 4b. lang-ID profile is CAPPED before broadcast: a top-K row_number
    # window must sit on the profile (broadcast) side of the join
    check("lang-ID profile top-K cap (window)", p_langid,
          must=[r"\(\d+\) Window", r"row_number"])

    # 6d. cosine_pairs_exact builds lazily: constructing the plan must launch
    # ZERO Spark jobs (the old implementation .collect()ed the whole
    # embedding table onto the driver at plan-build time).  The parquet load
    # happens outside the job group — its file-listing job is not the
    # operator's doing.
    from sketchlib.spark.ann import cosine_pairs_exact

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    spark.sparkContext.setJobGroup("audit-lazy-cosine", "lazy check")
    df_cos = cosine_pairs_exact(emb, threshold=0.45)
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup("audit-lazy-cosine")
    spark.sparkContext.setJobGroup(None, None)
    ok = len(jobs) == 0
    print(f"{'cosine pairs: no driver collect':40s} {'OK' if ok else 'FAIL'} "
          f"({len(jobs)} jobs at plan-build)")
    if not ok:
        FAIL.append(f"emb_cosine_pairs launched {len(jobs)} jobs while building the plan")
    p = plan_of(df_cos)
    check("cosine pairs block plan is Python-side matmul", p,
          must=[r"MapInPandas", r"FlatMapGroupsInPandas|MapGroups"])

    # 6e. pipeline_clean_corpus: the quality/dedup restrictions are
    # broadcast semi-joins (never a shuffled row-to-row join of full docs)
    from sketchlib.spark.queries import q_pipeline_clean_corpus

    p = plan_of(q_pipeline_clean_corpus(spark, sf_dir))
    n_bsemi = len(re.findall(r"BroadcastHashJoin [^\n]*LeftSemi", p))
    ok = n_bsemi >= 2
    print(f"{'pipeline semi-joins broadcast':40s} {'OK' if ok else 'FAIL'} ({n_bsemi})")
    if not ok:
        FAIL.append(f"pipeline: {n_bsemi} broadcast semi-joins, want >=2")

    # 6f. hourly->daily rollup: ONE fact scan feeds both granularities; the
    # plan has exactly two Exchanges (hourly key shuffle, daily key shuffle)
    from sketchlib.spark.queries import q_td_hourly_rollup

    p = plan_of(q_td_hourly_rollup(spark, sf_dir))
    n_scan = len(re.findall(r"\(\d+\) Scan parquet", p))
    n_exch = len(re.findall(r"\(\d+\) Exchange", p))
    ok = n_scan == 1 and n_exch == 2
    print(f"{'rollup: 1 scan, 2 exchanges':40s} {'OK' if ok else 'FAIL'} "
          f"(scans={n_scan}, exchanges={n_exch})")
    if not ok:
        FAIL.append(f"rollup: scans={n_scan} (want 1), exchanges={n_exch} (want 2)")

    # 6g. KMV bottom-k: the rank-filter window must be rewritten with a
    # PARTIAL WindowGroupLimit below the Exchange (per-partition bottom-k
    # before the shuffle) — otherwise the 9-way lang sort is the bottleneck
    from sketchlib.spark.queries import q_kmv_sample_by_lang

    p = plan_of(q_kmv_sample_by_lang(spark, sf_dir))
    m = re.search(r"WindowGroupLimit.*\n.*Sort.*\n.*Exchange", p)
    ok = m is not None or len(re.findall(r"\(\d+\) WindowGroupLimit", p)) >= 2
    print(f"{'kmv partial window-group-limit':40s} {'OK' if ok else 'FAIL'}")
    if not ok:
        FAIL.append("kmv: no partial WindowGroupLimit below the Exchange")

    # 6h. dimension-join digest: both dimension sides broadcast (the fact
    # table must never shuffle for the join)
    from sketchlib.spark.queries import q_td_order_value_by_nation

    p = plan_of(q_td_order_value_by_nation(spark, sf_dir))
    n_bhj = len(re.findall(r"\(\d+\) BroadcastHashJoin", p))
    n_smj = len(re.findall(r"SortMergeJoin", p))
    ok = n_bhj >= 2 and n_smj == 0
    print(f"{'nation-join digest broadcasts dims':40s} {'OK' if ok else 'FAIL'} "
          f"(bhj={n_bhj}, smj={n_smj})")
    if not ok:
        FAIL.append(f"nation join: bhj={n_bhj} smj={n_smj}, want >=2 broadcast, 0 smj")

    # 6i. CMS point queries: the probe is DISTRIBUTED — the result frame is
    # a MapInPandas over the distinct-key scan, never a driver-built
    # LocalTableScan / parallelized ExistingRDD (the old shape collected the
    # key domain and createDataFrame'd the answers)
    from sketchlib.spark.queries import q_cms_source_counts

    p = plan_of(q_cms_source_counts(spark, sf_dir))
    check("cms probe distributed (no local scan)", p,
          must=[r"MapInPandas", r"Scan parquet"],
          must_not=[r"LocalTableScan|Scan ExistingRDD"])

    # 6k. as-of join: ONE hash-partition Exchange + window, never an
    # inequality nested-loop/cartesian join
    from sketchlib.spark.queries import q_events_asof_purchase

    p = plan_of(q_events_asof_purchase(spark, sf_dir))
    check("asof join single shuffle + window", p,
          must=[r"Window", r"hashpartitioning\(user_id"],
          must_not=[r"NestedLoop", r"CartesianProduct"])
    n_ex = len(re.findall(r"\bExchange ", p))
    check("asof join exactly one Exchange",
          "OK" if n_ex == 1 else f"exchanges={n_ex}", must=[r"OK"])

    # 6l. stratified hash sample: pure codegen filter on the scan — no
    # Exchange, no Python stage
    from sketchlib.spark.queries import q_sample_stratified_hash

    p = plan_of(q_sample_stratified_hash(spark, sf_dir))
    check("stratified sample scan-only", p,
          must=[r"Scan parquet", r"codegen id"],
          must_not=[r"Exchange", r"MapInPandas|BatchEvalPython|ArrowEvalPython"])

    # 6m. weighted per-stratum sample: rank filter rewritten with a
    # partial WindowGroupLimit below the Exchange
    from sketchlib.spark.queries import q_sample_weighted_topk

    p = plan_of(q_sample_weighted_topk(spark, sf_dir))
    check("weighted sample window-group-limit", p,
          must=[r"WindowGroupLimit"],
          must_not=[r"MapInPandas|BatchEvalPython|ArrowEvalPython"])

    # 6n. per-row p_rank scoring: digest dimension is BROADCAST (collected at
    # plan-build), so the scoring plan is scan+MapInPandas only — no join,
    # no Exchange of row-scale data
    from sketchlib.spark.queries import q_td_prank_by_lang

    p = plan_of(q_td_prank_by_lang(spark, sf_dir))
    check("prank scoring scan-only (broadcast digests)", p,
          must=[r"Scan parquet", r"MapInPandas"],
          must_not=[r"Exchange", r"Join"])

    # 6o. range join: bucketized EQUI-join — no nested-loop/cartesian plan
    from sketchlib.spark.queries import q_events_in_purchase_window

    p = plan_of(q_events_in_purchase_window(spark, sf_dir))
    check("range join equi-join (no nested loop)", p,
          must=[r"Join"],
          must_not=[r"NestedLoop", r"CartesianProduct",
                    r"MapInPandas|BatchEvalPython|ArrowEvalPython"])

    # 6p. Bloom-accelerated join: the probe-side pre-filter is a map-side
    # MapInPandas at the SCAN (before any Exchange), the orders scan reads
    # only the two join/agg columns, and the post-filter join is broadcast
    # (never a SortMergeJoin of the big side)
    from sketchlib.spark.queries import q_bloom_join_prune

    p = plan_of(q_bloom_join_prune(spark, sf_dir))
    check("bloom join prune (broadcast, pruned scan)", p,
          must=[r"MapInPandas", r"BroadcastHashJoin"],
          must_not=[r"SortMergeJoin",
                    r"ReadSchema:[^\n]*o_totalprice|ReadSchema:[^\n]*o_orderdate"])

    # 6q. HLL hourly→daily rollup: events scan reads only
    # (event_type, user_id, ts) — never props/value — and every join in the
    # verdict assembly is broadcast
    from sketchlib.spark.queries import q_hll_hourly_rollup

    p = plan_of(q_hll_hourly_rollup(spark, sf_dir))
    check("hll rollup pruned scan + broadcast joins", p,
          must=[r"ReadSchema:[^\n]*user_id"],
          must_not=[r"ReadSchema:[^\n]*props", r"SortMergeJoin"])

    # 6r. merge-laws verdict assembly: the law comparison happens at
    # plan-build on KB-scale partials; the returned plan joins the tiny
    # verdict/layout frames to the distributed counts by BROADCAST
    from sketchlib.spark.queries import q_td_merge_laws

    p = plan_of(q_td_merge_laws(spark, sf_dir))
    check("merge-laws broadcast verdict join", p,
          must=[r"BroadcastHashJoin"], must_not=[r"SortMergeJoin"])

    # 6s. KS drift: the digest table is CACHED (one fact scan feeds both the
    # per-lang side and the global merge) and the global row joins by
    # broadcast — never a sort-merge join, never a second parquet scan
    from sketchlib.spark.queries import _td_ks_drift_by_lang_plan

    df_ks, cached = _td_ks_drift_by_lang_plan(spark, sf_dir)
    p = plan_of(df_ks)
    cached.unpersist()
    n_mem = len(re.findall(r"InMemory(?:TableScan|Relation)", p))
    ok = n_mem >= 2 and not re.search(r"SortMergeJoin", p)
    print(f"{'ks drift cached digest reuse':40s} {'OK' if ok else 'FAIL'} "
          f"(cache refs={n_mem})")
    if not ok:
        FAIL.append(f"ks drift: cache refs={n_mem} (want >=2) or SortMergeJoin present")

    # 6t. winsorize: the row-scale clip side joins the 5 bound rows by
    # BROADCAST hash join and the clip itself is codegen — no Python stage
    # between the probe-side scan and the final aggregate
    from sketchlib.spark.queries import q_td_winsorize_by_lang

    p = plan_of(q_td_winsorize_by_lang(spark, sf_dir))
    check("winsorize broadcast bounds join", p,
          must=[r"BroadcastHashJoin", r"greatest\("],
          must_not=[r"SortMergeJoin"])

    # 6u. one-pass profile: FOUR sketch families from ONE fact scan + one
    # sketch-row Exchange; the gated query adds exactly one more scan (the
    # exact-cardinality verdict) and joins the 5 sketch rows by broadcast
    from sketchlib.spark.queries import q_corpus_profile_by_lang

    p = plan_of(q_corpus_profile_by_lang(spark, sf_dir))
    n_scan = len(re.findall(r"\(\d+\) Scan parquet", p))
    ok = n_scan == 2 and re.search(r"BroadcastHashJoin", p) and not re.search(
        r"SortMergeJoin", p)
    print(f"{'profile: 1 sketch scan + 1 verdict scan':40s} "
          f"{'OK' if ok else 'FAIL'} (scans={n_scan})")
    if not ok:
        FAIL.append(f"profile: scans={n_scan} (want 2) or join shape wrong")

    # 6v. decontamination: ONE shingle build over the train scan, eval set
    # broadcast as the build side of a single left-outer hash join, per-doc
    # counts+hits from one map-side-combined groupBy — exactly 2 parquet
    # scans (train + eval), no SortMergeJoin anywhere
    from sketchlib.spark.queries import q_decontam_eval_overlap

    p = plan_of(q_decontam_eval_overlap(spark, sf_dir))
    n_scan = len(re.findall(r"\(\d+\) Scan parquet", p))
    ok = (n_scan == 2 and re.search(r"BroadcastHashJoin", p)
          and not re.search(r"SortMergeJoin", p)
          and not re.search(r"ReadSchema:[^\n]*source", p))
    print(f"{'decontam 1-build broadcast probe':40s} {'OK' if ok else 'FAIL'} "
          f"(scans={n_scan})")
    if not ok:
        FAIL.append(f"decontam: scans={n_scan} (want 2) or join shape wrong")

    # 6w. repetition filter: single pruned 2-column scan, pure codegen row
    # work, one Exchange for the tiny per-lang rows — no join at all
    from sketchlib.spark.queries import q_text_repetition_by_lang

    p = plan_of(q_text_repetition_by_lang(spark, sf_dir))
    n_ex = len(re.findall(r"\(\d+\) Exchange", p))
    n_scan = len(re.findall(r"\(\d+\) Scan parquet", p))
    ok = n_scan == 1 and n_ex <= 1 and not re.search(r"Join", p)
    print(f"{'repetition: 1 scan, <=1 exchange, 0 join':40s} "
          f"{'OK' if ok else 'FAIL'} (scans={n_scan}, ex={n_ex})")
    if not ok:
        FAIL.append(f"repetition: scans={n_scan} ex={n_ex} or a Join appeared")

    # 6x. distinctive terms: top-k per group must push a WindowGroupLimit
    # below the final sort (partial top-k before the Exchange), and the
    # token scan must prune to the 3 needed columns
    from sketchlib.spark.queries import q_distinctive_terms_by_lang

    p = plan_of(q_distinctive_terms_by_lang(spark, sf_dir))
    check("distinctive terms window-group-limit", p,
          must=[r"WindowGroupLimit", r"ReadSchema:[^\n]*doc_id"],
          must_not=[r"ReadSchema:[^\n]*source", r"ReadSchema:[^\n]*n_chars"])

    # 6x2. domain stats (now carrying canonical_url 3x): the whole
    # synthesize→host→domain→canonicalize pipeline must stay a pure
    # codegen projection over ONE pruned scan — no Python stage of any
    # kind, no join, and the text column never read
    from sketchlib.spark.queries import q_domain_stats

    p = plan_of(q_domain_stats(spark, sf_dir))
    check("domain stats pure-codegen canonical", p,
          must=[r"Scan parquet", r"ReadSchema:[^\n]*n_chars"],
          must_not=[r"BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow",
                    r"Join", r"ReadSchema:[^\n]*text"])

    # 6y. bloom decontam flags: the production flags projection is a
    # zero-copy Arrow map stage over a 3-column pruned scan; the
    # flags⋈truth stitch is the verification side (any join shape allowed)
    # but no column beyond (doc_id, lang, text) may be read anywhere
    from sketchlib.spark.queries import q_decontam_bloom_flags

    p = plan_of(q_decontam_bloom_flags(spark, sf_dir))
    check("bloom decontam pruned python stage", p,
          must=[r"MapInArrow|PythonMapInArrow", r"ReadSchema:[^\n]*text"],
          must_not=[r"ReadSchema:[^\n]*source", r"ReadSchema:[^\n]*n_chars"])

    # 6z. cms join size: the exact verification join is broadcast-hash over
    # key-only scans
    from sketchlib.spark.queries import q_cms_join_size

    p = plan_of(q_cms_join_size(spark, sf_dir))
    check("cms join-size broadcast verify join", p,
          must=[r"BroadcastHashJoin", r"ReadSchema:[^\n]*custkey"],
          must_not=[r"SortMergeJoin", r"ReadSchema:[^\n]*o_totalprice",
                    r"ReadSchema:[^\n]*c_name"])

    # 6aa. sequence packing: the operator itself is 1 pruned scan, ONE hash
    # Exchange (by bucket) feeding the window cumsum — no global sort, no
    # join.  The gated query unions TWO tokenizer variants (whitespace +
    # chars/4 surrogate), so its plan is exactly 2 scans / 2 exchanges —
    # audit both shapes.
    from sketchlib.spark.queries import load, q_pack_sequences
    from sketchlib.spark.textops import pack_sequences

    p1 = plan_of(pack_sequences(load(spark, sf_dir, "documents"),
                                ctx_len=512, n_buckets=8))
    n_ex1 = len(re.findall(r"\(\d+\) Exchange", p1))
    n_scan1 = len(re.findall(r"\(\d+\) Scan parquet", p1))
    ok1 = (n_scan1 == 1 and n_ex1 == 1 and re.search(r"Window", p1)
           and not re.search(r"Join", p1)
           and not re.search(r"ReadSchema:[^\n]*source", p1))
    print(f"{'packing op: 1 scan, 1 exchange, window':40s} "
          f"{'OK' if ok1 else 'FAIL'} (scans={n_scan1}, ex={n_ex1})")
    if not ok1:
        FAIL.append(f"packing op: scans={n_scan1} ex={n_ex1} or shape wrong")

    p = plan_of(q_pack_sequences(spark, sf_dir))
    n_ex = len(re.findall(r"\(\d+\) Exchange", p))
    n_scan = len(re.findall(r"\(\d+\) Scan parquet", p))
    ok = (n_scan == 2 and n_ex == 2 and re.search(r"Window", p)
          and not re.search(r"Join", p)
          and not re.search(r"ReadSchema:[^\n]*source", p))
    print(f"{'packing query: 2 tokenizer variants':40s} "
          f"{'OK' if ok else 'FAIL'} (scans={n_scan}, ex={n_ex})")
    if not ok:
        FAIL.append(f"packing query: scans={n_scan} ex={n_ex} or shape wrong")

    # 6ab. bigram (order-2) LM scoring against a STORED model (the
    # production shape: train once, score every later batch): token
    # pairing is an IN-ARRAY projection — the plan must contain NO Window
    # (a lag-window pairing would shuffle the corpus at token grain); the
    # three model joins are all broadcast; explode_outer + LEFT oov join
    # keep every doc in the aggregate so there is NO row-scale join-back
    # (no SortMergeJoin) and exactly ONE Exchange (the per-doc aggregate)
    import tempfile

    from sketchlib.spark.textops import ngram_logprob_score, train_ngram_model

    mpath = tempfile.mkdtemp(prefix="audit_bigram_") + "/model"
    train_ngram_model(
        docs, order=2, vocab_top_k=4096, ngram_top_k=512, quantize=6
    ).write.parquet(mpath)
    p = plan_of(ngram_logprob_score(
        docs.select("doc_id", "lang", "text"), order=2,
        model=spark.read.parquet(mpath), quantize=6))
    n_bhj = len(re.findall(r"\(\d+\) BroadcastHashJoin", p))
    n_win = len(re.findall(r"\(\d+\) Window", p))
    n_smj = len(re.findall(r"\(\d+\) SortMergeJoin", p))
    n_exch = len(re.findall(r"\(\d+\) Exchange", p))
    ok = n_bhj == 3 and n_win == 0 and n_smj == 0 and n_exch == 1
    print(f"{'bigram scorer: 3 bcast, 0 win, 1 exch':40s} "
          f"{'OK' if ok else 'FAIL'} "
          f"(bhj={n_bhj}, win={n_win}, smj={n_smj}, exch={n_exch})")
    if not ok:
        FAIL.append(
            f"bigram: bhj={n_bhj} (want 3), windows={n_win} (want 0), "
            f"smj={n_smj} (want 0), exchanges={n_exch} (want 1)")

    # 6ac. digest timeline: ONE fact scan; the only Exchanges are the
    # digest-row merge shuffle and the lag window over KB sketch rows
    from sketchlib.spark.queries import q_td_timeline_by_type

    p = plan_of(q_td_timeline_by_type(spark, sf_dir))
    n_scan = len(re.findall(r"\(\d+\) Scan parquet", p))
    n_exch = len(re.findall(r"\(\d+\) Exchange", p))
    ok = n_scan == 1 and n_exch == 2 and "Join" not in p
    print(f"{'timeline: 1 scan, 2 exchanges, 0 join':40s} "
          f"{'OK' if ok else 'FAIL'} (scans={n_scan}, exchanges={n_exch})")
    if not ok:
        FAIL.append(
            f"timeline: scans={n_scan} (want 1), exchanges={n_exch} "
            "(want 2), joins must be absent")

    # 6d. schema-driven table profiler: ONE scan builds every column's
    # sketches (a per-column union would rescan 2C times); no wide shuffle
    from sketchlib.spark.sketch_ops import profile_table

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    p = plan_of(profile_table(
        li, ["l_quantity", "l_extendedprice", "l_returnflag"]))
    n_scan = len(re.findall(r"\(\d+\) Scan parquet", p))
    n_exch = len(re.findall(r"\(\d+\) Exchange", p))
    # exactly ONE Exchange: the KB-scale sketch-row shuffle (repartition(1)
    # in the keyless merge — coalesce(1) would collapse the whole scan+build
    # into a single task, measured 6.8x slower at sf0.1)
    ok = n_scan == 1 and n_exch == 1
    print(f"{'profile_table: 1 scan, 1 KB exchange':40s} "
          f"{'OK' if ok else 'FAIL'} (scans={n_scan} exchanges={n_exch})")
    if not ok:
        FAIL.append(f"profile_table: scans={n_scan} (want 1), "
                    f"exchanges={n_exch} (want 1)")

    # 6e. fuzzy decontam: candidate discovery joins the banded EVAL side
    # broadcast — the banded keys must never be a SHUFFLE key (the train
    # corpus never shuffles to discover candidates; the only shuffles are
    # the verification groupBys over candidate-pruned shingles)
    from sketchlib.spark.dedup import fuzzy_decontam_pairs

    train = docs.filter(F.col("doc_id") % 5 != 0)
    ev = docs.filter(F.col("doc_id") % 5 == 0)
    p = plan_of(fuzzy_decontam_pairs(train, ev, threshold=0.8))
    check("fuzzy decontam broadcast eval side", p,
          must=[r"BroadcastExchange"],
          must_not=[r"hashpartitioning\(band"])

    # 6f. text normalization + within-doc line dedup: pure codegen
    # projections — no Python stage, no Exchange anywhere (scan-speed,
    # stream-safe)
    from sketchlib.spark.queries import q_text_normalize_dedup

    p = plan_of(q_text_normalize_dedup(spark, sf_dir))
    check("normalize+line-dedup pure codegen", p,
          must=[r"codegen id"],
          must_not=[r"ArrowEvalPython|BatchEvalPython|MapInPandas",
                    r"Exchange"])

    # 6g. sliding-from-tumbling derivation: given a STORED digest table,
    # the trailing-k window is a pure-JVM collect_list+concat over sketch
    # rows — no Python stage (the build of the stored table is separate)
    import tempfile as _tf

    from sketchlib.spark.tdigest_ops import sliding_from_tumbling

    _sl_dir = _tf.mkdtemp() + "/dig"
    ev_days = docs.sparkSession.read.parquet(f"{sf_dir}/events.parquet")
    tdigest_aggregate(
        ev_days.select("event_type", F.to_date("ts").alias("day"), "value"),
        ["event_type", "day"], "value", discrete=True,
    ).write.parquet(_sl_dir)
    stored_dig = spark.read.parquet(_sl_dir)
    p = plan_of(sliding_from_tumbling(
        stored_dig, ["event_type"], k=3, slide_seconds=86400,
        window_col="day"))
    check("sliding windows: pure-JVM concat over stored digests", p,
          must=[r"Window"],
          must_not=[r"ArrowEvalPython|BatchEvalPython|MapInPandas",
                    r"Scan parquet[^\n]*documents"])

    # 7. checkpoint resume: anti-join against completed parts is broadcast
    from sketchlib.spark.checkpoint import TDigestCheckpointer

    ck = TDigestCheckpointer(spark, "/tmp/_audit_ckpt", ["lang"], "n_chars",
                             "doc_id", n_parts=8)
    tagged = ck._with_part_id(docs.select("doc_id", "lang", "n_chars"))
    done = spark.createDataFrame([(0,)], "part_id int")
    pending = tagged.join(
        F.broadcast(done.withColumnRenamed("part_id", "_part_id")),
        "_part_id", "left_anti")
    p = plan_of(pending)
    check("resume anti-join broadcast", p, must=[r"BroadcastHashJoin.*LeftAnti|BroadcastNestedLoop.*LeftAnti"])

    spark.stop()
    print()
    if FAIL:
        print("FAILURES:")
        for f in FAIL:
            print(" -", f)
        sys.exit(1)
    print("all plan checks passed")


if __name__ == "__main__":
    main()
