"""Physical-plan assertions: the scale-design claims in README.md, encoded
as tests so a regression that silently degrades the plan (lost broadcast,
lost pushdown, accidental global sort, Python UDF creep) fails CI."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from market_flow_spark.queries_all import QUERIES


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_flagship_dims_are_broadcast(spark, sf_dir):
    plan = _executed_plan(QUERIES["flagship_wide"](spark, sf_dir))
    # all 7 joins resolve to broadcast at test scale; at cluster scale only
    # lineitem⋈orders may legitimately become SortMerge (it carries no hint)
    assert plan.count("BroadcastHashJoin") >= 6
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_flagship_scan_prunes_columns(spark, sf_dir):
    txt = _formatted(QUERIES["flagship_wide"](spark, sf_dir))
    # lineitem scan must not read l_shipdate/l_returnflag etc.
    for line in txt.splitlines():
        if "ReadSchema" in line and "l_orderkey" in line:
            assert "l_shipdate" not in line and "l_returnflag" not in line
            break
    else:
        pytest.fail("no lineitem ReadSchema found")


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = QUERIES["stg_transactions_typed"](spark, sf_dir)
    txt = _formatted(df)
    assert "PushedFilters" in txt
    # the l_extendedprice > 0 predicate must reach the parquet reader
    assert any(
        "GreaterThan(l_extendedprice" in line
        for line in txt.splitlines()
        if "PushedFilters" in line
    )


def test_no_global_sort_in_flagship(spark, sf_dir):
    plan = _executed_plan(QUERIES["flagship_wide"](spark, sf_dir))
    assert "Sort " not in plan or "TakeOrdered" in plan


def test_topk_plans_as_take_ordered(spark, sf_dir):
    plan = _executed_plan(QUERIES["top10_products"](spark, sf_dir))
    # per-partition heap + driver merge, not a full sort-then-limit
    assert "TakeOrderedAndProject" in plan


# Python-side physical ops: each runs rows through a Python worker, so a
# query may plan one only where it is declared below
PYTHON_SIDE_OPS = ("FlatMapGroupsInPandas", "MapInPandas", "ArrowEvalPython")
PANDAS_UDF_QUERIES = {
    # per-group OLS fit (forecast.linear_forecast's applyInPandas)
    "linear_forecast": {"FlatMapGroupsInPandas"},
    "best_markets": {"FlatMapGroupsInPandas"},
    # per-user sessionization fold (stateful.batch_user_sessions)
    "user_sessions_core": {"FlatMapGroupsInPandas"},
    # row-expanding frame sampler (multimodal.sample_frames)
    "multimodal_frames": {"MapInPandas"},
}
# crossJoins whose broadcast side is scalar/constant-sized by construction
# (a 12-row scaffold, a 5-row query set, a one-row aggregate): the BNLJ
# they plan to is the intended physical op. Anywhere else a nested-loop
# join appearing means a join degenerated — fail.
INTENTIONAL_TINY_CROSSJOIN = {
    "dim_date",        # years × months scaffold
    "table_audit",     # fused one-row audit panels
    "mean_impute",     # one-row global mean
    "cosine_topk",     # corpus × 5-row query set (by design)
    "knn_label_vote",  # same corpus × 5-row query crossJoin via cosine_topk
    "ivf_topk",        # 5 queries × 16-row cell table
    "seasonal_forecast",  # brands × 12-row horizon
    "bm25_topk",       # one-row (N, avgdl) corpus-stats singleton
    "mixture_sample",  # one-row (N_total, Z) mixture-normalizer singleton
    "unigram_logprob", # one-row vocabulary-total singleton
    "zipf_fit",        # one-row fit-sums × one-row vocab-total singletons
    "dsir_weights",    # two one-row corpus-total singletons
    "curriculum_stages",  # one-row global-count singleton
    "feature_encode_panel",  # one-row frequency-denominator singleton
    "contamination_exact_bloomed",  # one-row bloom-word-array broadcast
    "pmi_collocations",  # two one-row token/bigram-total singletons
    "tfidf_doc_similarity",  # one-row corpus-size singleton
    "bigram_logprob",  # one-row token-total singleton
    "profile_drift_orders",  # two one-row row-count singletons
    "langid_trigram",  # docs x 5-row candidate-language scaffold
    # distinct-mask bitset compare (M x M over single longs), bounded by
    # the max_masks guard in dedup._bitmask_pairs — the intended physical
    # op for jaccard_pairs' bitmask shape (a vocabulary of <= 64 tokens)
    "dedup_word_jaccard",
    "theta_overlap_years",  # 1x1 join of two one-row theta sketches
    # vocab x 5-row class totals grid, docs x 5-row label scaffold, and
    # two one-row vocab-size/corpus-count singletons — all broadcast by
    # construction (classify.nb_train/nb_predict)
    "nb_classify_lang",
    # 8-row band dim x one-row min/max singleton (interval_lookup's
    # bucket join itself is a plain equi-join)
    "interval_price_bands",
    # one-row corpus-total singleton broadcast into the vocab-grain rows
    # (text.token_kl_divergence), same shape as unigram_logprob's totals
    "corpus_kl_by_lang",
    # one-row batch-total and reference-total singletons broadcast into
    # the vocab-grain join (streaming/drift.py batch_drift_score)
    "drift_score_odd_vs_even",
}


def test_all_plans_stay_jvm_side_and_join_sane(spark, sf_dir):
    """One sweep over EVERY registered query's executed plan:

    - row-at-a-time Python UDFs (BatchEvalPython) are banned everywhere;
      Arrow-batched Python ops only where PANDAS_UDF_QUERIES declares them
    - no CartesianProduct anywhere
    - BroadcastNestedLoopJoin only at the documented tiny-broadcast
      crossJoin sites
    """
    for name, fn in QUERIES.items():
        plan = _executed_plan(fn(spark, sf_dir))
        assert "BatchEvalPython" not in plan, f"{name} uses a row Python UDF"
        for op in PYTHON_SIDE_OPS:
            if op not in PANDAS_UDF_QUERIES.get(name, ()):
                assert op not in plan, f"{name} unexpectedly plans {op}"
        assert "CartesianProduct" not in plan, f"{name} plans a cartesian"
        if name not in INTENTIONAL_TINY_CROSSJOIN:
            assert "BroadcastNestedLoopJoin" not in plan, f"{name} plans BNLJ"


def test_corpus_prefilter_single_shuffle(spark, sf_dir):
    """quality + lang + fingerprint compute in one projection; the dedup
    window is the only SEMANTIC hash exchange, and the quality filter sits
    below it. (A conditional doc_id-keyed spread may precede the scan-heavy
    map on under-partitioned local inputs — round-12 keyed it by doc_id so
    it skips the round-robin pre-sort; that one is not a semantic
    shuffle.)"""
    plan = _executed_plan(QUERIES["corpus_prefilter"](spark, sf_dir))
    assert plan.count("hashpartitioning(fingerprint") == 1
    semantic = plan.count("Exchange hashpartitioning") - plan.count(
        "hashpartitioning(doc_id"
    )
    assert semantic == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_anti_join_is_left_anti(spark, sf_dir):
    plan = _executed_plan(QUERIES["anti_join_missing_months"](spark, sf_dir))
    assert "LeftAnti" in plan


def test_fact_integrity_filter_is_semi_join(spark, sf_dir):
    plan = _executed_plan(QUERIES["fact_transactions"](spark, sf_dir))
    assert "LeftSemi" in plan


def test_minhash_has_no_cross_join(spark, sf_dir):
    plan = _executed_plan(QUERIES["dedup_minhash_lsh"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_minhash_has_no_forced_broadcast(spark, sf_dir):
    """The signature table is doc-count-sized; a broadcast HINT on it would
    OOM at corpus scale. AQE may still legitimately choose broadcast
    locally from actual runtime sizes (including inside cached subplans
    that the optimized plan embeds as InMemoryRelation) — so assert the
    absence of hint NODES in the analyzed plan, which is taken before
    cache substitution and before the optimizer folds hints into joins."""
    df = QUERIES["dedup_minhash_lsh"](spark, sf_dir)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed
    assert "UnresolvedHint" not in analyzed


def test_word_jaccard_auto_selects_by_corpus_shape(spark, sf_dir):
    """The registered word tier picks its physical shape from sampled
    corpus stats. The test corpus's vocabulary (~31 tokens across 500
    docs) fits one machine word, so the pick is the bitset path: word
    sets pack into single BIGINT masks, Jaccard is bit_count arithmetic,
    and the only nested-loop join is the bounded distinct-mask
    cross-compare (M ≤ max_masks single longs) — no inverted index, no
    collect_list canonicalization. The other shapes are pinned below."""
    from market_flow_spark.extensions.dedup import _jaccard_shape
    from market_flow_spark.tables import load_tables

    docs = load_tables(spark, sf_dir)["documents"]
    assert _jaccard_shape(docs, 1, "text") == "bitmask"
    plan = _executed_plan(QUERIES["dedup_word_jaccard"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "bit_count" in plan  # bitset Jaccard chosen on this corpus
    assert "collect_list" not in plan


def test_word_jaccard_freq_ordered_shape(spark, sf_dir, jaccard_shape):
    """The stop-word-skew shape: rarest-first re-ordering (collect_list
    aggregate) keeps stop-word posting lists out of the inverted index.
    No cartesian products, no nested-loop joins."""
    from market_flow_spark.extensions.dedup import jaccard_pairs
    from market_flow_spark.tables import load_tables

    jaccard_shape("freq_ordered")
    df = jaccard_pairs(load_tables(spark, sf_dir)["documents"], 0.7)
    plan = _executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "collect_list" in plan  # freq-ordered canonicalization present


def test_word_jaccard_count_common_shape(spark, sf_dir, jaccard_shape):
    """The saturated-vocabulary shape must be one index equi-join + hash
    aggregate: no cartesian products, no array payload joins, and partial
    (map-side) aggregation before the pair shuffle."""
    from market_flow_spark.extensions.dedup import jaccard_pairs
    from market_flow_spark.tables import load_tables

    jaccard_shape("count_common")
    df = jaccard_pairs(load_tables(spark, sf_dir)["documents"], 0.7)
    plan = _executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_count" in plan  # map-side combine on (doc1, doc2)
    assert "collect_list" not in plan  # no freq-ordering pass in this shape


def test_simhash_pairs_no_cross_join(spark, sf_dir):
    plan = _executed_plan(QUERIES["simhash_pairs"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_no_scan_level_recomputation_of_computed_arrays(spark, sf_dir):
    """Catalyst must not re-expand computed array expressions into scan
    filters (the round-3 pathology: InferFiltersFromGenerate +
    constraint inference re-ran the whole shingle build serially at the
    scan). Guard: no FileScan DataFilter mentions array_sort."""
    for name in ["dedup_ngram_jaccard", "dedup_minhash_lsh", "simhash_pairs"]:
        txt = _formatted(QUERIES[name](spark, sf_dir))
        for line in txt.splitlines():
            if "DataFilters" in line:
                assert "array_sort" not in line, f"{name}: shingle build at scan"


def test_quota_cap_skew_safe_two_level_windows(spark, sf_dir):
    """The skew-safe cap plans two window stages: the subsplit-local
    top-quota and the final by-group window."""
    plan = _executed_plan(QUERIES["quota_cap"](spark, sf_dir))
    assert plan.count("RunningWindowFunction") >= 2 or plan.count("Window") >= 2


def test_events_scan_prunes_for_monthly_stats(spark, sf_dir):
    txt = _formatted(QUERIES["monthly_event_stats"](spark, sf_dir))
    for line in txt.splitlines():
        if "ReadSchema" in line and "ts" in line:
            assert "props" not in line and "user_id" not in line
            break
    else:
        pytest.fail("no events ReadSchema found")


def test_partition_pruning_on_written_fact(spark, sf_dir, tmp_path):
    """The pipeline's partitioned fact table must prune partitions when
    filtered on the partition key."""
    from market_flow_spark.operators.star import fact_transactions
    from market_flow_spark.tables import load_tables

    fact = fact_transactions(load_tables(spark, sf_dir))
    path = str(tmp_path / "fact_part")
    fact.write.partitionBy("date_sk").mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    one = back.filter(F.col("date_sk") == 199501)
    txt = _formatted(one)
    assert "PartitionFilters: [isnotnull(date_sk" in txt.replace("#", "").replace(
        ")", ""
    ) or "PartitionFilters: [isnotnull(date_sk" in txt or "date_sk" in [
        line for line in txt.splitlines() if "PartitionFilters" in line
    ][0]


def test_corpus_clean_single_scan(spark, sf_dir):
    """The cleaning ladder's returned plan must read the corpus ONCE: gate
    flags + fingerprint + keeper window fold into one scan, and the
    component labels are lineage-truncated (no pair-search re-run at
    materialization time). A branched plan would re-execute the expensive
    repetition expressions per consumer — measured 13x slower."""
    plan = _executed_plan(QUERIES["corpus_clean"](spark, sf_dir))
    assert plan.count("FileScan parquet") == 1
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_winnow_denominator_window_adds_no_exchange(spark, sf_dir):
    """winnow_containment's per-probe-doc fingerprint count is a window
    over the exploded fps, partitioned by the probe doc — it must RIDE the
    doc_id spread's hash partitioning (r12: the old shape re-ran the md5
    winnowing pass for a count aggregate and joined it back). Every
    exchange in the plan is either a doc_id spread (REPARTITION_BY_NUM) or
    keyed by fp (the capped variant's heavy-fp aggregate); none may be
    keyed by the window's test_doc_id."""
    for kwargs in ({}, {"max_fp_df": 64}):
        from market_flow_spark.extensions import dedup
        from market_flow_spark.tables import load_tables

        docs = load_tables(spark, sf_dir)["documents"]
        df = dedup.winnow_containment(
            docs.filter(F.col("doc_id") % 10 != 0),
            docs.filter(F.col("doc_id") % 10 == 0),
            threshold=0.5,
            **kwargs,
        )
        plan = _formatted(df)
        assert "Window" in plan  # the denominator count
        for line in plan.splitlines():
            if "Arguments: hashpartitioning(test_doc_id" in line:
                raise AssertionError(
                    "denominator window added its own exchange:\n" + line
                )


def test_bm25_two_corpus_scans(spark, sf_dir):
    """BM25's plan reads the corpus exactly twice — the postings explode
    and a map-only (N, avgdl) stats pass. The naive shape (df/dl/stats
    each re-deriving the postings subtree) costs four corpus scans; this
    pins the restructured one. Query terms and corpus stats broadcast;
    document frequency is a count-window over the tf rows, never a
    re-aggregated join."""
    import re

    plan = _executed_plan(QUERIES["bm25_topk"](spark, sf_dir))
    assert len(re.findall(r"Scan parquet|FileScan", plan)) == 2
    # doc-frequency via window, not a join back onto an extra aggregate:
    # exchanges stay bounded (tf agg, df window, score agg, rank window +
    # AQE-coalesced final)
    assert plan.count("Exchange hashpartitioning") <= 5
    # dl (document length) must be computed BELOW the postings Generate —
    # one tokenize per doc. With size(clean) in the same select as
    # explode(clean), the analyzer evaluates it in the Project above the
    # Generate, re-splitting the whole document once per TOKEN (r12
    # executed-plan find: x0.70 after the fix).
    above_generate = plan.split("Generate explode", 1)[0]
    assert "size(filter(split" not in above_generate, (
        "dl recomputed per exploded token:\n" + above_generate[-500:]
    )


def test_sequence_packing_single_exchange(spark, sf_dir):
    """Packing is ONE shuffle (the per-shard sort window) over row-wise
    token counts — no joins, no second corpus pass."""
    plan = _executed_plan(QUERIES["sequence_packing"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_chunk_documents_map_only(spark, sf_dir):
    """Chunking is a pure map-side explode: zero exchanges of any kind."""
    plan = _executed_plan(QUERIES["chunk_documents"](spark, sf_dir))
    assert "Exchange" not in plan


def test_url_dedup_single_shuffle(spark, sf_dir):
    """Canonicalization is scan-local column algebra; the ONLY hash
    exchange in url_canonical_dedup is the final groupBy on the canonical
    URL (plus no BNLJ/cartesian anywhere)."""
    plan = _executed_plan(QUERIES["url_canonical_dedup"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_interval_lookup_bucket_join_stays_hash(spark, sf_dir):
    """The point-in-interval bucket join must plan as a hash equi-join:
    the ONLY nested-loop joins are the two declared band-dim scaffolds
    (8-row x 1-row stats); a third BNLJ would mean the bucket equi-join
    itself regressed into a range nested loop."""
    plan = _executed_plan(QUERIES["interval_price_bands"](spark, sf_dir))
    assert plan.count("BroadcastNestedLoopJoin") <= 2, plan
    assert "CartesianProduct" not in plan


def test_pit_join_is_broadcast_equijoin_no_range_join(spark, sf_dir):
    """Point-in-time SCD2 lookup resolves through a LEFT broadcast
    equi-join on the natural key with the period bounds as a residual
    (r12) — the facts are never shuffled or window-sorted to find their
    effective version, and NO nested-loop range join appears anywhere
    (the oracle's BETWEEN join is exactly what this plan must avoid).
    The pre-r12 union+window shape paid a facts-sized exchange + sort;
    its absence is asserted via the Window check."""
    plan = _executed_plan(QUERIES["pit_part_price_sales"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "LeftOuter" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "Window" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan


def test_cms_sketch_probes_via_broadcast(spark, sf_dir):
    """The count-min estimate join must broadcast the 4x512 sketch grid
    (never shuffle the probe side against it), and the whole query stays
    free of nested loops."""
    plan = _executed_plan(QUERIES["cms_heavy_hitters"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
