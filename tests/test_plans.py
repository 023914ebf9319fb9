"""Plan-quality gates: the physical plan is the scale contract, so
assert on it. A query that returns correct rows through a wrong plan
(full-column scan, unpushed filter, shuffled dim join, interpreted
hot path) fails here even though the oracle hash matches.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from py_pubsub_pipeline_spark.registry import load_all
from py_pubsub_pipeline_spark.tables import table

from conftest import SF_SMALL

REG = load_all()


def _executed(df, spark) -> str:
    # Materialize THIS DataFrame's queryExecution (not a derived
    # count()) so AQE has re-planned, then render the formatted
    # explain (untruncated fields, codegen ids, final adaptive plan).
    df.collect()
    return spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _final(plan: str) -> str:
    """The AQE final-plan tree section (before '== Initial Plan ==')."""
    return plan.split("== Initial Plan ==")[0]


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_projection_pushdown_reads_only_needed_columns(spark):
    plan = _executed(REG["scan_projection_pushdown"].fn(spark, SF_SMALL), spark)
    read_schema = plan[plan.index("ReadSchema:") :].splitlines()[0]
    # 3 of 11 lineitem columns: the two projected + the filter column.
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema, read_schema
    assert "PushedFilters: [" in plan
    assert "IsNotNull(l_shipdate)" in plan or "GreaterThanOrEqual(l_shipdate" in plan


def test_filter_reaches_parquet_scan(spark):
    plan = _executed(REG["filter_pred"].fn(spark, SF_SMALL), spark)
    pushed = plan[plan.index("PushedFilters") :].splitlines()[0]
    assert "[]" not in pushed.split("]")[0] + "]", pushed


def test_broadcast_join_plans_broadcast(spark):
    plan = _executed(REG["join_broadcast"].fn(spark, SF_SMALL), spark)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_multiway_join_single_shuffle(spark):
    # The 5-table chain must run as broadcast joins end-to-end with
    # exactly ONE shuffle (the final aggregation). Build-side choice
    # is AQE's from runtime sizes (at sf0.001 everything fits; the
    # fact-probes-dim orientation is asserted by construction in
    # joins.py), but a SortMergeJoin or extra exchange here means the
    # dim chain stopped broadcasting.
    plan = _executed(REG["join_multiway"].fn(spark, SF_SMALL), spark)
    final = _final(plan)
    shuffles = [ln for ln in final.splitlines() if "+- Exchange (" in ln]
    assert len(shuffles) == 1, final
    assert "SortMergeJoin" not in final, final


def test_topk_avoids_global_sort(spark):
    plan = _executed(REG["limit_topk"].fn(spark, SF_SMALL), spark)
    assert "TakeOrderedAndProject" in plan, plan


def test_agg_has_partial_final_split(spark):
    plan = _executed(REG["agg_group"].fn(spark, SF_SMALL), spark)
    assert "partial_" in plan, plan  # map-side combine before the shuffle
    final = _final(plan)
    shuffles = [ln for ln in final.splitlines() if "+- Exchange (" in ln]
    assert len(shuffles) <= 2, final  # agg + output sort, nothing else


def test_agg_group_stays_in_codegen(spark):
    plan = _executed(REG["agg_group"].fn(spark, SF_SMALL), spark)
    assert "[codegen id" in plan  # whole-stage codegen spans
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python


def test_correlated_subquery_is_decorrelated(spark):
    # Catalyst must rewrite the per-row subquery into one grouped
    # aggregate joined back — not re-execute it per outer row.
    opt = _optimized(REG["subq_correlated"].fn(spark, SF_SMALL))
    assert "Aggregate" in opt and "Join" in opt, opt
    plan = _executed(REG["subq_correlated"].fn(spark, SF_SMALL), spark)
    assert "lineitem.parquet" in plan


def test_dedup_ngram_reuses_inverted_index_exchange(spark):
    plan = _executed(REG["dedup_ngram_jaccard"].fn(spark, SF_SMALL), spark)
    assert "ReusedExchange" in plan, plan


def test_dedup_capped_shingles_once_behind_shared_exchange(spark):
    # The df cap is a COUNT(*) OVER (PARTITION BY h) on the shingle
    # stream so its hash exchange IS the self-join's exchange: the
    # corpus must be shingled/shuffled once (every other consumer a
    # ReusedExchange), never re-derived per branch, and the join must
    # stay on that exchange (sort-merge) rather than AQE rebuilding
    # the projection for a broadcast side.
    plan = _final(
        _executed(REG["dedup_ngram_capped"].fn(spark, SF_SMALL), spark)
    )
    assert "ReusedExchange" in plan, plan
    assert "SortMergeJoin" in plan, plan
    # exactly one materialized shuffle of the shingle stream: every
    # hashpartitioning(h...) beyond the first is a reuse
    import re

    h_exchanges = re.findall(r"Exchange hashpartitioning\(h#", plan)
    assert len(h_exchanges) <= 1, plan


def test_sim_topk_is_arrow_vectorized(spark):
    # Since round 5 sim_topk shares the driver-free cogrouped tile
    # kernel: Arrow cogroup, no row UDF, no probe collect.
    plan = _executed(REG["sim_topk"].fn(spark, SF_SMALL), spark)
    assert "FlatMapCoGroupsInPandas" in plan, plan
    assert "BatchEvalPython" not in plan  # Arrow batches, not row UDF


def test_salted_agg_splits_reduce_side(spark):
    # Two shuffles by design: (key, salt) then (key) — the hot key's
    # reduce work spreads over n_salts reducers in stage 1.
    plan = _executed(REG["agg_skew_salted"].fn(spark, SF_SMALL), spark)
    final = _final(plan)
    shuffles = [ln for ln in final.splitlines() if "+- Exchange (" in ln]
    assert len(shuffles) == 2, final
    assert "__salt" in plan, plan


def test_sessionize_single_exchange_shared_by_windows_and_agg(spark):
    # Both window functions and the per-session agg must reuse the ONE
    # user_id exchange (SCALE.md: "1 Exchange, 1 Sort, 2 Window").
    plan = _executed(REG["sessionize_gaps"].fn(spark, SF_SMALL), spark)
    tree = _final(plan)
    assert tree.count("Exchange") == 1, tree
    assert tree.count("Window") == 2, tree
    assert tree.count("Sort") == 1, tree


def test_sample_hash_is_shuffle_free(spark):
    plan = _executed(REG["sample_hash"].fn(spark, SF_SMALL), spark)
    assert "Exchange" not in _final(plan), _final(plan)


def test_sim_pairs_is_cogrouped_block_matmul(spark):
    plan = _executed(REG["sim_pairs_cosine"].fn(spark, SF_SMALL), spark)
    assert "FlatMapCoGroupsInPandas" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bucketed_join_has_no_shuffle_even_without_broadcast(spark):
    # Co-location is a storage property: with broadcast disabled (the
    # 100 TB case — neither fact fits), the orderkey join must still
    # plan with ZERO exchange, reading matched bucket files pairwise.
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _executed(REG["join_bucketed"].fn(spark, SF_SMALL), spark)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    final = _final(plan)
    assert "SortMergeJoin" in final, final
    # the only allowed exchange is the final agg's — none under the join
    join_part = final[final.index("SortMergeJoin"):]
    assert "Exchange" not in join_part, final


def test_dedup_embedding_is_not_all_pairs(spark):
    # Candidate generation must come from the cogrouped block-matmul
    # stream, never an a<b theta self-join (BroadcastNestedLoopJoin =
    # O(N^2) comparisons + full-table broadcast — OOM at corpus scale).
    plan = _executed(REG["dedup_embedding"].fn(spark, SF_SMALL), spark)
    assert "FlatMapCoGroupsInPandas" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_profile_stats_avoids_sort_aggregate_over_expand(spark):
    # The COUNT(DISTINCT) branch must stay hash-aggregated: the
    # first(...)-FILTER fallback plans SortAggregate directly over the
    # Expand output (the 8x regression documented in SCALE.md).
    plan = _executed(REG["profile_stats"].fn(spark, SF_SMALL), spark)
    tree = _final(plan)
    if "Expand" in tree:
        expand_ctx = tree[: tree.index("Expand")]
        # the aggregate consuming Expand output is the node just above
        consumer = expand_ctx.splitlines()[-2] if expand_ctx.splitlines() else ""
        assert "SortAggregate" not in consumer, tree


def test_cross_join_broadcasts_small_side(spark):
    plan = _executed(REG["join_cross"].fn(spark, SF_SMALL), spark)
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_partitioned_scan_prunes_at_listing(spark):
    # scan_partition_pruned's status filter must prune to ONE hive
    # partition directory at file listing (PartitionFilters on the
    # scan), not post-read.
    plan = _executed(REG["scan_partition_pruned"].fn(spark, SF_SMALL), spark)
    pf = plan[plan.index("PartitionFilters") :].splitlines()[0]
    assert "o_orderstatus" in pf, pf
    assert "= F" in pf or "equal" in pf.lower(), pf


def test_pack_sequences_single_exchange(spark):
    # One sort-shuffle on (lang, shard); the chunk arithmetic is
    # map-side — a second exchange would mean the window repartitioned.
    plan = _executed(REG["pack_sequences"].fn(spark, SF_SMALL), spark)
    final = _final(plan)
    assert final.count("Exchange") == 1, final
    assert "BatchEvalPython" not in final


def test_sample_balanced_exact_shards_within_language(spark):
    # The exact-quota sampler must NOT serialize a language onto one
    # task: its rank window partitions on (lang, shard) — the md5-
    # prefix shard restores parallelism within a language — and the
    # quota/offset sides join as broadcasts.  A Window partitioned on
    # lang alone (the pre-round-7 form) fails here.
    df = REG["sample_balanced_exact"].fn(spark, SF_SMALL)
    opt = _optimized(df)
    spec = next(ln for ln in opt.splitlines()
                if "row_number" in ln and "windowspecdefinition" in ln)
    assert "__sbx_shard" in spec, spec
    final = _final(_executed(df, spark))
    assert "SortMergeJoin" not in final, final
    assert "BroadcastHashJoin" in final, final


def test_sample_balanced_has_no_per_language_window(spark):
    # The hash-gate rate filter must be a map-side gate behind two
    # broadcast joins: a Window over lang = one task per language at
    # 100 TB (the serialization the exact variant accepts knowingly).
    plan = _executed(REG["sample_balanced"].fn(spark, SF_SMALL), spark)
    final = _final(plan)
    assert "Window" not in final, final
    assert "BroadcastHashJoin" in final or "BroadcastNestedLoopJoin" in final
    assert "SortMergeJoin" not in final, final


@pytest.mark.parametrize(
    "key", ["sim_topk", "sim_topk_bucketed", "sim_adc_int8"])
def test_probe_topk_builds_without_driver_jobs(spark, key):
    # Both consumers of the shared cogrouped tile harness
    # (_probe_topk_bucketed): the probe set must stay a DataFrame —
    # constructing the query may launch NO Spark job (a .collect() of
    # the probes would).
    sc = spark.sparkContext
    sc.setJobGroup(f"{key}_build", "plan-gate")
    try:
        df = REG[key].fn(spark, SF_SMALL)
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup(f"{key}_build")
    assert not jobs, f"query construction launched driver jobs: {jobs}"
    plan = _executed(df, spark)
    assert "FlatMapCoGroupsInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_shuffle_deterministic_is_sharded_not_global_sort(spark):
    # The reproducible corpus shuffle must rank WITHIN md5 shards (16
    # parallel windows), never through a single-partition global sort
    # — the difference between a trainer-ready permutation and a
    # one-task bottleneck at corpus scale.
    plan = _executed(REG["shuffle_deterministic"].fn(spark, SF_SMALL), spark)
    final = _final(plan)
    assert "SinglePartition" not in final, final
    assert "Window" in final


@pytest.mark.parametrize("key", ["text_pii_redact", "text_html_strip"])
def test_regex_kernels_are_shuffle_free_codegen(spark, key):
    # Pure map-side regex kernels: no exchange, no Python in the plan.
    plan = _executed(REG[key].fn(spark, SF_SMALL), spark)
    final = _final(plan)
    assert "Exchange" not in final, final
    assert "BatchEvalPython" not in final
    assert "codegen id" in final


def test_url_normalize_groups_on_derived_key_once(spark):
    # Canonicalization is map-side; the dedup is ONE hash agg on the
    # canonical key (two exchanges max: partial->final agg).
    plan = _executed(REG["dedup_url_normalize"].fn(spark, SF_SMALL), spark)
    final = _final(plan)
    assert final.count("Exchange") <= 1, final
    assert "BatchEvalPython" not in final


def test_mix_domain_weights_broadcasts_normalizer(spark):
    # The normalizer is one tiny row — must broadcast, never SMJ.
    plan = _executed(REG["mix_domain_weights"].fn(spark, SF_SMALL), spark)
    final = _final(plan)
    assert "SortMergeJoin" not in final, final


def test_bm25_has_no_corpus_window_and_takes_ordered_topk(spark):
    # BM25 ranks via TakeOrderedAndProject (per-partition heaps), and
    # nothing in the plan windows over the whole corpus — the
    # difference between top-k and a single-task global rank.
    plan = _executed(REG["bm25_score"].fn(spark, SF_SMALL), spark)
    final = _final(plan)
    assert "TakeOrderedAndProject" in final, final
    assert "Window" not in final, final
    assert "BatchEvalPython" not in final


def test_rank_fusion_windows_only_bounded_candidate_lists(spark):
    # RRF rank windows sit ABOVE the top-C candidate cuts: every
    # Window input comes from a TakeOrderedAndProject/limit, so the
    # single-partition rank touches <= C rows, never the corpus.
    plan = _executed(REG["rank_fusion_rrf"].fn(spark, SF_SMALL), spark)
    final = _final(plan)
    assert "TakeOrderedAndProject" in final, final
    assert "BatchEvalPython" not in final


def test_feature_hashing_partial_aggregates_per_doc(spark):
    # (doc_id, bucket) hash agg: map-side partials collapse each doc
    # to <= 16 rows before the single exchange.
    plan = _executed(REG["feature_hashing"].fn(spark, SF_SMALL), spark)
    final = _final(plan)
    assert "partial_" in plan, plan
    assert final.count("Exchange") <= 1, final
    assert "BatchEvalPython" not in final


def test_perplexity_lm_count_tables_broadcast(spark):
    # The bigram/unigram count tables are vocabulary-sized dims: they
    # must broadcast against the corpus-sized bigram stream, never
    # sort-merge it.
    plan = _executed(REG["text_perplexity_lm"].fn(spark, SF_SMALL), spark)
    final = _final(plan)
    assert "BroadcastHashJoin" in final, final
    assert "SortMergeJoin" not in final, final
    assert "partial_" in plan


def test_rolling_distinct_is_one_bounded_window_shuffle(spark):
    # Bounded ROWS frame -> one exchange on user_id; the distinct is
    # computed inside the frame, never via a corpus-wide distinct.
    plan = _executed(REG["win_rolling_distinct"].fn(spark, SF_SMALL), spark)
    final = _final(plan)
    assert "Window" in final
    assert final.count("Exchange") <= 1, final
    assert "BatchEvalPython" not in final


def test_anomaly_zscore_broadcasts_stats_no_window(spark):
    # The per-type stats dim must broadcast back over the stream; the
    # detector is scan + map-side join, no window pass.
    plan = _executed(REG["ts_anomaly_zscore"].fn(spark, SF_SMALL), spark)
    final = _final(plan)
    assert "BroadcastHashJoin" in final, final
    assert "SortMergeJoin" not in final
    assert "Window" not in final


def test_linreg_partial_aggregates(spark):
    # REGR_* co-moments must merge associatively: partial_ before the
    # exchange, whole-stage codegen, no Python.
    plan = _executed(REG["ml_linreg_ols"].fn(spark, SF_SMALL), spark)
    assert "partial_" in plan, plan
    assert "BatchEvalPython" not in plan
    assert "[codegen id" in plan


def test_bloom_prefilter_tests_bits_before_exact_join(spark):
    # Both bloom-word joins must broadcast (the bitmap dim is 1024
    # rows at ANY build size); nothing sort-merges at this SF, and no
    # Python appears anywhere in the pipeline.
    plan = _executed(REG["join_bloom_prefilter"].fn(spark, SF_SMALL), spark)
    final = _final(plan)
    assert final.count("BroadcastHashJoin") >= 2, final
    assert "BatchEvalPython" not in final


def test_cdc_merge_is_two_windows_one_join(spark):
    # Compaction windows + ONE full outer join, all partitioned on the
    # key; no nested-loop and no Python.
    plan = _executed(REG["cdc_apply_merge"].fn(spark, SF_SMALL), spark)
    final = _final(plan)
    assert "FullOuter" in final or "full_outer" in final.lower(), final
    assert "BroadcastNestedLoopJoin" not in final
    assert "BatchEvalPython" not in final


def test_countmin_sketch_joins_broadcast_and_topk_takes_ordered(spark):
    # The counter grid is <= depth*width rows: estimate joins must
    # broadcast it, and the heavy-hitter cut is TakeOrdered, not a
    # global sort.
    plan = _executed(REG["agg_countmin_topk"].fn(spark, SF_SMALL), spark)
    final = _final(plan)
    assert "BroadcastHashJoin" in final, final
    assert "SortMergeJoin" not in final
    assert "TakeOrderedAndProject" in final
    assert "partial_" in plan


def test_gapfill_linear_windows_only_the_spine(spark):
    # Both ignore-nulls passes run over the hour spine (bounded),
    # after the sparse agg — event rows never enter a window.
    plan = _executed(REG["ts_gapfill_linear"].fn(spark, SF_SMALL), spark)
    final = _final(plan)
    assert "Window" in final
    assert "BatchEvalPython" not in final


def test_streaks_share_one_exchange_across_both_windows(spark):
    # HashPartitioning(user_id) satisfies the (user_id, is_err)
    # clustering too, so both row_number windows ride ONE shuffle;
    # the run aggs partial-aggregate after it.
    plan = _executed(REG["win_streaks"].fn(spark, SF_SMALL), spark)
    final = _final(plan)
    assert final.count("Exchange") <= 2, final  # window + final agg
    assert "BatchEvalPython" not in final


def test_sample_importance_is_shuffle_free(spark):
    # Per-row md5 gate: pure map-side filter, no exchange, no Python.
    plan = _executed(REG["sample_importance"].fn(spark, SF_SMALL), spark)
    final = _final(plan)
    assert "Exchange" not in final, final
    assert "BatchEvalPython" not in final


def test_bitmap_intersect_aggregates_words_not_ids(spark):
    # Both sides collapse to word-keyed bitmaps before any join —
    # partial bit_or map-side; the overlap math is one word join plus
    # a scalar agg, no raw-id distinct anywhere.
    plan = _executed(REG["agg_bitmap_intersect"].fn(spark, SF_SMALL), spark)
    final = _final(plan)
    assert "partial_" in plan
    assert "BatchEvalPython" not in final


def test_knn_classify_builds_without_driver_jobs(spark):
    # Rides the cogrouped tile kernel: construction must launch zero
    # Spark jobs beyond the one-time table-catalog footer read (no
    # probe .collect()).
    from py_pubsub_pipeline_spark.tables import table

    table(spark, SF_SMALL, "embeddings")  # warm the catalog cache
    sc = spark.sparkContext
    sc.setJobGroup("knn_build", "plan-gate")
    try:
        REG["ml_knn_classify"].fn(spark, SF_SMALL)
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("knn_build")
    assert not jobs, f"query construction launched driver jobs: {jobs}"


def test_naive_bayes_model_dims_broadcast(spark):
    # The (lang x vocab) likelihood dim and priors must broadcast
    # against the token stream — the model is vocabulary-sized, the
    # data is not.
    plan = _executed(REG["ml_naive_bayes"].fn(spark, SF_SMALL), spark)
    final = _final(plan)
    assert "BroadcastHashJoin" in final, final
    assert "BatchEvalPython" not in final


def test_asof_tolerance_keeps_single_timeline_shuffle(spark):
    # The tolerance gate must not change the as-of plan: one exchange
    # for the per-key timeline window, no join node at all.
    plan = _executed(REG["join_asof_tolerance"].fn(spark, SF_SMALL), spark)
    final = _final(plan)
    assert final.count("Exchange") <= 1, final
    assert "Join" not in final, final
    assert "Window" in final


def test_psi_nothing_event_sized_after_first_agg(spark):
    # The PSI pipeline must collapse to (type, half, bin) cells in
    # its first aggregation; every later node is dim-sized.
    plan = _executed(REG["dq_drift_psi"].fn(spark, SF_SMALL), spark)
    assert "partial_" in plan
    assert "BatchEvalPython" not in plan


def test_rolling_median_single_window_shuffle(spark):
    plan = _executed(REG["win_rolling_median"].fn(spark, SF_SMALL), spark)
    final = _final(plan)
    assert "Window" in final
    assert final.count("Exchange") <= 1, final
    assert "BatchEvalPython" not in final


def test_scd2_pit_is_hash_join_with_residual_not_nlj(spark):
    # Interval containment must ride the user_id equi key as a join
    # residual — a BroadcastNestedLoopJoin here would be quadratic.
    plan = _executed(REG["join_scd2_pit"].fn(spark, SF_SMALL), spark)
    final = _final(plan)
    assert "BroadcastNestedLoopJoin" not in final, final
    assert "BatchEvalPython" not in final


def test_null_safe_join_hashes_not_nested_loop(spark):
    # <=> must plan as a hash-join key (null hashes like a value) —
    # the cross-product trap would show as BroadcastNestedLoopJoin.
    plan = _executed(REG["join_null_safe"].fn(spark, SF_SMALL), spark)
    final = _final(plan)
    assert "BroadcastNestedLoopJoin" not in final, final
    assert "Join" in final


def test_pseudonymize_is_shuffle_free_codegen(spark):
    # Hash-derived pseudonyms need no lookup table: the whole
    # transform must stay map-side in codegen.
    plan = _executed(REG["text_pseudonymize"].fn(spark, SF_SMALL), spark)
    final = _final(plan)
    assert "Exchange" not in final, final
    assert "BatchEvalPython" not in final
    assert "codegen id" in final


def test_lagged_corr_fans_out_spine_not_events(spark):
    # The lag cross join multiplies the hourly SPINE (broadcast of a
    # 4-row dim), never the event stream.
    plan = _executed(REG["ts_lagged_corr"].fn(spark, SF_SMALL), spark)
    final = _final(plan)
    assert "partial_" in plan
    assert "BatchEvalPython" not in final


def test_reservoir_sample_takes_ordered_not_global_sort(spark):
    # Exact-k hash reservoir must plan TakeOrderedAndProject (per-task
    # partial top-k), never a full Sort+Exchange of the fact table.
    plan = _executed(REG["sample_reservoir"].fn(spark, SF_SMALL), spark)
    assert "TakeOrderedAndProject" in plan, plan


def test_zipf_topk_vocab_takes_ordered(spark):
    # The top-1000 vocabulary cut must be TakeOrdered over the token
    # aggregate — a global Sort there would serialize the vocabulary.
    plan = _executed(REG["text_zipf_slope"].fn(spark, SF_SMALL), spark)
    assert "TakeOrderedAndProject" in plan, plan


def test_fuzzy_levenshtein_is_hash_join_not_nlj(spark):
    # The block key is an equality predicate: the self-join must hash
    # on it, with the edit-distance threshold as a post-join residual.
    plan = _executed(REG["join_fuzzy_levenshtein"].fn(spark, SF_SMALL), spark)
    final = _final(plan)
    assert "CartesianProduct" not in final, final
    assert "BroadcastNestedLoopJoin" not in final, final


def test_skyline_single_partition_sort_no_self_join(spark):
    # Sort-filter skyline: one window over the priority partition,
    # never the quadratic NOT EXISTS self-join.
    final = _final(_executed(REG["win_skyline_pareto"].fn(spark, SF_SMALL),
                             spark))
    assert "Join" not in final, final
    assert final.count("Window") >= 1


def test_decision_stump_no_candidate_fanout(spark):
    # The split search must run on the 10-row bucket aggregate: the
    # documents scan appears once for binning (plus once inside the
    # boundary aggregate), never multiplied by candidate thresholds.
    final = _final(_executed(REG["ml_decision_stump"].fn(spark, SF_SMALL),
                             spark))
    assert "Generate" not in final, final  # no explode-by-9 fan-out
    scans = [ln for ln in final.splitlines()
             if "Scan parquet" in ln and "documents" in ln]
    assert len(scans) <= 2, final


def test_outlier_mad_joins_broadcast_stats(spark):
    # Both per-type stat dims (median, MAD) must broadcast back onto
    # the fact scan — a shuffled join on event_type would move the
    # fact table twice for a 5-row dim.
    final = _final(_executed(REG["ts_outlier_mad"].fn(spark, SF_SMALL),
                             spark))
    assert "SortMergeJoin" not in final, final
    assert "BroadcastHashJoin" in final, final


def test_novelty_shuffles_gram_hashes_not_tokens(spark):
    # The first-occurrence agg and the join must key on the 16-byte
    # md5 gram hash; no SortMergeJoin fallback to a quadratic shape.
    final = _final(_executed(REG["text_novelty_rate"].fn(spark, SF_SMALL),
                             spark))
    assert "CartesianProduct" not in final, final
    assert "BroadcastNestedLoopJoin" not in final, final


def test_stickiness_broadcasts_month_dim(spark):
    # The months-sized MAU side must broadcast onto the DAU agg.
    final = _final(_executed(REG["ts_stickiness_dau_mau"].fn(spark, SF_SMALL),
                             spark))
    assert "BroadcastHashJoin" in final, final
    assert "SortMergeJoin" not in final, final


def test_transitions_single_user_exchange(spark):
    # LEAD window + matrix agg: exactly one exchange carries event
    # rows (hash(user_id)); the row-normalize window runs on the
    # |types|^2 aggregate that a second, tiny exchange feeds.
    final = _final(_executed(REG["win_event_transitions"].fn(spark, SF_SMALL),
                             spark))
    assert "Join" not in final, final


def test_weighted_median_single_group_exchange(spark):
    # Cumulative weight + total ride one l_returnflag exchange; the
    # crossing pick is an agg, never a join back.
    final = _final(_executed(REG["agg_weighted_median"].fn(spark, SF_SMALL),
                             spark))
    assert "Join" not in final, final


def test_market_basket_pairs_keyed_on_order(spark):
    # The pair build must EQUI-join on the order key (bounded by
    # basket size), never cross-join the item sets. (The single-row
    # n_orders dim legitimately rides a broadcast cross join.)
    final = _final(_executed(REG["agg_market_basket"].fn(spark, SF_SMALL),
                             spark))
    assert "CartesianProduct" not in final, final
    assert ("BroadcastHashJoin" in final or "ShuffledHashJoin" in final
            or "SortMergeJoin" in final), final


def test_rfm_boundaries_broadcast_no_global_sort(spark):
    # 3-dim quantile boundaries broadcast into a map-side assign; a
    # global Sort (NTILE shape) must not appear.
    plan = _executed(REG["agg_rfm_segments"].fn(spark, SF_SMALL), spark)
    final = _final(plan)
    assert "BroadcastExchange" in plan, plan
    assert "Window" not in final, final


def test_logreg_betas_broadcast_between_passes(spark):
    # IRLS parameters travel as broadcast single-row dims, never a
    # shuffled join against the fact scan.
    final = _final(_executed(REG["ml_logreg_irls"].fn(spark, SF_SMALL),
                             spark))
    assert "SortMergeJoin" not in final, final
    assert "BroadcastExchange" in final, final


def test_survival_km_windows_walk_duration_spine(spark):
    # The at-risk and product-limit windows must run AFTER the
    # duration agg (spine-sized), so the plan joins only aggregates.
    final = _final(_executed(REG["ts_survival_km"].fn(spark, SF_SMALL),
                             spark))
    assert "SortMergeJoin" not in final, final


def test_theil_sen_pairs_keyed_on_type(spark):
    # The pair build is an equi-join on event_type over the hourly
    # AGGREGATE — never a cross join, never raw events.
    final = _final(_executed(REG["ts_theil_sen"].fn(spark, SF_SMALL),
                             spark))
    assert "CartesianProduct" not in final, final
    assert "BroadcastNestedLoopJoin" not in final, final


def test_crossval_is_one_scan_one_agg(spark):
    # k-fold CV must read lineitem at most ONCE in the final plan:
    # train = total - fold means no per-fold rescan. (The k-row fold
    # moments are checkpoint-materialized, so the fact scan ran once
    # at materialization and downstream consumers see ExistingRDD.)
    final = _final(_executed(REG["ml_crossval_ols"].fn(spark, SF_SMALL),
                             spark))
    scans = [ln for ln in final.splitlines()
             if "Scan parquet" in ln and "lineitem" in ln]
    assert len(scans) <= 1, final


def test_pca_v_broadcasts_between_iterations(spark):
    # The 64-row direction vector must broadcast onto the exploded
    # view each iteration — a shuffled join would move the fan-out.
    # Since r14 the per-iteration w checkpoints truncate lineage (the
    # broadcast now executes inside each iteration's materialization,
    # not in the final returned plan), so the gate inspects the
    # iteration subplan directly: one power half-step built exactly
    # like the query's loop body.
    from pyspark.sql import functions as F

    from py_pubsub_pipeline_spark.queries.similarity import _PCA_DIM
    from py_pubsub_pipeline_spark.tables import table

    e = table(spark, SF_SMALL, "embeddings")
    ex = e.select(
        "vec_id", F.posexplode(F.col("embedding")).alias("j", "xj")
    ).select("vec_id", F.col("j").cast("long").alias("j"),
             F.col("xj").cast("double").alias("xj"))
    v = spark.range(_PCA_DIM).select(
        F.col("id").alias("j"), F.lit(1.0 / _PCA_DIM ** 0.5).alias("vj"))
    s = (
        ex.join(F.broadcast(v), "j")
        .groupBy("vec_id")
        .agg(F.sum((F.col("xj") * F.col("vj")).cast("decimal(18,9)"))
             .cast("double").alias("s"))
    )
    half_step = _final(_executed(s, spark))
    assert "BroadcastHashJoin" in half_step, half_step
    # And the full query still avoids any shuffled join of v onto the
    # exploded view in its final plan (checkpointed inputs only).
    final = _final(_executed(REG["emb_pca_power"].fn(spark, SF_SMALL),
                             spark))
    assert "SortMergeJoin" not in final, final


def test_target_encode_broadcasts_category_stats_no_fact_window(spark):
    # LOO encode must attach category stats via broadcast join, never a
    # per-category window over the fact (one-task-per-category hazard).
    plan = _executed(REG["ml_target_encode"].fn(spark, SF_SMALL), spark)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "Window" not in plan, "fact-side window would serialize categories"


def test_geo_haversine_is_top_k_not_full_sort(spark):
    plan = _executed(REG["fn_geo_haversine"].fn(spark, SF_SMALL), spark)
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan


def test_cusum_windows_ride_bucket_spine_single_exchange(spark):
    # Both window passes and the argmax share the (event_type) spine
    # partitioning: exactly one shuffle after the hourly hash agg.
    plan = _final(_executed(REG["ts_cusum"].fn(spark, SF_SMALL), spark))
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges <= 3, plan  # hourly agg + mean agg + spine window
    assert "BatchEvalPython" not in plan


def test_tokenizer_ops_stay_codegen(spark):
    for key in ("ml_bpe_pair_counts", "ml_tokenizer_fertility",
                "text_kneser_ney", "text_readability",
                "fn_luhn_checksum", "fn_ip_cidr"):
        plan = _executed(REG[key].fn(spark, SF_SMALL), spark)
        assert "BatchEvalPython" not in plan, key
        assert "[codegen id" in plan, key


def test_ndcg_terms_quantized_before_sum(spark):
    # The optimized plan must carry the DECIMAL(18,12) quantization of
    # the per-rank terms (the libm-portability contract).
    df = REG["ml_ndcg"].fn(spark, SF_SMALL)
    assert "decimal(18,12)" in _optimized(df).lower()


def test_chunk_overlap_is_shuffle_free_codegen(spark):
    # Chunking is tokenize + sequence + explode + slice: pure map-side
    # generation, no exchange, no Python.
    plan = _final(_executed(REG["text_chunk_overlap"].fn(spark, SF_SMALL),
                            spark))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan


def test_ppswor_takes_ordered_not_global_sort(spark):
    # The top-(k+1) priority cut must plan TakeOrderedAndProject
    # (per-task partial top-k); a global Sort+single-partition
    # Exchange of the corpus fails the 100 TB contract.
    plan = _executed(REG["sample_priority_ppswor"].fn(spark, SF_SMALL), spark)
    assert "TakeOrderedAndProject" in plan, plan


def test_drift_centroid_shuffles_partials_not_vectors(spark):
    # The (label, dim) aggregation must partial-aggregate map-side so
    # the exchange moves labels x 64 partial sums, not exploded rows.
    plan = _executed(REG["emb_drift_centroid"].fn(spark, SF_SMALL), spark)
    assert "partial_sum" in plan, plan
    assert "BatchEvalPython" not in plan


def test_curriculum_rank_window_is_sharded(spark):
    # The per-source rank must run per (source, shard) — a bare
    # per-source window serializes each source onto one task.
    df = REG["mix_curriculum"].fn(spark, SF_SMALL)
    opt = _optimized(df)
    assert "windowspecdefinition(source" in opt and "shard" in opt, opt


def test_matryoshka_broadcasts_probes_no_smj(spark):
    # Probe set (50 rows) broadcasts against the streaming candidate
    # scan; the inequality join must be broadcast nested-loop, never
    # a SortMergeJoin / shuffled cartesian.
    plan = _final(_executed(REG["emb_matryoshka_eval"].fn(spark, SF_SMALL),
                            spark))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # The block-local pre-top-k must ride Spark's rank-limit pushdown
    # (WindowGroupLimit) so block sorts are k-bounded.
    assert "WindowGroupLimit" in plan


def test_semantic_prune_joins_on_bucket_key(spark):
    # Candidate generation must be an equi-join on the sign bucket —
    # never a nested-loop/cartesian pair enumeration.
    plan = _final(_executed(REG["dedup_semantic_prune"].fn(spark, SF_SMALL),
                            spark))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_mmr_pool_cut_rides_window_group_limit(spark):
    # The per-query pool cut must push the rank limit into the sort
    # (WindowGroupLimit); everything after operates on bounded frames.
    plan = _final(_executed(REG["sim_mmr_rerank"].fn(spark, SF_SMALL), spark))
    assert "WindowGroupLimit" in plan, plan
    assert "CartesianProduct" not in plan


def test_probe_pool_shared_kernel_plan(spark):
    # The ONE plan gate for the shared broadcast-probe pool kernel
    # (_probe_pool) that sim_mmr_rerank / rag_hard_negatives /
    # rag_context_pack / rag_grounding_overlap all build on: probe
    # set broadcasts into a single streaming candidate scan (never a
    # shuffled or cartesian pair join), and the top-k cut rides
    # WindowGroupLimit so per-partition sorts are k-bounded — in both
    # the plain and the blocked/label-fused variants.
    from py_pubsub_pipeline_spark.queries.rag import _probe_pool

    for kwargs in ({}, {"block": 8, "label_mismatch": True}):
        plan = _final(_executed(
            _probe_pool(spark, SF_SMALL, 10, 5, **kwargs), spark))
        assert "BroadcastNestedLoopJoin" in plan, plan
        assert "SortMergeJoin" not in plan
        assert "CartesianProduct" not in plan
        assert "WindowGroupLimit" in plan


def test_hard_negatives_broadcast_probe_and_group_limit(spark):
    # Probe set broadcasts against the streaming candidate scan
    # (label-mismatch predicate fused), and the per-(query, block)
    # pre-cut rides WindowGroupLimit so sorts stay k-bounded.
    plan = _final(_executed(REG["rag_hard_negatives"].fn(spark, SF_SMALL),
                            spark))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan


def test_context_pack_bounded_after_pool_cut(spark):
    # Pool cut via WindowGroupLimit; the token-cost join and running
    # sum operate on bounded pool rows — never a cartesian.
    plan = _final(_executed(REG["rag_context_pack"].fn(spark, SF_SMALL),
                            spark))
    assert "WindowGroupLimit" in plan, plan
    assert "CartesianProduct" not in plan


def test_dp_sum_is_one_hash_agg(spark):
    # Map-side clipping + partial aggregation; noise is arithmetic on
    # the group rows — no extra exchange, no Python.
    plan = _executed(REG["privacy_dp_sum"].fn(spark, SF_SMALL), spark)
    assert "partial_sum" in plan, plan
    assert "BatchEvalPython" not in plan
    final = _final(plan)
    assert final.count("- Exchange") == 1, final


def test_whitening_shuffles_partials_not_vectors(spark):
    # The per-dimension agg must partial-aggregate map-side so the
    # exchange moves 64 partial rows per task, not exploded values.
    plan = _executed(REG["emb_whitening_diag"].fn(spark, SF_SMALL), spark)
    assert "partial_sum" in plan, plan
    assert "BatchEvalPython" not in plan


def test_ivf_balance_broadcasts_centroids(spark):
    # Assignment is the sim_ivf broadcast argmax — centroids broadcast,
    # the corpus never self-joins through a shuffle.
    plan = _final(_executed(REG["sim_ivf_balance"].fn(spark, SF_SMALL),
                            spark))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_lttb_neighbor_join_is_broadcast(spark):
    # Per-series bounds and the 20-row-per-series neighbor-centroid
    # table both broadcast; the bucket argmax is a hash-partitioned
    # window — no cartesian, no sort-merge against the fact scan.
    plan = _final(_executed(REG["ts_downsample_lttb"].fn(spark, SF_SMALL),
                            spark))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_grounding_gram_extraction_is_pool_gated(spark):
    # Gram extraction must run only on pool documents: the documents
    # scan joins the bounded id set (broadcast hash join) BEFORE any
    # explode; retrieval stays the broadcast-probe + WindowGroupLimit
    # shape; nothing goes cartesian.
    plan = _final(_executed(REG["rag_grounding_overlap"].fn(spark, SF_SMALL),
                            spark))
    assert "WindowGroupLimit" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan


def test_cluster_purity_broadcasts_centroids(spark):
    # Same assignment contract as sim_ivf/sim_ivf_balance: centroids
    # broadcast, the corpus never self-joins through a shuffle.
    plan = _final(_executed(REG["emb_cluster_purity"].fn(spark, SF_SMALL),
                            spark))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_source_overlap_single_shingle_pass(spark):
    # One shingle pass to distinct (source, gram); the overlap join
    # keys on the gram hash (per-gram fan-out bounded by source
    # cardinality) — no cartesian, no corpus re-shingle per branch.
    plan = _final(_executed(REG["text_source_overlap"].fn(spark, SF_SMALL),
                            spark))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_recall_curve_rides_window_group_limit(spark):
    plan = _final(_executed(REG["ml_recall_at_k"].fn(spark, SF_SMALL),
                            spark))
    assert "WindowGroupLimit" in plan, plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_knn_graph_joins_on_block_key(spark):
    # Candidate generation must be the bucket equi-join (semantic
    # prune's contract) and the reciprocity check a join of the
    # k-bounded edge list — never an all-pairs cross.
    plan = _final(_executed(REG["sim_knn_graph_blocked"].fn(spark, SF_SMALL),
                            spark))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_referential_audit_broadcasts_dims(spark):
    # Dimension parents broadcast; the fact-fact check shuffles on the
    # join key with partial counts — and parent scans are key-only
    # projections (column pruning reaches the scan).
    plan = _executed(REG["dq_referential_orphans"].fn(spark, SF_SMALL),
                     spark)
    final = _final(plan)
    assert "BroadcastHashJoin" in final, final
    assert "CartesianProduct" not in final
    assert "partial_count" in plan, plan


def test_overlap_discount_single_shingle_pass(spark):
    # The overlap side must reuse text_source_overlap's discipline:
    # no cartesian, no Python, the census join keyed on the gram.
    plan = _final(_executed(REG["mix_overlap_discounted"].fn(spark,
                                                             SF_SMALL),
                            spark))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


# --- round-9 governance wave gates ------------------------------------


def test_binary_quantize_packs_then_broadcast_probes(spark):
    # Packing is one hash agg over the dim explode (masks shuffle,
    # never vectors); the Hamming scan is the broadcast-probe shape
    # with a WindowGroupLimit pre-cut.  All-integer: no Python.
    plan = _final(_executed(REG["emb_binary_quantize"].fn(spark, SF_SMALL),
                            spark))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "WindowGroupLimit" in plan
    assert "BatchEvalPython" not in plan


def test_fusion_pools_ride_group_limit(spark):
    # Both retrieval views are the shared pool kernel (bounded lists);
    # only the bounded full-outer fusion may sort-merge.
    plan = _final(_executed(REG["rag_fusion_multiquery"].fn(spark,
                                                            SF_SMALL),
                            spark))
    assert "WindowGroupLimit" in plan, plan
    assert "CartesianProduct" not in plan


def test_dedup_context_bounded_pairs(spark):
    # Pool kernel + pool x pool equi-join on query_id; vectors come
    # back by id equi-joins — never a corpus cross.
    plan = _final(_executed(REG["rag_dedup_context"].fn(spark, SF_SMALL),
                            spark))
    assert "WindowGroupLimit" in plan, plan
    assert "CartesianProduct" not in plan


def test_router_centroid_broadcasts_schema_bounded_sides(spark):
    # Centroids/norms/queries are all label- or dim-bounded tables:
    # every join must broadcast; the only shuffle is the (label, dim)
    # partial agg.
    plan = _executed(REG["rag_router_centroid"].fn(spark, SF_SMALL), spark)
    final = _final(plan)
    assert "BroadcastHashJoin" in final, final
    assert "SortMergeJoin" not in final
    assert "CartesianProduct" not in final
    assert "partial_sum" in plan, plan


def test_mixing_schedulers_single_agg_no_sort_join(spark):
    # One hash agg to source cardinality; totals fold via a broadcast
    # one-row side (BNLJ is that fold, not a pair join).
    for key in ("mix_temperature_sampling", "mix_epoch_schedule"):
        plan = _executed(REG[key].fn(spark, SF_SMALL), spark)
        final = _final(plan)
        assert "SortMergeJoin" not in final, key
        assert "CartesianProduct" not in final, key
        assert "partial_sum" in plan, key


def test_compaction_plan_windows_partition_table_only(spark):
    # The cumulative sum runs on the month-cardinality table after a
    # partial-agg shuffle — the fact scan feeds ONE hash aggregate.
    plan = _executed(REG["layout_compaction_plan"].fn(spark, SF_SMALL),
                     spark)
    final = _final(plan)
    assert "CartesianProduct" not in final
    assert "SortMergeJoin" not in final
    assert "partial_count" in plan, plan


def test_jaccard_linkpred_takeordered_and_broadcast_degrees(spark):
    plan = _final(_executed(REG["graph_jaccard_linkpred"].fn(spark,
                                                             SF_SMALL),
                            spark))
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_mrr_broadcast_probe_and_group_limit(spark):
    plan = _final(_executed(REG["ml_mrr_at_k"].fn(spark, SF_SMALL), spark))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan
    assert "WindowGroupLimit" in plan


def test_survivorship_no_joins_at_all(spark):
    # md5 map-side, rank window co-sharded by the hash, one agg:
    # there is NO join operator anywhere in this plan.
    plan = _final(_executed(REG["dedup_survivorship_tokens"].fn(spark,
                                                                SF_SMALL),
                            spark))
    for op in ("SortMergeJoin", "BroadcastHashJoin",
               "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert op not in plan, op


# --- round-10 wave gates ---------------------------------------------------


def test_dp_release_family_single_agg_no_python(spark):
    # Each DP release: ONE hash agg; the ladder lookup is
    # constant-folded arithmetic on the group rows (no extra exchange,
    # no Python anywhere in the plan).
    for key in ("privacy_dp_count", "privacy_dp_partition_select",
                "privacy_dp_mean", "privacy_dp_gaussian_count"):
        plan = _executed(REG[key].fn(spark, SF_SMALL), spark)
        assert "BatchEvalPython" not in plan, key
        final = _final(plan)
        assert final.count("- Exchange") == 1, (key, final)


def test_manifest_diff_scans_pruned_and_bounded(spark):
    # Per-file stat scans read ONLY the key column (the stand-in for
    # manifest stat columns), and the whole op is a bounded union of
    # manifest-cardinality scans — no Python, no join, no cartesian.
    for key in ("scan_manifest_diff", "scan_manifest_orphans"):
        plan = _executed(REG[key].fn(spark, SF_SMALL), spark)
        assert "BatchEvalPython" not in plan, key
        assert "CartesianProduct" not in plan, key
        schemas = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
        assert schemas, key
        assert all(
            "o_orderkey" in ln and "o_totalprice" not in ln
            for ln in schemas
        ), (key, schemas)


def test_pq_adc_is_broadcast_scan_no_python(spark):
    # Codebook and per-query LUTs broadcast; the candidate scan is one
    # pass of map-side lookups + a per-query top-k window — no
    # SortMergeJoin, no Python, and the only exchanges are the encode
    # agg and the top-k window partitioning.
    plan = _executed(REG["sim_pq_adc"].fn(spark, SF_SMALL), spark)
    assert "BatchEvalPython" not in plan
    assert "SortMergeJoin" not in plan
    final = _final(plan)
    assert "BroadcastNestedLoopJoin" in final or "BroadcastHashJoin" in final


def test_pq_rescore_reads_vectors_proportional_to_candidates(spark):
    # Stage 2 joins the bounded candidate set to the vector table via
    # broadcast — no SortMergeJoin, no Python; stage 1's properties
    # are covered by the sim_pq_adc gate.
    plan = _executed(REG["sim_pq_rescore"].fn(spark, SF_SMALL), spark)
    assert "BatchEvalPython" not in plan
    assert "SortMergeJoin" not in plan


def test_pq_distortion_is_one_agg(spark):
    plan = _executed(REG["emb_pq_distortion"].fn(spark, SF_SMALL), spark)
    assert "BatchEvalPython" not in plan
    final = _final(plan)
    assert final.count("- Exchange") == 1, final


def test_retention_plan_scans_pruned(spark):
    plan = _executed(
        REG["scan_manifest_retention_plan"].fn(spark, SF_SMALL), spark
    )
    assert "BatchEvalPython" not in plan
    schemas = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert schemas and all(
        "o_orderkey" in ln and "o_totalprice" not in ln for ln in schemas
    )


def test_rr_frequency_single_agg_no_python(spark):
    plan = _executed(REG["privacy_rr_frequency"].fn(spark, SF_SMALL), spark)
    assert "BatchEvalPython" not in plan
    assert _final(plan).count("- Exchange") == 1


def test_commitlog_replay_scans_pruned(spark):
    plan = _executed(REG["scan_commitlog_replay"].fn(spark, SF_SMALL), spark)
    assert "BatchEvalPython" not in plan
    schemas = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert schemas and all(
        "o_orderkey" in ln and "o_totalprice" not in ln for ln in schemas
    )


def test_pq_trained_is_broadcast_train_and_single_join_adc(spark):
    plan = _executed(REG["sim_pq_trained"].fn(spark, SF_SMALL), spark)
    assert "BatchEvalPython" not in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


# --- round-11 gates ---------------------------------------------------------


def test_ivfpq_is_broadcast_route_and_scan_no_python(spark):
    # Coarse centroids, residual codebook, and per-(query, cell) LUTs
    # all broadcast; assignment and encoding are map-side argmins; the
    # candidate scan joins codes to the broadcast LUT — never a
    # SortMergeJoin of the corpus against itself, no Python anywhere.
    plan = _executed(REG["sim_ivfpq"].fn(spark, SF_SMALL), spark)
    assert "BatchEvalPython" not in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    final = _final(plan)
    assert "BroadcastNestedLoopJoin" in final or "BroadcastHashJoin" in final


def test_ivfpq_rescore_reads_floats_proportional_to_candidates(spark):
    # Stage 2 joins the bounded candidate set to the vector table via
    # broadcast — no SortMergeJoin, no Python; stage 1's properties
    # are covered by the sim_ivfpq gate.
    plan = _executed(REG["sim_ivfpq_rescore"].fn(spark, SF_SMALL), spark)
    assert "BatchEvalPython" not in plan
    assert "SortMergeJoin" not in plan


def test_ivfpq_trained_keeps_broadcast_shape_training_included(spark):
    # The one Lloyd round must not change the search pipeline's shape:
    # round-0 assignment is a map-side argmin vs the broadcast init
    # centroids, the (cell, dim) mean agg emits 16x64 rows, and
    # everything downstream keeps sim_ivfpq's broadcast-only posture —
    # no Python, no SortMergeJoin, no cartesian of data against data.
    plan = _executed(REG["sim_ivfpq_trained"].fn(spark, SF_SMALL), spark)
    assert "BatchEvalPython" not in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    final = _final(plan)
    assert "BroadcastNestedLoopJoin" in final or "BroadcastHashJoin" in final


def test_ivfpq_trained_serves_from_fixtures_never_retrains(spark):
    # Round 13 (VERDICT r12 item 1): with the trained index persisted,
    # the SERVE plan must read the codebook fixtures + codes fixture
    # and contain ZERO training stages — no posexplode melt, no
    # (m, k, pos) Lloyd aggregation, no DECIMAL mean arithmetic.  The
    # r12 weak was exactly this: correct values, but two Lloyd passes
    # re-run per invocation (189 s at sf10 for a page of output).
    df = REG["sim_ivfpq_trained"].fn(spark, SF_SMALL)
    files = df.inputFiles()
    assert any("ivfpq_trained_cen" in f for f in files), files
    assert any("ivfpq_trained_cb" in f for f in files), files
    assert any("ivfpq_codes_trained_r2" in f for f in files), files
    plan = _executed(df, spark)
    for marker in ("posexplode", "decimal(28,12)", "cell0"):
        assert marker not in plan.lower(), marker
    # same shuffle budget as the untrained serve path: the embeddings
    # scan feeds only the 20-query probe side, never a corpus encode
    untrained = _executed(REG["sim_ivfpq"].fn(spark, SF_SMALL), spark)
    assert plan.count("Exchange") <= untrained.count("Exchange")


def test_dp_quantile_grid_is_group_bounded_no_python(spark):
    # The exponential-mechanism grid (lang x 64 candidates) must stay
    # group-rows-bounded: one hash agg over documents, broadcast of the
    # 64-candidate side, constant-folded Gumbel ladder — no Python, no
    # SortMergeJoin of data against data.
    plan = _executed(REG["privacy_dp_quantile"].fn(spark, SF_SMALL), spark)
    assert "BatchEvalPython" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    schemas = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert schemas and all("text" not in ln for ln in schemas), schemas
    assert any("n_chars" in ln for ln in schemas), schemas


def test_maxsim_broadcasts_probes_and_salts_topk(spark):
    # The bounded query side broadcasts (never shuffles the corpus),
    # scoring is pure codegen (no Python), and the top-k runs the
    # two-phase salted cut: the (query_id, doc_id % 32) local window
    # must appear before the final per-query window.
    plan = _executed(REG["rag_maxsim"].fn(spark, SF_SMALL), spark)
    assert "BatchEvalPython" not in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Window") >= 2, plan
    schemas = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert schemas and all("label" not in ln for ln in schemas), schemas


def test_doremi_is_one_agg_then_domain_rows(spark):
    # One hash agg to source cardinality; everything after (windows,
    # largest-remainder allocation) runs on the ~20 domain rows with
    # no further joins and no Python.
    plan = _executed(REG["mix_doremi_step"].fn(spark, SF_SMALL), spark)
    assert "BatchEvalPython" not in plan
    assert "Join" not in _final(plan), _final(plan)
    schemas = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert schemas and all(
        "n_chars" in ln and "text" not in ln for ln in schemas
    ), schemas


def test_range_search_is_tile_local_no_final_window(spark):
    # Radius search must be a pure map-side filter after the cogroup:
    # no Window / TakeOrdered / global sort anywhere — emitted rows
    # are exactly the hit set.
    plan = _executed(REG["sim_range_search"].fn(spark, SF_SMALL), spark)
    assert "Window" not in plan
    assert "TakeOrderedAndProject" not in plan
    assert "FlatMapCoGroupsInPandas" in plan


def test_minmax_skipping_scans_pruned_and_broadcasts_bounds(spark):
    # Every per-file stat scan reads only o_orderkey; the predicate
    # bounds side is a 1-row broadcast, never a shuffle join.
    plan = _executed(REG["scan_minmax_skipping"].fn(spark, SF_SMALL), spark)
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan
    schemas = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert schemas and all(
        "o_orderkey" in ln and "o_totalprice" not in ln for ln in schemas
    ), schemas


def test_overlap_depth_joins_file_stats_only(spark):
    # The interval self-join runs on the 7 file-stat rows (broadcast
    # over aggregated 1-row sides — hash on the layout key with the
    # interval test as join condition, or NLJ), never on data rows.
    plan = _executed(REG["layout_overlap_depth"].fn(spark, SF_SMALL), spark)
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    schemas = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert schemas and all(
        "o_orderkey" in ln and "o_totalprice" not in ln for ln in schemas
    ), schemas


def test_dpp_plans_dynamic_pruning_subquery(spark):
    # The fact scan must carry a runtime partition filter derived from
    # the dim side (dynamicpruningexpression), the dim must broadcast,
    # and no SortMergeJoin may appear.
    plan = _executed(
        REG["join_dpp_partition_pruned"].fn(spark, SF_SMALL), spark)
    assert "dynamicpruning" in plan.lower(), plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_partition_evolution_reads_only_survivors(spark):
    # Pruned files contribute literal rows (no scan at all); the two
    # surviving reads are column-pruned to the residual columns.
    plan = _executed(
        REG["scan_partition_evolution"].fn(spark, SF_SMALL), spark)
    final = _final(plan)
    # one scan for the spec-1 survivor (+ residual), one for spec-2
    assert final.count("Scan parquet") == 2, final
    schemas = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert schemas and all("o_totalprice" not in ln for ln in schemas)


def test_dp_user_count_is_two_aggs_and_window(spark):
    # (source, lang) agg -> per-source window -> lang agg; ladder is
    # constant-folded; no Python, no joins.
    plan = _executed(REG["privacy_dp_user_count"].fn(spark, SF_SMALL), spark)
    assert "BatchEvalPython" not in plan
    assert "Join" not in _final(plan), _final(plan)
    assert "Window" in plan


def test_abtt_is_dimension_bounded_aggs_no_python(spark):
    # Explode fans out x64 (dimension-bounded); every iteration is
    # hash aggs with broadcast v; no Python, no SortMergeJoin against
    # the corpus except the final vec_id equi-join of two aggregates.
    plan = _executed(REG["emb_abtt"].fn(spark, SF_SMALL), spark)
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    # Since r14 the centered cloud cx is checkpoint-materialized, so
    # the parquet scan lives in the materialization subplan, not the
    # final plan; the column-pruning gate inspects the exploded view
    # built exactly like the query's (scan -> posexplode projection).
    from pyspark.sql import functions as F

    from py_pubsub_pipeline_spark.tables import table

    ex = table(spark, SF_SMALL, "embeddings").select(
        "vec_id", F.posexplode(F.col("embedding")).alias("j", "xj"))
    explan = _executed(ex, spark)
    schemas = [ln for ln in explan.splitlines() if "ReadSchema" in ln]
    assert schemas and all("label" not in ln for ln in schemas), schemas


def test_equality_deletes_broadcast_anti_join(spark):
    # The delete file must broadcast into every data-file scan as an
    # anti join — never shuffle the data files, never rewrite them.
    plan = _executed(REG["scan_equality_deletes"].fn(spark, SF_SMALL), spark)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan


def test_spatial_grid_is_cell_equijoin_with_broadcast_probes(spark):
    # The corpus must join on (cy, cx) cell keys with the 20x9-row
    # probe side broadcast — no cross product, no SortMergeJoin of
    # data against data, pure integer expressions (no Python).
    plan = _executed(REG["join_spatial_grid"].fn(spark, SF_SMALL), spark)
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    schemas = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert schemas and all(
        "c_custkey" in ln and "c_address" not in ln for ln in schemas
    ), schemas


def test_multiprobe_expands_query_side_only(spark):
    # The corpus side must replicate only 4x (band keys); the 5x probe
    # expansion applies to the bounded query side (broadcast); exact
    # cosine joins ids-only pairs back to vectors. No Python anywhere.
    plan = _executed(REG["sim_lsh_multiprobe"].fn(spark, SF_SMALL), spark)
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    schemas = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert schemas and all("label" not in ln for ln in schemas), schemas


def test_bpe_apply_is_vocab_bounded_with_broadcast_merges(spark):
    # Work set = the vocabulary: word agg, pair agg, 1-row broadcast
    # merge table; segmentation expressions run on the released rows.
    plan = _executed(REG["ml_bpe_apply"].fn(spark, SF_SMALL), spark)
    assert "BatchEvalPython" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    schemas = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert schemas and all(
        "text" in ln and "lang" not in ln for ln in schemas
    ), schemas


def test_hll_is_distinct_pass_then_register_rows(spark):
    # One distinct pass over the key column, a 64-row register agg,
    # broadcast composition — integer bit ops only, no Python.
    plan = _executed(REG["agg_hll_registers"].fn(spark, SF_SMALL), spark)
    assert "BatchEvalPython" not in plan
    assert "SortMergeJoin" not in plan
    schemas = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert schemas and all(
        "user_id" in ln and "props" not in ln for ln in schemas
    ), schemas


def test_bucket_pruning_selects_one_bucket(spark):
    # The literal key predicate must prune the bucketed scan to 1 of 8
    # bucket files — visible as SelectedBucketsCount in the scan node.
    plan = _executed(REG["scan_bucket_pruning"].fn(spark, SF_SMALL), spark)
    assert "SelectedBucketsCount: 1 out of 8" in plan, plan


def test_token_bucket_meter_two_exchanges_and_broadcast_calibration(spark):
    # The calibration agg (n_tot, t0, span per series) is one exchange
    # and BROADCASTS back to the scan; the Lindley windows + final agg
    # ride ONE more series-key exchange. No Python anywhere.
    plan = _executed(REG["ts_token_bucket_meter"].fn(spark, SF_SMALL), spark)
    final = _final(plan)
    shuffles = [ln for ln in final.splitlines() if "+- Exchange (" in ln]
    assert len(shuffles) <= 2, final
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_dp_topk_is_one_agg_constant_ladder(spark):
    # One hash agg; the Gumbel ladder is constant-folded; the top-k
    # window runs on group rows. No Python, no joins.
    plan = _executed(REG["privacy_dp_topk"].fn(spark, SF_SMALL), spark)
    assert "BatchEvalPython" not in plan
    assert "Join" not in _final(plan), _final(plan)
    assert "Window" in plan


def test_fd_profiling_scans_two_columns_per_candidate(spark):
    # Each candidate FD is a 2-column pruned scan into a hash agg —
    # no joins, no Python, no full-width reads.
    plan = _executed(
        REG["dq_functional_dependency"].fn(spark, SF_SMALL), spark)
    assert "BatchEvalPython" not in plan
    assert "Join" not in _final(plan), _final(plan)
    schemas = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert schemas and all(
        "l_extendedprice" not in ln and "l_shipdate" not in ln
        for ln in schemas
    ), schemas


def test_prf_expansion_df_capped_token_joins_no_python(spark):
    # Both retrieval passes must be term-key equi-joins against the
    # df-stopworded shingle postings (no cross product, no Python);
    # every ranking is a group-limit window.  (The 1-row corpus-size
    # threshold broadcast is a legitimate BNLJ.)
    plan = _executed(REG["rag_prf_expansion"].fn(spark, SF_SMALL), spark)
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Window") >= 2, plan


def test_mor_snapshot_read_is_one_broadcast_anti_join(spark):
    # The MoR read: union of data files anti-joined once against the
    # broadcast delete union — no SortMergeJoin, no Python, no
    # cartesian; the delete side must be the broadcast build.
    plan = _executed(REG["scan_mor_snapshot"].fn(spark, SF_SMALL), spark)
    assert "BatchEvalPython" not in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    final = _final(plan)
    assert "BroadcastNestedLoopJoin" in final or "BroadcastHashJoin" in final


def test_kmeans_assignment_is_map_side_argmin_no_window(spark):
    # r14 optimization: the per-round nearest-centroid pick is an
    # array_min over the one-row broadcast centroid array — the old
    # crossJoin x K + row_number window shuffled the corpus WITH its
    # full embedding vectors K times per Lloyd round.  Gate: no Window
    # operator anywhere, argmin visible as array_min(transform(...)),
    # and no Python evaluation.
    plan = _executed(REG["ml_kmeans_train"].fn(spark, SF_SMALL), spark)
    assert "Window" not in plan, plan
    assert "array_min" in plan
    assert "BatchEvalPython" not in plan
