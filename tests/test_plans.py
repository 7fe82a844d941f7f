"""Physical-plan assertions — the 100 TB posture checks (SURVEY §4):
these fail if a code change silently regresses pushdown, pruning,
broadcast choice, or top-k strategy, even while results stay correct.
"""

from __future__ import annotations

import re

from flexcalc_spark import registry
from flexcalc_spark.plans import plan_text
from tests.conftest import SF_DIR

Q = registry.QUERIES


def test_scan_project_prunes_columns(spark):
    plan = plan_text(Q["q_scan_project"](spark, SF_DIR))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"l_orderkey", "l_quantity"}, f"scan reads extra columns: {cols}"


def test_filter_pushdown_reaches_parquet(spark):
    plan = plan_text(Q["q_filter_pred"](spark, SF_DIR))
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "GreaterThan(l_quantity" in m.group(1), plan


def test_broadcast_join_is_broadcast(spark):
    plan = plan_text(Q["q_join_broadcast"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan


def test_multiway_join_broadcasts_dims(spark):
    plan = plan_text(Q["q_join_multiway"](spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_topk_uses_take_ordered(spark):
    plan = plan_text(Q["q_topk"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan


def test_groupby_has_partial_and_final_agg(spark):
    plan = plan_text(Q["q_agg_groupby"](spark, SF_DIR))
    assert plan.count("HashAggregate") >= 2, plan


def test_semi_anti_compile_to_joins(spark):
    assert re.search(r"LeftSemi", plan_text(Q["q_join_semi"](spark, SF_DIR)))
    assert re.search(r"LeftAnti", plan_text(Q["q_join_anti"](spark, SF_DIR)))


def test_in_subquery_compiles_to_semi_join(spark):
    plan = plan_text(Q["q_subquery_in"](spark, SF_DIR))
    assert re.search(r"LeftSemi", plan), plan


def test_correlated_subquery_decorrelates(spark):
    """Catalyst must rewrite the correlated scalar subqueries into
    aggregate + equi joins — a nested-loop re-scan per outer row would
    be O(n²) scans at 100 TB."""
    plan = plan_text(Q["q_subquery_correlated"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "HashAggregate" in plan and "Join" in plan, plan


def test_graded_queries_avoid_python_udfs(spark):
    """Every graded query except the explicit UDF/stateful/multimodal
    surface must stay JVM-native (BASELINE.md perf rule 2)."""
    allowed_python = {
        "q_udf_scalar", "q_udaf_grouped", "q_udtf_expand",
        "q_stateful_sessions", "q_multimodal_features", "q_multimodal_resize",
        "q_multimodal_frames", "q_multimodal_audio",
        # blocked-GEMM candidate generation: dense O(n²) numerics belongs
        # to BLAS, the exact re-score stays JVM-side (dedup.py)
        "q_dedup_embed",
        # partial Gram matrices via Arrow mapInPandas (same BLAS rule);
        # the projection scoring pass itself is JVM HOFs
        "q_pca_embed",
        # greedy sequential fold (each keep/drop depends on the previous
        # DECISION) — the applyInPandas-by-design shape, stateful.py
        "q_debounce_anchor",
        # sequential level/trend recurrence over PRE-AGGREGATED daily
        # rows (test_holt_forecast_preaggregates_before_pandas pins
        # that the pandas stage consumes |entities| x days aggregates,
        # never the raw fact) — timeseries.py
        "q_holt_forecast",
        # Avro/WARC container encode/decode kernels (pure-Python codecs
        # over binary blobs, the binaryfiles.py media pattern): the row
        # data itself is the container payload, so the codec IS the
        # operator; aggregation after the trip is JVM-side (sinks.py)
        "q_source_avro",
        "q_source_warc",
        "q_source_archive",
        # zstd shard decompress+split is the same codec-boundary class;
        # the JSON parse itself runs JVM-side via from_json (sinks.py
        # read_jsonl_zst) and the aggregation after it is JVM-native
        "q_source_jsonl_zst",
    }
    offenders = []
    for key, fn in Q.items():
        if key in allowed_python:
            continue
        plan = plan_text(fn(spark, SF_DIR), mode="simple")
        if re.search(r"BatchEvalPython|ArrowEvalPython|FlatMapGroupsInPandas|MapInPandas", plan):
            offenders.append(key)
    assert not offenders, f"Python in the hot path of: {offenders}"


def test_salted_join_shuffles_on_salted_key(spark):
    """The salt must reach the physical join key and force a real
    shuffle join — a broadcast would make the salt decorative."""
    plan = plan_text(Q["q_join_salted"](spark, SF_DIR))
    assert "ShuffledHashJoin" in plan, plan
    assert "salt" in plan, plan
    assert "BroadcastHashJoin" not in plan, plan


def test_stream_enrich_broadcasts_dim(spark):
    plan = plan_text(Q["q_stream_enrich"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan


def test_dedup_plans_have_no_allpairs_join(spark):
    """No graded dedup plan may generate candidates with a theta-only
    (cartesian / nested-loop) self-join over row-level data — candidates
    must come from equi joins on prefix/band/chunk keys (neardup, ngram,
    minhash, simhash, clusters) or the blocked-GEMM pass (embed), whose
    only nested-loop join is over the tiny block-level relation."""
    for key in ["q_dedup_neardup", "q_dedup_ngram", "q_dedup_clusters",
                "q_dedup_minhash", "q_dedup_simhash", "q_split_dedup_safe"]:
        plan = plan_text(Q[key](spark, SF_DIR))
        assert "CartesianProduct" not in plan, key
        assert "BroadcastNestedLoopJoin" not in plan, key


def test_prefix_candidates_join_on_token_key(spark):
    """The prefix-filter candidate join must be a hash/sort-merge EQUI
    join (keys include the token hash), not a filtered cross product."""
    plan = plan_text(Q["q_dedup_neardup"](spark, SF_DIR))
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan), plan


def test_incremental_dedup_is_equi_not_allpairs(spark):
    """q_dedup_incremental reuses the prefix filter with a corpus-x-
    incoming pair predicate — still no cartesian/nested-loop stage."""
    plan = plan_text(Q["q_dedup_incremental"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan), plan


def test_decontaminate_broadcasts_benchmark_side(spark):
    """The benchmark shingle set (tiny vs the corpus) must join as a
    broadcast — the corpus is never shuffled on the shingle string."""
    plan = plan_text(Q["q_decontaminate"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan


def test_mix_sample_broadcasts_rate_table(spark):
    """Per-source acceptance thresholds (20 rows) must broadcast; the
    accept decision itself is a per-row hash compare."""
    plan = plan_text(Q["q_mix_sample"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan


def test_bucketed_join_has_no_join_exchange(spark):
    """q_join_bucketed: both scans read Bucketed and the SortMergeJoin
    consumes them WITHOUT an Exchange — the only shuffle left is the
    final groupBy. A regression here re-introduces the fact x fact
    shuffle the bucketed layout exists to remove."""
    plan = plan_text(Q["q_join_bucketed"](spark, SF_DIR))
    assert "SortMergeJoin" in plan, plan
    assert plan.count("Bucketed: true") >= 2, plan
    # exactly one Exchange NODE in the whole plan: the groupBy, never the
    # join ("(n) Exchange" is the node header; BroadcastExchange differs)
    assert len(re.findall(r"\) Exchange\b", plan)) == 1, plan


def test_kmeans_assignment_is_shuffle_free(spark):
    """The returned k-means assignment stage is a pure map over the
    cached integer-grid vectors (codebook inlined as literals): any
    Exchange here means assignment regressed to a join/agg. (The cached
    relation internally holds table_parallel's one-off repartition;
    everything ABOVE the InMemoryTableScan must be map-only.)"""
    plan = plan_text(Q["q_kmeans"](spark, SF_DIR))
    outer_tree = plan.split("InMemoryTableScan", 1)[0]
    assert "Exchange" not in outer_tree, plan
    assert "Join" not in outer_tree and "Aggregate" not in outer_tree, plan


def test_tfidf_broadcasts_df_and_n(spark):
    """Vocab-sized df table and the 1-row corpus count must broadcast
    back onto the tf table — the corpus-sized side never re-shuffles
    on the token string."""
    plan = plan_text(Q["q_tfidf"](spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 1, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan


def test_cms_probe_joins_broadcast(spark):
    """The CMS estimate stage joins a 20x4 probe table and the 1024-row
    sketch — both must broadcast; any sort-merge here means the
    vocab-sized table is being shuffled for a constant-size lookup."""
    plan = plan_text(Q["q_sketch_cms"](spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_anomaly_stats_broadcast_back(spark):
    """The 5-row per-type stats table must broadcast onto the events
    scan — shuffling 100 TB of events against 5 rows is the classic
    inverted join."""
    plan = plan_text(Q["q_anomaly_zscore"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_bm25_prunes_topk_window(spark):
    """Per-doc top-3 must use the group-limit pruning path (Spark 3.5+
    WindowGroupLimit) so the rank-filter never materializes the full
    scored set per partition."""
    plan = plan_text(Q["q_bm25"](spark, SF_DIR))
    assert "WindowGroupLimit" in plan, plan
    assert plan.count("BroadcastHashJoin") >= 1, plan


def test_embed_project_is_scan_side(spark):
    """Signed projection is pure per-row HOF work: no shuffle beyond the
    deliberate scan repartition, no Python, no join."""
    plan = plan_text(Q["q_embed_project"](spark, SF_DIR))
    assert "Join" not in plan, plan
    assert not re.search(r"BatchEvalPython|ArrowEvalPython", plan), plan


def test_hll_has_partial_and_merge_agg(spark):
    """HLL sketches must build partial per-(type, day) state map-side
    and merge — the mergeable-sketch shape (ObjectHashAggregate carries
    the sketch buffers)."""
    plan = plan_text(Q["q_sketch_hll"](spark, SF_DIR))
    assert "ObjectHashAggregate" in plan, plan


def test_cdc_changes_broadcast_onto_snapshot(spark):
    """The update join and delete anti-join must broadcast the change
    batch — the snapshot side must never shuffle."""
    plan = plan_text(Q["q_cdc_upsert"](spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan


def test_grouped_sample_prunes_topk_window(spark):
    plan = plan_text(Q["q_grouped_sample"](spark, SF_DIR))
    assert "WindowGroupLimit" in plan, plan


def test_bloom_prefilter_sits_before_semi_join(spark):
    """The bloom word-lookup joins must broadcast onto the probe BEFORE
    the exact semi join — the probe table never shuffles."""
    plan = plan_text(Q["q_join_bloom"](spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 3, plan    # 2 word lookups + semi
    assert re.search(r"BroadcastHashJoin.*LeftSemi", plan, re.S), plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan


def test_cooccur_uses_take_ordered(spark):
    """Global top-20 must prune via TakeOrderedAndProject, not a full
    sort or a global row_number over the whole pair table."""
    plan = plan_text(Q["q_cooccur"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan


def test_concurrency_prefix_sum_is_blocked(spark):
    """The cumulative sum must run as block-partitioned windows plus a
    tiny block-offset join — never one global window over all days."""
    plan = plan_text(Q["q_concurrency"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    # the day-level cumulative window must be PARTITIONED by block:
    # windowspecdefinition(block#..., day#... ASC ...) — a spec whose
    # first argument is the partition column
    assert re.search(r"windowspecdefinition\(block#\d+L, day#", plan), plan


def test_sql_entry_gets_same_physical_plan_shape(spark):
    """spark.sql text must land on the optimized shapes the DataFrame
    API gets: TakeOrderedAndProject for the LIMIT, partial+final
    aggregation, and the urgent-orders predicate pushed to the scan."""
    plan = plan_text(Q["q_sql_tpch3"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("HashAggregate") >= 2, plan
    assert re.search(r"PushedFilters: \[[^\]]*o_orderpriority", plan), plan


def test_embed_lsh_candidates_are_equi_band_join(spark):
    """q_dedup_embed_lsh: candidates come from an equi join on
    (band, band_key) — never a cartesian/nested-loop theta join over
    vec_id pairs (the q_dedup_embed GEMM tier is the only sanctioned
    n² path, and it is block-level)."""
    plan = plan_text(Q["q_dedup_embed_lsh"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert re.search(
        r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan
    ), plan


def test_embed_lsh_wide_multiprobe_is_equi_join(spark):
    """q_dedup_embed_lsh_wide: the Hamming-1 ball probe must stay an
    equi join on (band, key) — the ball expands via integer XOR on the
    already-computed key column (plan shows no second HOF signature
    fold on the probe side), and no cartesian/nested-loop stage."""
    plan = plan_text(Q["q_dedup_embed_lsh_wide"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert re.search(
        r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan
    ), plan


def test_dpp_prune_plans_dynamic_pruning(spark):
    """q_dpp_prune exists to grade dynamic partition pruning: the
    month-partitioned fact scan must carry a DynamicPruningExpression
    in its PartitionFilters (the dim's surviving months prune file
    LISTING, not just rows), closing the SURVEY §4.2 posture claim
    with plan-level evidence."""
    plan = plan_text(Q["q_dpp_prune"](spark, SF_DIR))
    assert "dynamicpruning" in plan.lower(), plan
    assert "CartesianProduct" not in plan, plan


def test_approx_tiers_have_no_exact_percentile_reduce(spark):
    """The scale-path variants must aggregate boundaries with the
    MERGEABLE approx_percentile sketch — Spark's exact percentile
    buffers every value into one final aggregation buffer, the
    documented 100 TB killer these keys exist to avoid."""
    for key in [
        "q_histogram_equidepth_approx",
        "q_rfm_approx",
        "q_mad_outliers_approx",
    ]:
        plan = plan_text(Q[key](spark, SF_DIR))
        assert "approx_percentile" in plan, key
        assert not re.search(r"(?<!approx_)percentile\(", plan), key


def test_exact_percentile_tiers_still_exact(spark):
    """The oracle twins compute their boundaries from rank-window
    ORDER STATISTICS (no FP interpolation at all): q_rfm since r13;
    q_histogram_equidepth and q_mad_outliers (integer exact-rational)
    and the trajectory keys (discrete rank-SELECTED SAX quartiles)
    since r14. Assert the rank construction and the absence of any
    exact percentile() node."""
    for key in ["q_histogram_equidepth", "q_mad_outliers", "q_rfm",
                "q_trajectory_sim", "q_trajectory_dtw"]:
        plan = plan_text(Q[key](spark, SF_DIR))
        assert "row_number()" in plan, key
        assert not re.search(r"(?<!approx_)percentile\(", plan), key


# --- round-4/5 analytics + source keys (VERDICT r4 #6) -----------------


def test_funnel_stage_filters_reach_parquet(spark):
    """Each funnel stage scans events with its event_type pushed down —
    at 100 TB the stage scans must prune at the source, not post-scan."""
    plan = plan_text(Q["q_funnel"](spark, SF_DIR))
    assert "EqualTo(event_type,view)" in plan, plan
    assert "EqualTo(event_type,click)" in plan, plan
    assert "EqualTo(event_type,purchase)" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_retention_broadcasts_first_seen(spark):
    """Cohort join: the per-user first-seen table broadcasts onto the
    distinct-activity stream (users << activity rows)."""
    plan = plan_text(Q["q_retention"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_transitions_lag_window_and_broadcast_totals(spark):
    """Markov transitions: per-user lag window, then the 5-row
    per-prev totals broadcast back onto the |types|^2 matrix."""
    plan = plan_text(Q["q_transitions"](spark, SF_DIR))
    assert "Window" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_time_rollup_reuses_cached_hour_level(spark):
    """The day level must fold the CACHED hour level (continuous-
    aggregate cascade), not re-scan raw events per union branch."""
    plan = plan_text(Q["q_time_rollup"](spark, SF_DIR))
    assert "InMemoryTableScan" in plan, plan


def test_table_checksum_is_single_scan(spark):
    """Cross-engine checksum must cost ONE scan of the table."""
    plan = plan_text(Q["q_table_checksum"](spark, SF_DIR))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan


def test_session_stats_percentile_over_session_rows(spark):
    """The scalar percentile aggregates the session-level table
    (sessions << events) after the same user_id window sessionization
    pays for; no cartesian anywhere."""
    plan = plan_text(Q["q_session_stats"](spark, SF_DIR))
    assert "Window" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_sliding_distinct_day_window_is_range_frame(spark):
    """The trailing-week sketch union must use the calendar RANGE
    frame over the day-grain table (ADVICE r4: a ROWS frame silently
    widens past 7 days on a gapped fixture)."""
    plan = plan_text(Q["q_sliding_distinct"](spark, SF_DIR))
    assert re.search(r"RangeFrame, -6", plan), plan


def test_source_json_scan_prunes_columns(spark):
    """The JSON read-back scan prunes to the aggregate's columns —
    doc_id must not survive into the reader's ReadSchema."""
    plan = plan_text(Q["q_source_json"](spark, SF_DIR))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert "doc_id" not in cols, cols
    assert {"source", "lang", "n_chars", "text"} <= cols, cols


def test_source_orc_scan_prunes_columns(spark):
    """ORC read-back prunes to (lang, n_chars) — neither doc_id nor
    the wide text column is read."""
    plan = plan_text(Q["q_source_orc"](spark, SF_DIR))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"lang", "n_chars"}, cols


def test_ngram_lm_model_joins_broadcast(spark):
    """The bigram/context count tables must attach as broadcasts (the
    model is vocabulary-sized); a shuffle join on the raw pair stream
    would re-shuffle the whole corpus per model table."""
    plan = plan_text(Q["q_ngram_lm"](spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_data_profile_two_scans_sort_free(spark):
    """The profile is TWO column-pruned scans, never a per-column rescan
    loop (6 scans) — and, the r14 point, the multi-count-distinct
    Expand pass must hash-aggregate: min(string) buffers are immutable
    and used to demote the whole 7x-expanded pass to Sort+SortAggregate
    (measured 10.9 s -> 2.1 s at sf0.1 after splitting the two string
    min/max cells into their own sort-free global aggregate). At 100 TB
    a second scan of 2 pruned columns is noise; a Sort of 7n expanded
    rows is not."""
    plan = plan_text(Q["q_data_profile"](spark, SF_DIR))
    scans = re.findall(r"\(\d+\) Scan parquet", plan)
    assert len(scans) == 2, plan
    # the heavy pass: Expand feeds HashAggregate, and no Sort anywhere
    assert "Expand" in plan, plan
    assert len(re.findall(r"\(\d+\) Sort\b", plan)) == 0, plan
    # the string-only scan is pruned to exactly the two string columns
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert any(
        set(s.split(",")[i].split(":")[0] for i in range(len(s.split(","))))
        == {"l_returnflag", "l_linestatus"}
        for s in schemas
    ), schemas


def test_data_audit_no_cartesian(spark):
    plan = plan_text(Q["q_data_audit"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_zorder_readback_pushes_both_filters(spark):
    """The box predicate must reach the clustered layout's parquet scan
    on BOTH z-order columns — that's the data-skipping contract."""
    plan = plan_text(Q["q_zorder_layout"](spark, SF_DIR))
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m, plan
    f = m.group(1)
    assert "l_partkey" in f and "l_suppkey" in f, f


def test_inverted_index_two_phase_agg(spark):
    """tf collapse (partial+final) precedes the postings fold — the
    fold's per-token state is df rows, never raw occurrences."""
    plan = plan_text(Q["q_inverted_index"](spark, SF_DIR))
    assert plan.count("HashAggregate") >= 2, plan
    assert "CartesianProduct" not in plan, plan


def test_sql_tpch10_broadcast_and_topk(spark):
    """Catalyst must broadcast the nation dim and cap the LIMIT via
    TakeOrderedAndProject — no global sort of the joined fact."""
    plan = plan_text(Q["q_sql_tpch10"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_session_paths_single_event_scan(spark):
    """event_type must ride THROUGH the sessionization shuffle (one
    events scan) — a second scan would mean a re-attach join."""
    plan = plan_text(Q["q_session_paths"](spark, SF_DIR))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_skyline_no_quadratic_join(spark):
    """The dominance test must be the two-phase prefix max — never the
    oracle's quadratic NOT EXISTS self-join."""
    plan = plan_text(Q["q_skyline"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert re.search(r"RangeFrame", plan), plan


def test_corr_matrix_single_scan(spark):
    """All 10 moment sums accumulate over ONE lineitem scan."""
    plan = plan_text(Q["q_corr_matrix"](spark, SF_DIR))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan


def test_global_rank_is_block_partitioned(spark):
    """The heavy rank must run under a block-hash partitioning (the
    two-phase decomposition), with offsets attached by broadcast — not
    one serializing global-order window."""
    plan = plan_text(Q["q_global_rank"](spark, SF_DIR))
    assert re.search(r"hashpartitioning\(block", plan), plan
    assert "BroadcastHashJoin" in plan, plan


def test_incr_mv_merges_partial_aggregates(spark):
    """The refresh must be partial-agg(base) + partial-agg(delta) merged
    by a re-aggregate over the UNION — the mergeable-partials IVM shape
    (never one flat re-aggregate of raw rows only)."""
    plan = plan_text(Q["q_incr_mv"](spark, SF_DIR))
    assert "Union" in plan, plan
    # base partial, delta partial (each partial+final), plus the merge
    assert plan.count("HashAggregate") >= 5, plan


def test_ab_test_single_scan_one_agg(spark):
    """Six moments per arm accumulate over ONE events scan; no joins."""
    plan = plan_text(Q["q_ab_test"](spark, SF_DIR))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "Join" not in plan, plan


def test_regression_multi_single_scan_one_agg(spark):
    """The 9 normal-equation moments ride one lineitem scan (the
    one-pass distributed-GEMM shape); Cramer runs on the 1-row agg."""
    plan = plan_text(Q["q_regression_multi"](spark, SF_DIR))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "Join" not in plan, plan


def test_pagerank_iterations_reuse_cached_edges(spark):
    """Each of the 3 iterations joins the cached (src, dst, deg) edge
    table — the raw lineitem scan must not re-run per iteration, and no
    iteration may degrade to a cartesian/nested-loop join."""
    plan = plan_text(Q["q_pagerank"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("InMemoryTableScan") >= 3, plan


def test_pagerank_window_degree_and_closed_form_first_round(spark):
    """The out-degree is a window count over src (no groupBy joined
    back to the edges) and round 1 needs no join (every src starts at
    RANK_UNIT, so its contributions are RANK_UNIT div d): the only
    equi-joins left are rounds 2 and 3. Fails on the join-per-round
    form (four joins, no Window)."""
    plan = plan_text(Q["q_pagerank"](spark, SF_DIR))
    assert re.search(r"\(\d+\) Window\b", plan), plan
    joins = set(re.findall(
        r"\((\d+)\) (?:SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)\b",
        plan,
    ))
    assert len(joins) == 2, plan


def test_dedup_chunks_digest_join_no_cartesian(spark):
    """Chunk frequency must be an equi join on the md5 digest — never a
    quadratic pairing; both agg phases keep map-side partials."""
    plan = plan_text(Q["q_dedup_chunks"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("HashAggregate") >= 4, plan
    assert "md5" in plan, plan


def test_anonymize_suppression_filter_broadcasts(spark):
    """The k-anonymity cell census is tiny and must broadcast back onto
    the event scan (no wide shuffle of the release table)."""
    plan = plan_text(Q["q_anonymize"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan


def test_sql_tpch5_broadcasts_dims(spark):
    """Region/nation/supplier must broadcast; only fact-side exchanges
    remain wide."""
    plan = plan_text(Q["q_sql_tpch5"](spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "CartesianProduct" not in plan, plan


def test_sql_recursive_executes_as_joins(spark):
    """The recursion must compile to per-level equi joins — no
    cartesian/nested-loop fallback."""
    plan = plan_text(Q["q_sql_recursive"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_interval_outer_join_is_hash_on_user(spark):
    """The outer interval join must hash on the user_id equi key with
    the time bounds as residuals — no nested-loop fallback."""
    plan = plan_text(Q["q_join_interval_outer"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan), plan


def test_ewma_single_user_shuffle(spark):
    """The 8 lag terms must ride ONE user_id window partitioning (no
    per-term exchanges)."""
    plan = plan_text(Q["q_ewma"](spark, SF_DIR))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert len(re.findall(r"hashpartitioning\(user_id", plan)) >= 1, plan
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1, plan


def test_debounce_is_window_plus_filter(spark):
    plan = plan_text(Q["q_debounce"](spark, SF_DIR))
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1, plan
    assert "Join" not in plan, plan


def test_seq_pattern_steps_are_hash_joins(spark):
    """Each pattern step must hash-join on user_id (time residuals) —
    no nested-loop chain."""
    plan = plan_text(Q["q_seq_pattern"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_sample_weighted_uses_window_group_limit(spark):
    """Top-k per source must keep k rows per partition before the merge
    (WindowGroupLimit), not sort whole groups."""
    plan = plan_text(Q["q_sample_weighted"](spark, SF_DIR))
    assert "WindowGroupLimit" in plan, plan


def test_scd2_pit_join_is_equi_on_entity(spark):
    """The point-in-time join must hash on the entity key with the
    interval containment as a residual — no nested-loop temporal scan."""
    plan = plan_text(Q["q_scd2_pit"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_percentile_select_avoids_full_global_sort(spark):
    """The raw data must only be ranked INSIDE the covering buckets
    (bucket-partitioned window, broadcast candidate filter) — the only
    single-partition work is over the domain-bounded bucket table."""
    plan = plan_text(Q["q_percentile_select"](spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert re.search(r"hashpartitioning\(bucket", plan), plan


def test_fuzzy_join_is_equi_on_deletion_keys(spark):
    """Candidates must come from the deletion-key equi join — never a
    similarity cross product."""
    plan = plan_text(Q["q_join_fuzzy"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan), plan


def test_triangle_count_no_cartesian(spark):
    """Wedge and closing joins must be equi joins on vertex keys; the
    only nested-loop allowed is the final 1-row x 1-row scalar attach
    (triangle count x edge count)."""
    plan = plan_text(Q["q_triangle_count"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) <= 1, plan
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan), plan


def test_anomaly_rolling_single_window(spark):
    """The three accumulators ride ONE event_type window pass."""
    plan = plan_text(Q["q_anomaly_rolling"](spark, SF_DIR))
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1, plan
    assert "Join" not in plan, plan


def test_interval_coalesce_one_user_shuffle(spark):
    """Break-flag, group-id, and merge must all ride the single user_id
    partitioning — one exchange, no joins."""
    plan = plan_text(Q["q_interval_coalesce"](spark, SF_DIR))
    assert "Join" not in plan, plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2, plan


def test_mad_broadcasts_both_stat_tables(spark):
    """Median and MAD tables (5 rows each) must broadcast back onto
    the event scan — no wide shuffles of the fact side."""
    plan = plan_text(Q["q_mad_outliers"](spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_phash_candidates_are_banded_equi_join(spark):
    """Perceptual-hash candidates must come from the (band_idx,
    band_value) equi join — never an all-pairs signature comparison."""
    plan = plan_text(Q["q_dedup_phash"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan), plan


def test_pipeline_e2e_three_shuffles(spark):
    """The composed pipeline must cost exactly its stages: dedup
    groupBy, per-lang packing window, final rollup — <=4 exchanges
    (incl. table_parallel's scan repartition), no joins."""
    plan = plan_text(Q["q_pipeline_e2e"](spark, SF_DIR))
    assert "Join" not in plan, plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 4, plan


def test_nested_source_prunes_struct_leaf(spark):
    """The read-back scan must carry only the touched nested leaf
    (meta.k) in ReadSchema — meta.v stays on disk."""
    plan = plan_text(Q["q_source_nested"](spark, SF_DIR))
    m = re.search(r"ReadSchema: (.*)", plan)
    assert m, plan
    rs = m.group(1)
    assert "k:" in rs and "v:" not in rs, rs


def test_trajectory_candidates_are_positional_gram_join(spark):
    """SAX similarity candidates must come from the (pos, gram) equi
    join — never all-pairs word comparison."""
    plan = plan_text(Q["q_trajectory_sim"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    # nested-loop nodes must all be the 1-row alphabet-bounds CROSS
    # attach (it prints once more after the words cache materializes);
    # any CONDITIONED nested loop would mean the candidate join
    # degenerated
    for m in re.finditer(r"\(\d+\) BroadcastNestedLoopJoin.*\n(Join type: [^\n]*)\n(Join condition: [^\n]*)", plan):
        assert m.group(1) == "Join type: Cross", plan
        assert m.group(2) == "Join condition: None", plan
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan), plan


def test_sql_tpch18_decorrelates_having_subquery(spark):
    """The IN (... GROUP BY ... HAVING ...) subquery must compile to an
    aggregate + LeftSemi join, never a per-row re-scan."""
    plan = plan_text(Q["q_sql_tpch18"](spark, SF_DIR))
    assert re.search(r"LeftSemi", plan), plan
    assert "CartesianProduct" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_spatial_join_is_cell_blocked(spark):
    """Spatial candidates must come from the cell-id equi join (3x3
    neighbor explosion on the store side) — never an all-pairs
    distance scan."""
    plan = plan_text(Q["q_join_spatial"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan), plan


def test_knn_incremental_uses_window_group_limit(spark):
    """Both partition top-ks and the merge re-rank must keep k rows per
    partition (WindowGroupLimit) — no global sorts."""
    plan = plan_text(Q["q_knn_incremental"](spark, SF_DIR))
    assert plan.count("WindowGroupLimit") >= 2, plan
    assert "CartesianProduct" not in plan, plan


# --- round-6 additions ---------------------------------------------------


def test_dedup_substring_no_cartesian(spark):
    """The duplicated-span census must flag occurrences via an equi
    join on the shingle key — any nested-loop/cartesian means the
    candidate structure collapsed."""
    plan = plan_text(Q["q_dedup_substring"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert re.search(
        r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan
    ), plan


def test_tpch19_pushes_disjunction_into_scans(spark):
    """Q19's OR-of-ANDs must reach the parquet scans: the part side
    carries the brand/size terms, the lineitem side the quantity
    bounds — post-join filtering would scan both tables in full at
    100 TB."""
    plan = plan_text(Q["q_sql_tpch19"](spark, SF_DIR))
    m = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    joined = " ".join(m)
    assert "Or(" in joined, plan
    assert "p_brand" in joined and "l_quantity" in joined, plan


def test_topic_terms_marginals_broadcast(spark):
    """PMI's word/lang marginals and the total are vocabulary-scale —
    they must attach as broadcasts, never reshuffling the token
    stream."""
    plan = plan_text(Q["q_topic_terms"](spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "CartesianProduct" not in plan, plan


def test_win_distribution_single_type_sort(spark):
    """All three window frames (rank, running count, partition count)
    must share one event_type partitioning — a second Exchange would
    mean the frames diverged."""
    plan = plan_text(Q["q_win_distribution"](spark, SF_DIR))
    n_exchange = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchange <= 2, plan  # one shuffle tree + AQE reuse


def test_changepoint_collapses_before_window(spark):
    """The CUSUM scan must aggregate the corpus to the daily series
    BEFORE any window — a window over raw events would single-task
    sort the corpus."""
    plan = plan_text(Q["q_changepoint"](spark, SF_DIR))
    agg_pos = plan.find("HashAggregate")
    win_pos = plan.find("Window")
    assert agg_pos != -1 and win_pos != -1, plan


def test_tpch13_outer_join_preserved(spark):
    """Q13's ON-clause order filter must NOT collapse the LEFT join to
    inner (the null-preservation trap the key grades): zero-order
    customers have to survive into the c_count=0 bucket."""
    plan = plan_text(Q["q_sql_tpch13"](spark, SF_DIR))
    assert re.search(r"LeftOuter|RightOuter", plan), plan


def test_tpch21_decorrelates_to_semi_and_anti(spark):
    """Q21's correlated EXISTS and NOT EXISTS over the fact table must
    compile to one LeftSemi and one LeftAnti hash join on orderkey —
    a per-row re-scan is O(n^2) fact scans at 100 TB."""
    plan = plan_text(Q["q_sql_tpch21"](spark, SF_DIR))
    assert re.search(r"LeftSemi", plan), plan
    assert re.search(r"LeftAnti", plan), plan
    assert "CartesianProduct" not in plan, plan


def test_tpch22_null_aware_anti_join(spark):
    """Q22's NOT IN must plan as an anti join (null-aware), and the two
    scalar aggregates must evaluate as subqueries, not re-scans."""
    plan = plan_text(Q["q_sql_tpch22"](spark, SF_DIR))
    assert re.search(r"LeftAnti", plan), plan
    assert "CartesianProduct" not in plan, plan


def test_market_basket_take_ordered_and_apriori(spark):
    """The rule top-k must ride TakeOrderedAndProject (never a global
    unpartitioned row_number window), and the a-priori item prefilter
    must appear as a semi join before the pair self-join."""
    plan = plan_text(Q["q_market_basket"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan
    assert re.search(r"LeftSemi", plan), plan
    assert "CartesianProduct" not in plan, plan


def test_survival_no_user_scale_expansion(spark):
    """The survival curve must ride the lifetime-day histogram +
    reverse cumulative sum — the only nested-loop join allowed is the
    1-row n_users attach, never a |days| x |users| expansion."""
    plan = plan_text(Q["q_survival"](spark, SF_DIR))
    n_bnlj = len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan))
    assert n_bnlj <= 1, plan
    # the histogram collapse must happen before the window
    agg_pos = plan.find("HashAggregate")
    win_pos = plan.find("Window")
    assert agg_pos != -1 and win_pos != -1, plan


def test_tpch4_collapses_fact_before_join(spark):
    """Q4's uniform-threshold EXISTS is aggregate-reduced: the lineitem
    side must collapse to a per-order MAX (map-side partial agg) before
    the join — no fact x fact semi join remains."""
    plan = plan_text(Q["q_sql_tpch4"](spark, SF_DIR))
    assert "LeftSemi" not in plan, plan
    agg_pos = plan.find("HashAggregate")
    join_pos = max(plan.find("BroadcastHashJoin"), plan.find("SortMergeJoin"))
    assert agg_pos != -1 and join_pos != -1, plan


def test_degree_dist_no_mirrored_edge_shuffle(spark):
    """Degree counting must dedup (part,supp) as map-side partial
    aggregation per endpoint — never materialize + mirror + re-shuffle
    the 2|E| edge list (the round-6 probe's 2.50x spot)."""
    plan = plan_text(Q["q_degree_dist"](spark, SF_DIR))
    n_exchange = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchange <= 5, plan
    assert "CartesianProduct" not in plan, plan


def test_tpch1_partial_aggregation(spark):
    """Q1 must map-side combine: partial + final HashAggregate, no
    join, all measures reduced before the single shuffle."""
    plan = plan_text(Q["q_sql_tpch1"](spark, SF_DIR))
    assert plan.count("HashAggregate") >= 2, plan
    assert "Join" not in plan, plan


def test_tpch6_filters_reach_scan(spark):
    """Q6's predicates must push into the parquet scan."""
    plan = plan_text(Q["q_sql_tpch6"](spark, SF_DIR))
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "LessThan(l_quantity" in m.group(1), plan
    assert "Join" not in plan, plan


def test_tpch_correlated_aggregates_decorrelate(spark):
    """Q2 (correlated scalar MIN), Q17 (two correlated scalar aggs)
    and Q20 (IN + correlated SUM/COUNT over the pair CTE) must all
    flatten to aggregate + equi joins — never per-row re-scans."""
    for key in ("q_sql_tpch2", "q_sql_tpch17", "q_sql_tpch20"):
        plan = plan_text(Q[key](spark, SF_DIR))
        assert "CartesianProduct" not in plan, key
        assert "BroadcastNestedLoopJoin" not in plan, key
        assert "HashAggregate" in plan, key


def test_tpch20_semi_joins(spark):
    plan = plan_text(Q["q_sql_tpch20"](spark, SF_DIR))
    assert re.search(r"LeftSemi", plan), plan


def test_tpch16_not_in_is_anti_join(spark):
    plan = plan_text(Q["q_sql_tpch16"](spark, SF_DIR))
    assert re.search(r"LeftAnti", plan), plan
    assert "CartesianProduct" not in plan, plan


def test_tpch9_broadcasts_dims(spark):
    plan = plan_text(Q["q_sql_tpch9"](spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_attribution_interval_join_shape(spark):
    """The lookback attribution must ride an equi join on user_id with
    the time bounds as residuals — never a cartesian/nested-loop."""
    plan = plan_text(Q["q_attribution"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan), plan


def test_period_over_period_aggregates_before_window(spark):
    """The corpus must collapse to |months| rows BEFORE the lag window
    (the q_survival constant-size-window discipline)."""
    plan = plan_text(Q["q_period_over_period"](spark, SF_DIR))
    agg_pos = plan.find("HashAggregate")
    win_pos = plan.find("Window")
    assert agg_pos != -1 and win_pos != -1, plan


def test_cohort_ltv_cohort_attach_is_equi_join(spark):
    """The per-user cohort attach is an UNHINTED equi join on user_id
    (ADVICE r7: the build side is per-user and grows with the corpus,
    so no pinned broadcast — AQE picks broadcast at fixture scale,
    shuffle at 100 TB); the cumsum window runs on the
    |cohorts| x |ages| cell grid, not raw events."""
    plan = plan_text(Q["q_cohort_ltv"](spark, SF_DIR))
    assert re.search(
        r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan
    ), plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_debounce_anchor_secondary_sort_shape(spark):
    """The anchor debounce must be ONE shuffle (the repartition on
    (user, type)) + partition-local sort + mapInPandas — no extra
    exchange, no per-group FlatMapGroupsInPandas."""
    plan = plan_text(Q["q_debounce_anchor"](spark, SF_DIR))
    n_exchange = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchange == 1, plan
    assert "MapInPandas" in plan, plan
    assert "FlatMapGroupsInPandas" not in plan, plan


def test_dedup_containment_prefix_equi_join(spark):
    """Containment candidates must come from an equi join on the gram
    hash (probe prefix x full-token index) — no cartesian/nested-loop
    stage anywhere in the plan."""
    plan = plan_text(Q["q_dedup_containment"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan), plan
    # the PPJoin positional suffix bound must survive into the physical
    # plan (it is the pre-shuffle instance prune): least(sz_a - pa, ...)
    assert re.search(r"least\(", plan), plan


def test_dedup_containment_shingle_prefix_equi_join(spark):
    """The word-shingle containment tier must keep the identical plan
    discipline as its char-gram sibling: equi join on the shingle hash,
    no cartesian/nested-loop stage, positional prune in the plan."""
    plan = plan_text(Q["q_dedup_containment_shingle"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan), plan
    assert re.search(r"least\(", plan), plan


def test_dedup_containment_2stage_prefix_equi_join(spark):
    """The two-stage composition must keep its plan discipline end to
    end: stage 1 is the exact inverted-index COUNT form (r15 — equi
    self-join on the hashed shingle, COUNT(*) per pair aggregate,
    NO array attach), stage 2 a hash-join char-gram re-score — no
    cartesian/nested-loop stage anywhere."""
    plan = plan_text(Q["q_dedup_containment_2stage"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan), plan
    # stage 1: pair-count aggregate grouped on the id pair (formatted
    # plans put grouping keys on their own "Keys [2]: [...]" line)
    assert re.search(r"Keys \[2\]: \[id_a#\d+L?, id_b#\d+L?\]", plan), plan
    # stage 2: exact char-gram intersect still present
    assert "array_intersect" in plan, plan


def test_experiment_moment_keys_single_scan(spark):
    """srm / qte / rolling_corr collapse to integer moments in ONE
    events scan with no join anywhere in the plan."""
    for key in ["q_srm_check", "q_qte", "q_rolling_corr"]:
        plan = plan_text(Q[key](spark, SF_DIR))
        assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, key
        assert "Join" not in plan, key


def test_cuped_did_scan_and_join_budget(spark):
    """diff_in_diff pays one full scan plus the ts-only cutoff scan
    and exactly one 1-row broadcast crossJoin. cuped's static plan
    duplicates the shared per-user subtree across its two consumers
    (global + per-arm moments), but the duplicated exchange is
    canonical-identical, so AQE computes it ONCE — assert the runtime
    ReusedExchange directly (the property that matters at 100 TB)."""
    plan = plan_text(Q["q_diff_in_diff"](spark, SF_DIR))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2, plan
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) == 1, plan
    assert "SortMergeJoin" not in plan, plan

    cuped = Q["q_cuped"](spark, SF_DIR)
    plan = plan_text(cuped)
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    cuped.collect()
    executed = cuped._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in executed, executed


def test_target_encode_single_scan_unhinted_attach(spark):
    """q_target_encode must be ONE fact scan: the per-customer attach
    is an UNHINTED equi join (the map grows with the corpus — AQE
    broadcasts at fixture scale, shuffles at 100 TB; the q_cohort_ltv
    rule), partial+final aggregate into |categories| rows, and global
    totals from an empty-partition window over those rows — a second
    orders scan (the naive totals crossJoin) is the anti-shape."""
    plan = plan_text(Q["q_target_encode"](spark, SF_DIR))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2, plan  # orders + customer, once each
    assert re.search(
        r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan
    ), plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_link_predict_equi_joins_and_takeordered(spark):
    """q_link_predict: degree and brand attach as UNHINTED equi joins
    (the q_cohort_ltv rule — both tables grow with the corpus, so AQE
    picks broadcast at fixture scale and shuffle at 100 TB; no pinned
    build side), candidates from the (supplier, brand) equi self-join
    (never a cartesian), and the top-k lands as TakeOrderedAndProject
    (no global sort materialization)."""
    plan = plan_text(Q["q_link_predict"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert re.search(
        r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan
    ), plan


def test_holt_forecast_preaggregates_before_pandas(spark):
    """q_holt_forecast must collapse the fact to |entities| x days rows
    with a partial+final HashAggregate BEFORE the Arrow-grouped fold —
    the pandas stage seeing raw events (not daily aggregates) would
    ship the whole fact through Python at 100 TB."""
    plan = plan_text(Q["q_holt_forecast"](spark, SF_DIR))
    assert len(re.findall(r"\(\d+\) FlatMapGroupsInPandas", plan)) == 1, plan
    assert "partial_count" in plan, plan
    # exactly the daily partial+final pair — the pandas fold consumes
    # the |entities| x days aggregate, never the raw scan
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) == 2, plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan


def test_join_nullsafe_is_real_equi_join(spark):
    """q_join_nullsafe: Catalyst must plan the EqualNullSafe key as a
    regular hash/sort-merge join (null-coalesced key), never a nested
    loop — the semantics must be free at scale."""
    plan = plan_text(Q["q_join_nullsafe"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert re.search(
        r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan
    ), plan


def test_container_sources_are_binaryfile_plus_arrow(spark):
    """The container sources (avro/warc/tar) must read as ONE
    binaryFile scan fanned out through an Arrow mapInPandas decode,
    with the post-extract aggregate JVM-side — the file-granular
    scaling model their scale notes claim."""
    for key in ("q_source_avro", "q_source_warc", "q_source_archive"):
        plan = plan_text(Q[key](spark, SF_DIR), mode="simple")
        assert "binaryFile" in plan, (key, plan)
        assert "MapInPandas" in plan, (key, plan)
        assert "HashAggregate" in plan, (key, plan)
        assert "CartesianProduct" not in plan, (key, plan)


def test_trajectory_dtw_shares_cached_seg(spark):
    """q_trajectory_dtw consumes the PAA seg table twice (words subtree
    + series branch): both reads must hit the cache, and the candidate
    join stays an equi join."""
    plan = plan_text(Q["q_trajectory_dtw"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    # node-header count, never bare substring count (formatted plans
    # print each node twice — CLAUDE.md round-5 lesson)
    assert len(re.findall(r"\(\d+\) InMemoryTableScan", plan)) >= 2, plan


def test_dtw_radius_candidates_are_bucket_equi_join(spark):
    """q_trajectory_dtw_radius must generate candidates via the bucket
    EQUI join (+-1 probe explode), never an all-pairs theta join: the
    only nested-loop joins allowed are the 1-row scalar broadcasts
    (tau/gmin crossJoin) — one per consumer side of the uncached fs
    projection, so at most 2 — and the PAIR join itself must be a hash
    or sort-merge equi join."""
    plan = plan_text(Q["q_trajectory_dtw_radius"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) <= 2, plan
    assert re.search(
        r"\(\d+\) (BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)", plan
    ), plan
