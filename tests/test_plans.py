"""Physical-plan assertions (SURVEY.md §7 M7): the 100 TB posture is only
real if the plans show it. These tests pin the properties that matter at
scale — predicate pushdown into the parquet scan, column pruning, broadcast
joins for bounded dims, map-side partial aggregation, and top-k that never
performs a global sort — so a refactor that silently regresses one of them
fails CI, not the cluster.
"""

from __future__ import annotations

import re

import pytest

from cloud2sql_spark.registry import queries

_QUERIES = queries()


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_scan_pushdown_and_pruning(spark, sf_dir):
    plan = _physical(_QUERIES["scan_parquet_pruned"](spark, sf_dir))
    assert "PushedFilters: [" in plan
    # at least one real pushed predicate, not an empty list
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert pushed.strip(), f"no predicates pushed: {plan}"
    # projection pruned to a strict subset of lineitem's 16 columns
    schema = plan.split("ReadSchema: struct<", 1)[1].split(">", 1)[0]
    assert 0 < len(schema.split(",")) < 16, schema


def test_filter_reaches_scan(spark, sf_dir):
    plan = _physical(_QUERIES["filter_comparison"](spark, sf_dir))
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert pushed.strip(), f"comparison filter not pushed: {plan}"


def test_dim_join_broadcasts(spark, sf_dir):
    plan = _physical(_QUERIES["join_broadcast_dim"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan


def test_star_join_broadcasts_all_dims(spark, sf_dir):
    # lineitem⋈orders⋈customer⋈nation⋈region: every dim side is bounded and
    # must broadcast — a shuffle of the fact table per dim would dominate at
    # 100 TB. orders⋈lineitem may legitimately shuffle (both are facts).
    plan = _physical(_QUERIES["join_multiway_star"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_groupby_has_partial_aggregation(spark, sf_dir):
    # partial (map-side) + final HashAggregate pair: the shuffle carries
    # one row per group per task, not one row per input row
    plan = _physical(_QUERIES["agg_groupby"](spark, sf_dir))
    assert plan.count("HashAggregate") >= 2, plan


def test_topk_avoids_global_sort(spark, sf_dir):
    plan = _physical(_QUERIES["limit_topk"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan


def test_whole_stage_codegen_on_flagship(spark, sf_dir):
    # codegen spans only materialize in the final AQE plan — execute first.
    # '*(n)' prefixes mark WholeStageCodegen stages; the scan→filter→project→
    # partial-agg pipeline must be inside one.
    df = _QUERIES["agg_groupby"](spark, sf_dir)
    df.collect()
    plan = _physical(df)
    assert "isFinalPlan=true" in plan, plan
    assert "*(" in plan, plan


def test_bucketed_join_is_colocated(spark, sf_dir):
    # both sides written bucketed on the join key: the sort-merge join must
    # read co-located buckets with NO shuffle on either input — the
    # pay-layout-once, never-reshuffle-the-fact-table pattern
    plan = _physical(_QUERIES["sink_bucketed_join"](spark, sf_dir))
    assert plan.count("Bucketed: true") == 2, plan
    join_subtree = plan.split("SortMergeJoin", 1)[1]
    assert "Exchange" not in join_subtree, join_subtree


@pytest.mark.parametrize(
    "key",
    [
        "agg_groupby",
        "join_multiway_star",
        "win_row_number",
        "dedup_exact",
        "sim_search_topk",
    ],
)
def test_no_cartesian_in_keyed_queries(key, spark, sf_dir):
    # queries with equi-join/group semantics must never fall back to a
    # cartesian product (the death sentence at scale)
    plan = _physical(_QUERIES[key](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan


def test_grouped_map_has_no_giant_groups(spark, sf_dir):
    # VERDICT r1: applyInPandas over l_returnflag alone materializes 1/3 of
    # the table per pandas task. The salted formulation must keep every
    # group below ~1/100 of the input.
    from pyspark.sql import functions as F

    from cloud2sql_spark.catalog import load_table
    from cloud2sql_spark.queries.udx import _grouped_map_salt

    salt = _grouped_map_salt(spark)
    total = load_table(spark, sf_dir, "lineitem").count()
    sizes = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag", F.pmod("l_orderkey", F.lit(salt)).alias("salt"))
        .count()
        .agg(F.max("count").alias("mx"))
        .collect()[0]["mx"]
    )
    # bound: mean group size total/(3*salt) with a 4x imbalance allowance
    # (salt is scale-adaptive since r14, so the bound derives from it)
    assert sizes <= max(4 * total / (3 * salt), 50), (sizes, total, salt)
    # and the operator still runs through applyInPandas
    plan = _QUERIES["udf_grouped_map"](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan, plan


def test_contamination_broadcasts_eval_index(spark, sf_dir):
    # the eval shingle index is bounded (held-out set); the 100 TB train
    # side must stream past it map-side, never shuffle for the join
    plan = _physical(_QUERIES["text_contamination"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan


def test_pii_redact_stays_in_codegen(spark, sf_dir):
    # regex redaction is pure column expressions: no exchange at all and
    # no Python evaluation — one codegen'd scan-project
    plan = _physical(_QUERIES["text_pii_redact"](spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "Python" not in plan, plan
    # "*(1)" marks a WholeStageCodegen stage in executedPlan().toString()
    assert "*(1)" in plan, plan


def test_pack_sequences_single_window_shuffle(spark, sf_dir):
    # one keyed exchange for the per-lang window; a second shuffle would
    # mean the prefix sum re-partitions the packed shards
    plan = _physical(_QUERIES["pack_sequences"](spark, sf_dir))
    assert plan.count("Exchange") == 1, plan


def test_sample_stratified_single_window_shuffle(spark, sf_dir):
    # rank + stratum count share ONE (lang, source) window partitioning
    plan = _physical(_QUERIES["sample_stratified"](spark, sf_dir))
    assert plan.count("Exchange") == 1, plan


def test_exists_rewrites_to_semi_join(spark, sf_dir):
    # Catalyst's RewritePredicateSubquery: EXISTS must become a semi join
    # (broadcast here — orders' key column is the build side), never a
    # full join + dedup
    plan = _physical(_QUERIES["subquery_exists"](spark, sf_dir))
    assert "LeftSemi" in plan, plan


def test_scalar_subquery_prunes_and_broadcasts(spark, sf_dir):
    # the subquery scan must read ONLY o_totalprice (pruned), and the
    # threshold comparison must appear in the outer scan's data filters
    plan = _physical(_QUERIES["subquery_scalar"](spark, sf_dir))
    assert "Subquery subquery" in plan, plan
    assert "ReadSchema: struct<o_totalprice:double>" in plan, plan


def test_bloom_pruned_join_uses_shuffle_hash(spark, sf_dir):
    """join_bloom_pruned: the filtered dim must build a hash side (no
    sort-merge sort on the fact), and the brand predicate must reach the
    part scan so the runtime-filter creation side is small."""
    plan = _physical(_QUERIES["join_bloom_pruned"](spark, sf_dir))
    assert "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "Brand#23" in plan, f"brand filter not pushed: {plan}"


def test_anomaly_zscore_broadcasts_stats(spark, sf_dir):
    """events_anomaly_zscore: the |event_types|-row stats side must
    broadcast — the fact table never shuffles on the join key."""
    plan = _physical(_QUERIES["events_anomaly_zscore"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan


def test_mixture_quota_broadcasts(spark, sf_dir):
    """sample_mixture: the |langs|-row quota table must broadcast onto the
    ranked stream (window shuffle is the only fact-side exchange)."""
    plan = _physical(_QUERIES["sample_mixture"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan


@pytest.mark.parametrize(
    "key",
    [
        "events_rolling_dau",
        "join_interval_overlap",
        "events_path_transitions",
        "text_top_ngrams",
        "dedup_prefix_norm",
    ],
)
def test_round3_keyed_queries_avoid_cartesian(key, spark, sf_dir):
    """The fan-out/binned round-3 operators must stay on equality joins:
    rolling DAU (sequence-explode + equi-join), interval overlap (hour
    bins), and the rest are keyed shuffles end to end.
    (embed_kmeans_assign is exempt by design: scoring against k=8
    broadcast centroids IS a bounded-side cross join.)"""
    plan = _physical(_QUERIES[key](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_partitioned_sink_read_prunes_partitions(spark, sf_dir):
    """sink_partitioned_pruned: the day filter must become a
    PartitionFilter on the read (listing-phase pruning), never a row-level
    scan filter over all days."""
    plan = _physical(_QUERIES["sink_partitioned_pruned"](spark, sf_dir))
    assert "PartitionFilters: [" in plan
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "day" in pf, f"day filter not pruning partitions: {plan}"


def test_curate_pipeline_pushes_quality_gate(spark, sf_dir):
    """pipeline_curate_pack: the n_chars quality floor must reach the
    parquet scan — the cheapest stage of the pipeline prunes first."""
    plan = _physical(_QUERIES["pipeline_curate_pack"](spark, sf_dir))
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "n_chars" in pushed, f"quality gate not pushed: {plan}"


def test_sessionize_single_shuffle(spark, sf_dir):
    """events_sessionize: lag + running-sum windows share one
    (user_id, ts, event_id) spec and the grouped session agg clusters on
    (user_id, sess_idx) — satisfied by the window's user_id hash
    partitioning (subset rule), so the whole operator is ONE Exchange and
    ONE Sort with stacked Window operators."""
    plan = _physical(_QUERIES["events_sessionize"](spark, sf_dir))
    assert plan.count("Exchange") == 1, plan
    assert plan.count("Window") == 2, plan


@pytest.mark.parametrize(
    "key",
    [
        "join_range_bucketed",
        "dedup_containment",
        "embed_pq_codebook",
        "join_fuzzy_edit",
        "join_spatial_grid",
        "join_null_safe",
        "events_daily_fill",
        "events_streaks",
        "events_attribution",
        "cdc_apply_upserts",
        "text_chunk_split",
        "text_lm_score",
    ],
)
def test_round4_keyed_queries_avoid_cartesian(key, spark, sf_dir):
    """Round-4 operators with join/fan-out semantics stay on equality
    joins: range-bucketed and spatial joins probe exact cells/buckets,
    fuzzy matching blocks on a token key, densification joins on (user,
    day). text_lm_score's corpus-total is a 1-row broadcast scalar — a
    nested-loop by definition but bounded at one row, so only the
    cartesian assertion applies to it."""
    plan = _physical(_QUERIES[key](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    if key != "text_lm_score":
        assert "BroadcastNestedLoopJoin" not in plan, plan


@pytest.mark.parametrize(
    "key", ["join_fuzzy_edit", "join_spatial_grid", "join_null_safe"]
)
def test_round4_small_side_broadcasts(key, spark, sf_dir):
    """The bounded side (name vocab / 9-cell supplier fan-out / supplier
    bands) must broadcast — these joins degrade to full shuffles of the
    big probe side otherwise."""
    plan = _physical(_QUERIES[key](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan


def test_null_safe_join_aggregates_before_join(spark, sf_dir):
    """The null-safe band join counts pairs from per-side aggregates
    (n_pairs = n_c * n_s) instead of materializing the per-band
    cartesian and count-distinct-ing it — the pair stream is |C_b|*|S_b|
    rows (quadratic in table size) and its two count-distincts forced a
    3x Expand. The optimized plan has NO Expand, and the join's stream
    side is itself an aggregate (the fact scan never reaches the join)."""
    plan = _physical(_QUERIES["join_null_safe"](spark, sf_dir))
    assert "Expand" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_range_interval_single_window_shuffle(spark, sf_dir):
    """The trailing-hour RANGE frame is ONE Exchange + ONE Sort — if it
    ever becomes a time-inequality self-join the plan grows a second
    Exchange and a join node, which is the shape that melts at 100 TB."""
    plan = _physical(_QUERIES["win_range_interval"](spark, sf_dir))
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan, plan


def test_poisson_bootstrap_zero_shuffles(spark, sf_dir):
    """Bootstrap replication is a narrow map: md5 CASE + explode, no
    Exchange anywhere. Any shuffle here is a regression — the operator
    must stay embarrassingly parallel."""
    plan = _physical(_QUERIES["sample_poisson_bootstrap"](spark, sf_dir))
    assert "Exchange" not in plan, plan


def test_variant_projection_zero_shuffles(spark, sf_dir):
    plan = _physical(_QUERIES["fn_variant"](spark, sf_dir))
    assert "Exchange" not in plan, plan


@pytest.mark.parametrize("key", ["agg_grouping_id", "graph_bfs_levels"])
def test_round4_batch3_avoid_cartesian(key, spark, sf_dir):
    plan = _physical(_QUERIES[key](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_bfs_levels_is_one_lazy_plan(spark, sf_dir):
    """graph_bfs_levels builds its frame without running a Spark job (a
    driver loop of checkpointed supersteps ran 37) and its plan reads no
    checkpoint: no Scan ExistingRDD."""
    sc = spark.sparkContext
    group = "test_plans-graph_bfs_levels-build"
    sc.setJobGroup(group, group)
    try:
        df = _QUERIES["graph_bfs_levels"](spark, sf_dir)
    finally:
        sc._jsc.clearJobGroup()
    # the status tracker is fed from the listener bus; let it catch up
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    plan = _physical(df)
    assert "Scan ExistingRDD" not in plan, plan


def test_grouping_id_single_expand(spark, sf_dir):
    """ROLLUP compiles to one Expand + partial/final HashAggregate —
    not one scan per grouping set."""
    plan = _physical(_QUERIES["agg_grouping_id"](spark, sf_dir))
    assert plan.count("Expand") == 1, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_bitmap_distinct_partial_aggregation(spark, sf_dir):
    """Both aggregation levels must show partial+final HashAggregate
    pairs (map-side combine), and nothing in the plan may expand a
    distinct — the whole point is that the shuffle carries chunk words,
    not ids."""
    plan = _physical(_QUERIES["agg_bitmap_distinct"](spark, sf_dir))
    assert plan.count("HashAggregate") >= 4, plan
    assert "Expand" not in plan, plan


def test_try_arith_zero_shuffles(spark, sf_dir):
    plan = _physical(_QUERIES["fn_try_arith"](spark, sf_dir))
    assert "Exchange" not in plan, plan


def test_ewma_single_window_shuffle(spark, sf_dir):
    """All eight EWMA lag taps must share one window spec: ONE Exchange,
    ONE Window operator — a second Exchange means the taps stopped
    sharing the (user, ts, event_id) sort."""
    plan = _physical(_QUERIES["events_ewma"](spark, sf_dir))
    assert plan.count("Exchange") == 1, plan
    assert plan.count("Window") == 1, plan


def test_asof_forward_single_window_shuffle(spark, sf_dir):
    """The tolerance lives in the RANGE frame, so the forward as-of is
    ONE Exchange and no join node — the inequality-join formulation it
    replaces shows up here as a Join operator."""
    plan = _physical(_QUERIES["join_asof_forward"](spark, sf_dir))
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan, plan


@pytest.mark.parametrize(
    "key",
    ["tpch_q3", "tpch_q5", "tpch_q6", "tpch_q7", "tpch_q9", "tpch_q10",
     "tpch_q14", "tpch_q18"],
)
def test_tpch_no_cartesian(key, spark, sf_dir):
    """Every composed TPC-H query stays on equality joins end-to-end —
    the snowflake predicates (incl. Q5's two-column nation join and Q7's
    disjunctive nation-pair filter) must all resolve to hash joins."""
    plan = _physical(_QUERIES[key](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


@pytest.mark.parametrize("key", ["tpch_q5", "tpch_q7", "tpch_q9", "tpch_q14"])
def test_tpch_dims_broadcast(key, spark, sf_dir):
    """Dimension sides (supplier/nation/region/filtered part) broadcast —
    at 100 TB these queries otherwise shuffle the fact table once per
    dim instead of streaming it through map-side hash joins."""
    plan = _physical(_QUERIES[key](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan


@pytest.mark.parametrize("key", ["tpch_q3", "tpch_q10", "tpch_q18"])
def test_tpch_topk_no_global_sort(key, spark, sf_dir):
    """The LIMIT-k queries run TakeOrderedAndProject (per-partition heap +
    driver merge of k rows) — a global Sort before the limit would be a
    full shuffle of the aggregate output at scale."""
    plan = _physical(_QUERIES[key](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan


def test_tpch_q6_filters_reach_scan(spark, sf_dir):
    """Q6 is the scan-bound lower bound: all three predicates must appear
    as PushedFilters on the parquet scan, and the plan is scan → filter →
    partial agg → single Exchange → final agg."""
    plan = _physical(_QUERIES["tpch_q6"](spark, sf_dir))
    assert "PushedFilters: [" in plan, plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, plan
    assert plan.count("Exchange") == 1, plan


@pytest.mark.parametrize(
    "key",
    ["text_repetition", "sample_dedup_weighted", "sample_temperature",
     "graph_pagerank"],
)
def test_round4_batch5_no_cartesian(key, spark, sf_dir):
    """Curation/graph batch stays on keyed plans. sample_temperature's
    1-row totals join is a bounded broadcast scalar (nested-loop by
    definition, like text_lm_score), so only the cartesian assertion
    applies; the others must not nested-loop at all."""
    plan = _physical(_QUERIES[key](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    if key not in ("sample_temperature",):
        assert "BroadcastNestedLoopJoin" not in plan, plan


def test_pagerank_caches_edge_list(spark, sf_dir):
    """The degree-annotated edge list must be a reused InMemoryRelation —
    without it every PageRank superstep rescans and re-distincts the
    fact table (3× the IO at any scale)."""
    plan = _physical(_QUERIES["graph_pagerank"](spark, sf_dir))
    assert "InMemoryTableScan" in plan, plan


def test_pq_adc_scores_codes_not_vectors(spark, sf_dir):
    """ADC search must join the code table against a broadcast LUT — a
    BroadcastHashJoin with no cartesian/nested-loop — so the scoring scan
    touches 8 small ints per vector, never the float arrays."""
    plan = _physical(_QUERIES["sim_search_pq_adc"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_ip_parse_pure_projection(spark, sf_dir):
    """IP parsing is integer bit math in whole-stage codegen: no Exchange,
    no UDF nodes — a narrow map at any scale."""
    plan = _physical(_QUERIES["fn_ip_parse"](spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "*(1)" in plan, plan  # whole-stage-codegen stage marker


def test_cidr_join_is_bucketed_broadcast(spark, sf_dir):
    """CIDR containment must run as the /16-bucket EQUALITY hash join with
    the prefix mask as a residual filter — an inequality/nested-loop
    formulation is the shape that melts at scale."""
    plan = _physical(_QUERIES["join_cidr_contains"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_audio_window_fanout_stays_in_batch(spark, sf_dir):
    """Window fan-out multiplies rows inside the Arrow batch: exactly the
    one repartition Exchange, no join, no aggregate — the operator is a
    narrow map like the other multimodal ops."""
    plan = _physical(_QUERIES["multimodal_audio_window"](spark, sf_dir))
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan, plan


def test_pmi_joins_on_type_counts_no_cartesian(spark, sf_dir):
    """PMI attaches vocabulary counts to bigram TYPES (post-aggregation),
    so join volume tracks type counts, not corpus occurrences; the 1-row
    totals are bounded broadcast scalars (nested-loop by definition),
    and nothing may be a cartesian product."""
    plan = _physical(_QUERIES["text_pmi_bigrams"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan


def test_asof_nearest_single_shuffle_no_join(spark, sf_dir):
    """Both direction frames share one (user_id, ts) sort: exactly ONE
    Exchange, no Join node — the inequality-join formulation this
    replaces would shuffle candidate pairs."""
    plan = _physical(_QUERIES["join_asof_nearest"](spark, sf_dir))
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan, plan


def test_interleave_corpus_never_shuffles_for_joins(spark, sf_dir):
    """The corpus shuffles once (the per-source rank window); the source
    index attaches via broadcast joins (its own tiny exchanges are over
    the |sources|-row distinct table). A SortMergeJoin or cartesian here
    means the position join regressed to shuffling the corpus."""
    plan = _physical(_QUERIES["sample_interleave"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastExchange") >= 2, plan


def test_zorder_single_aggregate_shuffle(spark, sf_dir):
    """The Morton interleave is a codegen'd projection; the only Exchange
    is the ≤1024-key bucket aggregate (with a partial HashAggregate
    before it)."""
    plan = _physical(_QUERIES["sort_zorder_cluster"](spark, sf_dir))
    assert plan.count("Exchange") == 1, plan
    assert plan.count("HashAggregate") >= 2, plan
    assert "Join" not in plan, plan


def test_concurrency_sweep_two_phase(spark, sf_dir):
    """The sweep line is one day-keyed window over the boundary rows plus
    a bounded |days|-row carry table attached by broadcast — never a
    globally-ordered window over the fact-sized boundary set (the
    SinglePartition exchange must only feed the tiny carry side)."""
    plan = _physical(_QUERIES["events_concurrency_sweep"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    # the day-partitioned running-sum window exists
    assert "windowspecdefinition(day" in plan, plan
    # exactly ONE SinglePartition exchange, and it must sit over the
    # |days|-row per-day aggregate (its subtree contains the day-keyed
    # HashAggregate), never over the fact-sized boundary rows directly
    assert plan.count("Exchange SinglePartition") == 1, plan
    below_single = plan.split("Exchange SinglePartition", 1)[1]
    assert "HashAggregate(keys=[day" in below_single, plan
    # a cached/InMemory scan may leave no FileScan below the exchange —
    # that's fine (find() == -1 must not fail the ordering check)
    scan_pos = below_single.find("FileScan")
    if scan_pos != -1:
        assert below_single.find("HashAggregate(keys=[day") < scan_pos, plan


@pytest.mark.parametrize(
    "key",
    ["tpch_q4", "tpch_q8", "tpch_q12", "tpch_q13", "tpch_q15", "tpch_q17",
     "tpch_q19", "tpch_q21", "tpch_q22"],
)
def test_tpch_batch2_no_cartesian(key, spark, sf_dir):
    """Second TPC-H batch: correlated EXISTS decorrelates to a semi join,
    NOT EXISTS to an anti join, scalar subqueries to bounded broadcasts —
    nothing may plan a cartesian or an unbounded nested loop. (q15/q22
    carry 1-row broadcast scalars, legitimate nested loops of size 1.)"""
    plan = _physical(_QUERIES[key](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    if key not in ("tpch_q15", "tpch_q22"):
        assert "BroadcastNestedLoopJoin" not in plan, plan


def test_tpch_q4_semi_join(spark, sf_dir):
    plan = _physical(_QUERIES["tpch_q4"](spark, sf_dir))
    assert "LeftSemi" in plan, plan


def test_tpch_q22_anti_join(spark, sf_dir):
    plan = _physical(_QUERIES["tpch_q22"](spark, sf_dir))
    assert "LeftAnti" in plan, plan


def test_tpch_q19_pushes_brand_disjunction(spark, sf_dir):
    """The OR-of-ANDs must cut the part SCAN: the derived brand
    disjunction has to appear inside a FileScan's PushedFilters — the
    three literals in the join condition alone don't prove pushdown
    (they exist even when derivation regresses)."""
    plan = _physical(_QUERIES["tpch_q19"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    # the plan printer truncates long PushedFilters lists before the
    # brand literal, so assert the derived Or(...p_brand...) disjunction
    # (and the quantity envelope on the fact side) reached the scans
    pushed_segments = [
        seg.split("]", 1)[0] for seg in plan.split("PushedFilters: [")[1:]
    ]
    assert any(
        "Or(" in seg and "p_brand" in seg for seg in pushed_segments
    ), plan
    assert any(
        "Or(" in seg and "l_quantity" in seg for seg in pushed_segments
    ), plan


def test_tpch_q1_pushdown_partial_agg(spark, sf_dir):
    """tpch_q1: the shipdate filter reaches the parquet scan and the
    6-group aggregate is map-side partial — the shuffle carries groups,
    not lineitem rows."""
    plan = _physical(_QUERIES["tpch_q1"](spark, sf_dir))
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "l_shipdate" in pushed, plan
    assert plan.count("HashAggregate") >= 2, plan
    assert "Join" not in plan, plan


def test_url_canonical_single_shuffle_no_join(spark, sf_dir):
    """dedup_url_canonical: canonicalization is pure projection; the only
    shuffle is the canonical-url groupBy with map-side combine."""
    plan = _physical(_QUERIES["dedup_url_canonical"](spark, sf_dir))
    assert "Join" not in plan, plan
    assert plan.count("Exchange") == 1, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_boilerplate_no_self_join(spark, sf_dir):
    """text_boilerplate_lines: corpus frequency comes from a window over
    the segment key, never a segment self-join — two keyed Exchanges
    total (segment window, doc_id aggregate)."""
    plan = _physical(_QUERIES["text_boilerplate_lines"](spark, sf_dir))
    assert "Join" not in plan, plan
    assert plan.count("Exchange") == 2, plan


def test_ab_lift_single_aggregate_no_join(spark, sf_dir):
    """events_ab_lift: the whole experiment readout is one global
    partial-aggregable aggregate over the pushed-down purchase slice —
    no join, no window, a 6-integer shuffle payload."""
    plan = _physical(_QUERIES["events_ab_lift"](spark, sf_dir))
    assert "Join" not in plan, plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "event_type" in pushed, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_patchify_no_shuffle_after_repartition(spark, sf_dir):
    """multimodal_patchify: the 16x patch fan-out happens inside the
    Arrow batch — no Exchange besides the explicit spread repartition,
    no join, no aggregate."""
    plan = _physical(_QUERIES["multimodal_patchify"](spark, sf_dir))
    assert "Join" not in plan, plan
    assert "HashAggregate" not in plan, plan
    assert plan.count("Exchange") == 1, plan  # the explicit repartition


def test_curriculum_single_total_order(spark, sf_dir):
    """sample_curriculum: exactly one SinglePartition exchange (the
    global ntile total order — the documented exact form; the 100 TB
    path swaps it for a quantile-sketch range join)."""
    plan = _physical(_QUERIES["sample_curriculum"](spark, sf_dir))
    assert plan.count("Exchange SinglePartition") == 1, plan
    assert "Join" not in plan, plan


def test_profile_table_no_expand_pruned_distinct_scans(spark, sf_dir):
    """profile_table (r14): counts/min/max fuse into one scan, but each
    exact count-distinct runs as its own two-phase aggregate over a
    single-column pruned scan — NO Expand (the fused form replicated
    every row once per distinct column, 7x the scan volume), and the
    seven 1-row results reassemble through broadcast joins only."""
    from cloud2sql_spark.queries.quality import _PROFILE_COLS

    plan = _physical(_QUERIES["profile_table"](spark, sf_dir))
    assert "Expand" not in plan, plan
    assert plan.count("FileScan") == 1 + len(_PROFILE_COLS), plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan
    # every distinct-scan is column-pruned to exactly its one column
    read_schemas = [
        seg.split(">", 1)[0] for seg in plan.split("ReadSchema: struct<")[1:]
    ]
    single_col = [s for s in read_schemas if s.count(":") == 1]
    assert len(single_col) >= len(_PROFILE_COLS), plan


def test_constraint_check_fk_is_anti_join(spark, sf_dir):
    """constraint_check: the referential rule must plan as a broadcast
    LEFT ANTI join (bounded dim key side), never a cartesian."""
    plan = _physical(_QUERIES["constraint_check"](spark, sf_dir))
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_mv_refresh_pushes_cutoff_filters(spark, sf_dir):
    """mv_incremental_refresh: both cutoff filters reach their parquet
    scans — the delta side reads only the refresh window."""
    plan = _physical(_QUERIES["mv_incremental_refresh"](spark, sf_dir))
    pushed_lists = [
        seg.split("]", 1)[0] for seg in plan.split("PushedFilters: [")[1:]
    ]
    with_ts = [p for p in pushed_lists if "ts" in p]
    assert len(with_ts) >= 2, f"both legs must push ts filters: {plan}"
    assert plan.count("HashAggregate") >= 4, plan  # partial+final x2 legs


def test_gap_interpolate_single_user_sort(spark, sf_dir):
    """events_gap_interpolate: the four neighbor lookups share one
    (user, day) sort — Window operators stack on a single partitioning,
    no per-frame re-shuffle."""
    plan = _physical(_QUERIES["events_gap_interpolate"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert plan.count("Window") <= 2, plan  # backward + forward frame


def test_triangle_count_equi_joins_only(spark, sf_dir):
    """graph_triangle_count: the triangle enumeration is two EQUI-joins
    on edge endpoints; the only nested loops are the two 1-row stat
    broadcasts at the end."""
    plan = _physical(_QUERIES["graph_triangle_count"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") + (
        plan.count("BroadcastHashJoin")
    ) >= 2, plan


def test_scd2_join_stays_broadcast_hash(spark, sf_dir):
    """join_scd2_point_in_time: the versioned dim must join as a
    broadcast HASH join on the key (the validity window is a residual
    filter, bounded fan-out) — never an unbounded range/nested-loop."""
    plan = _physical(_QUERIES["join_scd2_point_in_time"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_haversine_pure_projection(spark, sf_dir):
    """fn_geo_haversine: one codegen projection — no exchange, no Python."""
    plan = _physical(_QUERIES["fn_geo_haversine"](spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "Python" not in plan, plan


def test_epoch_shuffle_single_window(spark, sf_dir):
    """sample_epoch_shuffle: one (epoch, md5) window Exchange after the
    map-side epoch explode."""
    plan = _physical(_QUERIES["sample_epoch_shuffle"](spark, sf_dir))
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan, plan


def test_covariance_gram_partial_then_merge(spark, sf_dir):
    """embed_covariance_gram: the Gram matrix comes from mapInPandas
    partial matmuls merged by one keyed aggregate — no join, no pair
    explode."""
    plan = _physical(_QUERIES["embed_covariance_gram"](spark, sf_dir))
    assert "Join" not in plan, plan
    assert "MapInPandas" in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_cuped_single_fact_shuffle(spark, sf_dir):
    """events_cuped_adjusted: the fact table shuffles once (per-user
    aggregate); the cutoff and moment sides are 1-row broadcasts."""
    plan = _physical(_QUERIES["events_cuped_adjusted"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "event_type" in pushed, plan


def test_knn_graph_no_allpairs(spark, sf_dir):
    """embed_knn_graph: candidates come from (table, bucket) equality
    joins, never a cartesian all-pairs stream."""
    plan = _physical(_QUERIES["embed_knn_graph"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_window_funnel_single_user_shuffle_no_join(spark, sf_dir):
    """events_window_funnel: the oracle needs a triple self-join; the
    Spark plan must need NONE — stacked range windows on one user
    partitioning plus the final per-user aggregate."""
    plan = _physical(_QUERIES["events_window_funnel"](spark, sf_dir))
    assert "Join" not in plan, plan
    assert "Window" in plan, plan


def test_merge_on_read_broadcasts_delete_vector(spark, sf_dir):
    """scan_merge_on_read: the delete vector is tiny and must apply as a
    broadcast LEFT ANTI join — the base table streams map-side."""
    plan = _physical(_QUERIES["scan_merge_on_read"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_uuid_minting_pure_projection(spark, sf_dir):
    """fn_uuid_deterministic: codegen string slicing only — no exchange,
    no Python."""
    plan = _physical(_QUERIES["fn_uuid_deterministic"](spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "Python" not in plan, plan


def test_record_linkage_blocked_equi_join(spark, sf_dir):
    """join_record_linkage: candidates come from the blocking-key
    EQUI-join (never a cartesian over dirty x clean)."""
    plan = _physical(_QUERIES["join_record_linkage"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_ols_single_scan_partial_agg(spark, sf_dir):
    """agg_ols_two_factor: all nine moments fuse into ONE scan with
    map-side partial aggregation — no join, no second pass."""
    plan = _physical(_QUERIES["agg_ols_two_factor"](spark, sf_dir))
    assert "Join" not in plan, plan
    assert plan.count("FileScan") == 1, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_sliding_median_single_window_shuffle(spark, sf_dir):
    """win_median_sliding: count + sorted-frame list share one
    (user, ts, event_id) window spec — a single Exchange."""
    plan = _physical(_QUERIES["win_median_sliding"](spark, sf_dir))
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan, plan


def test_media_phash_banded_no_allpairs(spark, sf_dir):
    """dedup_media_phash: candidates come from band-equality joins
    (pigeonhole), never an all-pairs signature comparison."""
    plan = _physical(_QUERIES["dedup_media_phash"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_anomaly_mad_integer_only(spark, sf_dir):
    """events_anomaly_mad: the whole detector is integer arithmetic —
    no double-typed expression escapes into the output schema."""
    df = _QUERIES["events_anomaly_mad"](spark, sf_dir)
    assert all(f.dataType.simpleString() in ("string", "bigint") for f in df.schema.fields), df.schema
    plan = _physical(df)
    assert "CartesianProduct" not in plan, plan


@pytest.mark.parametrize(
    "key", ["tpch_q2", "tpch_q11", "tpch_q16", "tpch_q20"]
)
def test_tpch_derived_ps_no_cartesian(key, spark, sf_dir):
    """Derived-partsupp quartet: multi-join plans stay keyed."""
    plan = _physical(_QUERIES[key](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    # the only nested-loop join allowed is the 1-row scalar broadcast
    # (q11's total); everything else must be hash-keyed
    if key != "tpch_q11":
        assert "BroadcastNestedLoopJoin" not in plan, plan


@pytest.mark.parametrize("key", ["tpch_q2", "tpch_q11", "tpch_q16", "tpch_q20"])
def test_tpch_derived_ps_filter_before_aggregate(key, spark, sf_dir):
    """The supplier/part slice broadcasts INTO the lineitem scan BELOW
    the pair aggregation (group key ⊇ filter keys — module docstring):
    a BroadcastHashJoin must appear in the subtree under the first
    partial HashAggregate, i.e. the plan never aggregates the full
    lineitem pair space first."""
    plan = _physical(_QUERIES[key](spark, sf_dir))
    first_agg = plan.find("HashAggregate")
    assert first_agg != -1, plan
    assert "BroadcastHashJoin" in plan[first_agg:], plan


def test_skew_kurtosis_single_scan(spark, sf_dir):
    """agg_skew_kurtosis: all five moments come from ONE
    map-side-combined scan — exactly one exchange, no joins."""
    plan = _physical(_QUERIES["agg_skew_kurtosis"](spark, sf_dir))
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan, plan


def test_drift_tv_integer_only(spark, sf_dir):
    """quality_drift_tv: drift verdict is pure integer arithmetic — no
    double column in the output."""
    df = _QUERIES["quality_drift_tv"](spark, sf_dir)
    types = {f.dataType.simpleString() for f in df.schema.fields}
    assert types <= {"string", "bigint", "boolean"}, df.schema
    plan = _physical(df)
    assert "CartesianProduct" not in plan, plan


def test_kcore_trace_monotone(spark, sf_dir):
    """graph_kcore_peel: peeling only removes — the trace is
    non-increasing in both nodes and edges, starts at the full graph,
    and has exactly rounds+1 rows."""
    from cloud2sql_spark.queries.analytics import _KCORE_ROUNDS

    rows = sorted(
        _QUERIES["graph_kcore_peel"](spark, sf_dir).collect(),
        key=lambda r: r["round"],
    )
    assert len(rows) == _KCORE_ROUNDS + 1
    for a, b in zip(rows, rows[1:]):
        assert b["n_alive"] <= a["n_alive"]
        assert b["n_edges"] <= a["n_edges"]


def test_mips_centroids_broadcast_no_corpus_shuffle(spark, sf_dir):
    """embed_mips_topk: the 10x64 centroid table broadcasts; the corpus
    side is never shuffled for scoring (single window shuffle only)."""
    plan = _physical(_QUERIES["embed_mips_topk"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_rake_vocab_join_not_broadcast(spark, sf_dir):
    """text_rake_keywords: the corpus-level word-degree join must stay a
    shuffled join — broadcasting a 100 TB vocabulary is the
    fact-broadcast disease."""
    plan = _physical(_QUERIES["text_rake_keywords"](spark, sf_dir))
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan


def test_scene_cut_no_shuffle(spark, sf_dir):
    """multimodal_scene_cut: all per-doc math is in-batch — the plan has
    no join and only the input repartition exchange."""
    plan = _physical(_QUERIES["multimodal_scene_cut"](spark, sf_dir))
    assert "Join" not in plan, plan
    assert plan.count("Exchange") <= 1, plan


def test_compaction_plan_day_partitioned_windows(spark, sf_dir):
    """scan_compaction_plan: both windows partition by day — no
    SinglePartition exchange anywhere."""
    plan = _physical(_QUERIES["scan_compaction_plan"](spark, sf_dir))
    assert "Exchange SinglePartition" not in plan, plan
    assert "Join" not in plan, plan


def test_range_boundaries_histogram_before_global_window(spark, sf_dir):
    """sort_range_boundaries: the single-partition cumsum window sits
    ABOVE the key-histogram aggregate (bounded rows), never over the
    fact scan directly."""
    plan = _physical(_QUERIES["sort_range_boundaries"](spark, sf_dir))
    pos = plan.find("Exchange SinglePartition")
    assert pos != -1, plan
    below = plan[pos:]
    assert "HashAggregate(keys=[cents" in below, plan


def test_pca_project_two_scans_broadcast_direction(spark, sf_dir):
    """embed_pca_project: the 64-row direction vector broadcasts; the
    corpus is never shuffled for the projection."""
    plan = _physical(_QUERIES["embed_pca_project"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_survival_table_window_over_days_only(spark, sf_dir):
    """events_survival_table: the single-partition reverse cumulative
    sits above the day aggregate, never over per-user rows."""
    plan = _physical(_QUERIES["events_survival_table"](spark, sf_dir))
    pos = plan.find("Exchange SinglePartition")
    assert pos != -1, plan
    assert "HashAggregate(keys=[duration_days" in plan[pos:], plan


def test_bot_regularity_integer_only(spark, sf_dir):
    """events_bot_regularity: no double column escapes."""
    df = _QUERIES["events_bot_regularity"](spark, sf_dir)
    types = {f.dataType.simpleString() for f in df.schema.fields}
    assert types <= {"bigint", "boolean"}, df.schema


def test_assortativity_single_moment_aggregate(spark, sf_dir):
    """graph_degree_assortativity: moments come from one global
    aggregate; no cartesian anywhere."""
    plan = _physical(_QUERIES["graph_degree_assortativity"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan


def test_audio_peaks_single_window_shuffle(spark, sf_dir):
    """multimodal_audio_peaks: lag/lead/sum share one (doc_id)
    partitioning — a single exchange beyond the input repartition, and
    no joins."""
    plan = _physical(_QUERIES["multimodal_audio_peaks"](spark, sf_dir))
    assert "Join" not in plan, plan
    assert plan.count("Exchange") <= 2, plan


def test_snaive_joins_on_aggregate_not_fact(spark, sf_dir):
    """events_forecast_snaive: the self-join sits above the daily
    aggregate — the fact scan shuffles once into it."""
    plan = _physical(_QUERIES["events_forecast_snaive"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    first_join = plan.find("Join")
    assert first_join != -1, plan
    assert "HashAggregate" in plan[first_join:], plan


def test_contrastive_pairs_bucketed_no_allpairs(spark, sf_dir):
    """sample_contrastive_pairs: candidates come from bucket equality —
    no cartesian, no nested-loop join."""
    plan = _physical(_QUERIES["sample_contrastive_pairs"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_running_distinct_single_exchange(spark, sf_dir):
    """win_running_distinct: both windows share the user_id hash
    partitioning — exactly one Exchange."""
    plan = _physical(_QUERIES["win_running_distinct"](spark, sf_dir))
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan, plan


def test_hourly_profile_bounded_window(spark, sf_dir):
    """events_hourly_profile: the argmax window sits above the
    (type, hour) aggregate, never over the fact rows."""
    plan = _physical(_QUERIES["events_hourly_profile"](spark, sf_dir))
    pos = plan.find("Window")
    assert pos != -1, plan
    assert "HashAggregate" in plan[pos:], plan


def test_cross_source_reuses_clustering(spark, sf_dir):
    """text_cross_source_overlap: the text-level re-aggregate reuses the
    (text, source) clustering — one Exchange, no join."""
    plan = _physical(_QUERIES["text_cross_source_overlap"](spark, sf_dir))
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan, plan


def test_streak_reset_single_exchange(spark, sf_dir):
    """win_conditional_streak_reset: island + streak windows share the
    user_id clustering — one Exchange, no join."""
    plan = _physical(_QUERIES["win_conditional_streak_reset"](spark, sf_dir))
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan, plan


def test_interval_merge_single_exchange(spark, sf_dir):
    """events_interval_merge: prev-max window, island numbering, and both
    aggregates all cluster on user_id — one Exchange, no join."""
    plan = _physical(_QUERIES["events_interval_merge"](spark, sf_dir))
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan, plan


def test_theil_broadcasts_group_stats(spark, sf_dir):
    """agg_theil_index: the 5-row per-type (n, sum) frame joins back as a
    broadcast — the fact side never shuffles for the join."""
    plan = _physical(_QUERIES["agg_theil_index"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_winsorized_bounds_broadcast(spark, sf_dir):
    """agg_winsorized_stats: the percentile-bound frame joins back as a
    broadcast onto rows that reuse the event_type clustering."""
    plan = _physical(_QUERIES["agg_winsorized_stats"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_temporal_fk_no_join(spark, sf_dir):
    """join_temporal_foreign_key: the as-of lookup is the union + carry-
    forward window — NO join operator anywhere, one user_id exchange."""
    plan = _physical(_QUERIES["join_temporal_foreign_key"](spark, sf_dir))
    assert "Join" not in plan, plan


def test_markov_normalizer_broadcast(spark, sf_dir):
    """events_markov_next_state: the row-total normalizer joins the
    bounded transition cells as a broadcast."""
    plan = _physical(_QUERIES["events_markov_next_state"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_hashing_trick_no_join_no_window(spark, sf_dir):
    """text_hashing_trick_features: vocabulary-free means NO join and NO
    window — explode + one partial-aggregated groupBy only."""
    plan = _physical(_QUERIES["text_hashing_trick_features"](spark, sf_dir))
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan


def test_banding_curve_config_broadcast_no_cartesian(spark, sf_dir):
    """dedup_minhash_banding_curve: the 4-row config frame crosses as a
    broadcast; candidate pairs still come from the inverted index (no
    CartesianProduct over docs)."""
    plan = _physical(_QUERIES["dedup_minhash_banding_curve"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan


def test_snm_neighbor_probe_is_window_not_selfjoin(spark, sf_dir):
    """dedup_sorted_neighborhood: candidates come from lead() windows
    that also carry the neighbor's shingle array, so verification is a
    pure projection on the window output. The only equi-join left is
    the blocking-key attach (shingles ⋈ documents), which the union of
    the two lead branches duplicates — 2 in the plan today; the two
    per-branch shingle-verify joins of the earlier shape (4 more) must
    stay gone, so the upper guard is <= 2 rather than == 2 (ADVICE r07:
    AQE exchange reuse or a Spark-version join-selection change may
    merge the duplicated attach without any behavior change) — but the
    attach itself must still exist, so the lower guard is >= 1 (zero
    equi-joins would mean the blocking-key attach vanished entirely).
    No inequality join anywhere."""
    plan = _physical(_QUERIES["dedup_sorted_neighborhood"](spark, sf_dir))
    assert "Window" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    equi = sum(
        plan.count(n)
        for n in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")
    )
    assert 1 <= equi <= 2, plan


def test_silence_segments_doc_partitioned(spark, sf_dir):
    """multimodal_silence_segments: all windows/aggregates cluster by
    doc_id after the energy pass — no join."""
    plan = _physical(_QUERIES["multimodal_silence_segments"](spark, sf_dir))
    assert "Join" not in plan, plan


def test_reweight_scalar_broadcast(spark, sf_dir):
    """sample_importance_reweight: the (total, k) scalar joins the
    per-language counts as a broadcast; the fact table is aggregated
    before any join."""
    plan = _physical(_QUERIES["sample_importance_reweight"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_prefix_norm_single_aggregate_no_join(spark, sf_dir):
    """dedup_prefix_norm (r12 scale fix): the min_by formulation is ONE
    hash aggregate on pfx — no groups-side self-join (the old form
    normalized the text twice and carried a broadcast-or-SMJ cliff the
    10x isolated probe measured at 12.8x), no window sort. Partial +
    final HashAggregate = map-side combine is active."""
    plan = _physical(_QUERIES["dedup_prefix_norm"](spark, sf_dir))
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan
    # min_by's buffer forces SortAggregate (not HashAggregate); the
    # scale property is partial+final over ONE exchange either way
    assert plan.count("Exchange") == 1, plan
    assert "partial_min_by" in plan, plan
    assert plan.count("Aggregate") >= 2, plan


def test_weighted_percentile_preaggregates_before_window(spark, sf_dir):
    """agg_weighted_percentile (r12 scale fix): the weight mass is
    hash-aggregated by (flag, price) BEFORE the cumulative window, so
    the cardinality-3 window partitions see ~distinct-price rows, not
    the fact table (the old raw-table window put a third of lineitem
    in each of three tasks at any cluster size). The aggregate must
    appear under the window in the plan tree, with map-side combine."""
    df = _QUERIES["agg_weighted_percentile"](spark, sf_dir)
    plan = _physical(df)
    assert "Window" in plan, plan
    # children print BELOW parents in the plan string, so the slice
    # after the Window token is the window's INPUT subtree
    window_subtree = plan[plan.index("Window"):]
    assert "HashAggregate" in window_subtree, plan
    assert plan.count("HashAggregate") >= 4, plan


def test_kmeans_assign_argmax_is_hash_aggregate(spark, sf_dir):
    """embed_kmeans_assign (r15): both cluster assignments pick the
    (cos DESC, cluster ASC) winner via max(struct(cos, -cluster)) hash
    aggregates — partial_max proves map-side combine over the 8x
    broadcast-join fan-out. The old row_number formulation exchanged
    and sorted that fanned frame by vec_id twice; any Window here is
    the regression."""
    plan = _physical(_QUERIES["embed_kmeans_assign"](spark, sf_dir))
    assert "Window" not in plan, plan
    assert "partial_max(struct" in plan, plan


def test_pq_adc_topk_is_two_level(spark, sf_dir):
    """sim_search_pq_adc (r15): the top-5 cut runs as TWO windows —
    per-(qid, xxhash bucket) local top-5, then a global pass over the
    bounded survivors. A single window would have |queries|=3
    partitions: three tasks sorting the whole score frame at any scale
    (the r12 low-cardinality-window-partition class)."""
    plan = _physical(_QUERIES["sim_search_pq_adc"](spark, sf_dir))
    # a physical Window line is `Window [exprs], [partition], [order]`
    specs = re.findall(r"Window \[.*\], \[([^\]]*)\], \[[^\]]*\]$", plan, re.M)
    assert len(specs) == 2, plan

    def arity(spec: str) -> int:
        depth, n = 0, int(bool(spec))
        for ch in spec:
            depth += (ch == "(") - (ch == ")")
            n += ch == "," and depth == 0
        return n

    # the local window partitions by (qid, bucket), the global one by qid
    # alone (the hash expression itself is elided by the plan printer,
    # so assert on the partition spec arity)
    assert sorted(arity(s) for s in specs) == [1, 2], (specs, plan)


def test_fn_json_single_parse_family(spark, sf_dir):
    """fn_json (r15): all four outputs derive from typed from_json —
    the per-row get_json_object / json_tuple re-parses are gone, and
    the scan is pruned to (event_id, props)."""
    plan = _physical(_QUERIES["fn_json"](spark, sf_dir))
    assert "get_json_object" not in plan, plan
    assert "json_tuple" not in plan, plan
    assert "from_json" in plan, plan


def test_copurchase_edge_build_has_no_self_join(spark, sf_dir):
    """_copurchase_edges (r15): pair generation is collect_set per
    order + in-array i<j expansion (Generate/explode), not the former
    co-partitioned self-join that sorted both legs. Shared by
    triangle/kcore/LPA/assortativity."""
    from cloud2sql_spark.queries.analytics import _copurchase_edges

    plan = _physical(_copurchase_edges(spark, sf_dir))
    assert "Join" not in plan, plan
    assert "Generate" in plan, plan
    assert "collect_set" in plan, plan


def test_lpa_final_round_is_not_checkpointed(spark, sf_dir):
    """graph_label_propagation (r15): the returned histogram consumes
    the LAST round's join/argmax subtree directly — a plan whose only
    leaf is a checkpoint RDD means the final round was materialized
    once just to be re-read (the pre-r15 extra pass)."""
    plan = _physical(_QUERIES["graph_label_propagation"](spark, sf_dir))
    assert "Join" in plan, plan


def test_simhash_signature_is_one_python_pass_over_documents(spark, sf_dir):
    """_simhash_sig_frame shingles and hashes in ONE mapInPandas straight
    from documents: a cold build plans exactly one Python map node (AQE
    prints each node under both its initial and final plan, so nodes are
    told apart by the UDF's expression id) over a documents scan, and it
    never builds the shared shingle memo."""
    from cloud2sql_spark import memo
    from cloud2sql_spark.queries.extensions import _simhash_sig_frame

    memo.reset()
    try:
        sig = _simhash_sig_frame(spark, sf_dir)
        sig.count()
        plan = _physical(sig)
        node = r"MapIn(?:Pandas|Arrow) \w+\([^)]*\)#\d+"
        nodes = set(re.findall(node, plan))
        assert len(nodes) == 1, plan
        assert "documents.parquet" in plan, plan
        assert ("shingles", sf_dir) not in [k[1:] for k in memo._MEMO]
    finally:
        memo.reset()
