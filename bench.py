"""Benchmark harness: run headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is timed end-to-end (plan + execute + collect). The headline
metric is the sum over the headline set.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline set: one representative per operator family; extended as
# families land. Keys absent from the registry are skipped (forward-compat).
#
# The set GROWS round over round (round 1 had 29 queries; new operators are
# added as they land), so the headline total is not comparable across
# rounds by itself — the JSON also emits `r01_set_total`, the subtotal over
# exactly the 29 keys round 1 timed, for a like-for-like round comparison.
R01_SET = [
    "agg_groupby", "agg_count_distinct", "agg_rollup", "agg_stats",
    "join_multiway_star", "join_asof", "win_row_number", "win_running_sum",
    "sort_multikey", "set_union_distinct", "fn_string", "fn_json",
    "stream_tumbling", "stream_session", "dedup_exact", "dedup_near_minhash",
    "dedup_ngram_jaccard", "dedup_ngram_capped", "dedup_simhash",
    "dedup_embed_cosine", "sim_search_topk", "sim_search_ivf",
    "sim_search_lsh", "text_tokenize_tfidf", "text_lang_id",
    "text_fingerprint", "multimodal_decode", "multimodal_resize",
    "multimodal_frames",
]

# Frozen per-round sets (ADVICE r05): each R0N_SET is EXACTLY the headline
# keys that round's bench timed, so rNN_set_total stays comparable to the
# historical BENCH_r0N.json recordings forever. Never derive these by
# subtraction from the growing HEADLINE — that silently absorbs later
# additions (the r05 bug).
R02_SET = [
    "agg_groupby",
    "agg_count_distinct",
    "agg_rollup",
    "agg_stats",
    "join_multiway_star",
    "join_asof",
    "win_row_number",
    "win_running_sum",
    "sort_multikey",
    "set_union_distinct",
    "fn_string",
    "fn_json",
    "stream_tumbling",
    "stream_session",
    "udf_pandas_scalar",
    "udf_grouped_map",
    "dedup_exact",
    "dedup_near_minhash",
    "dedup_ngram_jaccard",
    "dedup_ngram_capped",
    "dedup_simhash",
    "dedup_embed_cosine",
    "dedup_cluster_cc",
    "sim_search_topk",
    "sim_search_ivf",
    "sim_search_lsh",
    "text_tokenize_tfidf",
    "text_lang_id",
    "text_fingerprint",
    "text_pii_redact",
    "text_contamination",
    "sample_stratified",
    "pack_sequences",
    "stream_stream_interval_join",
    "multimodal_decode",
    "multimodal_resize",
    "multimodal_frames",
]

_R03_ADDITIONS = [  # new keys first timed in round 3
    "events_path_transitions",
    "events_anomaly_zscore",
    "events_rolling_dau",
    "join_interval_overlap",
    "join_bloom_pruned",
    "text_top_ngrams",
    "dedup_prefix_norm",
    "sample_mixture",
    "embed_dim_stats",
    "embed_kmeans_assign",
]

_R04_ADDITIONS = [
    "agg_count_if_distinct",
    "agg_hll_sketch",
    "win_cume_dist_median",
    "events_windowed_distinct",
    "fn_datetime_bucket",
    "sample_reservoir",
    "join_range_bucketed",
    "text_diversity",
    "dedup_containment",
    "embed_pq_codebook",
    # second round-4 batch
    "events_streaks",
    "events_attribution",
    "events_daily_fill",
    "join_fuzzy_edit",
    "join_spatial_grid",
    "join_null_safe",
    "text_chunk_split",
    "text_lm_score",
    "cdc_apply_upserts",
    "embed_random_projection",
    # third round-4 batch
    "win_range_interval",
    "graph_bfs_levels",
    "agg_grouping_id",
    "fn_variant",
    "scan_binaryfile",
    "sample_poisson_bootstrap",
    "scan_csv_malformed",
    "fn_try_arith",
    "agg_bitmap_distinct",
    "events_ewma",
    "dedup_quality_report",
    "join_asof_forward",
    # fourth round-4 batch: composed TPC-H decision-support queries
    "tpch_q3",
    "tpch_q5",
    "tpch_q6",
    "tpch_q7",
    "tpch_q9",
    "tpch_q10",
    "tpch_q14",
    "tpch_q18",
    # fifth round-4 batch: curation + iterative graph
    "text_repetition",
    "sample_temperature",
    "sample_dedup_weighted",
    "graph_pagerank",
    "sim_search_pq_adc",
    "fn_ip_parse",
    "join_cidr_contains",
    "multimodal_audio_window",
    "text_pmi_bigrams",
    "join_asof_nearest",
    "sample_interleave",
    "sort_zorder_cluster",
    "scan_vacuum_retention",
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
    "sample_balanced",
]

_R05_ADDITIONS = [
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
    "fn_geo_haversine",
    "sample_epoch_shuffle",
    "embed_covariance_gram",
    "events_cuped_adjusted",
    "embed_knn_graph",
    "events_window_funnel",
    "scan_merge_on_read",
    "stream_interval_join_outer",
    "fn_uuid_deterministic",
    "join_record_linkage",
    "agg_ols_two_factor",
    "win_median_sliding",
    "udtf_polymorphic",
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
]

_R06_ADDITIONS: list[str] = [
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
]

R03_SET = R02_SET + _R03_ADDITIONS
R04_SET = R03_SET + _R04_ADDITIONS
R05_SET = R04_SET + _R05_ADDITIONS
# Frozen at end of round 6 (VERDICT r06 item 2): exactly the 178 query
# keys the round-6 bench timed (BENCH_r06's n_queries=179 includes the
# separate shingle_build warm-up line, which is not a registry key).
# Round 7 adds no operators (all driver slots were re-proof slots), so
# HEADLINE == R06_SET this round.
R06_SET = R05_SET + _R06_ADDITIONS
HEADLINE = R06_SET


def freeze_round_snapshot(repo: str, record: dict) -> str | None:
    """Write bench_full_r{N}.json once per round; never overwrite.

    N = SPARK_GRAFT_BENCH_ROUND if set (must be an integer — a typo must
    not silently fall back to inference and freeze under the wrong round
    label, ADVICE r08), else one past the newest BENCH_r*.json (the
    driver writes that file AFTER the round's bench run). Inference has
    one known bad window: a manual re-run AFTER the driver has recorded
    the current round's BENCH file infers N+1 and would freeze the NEXT
    round's label with THIS round's timings — and write-once would then
    block the next round's genuine snapshot. In that window set
    SPARK_GRAFT_BENCH_ROUND explicitly; the stderr line below names the
    frozen file on every freeze so a mislabel is visible in the run log
    (and `git status` at round start shows the stray file).

    Write-once (VERDICT r08 item 2): the first full run of a round
    freezes the snapshot; later runs — notably the driver's own
    post-commit pass — must not clobber the committed artifact with a
    noisy pass. Those runs still land in bench_full_latest.json and
    bench_history.jsonl. When the builder deliberately wants a better
    recording to replace the freeze (e.g. the round's final interleaved
    minimum), set SPARK_GRAFT_BENCH_REFREEZE=1 — the driver never sets
    it. Returns the frozen path when this call wrote it, None when the
    freeze already existed and was left untouched.
    """
    import re

    env_rnd = os.environ.get("SPARK_GRAFT_BENCH_ROUND", "")
    if env_rnd and not env_rnd.isdigit():
        raise SystemExit(
            f"SPARK_GRAFT_BENCH_ROUND={env_rnd!r} is not an integer"
        )
    rounds = [
        int(m.group(1))
        for fn in os.listdir(repo)
        if (m := re.fullmatch(r"BENCH_r(\d+)\.json", fn))
    ]
    rnd = int(env_rnd) if env_rnd else (max(rounds) if rounds else 0) + 1
    frozen = os.path.join(repo, f"bench_full_r{rnd:02d}.json")
    refreeze = os.environ.get("SPARK_GRAFT_BENCH_REFREEZE", "") == "1"
    if os.path.exists(frozen) and not refreeze:
        print(
            f"bench: {os.path.basename(frozen)} already frozen; this run "
            "recorded in bench_full_latest.json / bench_history.jsonl only",
            file=sys.stderr,
        )
        return None
    # Inference guard (ADVICE r09): the one bad window is a rerun AFTER
    # the driver has written this round's BENCH_r{N}.json but BEFORE the
    # round-boundary commit — inference then reads N+1 and would freeze
    # the NEXT round's label with THIS round's timings, and write-once
    # would block the next round's genuine snapshot. The tell is the
    # inference basis file being uncommitted: at a genuine next-round
    # first run the driver's artifact commit has already landed. In that
    # window refuse to freeze and demand an explicit round label.
    if not env_rnd and rounds:
        import subprocess

        basis = f"BENCH_r{max(rounds):02d}.json"
        try:
            out = subprocess.run(
                ["git", "status", "--porcelain", "--", basis],
                cwd=repo,
                capture_output=True,
                text=True,
                timeout=10,
                check=True,
            )
            basis_dirty = bool(out.stdout.strip())
        except Exception:  # noqa: BLE001 — no git / bare checkout: freeze
            basis_dirty = False
        if basis_dirty:
            print(
                f"bench: NOT freezing {os.path.basename(frozen)} — round "
                f"inferred from uncommitted {basis} (this looks like a "
                "rerun inside the round that produced it, which would "
                "mislabel the snapshot); set SPARK_GRAFT_BENCH_ROUND "
                "explicitly to freeze in this window",
                file=sys.stderr,
            )
            return None
    with open(frozen, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"bench: froze {os.path.basename(frozen)}", file=sys.stderr)
    return frozen


def _parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    """Parse CLI args with zero side effects — importable by tests.

    bench.py is configured entirely by env vars; it accepts NO
    arguments. Before this parser existed ANY invocation — including
    ``--help`` — launched the full ~7-minute sf0.1 run and rewrote
    bench_full_latest.json / bench_history.jsonl (VERDICT r09 item 4).
    Now ``--help`` prints usage and exits 0 with no Spark session and no
    file writes, and any stray argument errors out immediately.
    """
    parser = argparse.ArgumentParser(
        description=(
            "Time the headline query set at SPARK_GRAFT_SF_DIR (default "
            "/root/testdata/sf0.1, ~7 min best-of-3) and print ONE JSON "
            "line; unfiltered sf0.1 runs also persist "
            "bench_full_latest.json / bench_history.jsonl and freeze "
            "bench_full_r{N}.json once per round."
        ),
        epilog=(
            "Env: SPARK_GRAFT_SF_DIR (fixture dir), SPARK_GRAFT_CPUS, "
            "SPARK_GRAFT_BENCH_ONLY (comma-separated key filter, "
            "not persisted), SPARK_GRAFT_BENCH_ROUND (explicit freeze "
            "round), SPARK_GRAFT_BENCH_REFREEZE=1 (replace a frozen "
            "snapshot)."
        ),
    )
    return parser.parse_args(argv)


def main(argv: list[str] | None = None) -> None:
    _parse_args(argv)
    # Heavy imports only after a successful parse — --help and argument
    # typos must resolve before any pyspark import, let alone a session.
    from cloud2sql_spark.registry import queries
    from cloud2sql_spark.session import get_spark

    # Fail a typo'd round override BEFORE the multi-minute timed run, not
    # at freeze time after it (review r09) — freeze_round_snapshot keeps
    # its own check for direct callers.
    env_rnd = os.environ.get("SPARK_GRAFT_BENCH_ROUND", "")
    if env_rnd and not env_rnd.isdigit():
        raise SystemExit(
            f"SPARK_GRAFT_BENCH_ROUND={env_rnd!r} is not an integer"
        )
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # Optional comma-separated key filter for drift forensics (e.g.
    # re-timing ONE frozen cohort in a session that doesn't also carry
    # 150 other plans' JVM/cache churn). The driver runs unfiltered.
    only = {
        k for k in os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").split(",") if k
    }
    headline = [k for k in HEADLINE if not only or k in only]
    spark = get_spark("cloud2sql_spark-bench")
    registry = queries()

    # warm the JVM (codegen, shuffle machinery, parquet reader) at sf0.001
    # so the first timed query doesn't pay one-time startup cost
    warm_dir = "/root/testdata/sf0.001"
    spark.range(1000).selectExpr("sum(id)").collect()
    if os.path.isdir(warm_dir):
        registry["agg_groupby"](spark, warm_dir).collect()

    # best-of-3 per query: this box shows large exogenous load spikes
    # (round-3 measurements saw identical code vary 3-10x run to run on an
    # idle VM — host-level contention), and a single-shot measurement can
    # catch one. Caches are cleared between trials so every timing is a
    # cold plan execution, not a cache read.
    per_query: dict[str, float] = {}
    for trial in range(3):
        # Warm the shared shingle index and time it as its own line. Ten
        # dedup/text ops share this per-session persisted index (listed in
        # _doc_shingles' docstring; dedup_simhash is not one of them, its
        # signature pass reads the text itself); round 3 charged its
        # one-time build to whichever dedup op benched first, which made
        # round-over-round per-op deltas look like regressions (r2→r3
        # dedup_near_minhash 0.92→1.74s was pure attribution). The
        # family's true cost is shingle_build + the per-op marginals.
        from cloud2sql_spark import memo
        from cloud2sql_spark.queries.extensions import (
            _capped_sr_meta,
            _doc_shingles,
            _exact_jaccard_pairs_shared,
            _simhash_sig_frame,
        )

        memo.reset()
        t0 = time.time()
        _doc_shingles(spark, sf_dir, nonempty=True).count()
        _doc_shingles(spark, sf_dir).count()
        dt = round(time.time() - t0, 3)
        per_query["shingle_build"] = min(
            per_query.get("shingle_build", float("inf")), dt
        )
        # The three r14 session-memoized dedup indexes get their own
        # timed lines, the shingle_build pattern (VERDICT r14 item 1 of
        # "what's wrong"): charging each one-time build to whichever
        # family key happened to bench first made per-key numbers
        # trial-order dependent (dedup_ngram_capped absorbed the whole
        # sr_meta build). Additive only — the per-key marginals below
        # still rebuild nothing, and every index still derives from
        # parquet inside this timed trial. Arguments mirror the
        # consumers' call sites exactly (threshold 0.5, default df_cap)
        # so the memo keys match. The truth and sr_meta lines ride on the
        # shingle index warmed above; dedup_build_simhash_sig includes
        # its own text pass.
        for bname, bfn in (
            (
                "dedup_build_jaccard_truth",
                lambda: _exact_jaccard_pairs_shared(spark, sf_dir, 0.5),
            ),
            ("dedup_build_simhash_sig", lambda: _simhash_sig_frame(spark, sf_dir)),
            ("dedup_build_sr_meta", lambda: _capped_sr_meta(spark, sf_dir)),
        ):
            t0 = time.time()
            bfn().count()
            dt = round(time.time() - t0, 3)
            per_query[bname] = min(per_query.get(bname, float("inf")), dt)
        for key in headline:
            fn = registry.get(key)
            if fn is None:
                continue
            t0 = time.time()
            df = fn(spark, sf_dir)
            # noop sink, not count(): count() lets Catalyst prune every
            # unreferenced projection column, so projection-heavy queries
            # would be timed as near-empty scans (ADVICE r1). The noop
            # writer materializes every output column and discards rows
            # executor-side (no driver collect).
            df.write.format("noop").mode("overwrite").save()
            dt = round(time.time() - t0, 3)
            per_query[key] = min(per_query.get(key, float("inf")), dt)
        spark.catalog.clearCache()

    total = round(sum(per_query.values()), 3)
    r01_total = round(
        sum(v for k, v in per_query.items() if k in set(R01_SET)), 3
    )
    # like-for-like round deltas: the headline set GROWS every round, so the
    # raw total is not comparable across rounds. rNN_set_total restricts to
    # the frozen keys that round timed (r01: 29 keys; r02: 37; r03: 47;
    # r04: 111; r05: 163 — matching the historical BENCH_r0N.json
    # recordings, whose n_queries run one higher because they also time
    # the shared shingle_build step).
    def _subtotal(keys: list[str]) -> float:
        ks = set(keys)
        return round(sum(v for k, v in per_query.items() if k in ks), 3)

    result = {
        "metric": "headline_queries_total_time",
        "value": total,
        "unit": "sec",
        "queries": per_query,
        "n_queries": len(per_query),
        "r01_set_total": r01_total,
        "r02_set_total": _subtotal(R02_SET),
        "r03_set_total": _subtotal(R03_SET),
        "r04_set_total": _subtotal(R04_SET),
        "r05_set_total": _subtotal(R05_SET),
        "r06_set_total": _subtotal(R06_SET),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # any HEADLINE key absent from the registry (a rename or
        # a dropped op) is skipped above — surface it so a silent
        # skip can't masquerade as a faster subtotal
        "missing_keys": sorted(k for k in HEADLINE if k not in registry),
    }
    print(json.dumps(result))
    # Persist the full per-key recording in-repo (VERDICT r06 item 2): the
    # driver's BENCH_rNN artifact keeps only a ~2000-char tail of stdout,
    # which drops most per-key timings every round and makes per-key
    # round-over-round diffs unrecoverable. bench_full_latest.json always
    # holds the most recent unfiltered run (committed each round, so git
    # history is the per-round series); bench_history.jsonl appends every
    # unfiltered run with a timestamp for intra-round forensics. Filtered
    # runs (SPARK_GRAFT_BENCH_ONLY) are NOT persisted — partial subtotals
    # would read as regressions — and neither are runs at a non-headline
    # scale factor: a quick sf0.001 smoke run must not clobber the
    # round's committed sf0.1 recording with sub-second timings.
    if not only and os.path.basename(os.path.normpath(sf_dir)) == "sf0.1":
        repo = os.path.dirname(os.path.abspath(__file__))
        # Host-contention snapshot (VERDICT r12 item 6): timing spreads of
        # 10-20% across a day were repeatedly adjudicated as host load, not
        # code — freezing the 1/5/15-min load averages and uptime next to
        # the value makes that case one line instead of three paragraphs.
        host: dict = {}
        try:
            host["loadavg_1_5_15"] = [round(x, 2) for x in os.getloadavg()]
            with open("/proc/uptime") as f:
                host["uptime_sec"] = round(float(f.read().split()[0]), 1)
            host["cpus"] = os.cpu_count()
        except (OSError, ValueError):
            pass
        record = dict(
            result,
            wall_clock=time.strftime("%Y-%m-%dT%H:%M:%S"),
            host=host,
        )
        try:
            with open(os.path.join(repo, "bench_full_latest.json"), "w") as f:
                json.dump(record, f, indent=1, sort_keys=True)
                f.write("\n")
            with open(os.path.join(repo, "bench_history.jsonl"), "a") as f:
                f.write(json.dumps(record, sort_keys=True) + "\n")
            freeze_round_snapshot(repo, record)
            # Gate math, mechanized (the r13 status hand-cited 109.74s
            # where the true same-n_queries minimum was 109.064s): the
            # best-ever is min(value) over history rows with the SAME
            # n_queries — a different key count is a different suite.
            # stderr only: stdout stays the driver's single JSON line.
            try:
                best = min(
                    d["value"]
                    for line in open(
                        os.path.join(repo, "bench_history.jsonl")
                    )
                    if (d := json.loads(line)).get("n_queries")
                    == record.get("n_queries")
                    and d.get("value")
                )
                print(
                    f"gate: suite {record['value']}s vs best-ever "
                    f"{best}s at n_queries={record.get('n_queries')} "
                    f"= {record['value'] / best:.2f}x",
                    file=sys.stderr,
                )
            except (OSError, ValueError, KeyError, TypeError):
                pass
        except OSError:
            pass  # read-only checkout: stdout JSON is still authoritative
    spark.stop()


if __name__ == "__main__":
    main()
