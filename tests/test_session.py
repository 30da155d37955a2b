"""The session factory (cloud2sql_spark/session.py): its codegen cache
holds the engine's working set, so a long session compiles each
generated class once."""

from __future__ import annotations

from cloud2sql_spark import memo
from cloud2sql_spark.registry import queries

# The benchmark's query_mix keys but dedup_simhash, plus five more
# relational keys: 143 classes on a fresh session at sf0.001, well over
# Spark's default cache of 100 (4 Guava segments of 25), so a session
# with the default bound recompiles most of them every round.
# dedup_simhash is left out because its plan is not fixed: AQE picks the
# build side of its band self-join from whichever side's stage finishes
# first (BuildLeft in 4 of 12 runs), so a warm round can meet the other
# side's class for the first time. That is new code, not an eviction.
_KEYS = (
    "tpch_q1",
    "tpch_q3",
    "tpch_q18",
    "agg_rollup",
    "join_multiway_star",
    "win_running_sum",
    "graph_bfs_levels",
    "udf_pandas_scalar",
    "agg_groupby",
    "agg_cube",
    "tpch_q6",
    "win_rank_dense",
    "sort_multikey",
)


def test_warm_round_compiles_nothing(spark, sf_dir, empty_memo):
    """Round 2 of the same keys, with the memo reset between rounds as
    bench.py does, reuses every class round 1 compiled: Spark's Janino
    compile counter does not move."""
    registry = queries()
    codegen_metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = codegen_metrics.METRIC_COMPILATION_TIME()

    def run_round() -> int:
        memo.reset()
        before = compiles.getCount()
        for key in _KEYS:
            registry[key](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return compiles.getCount() - before

    run_round()
    assert run_round() == 0
