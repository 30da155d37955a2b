"""Workload definitions: which ops a pass runs, and on what input.

Every workload is a closed loop with one client: each op starts when the
previous one finishes. A pass runs every op of the workload once, in an
order drawn from the workload seed.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

# etl_export input shape. The exporter's cost tracks the number of output
# tables (about three Spark jobs per table), not rows, so kinds and pairs
# are fixed here; the seed draws the graph itself.
PARQUET_GRAPH = {"n_nodes": 10_000, "n_kinds": 5, "n_pairs": 5}
JDBC_GRAPH = {"n_nodes": 1_000, "n_kinds": 3, "n_pairs": 3}

# Analytic fixture tables for query_mix: a copy of the sf0.01
# tables described in TESTDATA.md (60,000 lineitem rows), the data the
# registry keys are oracle-tested on. Every run checks against the same
# oracle results; the workload seed only reorders the ops.
FIXTURE_DIR = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "fixtures", "sf0.01"
)


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str  # "etl" or "query"
    ops: tuple[str, ...]


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload("etl_export", "etl", ("export_parquet", "export_jdbc")),
        Workload(
            "query_mix",
            "query",
            (
                # relational keys users run on the exported schema:
                # codegen and shuffle, no checkpoints, no Python workers
                "tpch_q1",
                "tpch_q3",
                "tpch_q18",
                "agg_rollup",
                "join_multiway_star",
                "win_running_sum",
                # iterative loop: driver-side build (over 90% of its
                # time), 39 small jobs, 8 checkpoints
                "graph_bfs_levels",
                # Arrow/Python workers and the session memos
                "dedup_simhash",
                "udf_pandas_scalar",
            ),
        ),
    )
}
