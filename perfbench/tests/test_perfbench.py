"""Self-tests for the benchmark.

Fast tests need no Spark session:

    python3 -m pytest perfbench/tests -q

``PERFBENCH_SLOW=1`` adds the end-to-end checks, which run the benchmark
command itself (about a minute each).
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys
import threading
import time
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, ROOT)
sys.path.insert(0, BENCH)

import gate  # noqa: E402
import gen  # noqa: E402
import tracing  # noqa: E402
import worker  # noqa: E402
from workloads import FIXTURE_DIR, JDBC_GRAPH, PARQUET_GRAPH, WORKLOADS  # noqa: E402

slow = pytest.mark.skipif(
    not os.environ.get("PERFBENCH_SLOW"), reason="set PERFBENCH_SLOW=1"
)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_same_seed_same_export(tmp_path):
    a = gen.write_graph_export(str(tmp_path / "a"), 7, **JDBC_GRAPH)
    b = gen.write_graph_export(str(tmp_path / "b"), 7, **JDBC_GRAPH)
    c = gen.write_graph_export(str(tmp_path / "c"), 8, **JDBC_GRAPH)
    assert a == b
    cmp = filecmp.dircmp(tmp_path / "a", tmp_path / "b")
    assert not cmp.diff_files and not cmp.left_only and not cmp.right_only
    for sub in ("nodes", "edges"):
        sub_cmp = filecmp.dircmp(tmp_path / "a" / sub, tmp_path / "b" / sub)
        assert not sub_cmp.diff_files
    assert a != c


def test_export_counts_match_the_written_lines(tmp_path):
    counts = gen.write_graph_export(str(tmp_path), 3, **PARQUET_GRAPH)
    kinds = gen.kind_names(PARQUET_GRAPH["n_kinds"])
    assert len(counts) == PARQUET_GRAPH["n_kinds"] + PARQUET_GRAPH["n_pairs"]
    lines: dict[str, int] = {}
    with open(tmp_path / "nodes" / "part-00000.json") as fh:
        for line in fh:
            k = json.loads(line)["kind"]
            lines[k] = lines.get(k, 0) + 1
    with open(tmp_path / "edges" / "part-00000.json") as fh:
        for line in fh:
            e = json.loads(line)
            t = f"link_{e['from_kind']}_{e['to_kind']}"
            lines[t] = lines.get(t, 0) + 1
    assert lines == counts
    assert all(counts[k] >= 20 for k in kinds)


def test_packaged_fixtures_cover_the_catalog():
    from cloud2sql_spark.catalog import TABLES

    assert {f"{t}.parquet" for t in TABLES} <= set(os.listdir(FIXTURE_DIR))


def _result(cols, rows):
    """A collected Spark result as ``gate.Collected`` holds it."""
    from pyspark.sql import Row

    df = types.SimpleNamespace(
        columns=cols, collect=lambda: [Row(**dict(zip(cols, r))) for r in rows]
    )
    return gate.Collected(df)


def test_gate_catches_injected_wrong_result():
    duckdb = pytest.importorskip("duckdb")
    con = duckdb.connect()
    sql = "SELECT * FROM (VALUES (1, 0.5), (2, 1.25), (3, NULL)) t(k, v)"
    rows = [(1, 0.5), (2, 1.25), (3, None)]
    assert gate.check_result(_result(["v", "k"], [(v, k) for k, v in rows]),
                             con, sql, "q") is None
    wrong = [(1, 0.5), (2, 1.26), (3, None)]
    assert "value mismatch" in gate.check_result(_result(["k", "v"], wrong), con, sql, "q")
    assert "row count" in gate.check_result(_result(["k", "v"], rows[:2]), con, sql, "q")
    assert "column" in gate.check_result(_result(["k", "w"], rows), con, sql, "q")
    assert gate.check_counts({"a": 1, "b": 2}, {"a": 1, "b": 2}) is None
    assert "['b']" in gate.check_counts({"a": 1, "b": 3}, {"a": 1, "b": 2})


def test_gate_catches_wrong_result_against_the_fixtures():
    pytest.importorskip("duckdb")
    con = gate.oracle_connection(FIXTURE_DIR)
    sql = "SELECT r_regionkey, r_name FROM region"
    rows = con.execute(sql).fetchall()
    cols = ["r_regionkey", "r_name"]
    assert gate.check_result(_result(cols, rows), con, sql, "region") is None
    rows[0] = (rows[0][0], rows[0][1] + "x")
    assert gate.check_result(_result(cols, rows), con, sql, "region")


def test_snapshot_files_are_counted_once(tmp_path):
    """The Parquet output holds each table twice, as the ``<table>`` link
    and as the ``<table>.versions/<id>`` directory it points to; the live
    version's files are counted once, also after a replace."""
    from cloud2sql_spark.etl.sinks import write_parquet_snapshot

    def fake_df(n_files):
        def parquet(path):
            os.makedirs(path)
            for i in range(n_files):
                with open(os.path.join(path, f"part-{i:05d}.parquet"), "wb") as fh:
                    fh.write(b"x" * 100)
            open(os.path.join(path, "_SUCCESS"), "w").close()

        writer = types.SimpleNamespace(parquet=parquet)
        return types.SimpleNamespace(
            write=types.SimpleNamespace(mode=lambda _m: writer)
        )

    out = str(tmp_path)
    write_parquet_snapshot(fake_df(3), os.path.join(out, "kind00"))
    write_parquet_snapshot(fake_df(2), os.path.join(out, "kind00"))
    write_parquet_snapshot(fake_df(4), os.path.join(out, "link_a_b"))
    assert worker.snapshot_bytes(out, ["kind00", "link_a_b"]) == (6, 600)


def test_spans_nest_inside_their_parents():
    tr = tracing.Tracer()
    tr.enabled = True
    with tr.span("op"):
        with tr.span("etl.pipeline"):
            with tr.span("etl.sinks.write"):
                time.sleep(0.01)

            # a span opened on another thread is parented to the main
            # thread's innermost open span
            def child():
                with tr.span("etl.flatten"):
                    time.sleep(0.01)

            t = threading.Thread(target=child)
            t.start()
            t.join(timeout=10)
            assert not t.is_alive()
    by_id = {s.id: s for s in tr.spans}
    names = {s.name: s for s in tr.spans}
    assert names["etl.flatten"].parent == names["etl.pipeline"].id
    assert names["etl.sinks.write"].parent == names["etl.pipeline"].id
    for s in tr.spans:
        if s.parent is not None:
            p = by_id[s.parent]
            assert p.start <= s.start <= s.end <= p.end
    own = tracing.self_times(tr.spans)
    total = tracing.total_times(tr.spans)
    assert own["etl.pipeline"] < total["etl.pipeline"] - 0.015


def test_wrapper_records_spans_only_while_enabled():
    mod = types.SimpleNamespace(f=lambda x: x + 1)
    tr = tracing.Tracer()
    tr.wrap(mod, "f", "layer")
    assert mod.f(1) == 2 and tr.spans == []
    tr.enabled = True
    assert mod.f(2) == 3 and [s.name for s in tr.spans] == ["layer"]


def _fake_events(t0: float) -> list[dict]:
    ms = t0 * 1000 + 10
    return [
        {"Event": "SparkListenerJobStart", "Submission Time": ms},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Submission Time": ms}},
        {
            "Event": "SparkListenerTaskEnd",
            "Task Info": {
                "Launch Time": ms,
                "Accumulables": [
                    {"Name": "data sent to Python workers", "Update": 100},
                    {"Name": "data returned from Python workers", "Update": 40},
                ],
            },
            "Task Metrics": {
                "Executor Run Time": 500,
                "Executor CPU Time": 4e8,
                "JVM GC Time": 10,
                "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 2},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 3},
                "Input Metrics": {"Bytes Read": 50},
            },
        },
        {
            "Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
            "executionId": 1,
            "time": ms,
            "sparkPlanInfo": {
                "nodeName": "AdaptiveSparkPlan",
                "children": [{"nodeName": "Exchange", "children": []}],
            },
        },
        # outside the window: ignored
        {"Event": "SparkListenerJobStart", "Submission Time": ms + 10_000},
    ]


def test_every_emitted_metric_is_declared():
    spec = _spec()
    declared_e2e = {m["name"] for m in spec["end_to_end"]}
    declared_layer = {m["name"] for m in spec["per_layer"]}
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)

    t0 = 1000.0
    tr = tracing.Tracer()
    p = {"t0": t0, "t1": t0 + 1, "wall": 1.0}
    ops = worker.QueryOps.__new__(worker.QueryOps)
    layers = worker.layer_metrics([p], tr, _fake_events(t0), ops)
    layers["session.start_s"] = layers["trace_overhead"] = 1.0
    assert set(layers) == declared_layer
    assert layers["spark.jobs"] == 1 and layers["plan.exchanges"] == 1
    assert layers["python.bytes_sent"] == 100

    # run.py emits only declared names, and every declared end-to-end
    # metric is among the worker's end-to-end values
    src = open(os.path.join(BENCH, "worker.py")).read()
    for name in declared_e2e:
        assert f'"{name}"' in src


def test_missing_program_exits_nonzero(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query_mix",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert out.returncode != 0
    assert out.stdout == ""


def _run(workload: str, seed: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=400,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@slow
def test_counters_repeat_across_traced_runs():
    exact = ("spark.jobs", "spark.stages", "checkpointing.calls",
             "etl.sinks.files_written")
    for workload in ("etl_export", "query_mix"):
        a = _run(workload, 5, 1)["metrics"]
        b = _run(workload, 5, 1)["metrics"]
        assert {k: a[k]["value"] for k in exact} == {k: b[k]["value"] for k in exact}


@slow
def test_untraced_run_reports_every_end_to_end_metric():
    r = _run("query_mix", 1, 0)
    assert r["correct"] and r["failed"] == 0
    declared = {m["name"] for m in _spec()["end_to_end"]}
    assert set(r["metrics"]) == declared
    assert all(m["value"] > 0 for m in r["metrics"].values())
