"""One benchmark run in a fresh process; started by ``run.py``.

Phases, in order:

1. set-up: session start, input generation, and the first pass. The
   first pass is also the correctness pass: every query op's result is
   collected and compared with its DuckDB oracle (oracle time is not
   counted in ``setup_s``), and every export's per-table counts are
   checked against the generator.
2. ``WARM_PASSES`` untimed passes, then timed passes until
   ``--seconds`` have elapsed and at least ``MIN_PASSES`` ran. Each pass
   runs every op once, in an order drawn from the seed, with the noop
   sink for query ops. Caches are cleared between passes.
3. ETL only: the promoted snapshots are read back.

With ``--trace 1`` timed passes alternate between traced and untraced;
per-layer numbers come from the traced ones, and ``trace_overhead`` is
their median wall time over the untraced ones'. The result is written as
JSON to ``<work>/result.json``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gate  # noqa: E402
import gen  # noqa: E402
import tracing  # noqa: E402
from workloads import (  # noqa: E402
    FIXTURE_DIR,
    JDBC_GRAPH,
    PARQUET_GRAPH,
    WORKLOADS,
    Workload,
)


# JIT warm-up still shortens the passes after the first: HotSpot keeps
# compiling Spark's planner and scheduler for minutes, 2-6 s of compile
# time per etl_export pass through the seventh. The pass right after the
# first is the slowest of the warm ones (etl_export on 4 cores: 5.7, 5.0
# and 4.7 s for the first three after it), by as much as the compiler
# threads were starved by the load on the machine, so WARM_PASSES untimed
# passes follow the first. Every run then times MIN_PASSES, more only when
# they end before ``--seconds``: a run that timed more passes on a fast
# machine would also have timed a more warmed-up JVM. On ten runs that
# timed passes for 20 s, the median of the first three timed passes
# spread by 8% of its median over the seeds, the median of all of them by
# 11%. A traced run's three are untraced, traced, untraced.
WARM_PASSES = 1
MIN_PASSES = 3


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _dir_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) of the data files under ``path``; links are not
    followed."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def snapshot_bytes(out_dir: str, tables) -> tuple[int, int]:
    """(files, bytes) of the live version of each Parquet snapshot. The
    output directory also holds ``<table>.versions/``, which the
    ``<table>`` link points into, so only the link targets are walked."""
    sizes = [_dir_bytes(os.path.realpath(os.path.join(out_dir, t))) for t in tables]
    return sum(f for f, _ in sizes), sum(b for _, b in sizes)


def install_wrappers(tracer: tracing.Tracer) -> None:
    """Wrap each layer's public functions where their callers look them
    up (module attributes), so the program itself is unchanged."""
    from cloud2sql_spark import session
    from cloud2sql_spark.etl import graph_source, pipeline, sinks
    from cloud2sql_spark.queries import analytics, extensions

    tracer.wrap(session, "get_spark", "session.start")
    tracer.wrap(graph_source, "read_graph", "etl.graph_source")
    tracer.wrap(graph_source, "read_catalog", "etl.graph_source")
    tracer.wrap(pipeline, "flatten_graph", "etl.flatten")
    tracer.wrap(pipeline, "collect", "etl.pipeline")
    tracer.wrap(sinks, "write_parquet_snapshot", "etl.sinks.write")
    tracer.wrap(sinks.JdbcSnapshotWriter, "stage", "etl.sinks.jdbc_stage")
    tracer.wrap(sinks.JdbcSnapshotWriter, "swap", "etl.sinks.swap")
    tracer.wrap(analytics, "truncate_lineage", "checkpointing")
    tracer.wrap(extensions, "truncate_lineage", "checkpointing")


class EtlOps:
    """export_parquet and export_jdbc over two seeded graph exports."""

    oracle_s = 0.0  # no oracle: the generator's counts are the expectation

    def __init__(self, spark, work: str, seed: int, tracer: tracing.Tracer):
        self.spark = spark
        self.tracer = tracer
        self.graphs = {}
        self.expected = {}
        for op, shape, gseed in (
            ("export_parquet", PARQUET_GRAPH, seed),
            ("export_jdbc", JDBC_GRAPH, seed + 1),
        ):
            path = os.path.join(work, "input", op)
            self.expected[op] = gen.write_graph_export(path, gseed, **shape)
            self.graphs[op] = path
        self.out_dir = os.path.join(work, "out", "parquet")
        self.jdbc_url = f"jdbc:derby:{os.path.join(work, 'out', 'derby')}"
        self.input_bytes = {
            op: sum(_dir_bytes(os.path.join(p, d))[1] for d in ("nodes", "edges"))
            for op, p in self.graphs.items()
        }
        self.files_written = 0
        self.bytes_written = 0

    def run(self, op: str, check: bool) -> tuple[int, str | None]:
        from cloud2sql_spark.etl import pipeline
        from cloud2sql_spark.etl.config import FileDestination, JdbcDestination

        config = {"sources": {"remote_graph": {"path": self.graphs[op]}}}
        if op == "export_parquet":
            dest = FileDestination(self.out_dir)
        else:
            dest = JdbcDestination(self.jdbc_url + ";create=true")
        counts = pipeline.collect(self.spark, config, dest)
        if op == "export_parquet" and self.tracer.enabled:
            self.files_written, self.bytes_written = snapshot_bytes(
                self.out_dir, self.expected[op]
            )
        return sum(counts.values()), gate.check_counts(counts, self.expected[op])

    def final_check(self) -> list[str]:
        errors = [
            gate.check_parquet_snapshot(
                self.spark, self.out_dir, self.expected["export_parquet"]
            ),
            gate.check_jdbc_snapshot(
                self.spark, self.jdbc_url, self.expected["export_jdbc"]
            ),
        ]
        return [e for e in errors if e]


class QueryOps:
    """Registry keys over a copy of the packaged fixture tables."""

    def __init__(self, spark, work: str, tracer: tracing.Tracer):
        from cloud2sql_spark.registry import oracle_sql, queries

        self.spark = spark
        self.tracer = tracer
        # a copy, so nothing the keys stage next to their input lands in
        # the checkout
        self.fixtures = os.path.join(work, "input", os.path.basename(FIXTURE_DIR))
        shutil.copytree(FIXTURE_DIR, self.fixtures)
        self.registry = queries()
        self.oracles = oracle_sql()
        self.con = None
        self.oracle_s = 0.0
        self.rows: dict[str, int] = {}

    def run(self, op: str, check: bool) -> tuple[int, str | None]:
        with self.tracer.span("query.build"):
            df = self.registry[op](self.spark, self.fixtures)
        if not check:
            with self.tracer.span("query.exec"):
                df.write.format("noop").mode("overwrite").save()
            return self.rows.get(op, 0), None
        result = gate.Collected(df)
        t0 = time.time()
        if self.con is None:
            self.con = gate.oracle_connection(self.fixtures)
        err = gate.check_result(result, self.con, self.oracles[op], op)
        self.oracle_s += time.time() - t0
        self.rows[op] = len(result.rows)
        return len(result.rows), err

    def final_check(self) -> list[str]:
        return []


def _between_passes(spark) -> None:
    """Drop the caches, so memo builds stay inside each pass, and collect
    garbage in both processes, so no pass inherits the previous one's."""
    from cloud2sql_spark.queries.extensions import clear_shingle_cache

    spark.catalog.clearCache()
    clear_shingle_cache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def run_pass(spark, wl: Workload, ops, order, check, tracer, record) -> dict:
    sc = spark.sparkContext
    t0 = time.time()
    op_times, rows, errors = [], 0, []
    with tracer.span("pass"):
        for op in order:
            sc.setJobGroup(f"{wl.name}:{op}", f"perfbench {wl.name}")
            a = time.time()
            with tracer.span("op"):
                try:
                    n, err = ops.run(op, check)
                except Exception as exc:  # an op that raises is a failed op
                    n, err = 0, f"{type(exc).__name__}: {str(exc)[:200]}"
            b = time.time()
            op_times.append((op, b - a))
            rows += n
            if err:
                errors.append(f"{op}: {err}")
            record.append({"op": op, "t0": a, "t1": b, "traced": tracer.enabled,
                           "error": err})
    sc.setJobGroup("", "")
    t1 = time.time()
    _between_passes(spark)
    return {"t0": t0, "t1": t1, "wall": t1 - t0, "ops": op_times, "rows": rows,
            "errors": errors, "traced": tracer.enabled}


def layer_metrics(passes, tracer, events, ops) -> dict[str, float]:
    """Per-layer numbers of one traced pass, as a median over traced passes."""
    per_pass = []
    for p in passes:
        spans = tracer.within(p["t0"], p["t1"])
        tot = tracing.total_times(spans)
        own = tracing.self_times(spans)
        cnt = tracing.count_by_name(spans)
        ev = tracing.window_counters(events, p["t0"], p["t1"])
        m = {
            "query.build_s": tot.get("query.build", 0.0),
            "query.exec_s": tot.get("query.exec", 0.0),
            "spark.jobs": ev["jobs"],
            "spark.stages": ev["stages"],
            "spark.tasks": ev["tasks"],
            "checkpointing.calls": cnt.get("checkpointing", 0),
            "plan.exchanges": ev["exchanges"],
            "spark.shuffle_write_bytes": ev["shuffle_write_bytes"],
            "spark.shuffle_read_bytes": ev["shuffle_read_bytes"],
            "spark.spill_bytes": ev["spill_bytes"],
            "spark.executor_cpu_s": ev["executor_cpu_s"],
            "spark.executor_run_s": ev["executor_run_s"],
            "spark.gc_s": ev["gc_s"],
            "spark.effective_parallelism": ev["executor_run_s"] / p["wall"],
            "python.bytes_sent": ev["python_bytes_sent"],
            "python.bytes_received": ev["python_bytes_received"],
            "etl.graph_source.read_s": tot.get("etl.graph_source", 0.0),
            "etl.flatten.build_s": tot.get("etl.flatten", 0.0),
            "etl.pipeline.count_s": own.get("etl.pipeline", 0.0),
            "etl.sinks.write_s": tot.get("etl.sinks.write", 0.0),
            "etl.sinks.jdbc_stage_s": tot.get("etl.sinks.jdbc_stage", 0.0),
            "etl.sinks.swap_s": tot.get("etl.sinks.swap", 0.0),
        }
        if isinstance(ops, EtlOps):
            export_bytes = sum(ops.input_bytes.values())
            m["etl.input_read_amplification"] = ev["input_bytes"] / export_bytes
            m["etl.sinks.files_written"] = ops.files_written
            m["etl.sinks.bytes_per_input_byte"] = (
                ops.bytes_written / ops.input_bytes["export_parquet"]
            )
        else:
            m["etl.input_read_amplification"] = 0.0
            m["etl.sinks.files_written"] = 0
            m["etl.sinks.bytes_per_input_byte"] = 0.0
        per_pass.append(m)
    return {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--work", required=True)
    p.add_argument("--t-launch", type=float, required=True)
    args = p.parse_args(argv)
    wl = WORKLOADS[args.workload]
    tracer = tracing.Tracer()
    if args.trace:
        install_wrappers(tracer)
        tracer.enabled = True

    from cloud2sql_spark import session

    spark = session.get_spark(f"perfbench-{wl.name}")
    tracer.enabled = False
    session_start_s = tracing.total_times(tracer.spans).get("session.start", 0.0)
    gateway = spark.sparkContext._gateway
    jvm_pid = gateway.proc.pid
    if wl.kind == "etl":
        ops = EtlOps(spark, args.work, args.seed, tracer)
    else:
        ops = QueryOps(spark, args.work, tracer)

    def order(i: int) -> list[str]:
        o = list(wl.ops)
        random.Random(args.seed * 1000 + i).shuffle(o)
        return o

    record: list[dict] = []
    # The warm-up pass runs the ops in their listed order, so every seed
    # pays the same cold costs; the timed passes use seeded orders.
    first = run_pass(spark, wl, ops, list(wl.ops), True, tracer, record)
    setup_s = first["t1"] - args.t_launch - ops.oracle_s
    errors = list(first["errors"])
    attempted = len(wl.ops)
    for i in range(-WARM_PASSES, 0):
        warm = run_pass(spark, wl, ops, order(i), False, tracer, record)
        attempted += len(wl.ops)
        errors += warm["errors"]

    # Traced runs alternate untraced and traced passes, starting and
    # ending untraced, so the overhead ratio compares passes that sit on
    # both sides of each traced one.
    passes = []
    t_meas = time.time()
    i = 1
    while True:
        done = time.time() - t_meas >= args.seconds and len(passes) >= MIN_PASSES
        if done and (not args.trace or i % 2 == 0):
            break
        tracer.enabled = bool(args.trace) and i % 2 == 0
        passes.append(run_pass(spark, wl, ops, order(i), False, tracer, record))
        tracer.enabled = False
        attempted += len(wl.ops)
        errors += passes[-1]["errors"]
        i += 1
    errors += ops.final_check()

    rss_mb = _vm_hwm_mb(jvm_pid) + _vm_hwm_mb("self")
    sc = spark.sparkContext
    host = {
        "nproc": len(os.sched_getaffinity(0)),
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "driver_memory": sc.getConf().get("spark.driver.memory", "?"),
        "loadavg": list(os.getloadavg()),
    }
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)

    plain = [q for q in passes if not q["traced"]]
    timed = plain if plain else passes
    walls = [q["wall"] for q in timed]
    op_samples = [ot for q in timed for ot in q["ops"]]
    op_times = [t for _, t in op_samples]
    result = {
        "workload": wl.name,
        "seed": args.seed,
        "trace": args.trace,
        "passes": len(passes),
        "attempted": attempted,
        "failed": len(errors),
        "errors": errors[:20],
        "host": host,
        "ops": record,
        "end_to_end": {
            "setup_s": setup_s,
            "pass_s": statistics.median(walls),
            # the typical op: median over the workload's ops of each op's
            # median latency (a pooled median of a two-op mix would sit
            # between the two ops' distributions)
            "op_p50_s": statistics.median(
                statistics.median(t for o, t in op_samples if o == name)
                for name in wl.ops
            ),
            "op_p90_s": (
                statistics.quantiles(op_times, n=10)[-1] if len(op_times) >= 100 else None
            ),
            "rows_per_s": statistics.median(q["rows"] / q["wall"] for q in timed),
            "error_rate": len(errors) / attempted,
            "peak_rss_mb": rss_mb,
        },
    }
    if args.trace:
        events = tracing.read_event_log(os.path.join(args.work, "eventlog"))
        traced = [q for q in passes if q["traced"]]
        layers = layer_metrics(traced, tracer, events, ops)
        layers["session.start_s"] = session_start_s
        layers["trace_overhead"] = statistics.median(
            q["wall"] for q in traced
        ) / statistics.median(walls)
        result["per_layer"] = layers
        for r in record:
            if r["traced"]:
                r["counters"] = tracing.window_counters(events, r["t0"], r["t1"])
        result["spans"] = [vars(s) for s in tracer.spans]
    with open(os.path.join(args.work, "result.json"), "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
