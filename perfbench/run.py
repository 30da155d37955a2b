"""Benchmark of record for cloud2sql_spark: one workload, one fresh process.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The run happens in a child process on
``local[nproc]`` with every scratch path (Spark local dirs, temp files,
Derby, the event log) inside a work directory under the checkout, which
is removed afterwards. Human-readable lines go to stdout first; the last
stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). The exit code is 0 only when
every op ran and matched its expected output. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402

TIMEOUT_S = 170
OUT_DIR = os.path.join(ROOT, ".perfbench_out")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _driver_memory_mb() -> int:
    """A quarter of physical memory, at most 4g (session.py's default of
    24g does not fit small machines): room for the Python workers and
    other tenants of the machine."""
    with open("/proc/meminfo") as fh:
        total_kb = int(fh.readline().split()[1])
    return max(1024, min(4096, total_kb // 4096))


def _child_env(work: str, trace: bool) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    heap_mb = _driver_memory_mb()
    # The heap starts at its maximum (-Xms): left to grow it by GC timing,
    # G1 made the peak RSS of the graph and Python-worker keys spread by
    # 10-17% of its median over five seeds, and by 3% with -Xms. G1 still
    # sizes the young generation itself.
    java_opts = f"-Xms{heap_mb}m -Djava.io.tmpdir={tmp} -Dderby.system.home={work}"
    confs = [
        f"spark.driver.extraJavaOptions={java_opts}",
        f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
    ]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        confs += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{log_dir}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ]
    env = dict(os.environ)
    # Shuffle and spill scratch stays in the work directory, on the
    # checkout's file system, not on session.py's tmpfs default: a run
    # writes nowhere outside its checkout. At these input sizes the two
    # timed alike (12 relational keys on 4 cores, three seeds each:
    # median pass time 6.92 s on disk, 6.85 s on tmpfs).
    env.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_DRIVER_MEMORY=f"{heap_mb}m",
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, env.get("PYTHONPATH")])),
        PYSPARK_SUBMIT_ARGS=" ".join(f"--conf '{c}'" for c in confs) + " pyspark-shell",
    )
    return env


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill whatever is left in the child's process group and wait for
    it to be gone."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def _report(result: dict, units: dict[str, str], layers: dict) -> None:
    print(
        f"workload {result['workload']} seed {result['seed']} trace {result['trace']}: "
        f"{result['passes']} timed passes, {len(result['ops'])} op runs"
    )
    for name, value in result["end_to_end"].items():
        if name == "op_p90_s" and value is None:
            print(f"  {name:<12} n/a (needs at least 100 op timings in a run)")
        elif name == "error_rate":
            print(f"  {name:<12} {value:.4f} ({result['failed']}/{result['attempted']} ops)")
        else:
            print(f"  {name:<12} {value:.4f} {units.get(name, 's')}")
    for err in result["errors"]:
        print(f"  error: {err}")
    for name, m in layers.items():
        print(f"  {name:<34} {m['value']:.6g} {m['unit']}")
    print("host " + json.dumps(result["host"], sort_keys=True))


def main(argv: list[str] | None = None) -> int:
    t_launch = time.time()
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "cloud2sql_spark")):
        print("perfbench: cloud2sql_spark package not found next to perfbench/",
              file=sys.stderr)
        return 2
    spec = _spec()
    units = {
        section: {m["name"]: m["unit"] for m in spec[section]}
        for section in ("end_to_end", "per_layer")
    }
    section = "per_layer" if args.trace else "end_to_end"

    work = os.path.join(ROOT, ".perfbench_work", f"{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        cmd = [
            sys.executable, os.path.join(HERE, "worker.py"),
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--t-launch", repr(t_launch),
        ]
        proc = subprocess.Popen(
            cmd, cwd=work, env=_child_env(work, bool(args.trace)),
            stdout=sys.stderr, stderr=sys.stderr, start_new_session=True,
        )
        try:
            rc = proc.wait(timeout=TIMEOUT_S - (time.time() - t_launch))
        except subprocess.TimeoutExpired:
            rc = None
        _stop_group(proc)
        if rc != 0:
            why = "timed out" if rc is None else f"exited with {rc}"
            print(f"perfbench: worker {why}", file=sys.stderr)
            return 1
        with open(os.path.join(work, "result.json")) as fh:
            result = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it

    values = result[section]
    metrics = {n: {"value": values[n], "unit": u} for n, u in units[section].items()}
    os.makedirs(OUT_DIR, exist_ok=True)
    with open(os.path.join(
        OUT_DIR, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    ), "w") as fh:
        json.dump(result, fh)
    _report(result, units["end_to_end"], metrics if args.trace else {})
    correct = result["failed"] == 0
    print(json.dumps({
        "correct": correct,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
