"""Pin the CLI argument contracts of bench.py, scripts/verify_contract.py,
scripts/probe.py and the other gate scripts (VERDICT r09 item 4 / ADVICE r09).

Before round 10, ANY invocation of bench.py or verify_contract.py —
including ``--help`` — launched a multi-minute Spark run (the judge
tripped it live), and bench reruns also rewrote bench_full_latest.json /
bench_history.jsonl. ``--help`` must now print usage and exit 0 with no
Spark session and no file writes; unknown options must error out before
any expensive work. Subprocess-level tests so the real entry points are
pinned, not a refactoring of them.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Generous vs the observed ~2s, but far below the multi-minute runs the
# old behavior launched — a regression to "run everything" times out.
_FAST = 60


def _run(*argv: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, *argv],
        cwd=_REPO,
        capture_output=True,
        text=True,
        timeout=_FAST,
    )


def _mtimes() -> dict[str, float]:
    out = {}
    for fn in os.listdir(_REPO):
        if fn.startswith(("bench_full_", "bench_history", "BENCH_r")):
            out[fn] = os.path.getmtime(os.path.join(_REPO, fn))
    return out


def test_bench_help_exits_zero_without_writes():
    before = _mtimes()
    t0 = time.time()
    r = _run("bench.py", "--help")
    assert r.returncode == 0, r.stderr
    assert "usage" in r.stdout.lower()
    assert "SPARK_GRAFT_SF_DIR" in r.stdout
    assert _mtimes() == before  # no bench artifact touched
    assert time.time() - t0 < _FAST


def test_bench_rejects_unknown_arguments():
    before = _mtimes()
    for bad in (["--bogus"], ["stray"], ["--only=agg_groupby"]):
        r = _run("bench.py", *bad)
        assert r.returncode == 2, (bad, r.stderr)
        assert "unrecognized arguments" in r.stderr
    assert _mtimes() == before


def test_bench_filtered_run_end_to_end():
    """A filtered sf0.001 bench run: stdout is the one JSON line with the
    four shared build lines then the two keys, and the CPU contract; every
    timed line reports once per trial on stderr; nothing is persisted."""
    before = _mtimes()
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_BENCH_ONLY="agg_groupby,tpch_q6",
        SPARK_GRAFT_CPUS="2",
        SPARK_DRIVER_MEMORY="1g",
    )
    r = subprocess.run(
        [sys.executable, "bench.py"],
        cwd=_REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    lines = r.stdout.splitlines()
    assert len(lines) == 1, r.stdout
    result = json.loads(lines[0])
    timed = [
        "shingle_build",
        "dedup_build_jaccard_truth",
        "dedup_build_simhash_sig",
        "dedup_build_sr_meta",
        "agg_groupby",
        "tpch_q6",
    ]
    assert list(result["queries"]) == timed
    assert result["default_parallelism"] == 2
    assert result["master"] == "local[2]"
    # unanchored: Spark's console progress bar shares the stream
    reported = re.findall(r"trial (\d): (\w+) \d+(?:\.\d+)?", r.stderr)
    assert sorted(reported) == sorted((str(t), k) for t in range(3) for k in timed)
    assert _mtimes() == before


def test_verify_contract_help_exits_zero_fast():
    t0 = time.time()
    r = _run("scripts/verify_contract.py", "--help")
    assert r.returncode == 0, r.stderr
    assert "usage" in r.stdout.lower()
    assert "VERIFY_SF_DIR" in r.stdout
    assert time.time() - t0 < _FAST


def test_verify_contract_rejects_unknown_options():
    r = _run("scripts/verify_contract.py", "--bogus")
    assert r.returncode == 2
    assert "unrecognized arguments" in r.stderr


# The fixture probes are axes of scripts/probe.py; the tests below keep
# the names of the per-axis scripts it replaced (split_probe,
# composed_probe, null_probe, perturb_audit). Every rejection must
# happen before the first corpus is written (the probe prints this line
# first thing after writing one).
_WROTE = "fixtures written"


def test_perturb_audit_rejects_unknown_drive_before_generation(tmp_path):
    """A typo'd --drive= must fail BEFORE the perturbed-fixture
    generation, naming the known drives (ADVICE r09)."""
    out = tmp_path / "out"
    r = _run(
        "scripts/probe.py", "--axis", "perturb", "--out", str(out),
        "--drive=flagmatrix",
    )
    assert r.returncode == 2
    assert "verify_contract" in r.stderr and "flag_matrix" in r.stderr
    assert _WROTE not in r.stdout
    assert not out.exists()


def test_perturb_audit_drive_is_allowlisted_not_file_existence():
    """scripts/*.py that exist but are not gates (scale_probe, probe
    itself) and the removed perturb_audit are rejected as --drive
    targets (ADVICE r10: the old check accepted any existing
    scripts/*.py)."""
    for bad in ("scale_probe", "perturb_audit", "probe"):
        r = _run("scripts/probe.py", "--axis", "perturb", f"--drive={bad}")
        assert r.returncode == 2, bad
        assert "invalid choice" in r.stderr
        assert _WROTE not in r.stdout


def test_perturb_audit_rejects_unknown_option():
    r = _run("scripts/probe.py", "--axis", "perturb", "--bogus")
    assert r.returncode == 2
    assert "unrecognized arguments" in r.stderr
    assert _WROTE not in r.stdout


def test_perturb_audit_help_exits_zero_fast():
    t0 = time.time()
    r = _run("scripts/probe.py", "--help")
    assert r.returncode == 0, r.stderr
    assert "usage" in r.stdout.lower()
    for opt in ("--axis", "--drive", "--src", "--out", "perturb"):
        assert opt in r.stdout, opt
    assert _WROTE not in r.stdout
    assert time.time() - t0 < _FAST


def test_flag_matrix_help_exits_zero_fast():
    t0 = time.time()
    r = _run("scripts/flag_matrix.py", "--help")
    assert r.returncode == 0, r.stderr
    assert "usage" in r.stdout.lower()
    assert "VERIFY_SF_DIR" in r.stdout
    assert time.time() - t0 < _FAST


def test_flag_matrix_rejects_unknown_options():
    r = _run("scripts/flag_matrix.py", "--bogus")
    assert r.returncode == 2
    assert "unrecognized arguments" in r.stderr


def test_split_probe_help_exits_zero_without_writes(tmp_path):
    out = tmp_path / "out"
    r = _run("scripts/probe.py", "--axis", "split", "--out", str(out), "--help")
    assert r.returncode == 0, r.stderr
    assert "split" in r.stdout
    assert _WROTE not in r.stdout
    assert not out.exists()


def test_split_probe_rejects_unknown_and_bad_options():
    r = _run("scripts/probe.py", "--axis", "split", "--bogus")
    assert r.returncode == 2
    assert "unrecognized arguments" in r.stderr
    # the split knobs are constants now, not options
    for dropped in ("--row-group-size=4096", "--max-partition-bytes=65536"):
        r = _run("scripts/probe.py", "--axis", "split", dropped)
        assert r.returncode == 2, dropped
        assert "unrecognized arguments" in r.stderr
    r = _run("scripts/probe.py", "--axis", "splits")
    assert r.returncode == 2
    assert "unknown axis step 'splits'" in r.stderr
    # no --axis at all is an error, not a plain contract run
    r = _run("scripts/probe.py")
    assert r.returncode == 2
    assert "--axis" in r.stderr
    assert _WROTE not in r.stdout


def test_scale_probe_help_and_bad_replication():
    r = _run("scripts/scale_probe.py", "--help")
    assert r.returncode == 0 and "usage" in r.stdout.lower()
    r = _run("scripts/scale_probe.py", "abc")
    assert r.returncode == 2
    assert "invalid int value" in r.stderr


def test_composed_probe_help_exits_zero_without_writes():
    r = _run("scripts/probe.py", "--help")
    assert r.returncode == 0, r.stderr
    assert "composed (= perturb,split)" in r.stdout
    assert _WROTE not in r.stdout


def test_composed_probe_rejects_unknown_options():
    r = _run("scripts/probe.py", "--axis", "composed", "--bogus")
    assert r.returncode == 2
    assert "unrecognized arguments" in r.stderr
    r = _run("scripts/probe.py", "--axis", "perturb,bogus")
    assert r.returncode == 2
    assert "unknown axis step 'bogus'" in r.stderr
    assert _WROTE not in r.stdout


def test_null_probe_help_exits_zero_without_writes():
    r = _run("scripts/probe.py", "--help")
    assert r.returncode == 0, r.stderr
    # every NULL column is discoverable from --help
    for column in (
        "documents.text",
        "events.props",
        "events.value",
        "embeddings.embedding",
    ):
        assert f"null:{column}" in r.stdout, column
    assert _WROTE not in r.stdout


def test_null_probe_rejects_unknown_options():
    r = _run("scripts/probe.py", "--axis", "null", "--bogus")
    assert r.returncode == 2
    assert "unrecognized arguments" in r.stderr
    assert _WROTE not in r.stdout


def test_null_probe_rejects_unknown_axis():
    for bad in ("null:documents.bogus", "null:", "documents.text"):
        r = _run("scripts/probe.py", "--axis", bad)
        assert r.returncode == 2, bad
        assert "unknown axis step" in r.stderr
        assert _WROTE not in r.stdout


def test_stream_state_probe_help_exits_zero_without_writes():
    t0 = time.time()
    r = _run("scripts/stream_state_probe.py", "--help")
    assert r.returncode == 0, r.stderr
    assert "usage" in r.stdout.lower()
    assert "STREAMPROBE_SRC" in r.stdout
    assert "stream state probe:" not in r.stdout
    assert time.time() - t0 < _FAST


def test_stream_state_probe_rejects_unknown_options():
    r = _run("scripts/stream_state_probe.py", "--bogus")
    assert r.returncode == 2
    assert "unrecognized arguments" in r.stderr
    # the bad option fails BEFORE any fixture generation or Spark work
    assert "stream state probe:" not in r.stdout


def test_verify_contract_checks_flagship_on_sf_dir_and_gates_entry(
    spark, sf_dir, tmp_path, capsys
):
    """The full sweep checks the flagship ``pricing_summary`` on the
    corpus under test, and calls a stubbed ``entry()`` only when the
    directory written into its code exists (a skip line otherwise)."""
    import importlib.util
    import shutil

    spec = importlib.util.spec_from_file_location(
        "verify_contract", os.path.join(_REPO, "scripts", "verify_contract.py")
    )
    vc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(vc)
    entry_dir = str(tmp_path / "entry_sf")
    stub = tmp_path / "stub_entry.py"
    stub.write_text(
        "from cloud2sql_spark.queries.aggregates import pricing_summary\n"
        "calls = []\n"
        "def entry(spark):\n"
        "    calls.append(1)\n"
        f"    return pricing_summary(spark, {entry_dir!r})\n"
    )
    spec = importlib.util.spec_from_file_location("stub_entry", stub)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert vc._entry_dirs(mod.entry) == [entry_dir]
    from cloud2sql_spark.queries.aggregates import pricing_summary

    rows = pricing_summary(spark, sf_dir).count()

    vc._check_entry(mod, spark, sf_dir)
    out = capsys.readouterr().out
    assert f"flagship rows: {rows} " in out
    assert f"entry: skipped, {entry_dir} is absent" in out
    assert mod.calls == []

    os.makedirs(entry_dir)
    shutil.copy(os.path.join(sf_dir, "lineitem.parquet"), entry_dir)
    vc._check_entry(mod, spark, sf_dir)
    out = capsys.readouterr().out
    assert f"flagship rows: {rows} " in out and f"entry rows: {rows} " in out
    assert mod.calls == [1]
