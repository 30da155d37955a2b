"""Drive the driver contract the way the grading driver does.

Vanilla SparkSession (no session.py configs), sf0.01, every queries() key
run and — when an oracle exists — compared against DuckDB with the same
normalization as tests/oracle.py. Prints PASS/FAIL per key and a summary.
With no key filter the sweep first checks the flagship ``pricing_summary``
on VERIFY_SF_DIR, then ``entry()``, which reads its own fixed directory,
only when that directory exists.

Argument handling is argparse-first (VERDICT r09 item 4): ``--help``
prints usage and exits 0 BEFORE any Spark/DuckDB work (a bare ``--help``
used to be swallowed as a key filter, launching the full multi-minute
sweep), and any unknown ``--option`` errors out immediately.
"""

from __future__ import annotations

import argparse
import os
import sys


def _parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    """Parse CLI args with zero side effects — importable by tests.

    Kept free of Spark/DuckDB imports so ``--help`` and option typos
    resolve in milliseconds, never after a session build.
    """
    parser = argparse.ArgumentParser(
        description=(
            "Run every __spark_entry__.queries() key under a vanilla "
            "local[8] session and diff against the DuckDB oracle "
            "(the grading driver's shape). ~minutes at the default "
            "sf0.01; ~2h at VERIFY_SF_DIR=/root/testdata/sf0.1."
        ),
        epilog=(
            "Env: VERIFY_SF_DIR selects the fixture directory "
            "(default /root/testdata/sf0.01)."
        ),
    )
    parser.add_argument(
        "keys",
        nargs="*",
        metavar="KEY",
        help=(
            "optional key filters (exact registry name or prefix); "
            "with no filter the full sweep runs, including the flagship "
            "pricing_summary on VERIFY_SF_DIR and entry()"
        ),
    )
    return parser.parse_args(argv)


def _entry_dirs(entry) -> list[str]:
    """The absolute paths written into ``entry``'s own code: the fixture
    directory ``__spark_entry__.entry()`` reads, whatever VERIFY_SF_DIR
    says."""
    return [
        c for c in entry.__code__.co_consts if isinstance(c, str) and os.path.isabs(c)
    ]


def _check_entry(mod, spark, sf_dir: str) -> None:
    """The full sweep's whole-program checks: the flagship
    ``pricing_summary`` on ``sf_dir`` (the corpus under test), then
    ``entry()`` only when its own directory exists."""
    import time

    from cloud2sql_spark.queries.aggregates import pricing_summary

    t0 = time.time()
    rows = len(pricing_summary(spark, sf_dir).collect())
    print(f"flagship rows: {rows} ({time.time() - t0:.1f}s)", flush=True)
    assert rows > 0
    missing = [d for d in _entry_dirs(mod.entry) if not os.path.isdir(d)]
    if missing:
        print(f"entry: skipped, {', '.join(missing)} is absent", flush=True)
        return
    t0 = time.time()
    rows = len(mod.entry(spark).collect())
    print(f"entry rows: {rows} ({time.time() - t0:.1f}s)", flush=True)
    assert rows > 0


def main(argv: list[str] | None = None) -> None:
    args = _parse_args(argv)

    # Heavy imports only after a successful parse — --help / a typo'd
    # option must never pay (or trigger) a Spark session.
    import importlib.util
    import time
    import traceback

    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )

    import duckdb

    from tests.oracle import compare

    sf_dir = os.environ.get("VERIFY_SF_DIR", "/root/testdata/sf0.01")

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(repo, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.master("local[8]").getOrCreate()  # vanilla
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    from cloud2sql_spark.catalog import TABLES

    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
        )

    only = args.keys  # optional key filters (exact name or prefix)

    if not only:
        _check_entry(mod, spark, sf_dir)

    qs = mod.queries()
    if only:
        qs = {
            k: v
            for k, v in qs.items()
            if any(k == o or k.startswith(o) for o in only)
        }
    oracles = mod.oracle_sql()
    failed: list[str] = []
    for key in sorted(qs):
        t0 = time.time()
        try:
            df = qs[key](spark, sf_dir)
            if key in oracles:
                compare(df, con, oracles[key], key=key)
                status = "PASS(oracle)"
            else:
                n = len(df.collect())
                status = f"PASS(rows={n})"
        except Exception as exc:  # noqa: BLE001
            status = f"FAIL: {exc}"
            traceback.print_exc()
            failed.append(key)
        print(f"{key:28s} {status}  {time.time() - t0:.1f}s", flush=True)

    print(f"\n{len(qs) - len(failed)}/{len(qs)} passed; oracles={len(oracles)}")
    if failed:
        print("FAILED:", failed)
        sys.exit(1)


if __name__ == "__main__":
    main()
