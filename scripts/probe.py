"""Fixture probes: rewrite the graded fixtures along one or more failure
axes, then re-run a Spark-vs-DuckDB gate over the rewritten copy.

Every other gate reads the fixtures exactly as generated, so it is blind
to contracts that only hold for a quirk of that corpus. Each axis
re-rolls one such quirk:

- ``split``: every table value-identical in row order, but written with
  several parquet row groups (at least MIN_ROW_GROUPS, at most
  ROW_GROUP_SIZE rows each), and the vanilla session told (through
  ``PYSPARK_SUBMIT_ARGS``, before the JVM starts) to read each file as
  many input partitions, so every table of 100 rows or more reaches
  Spark as several non-empty splits. Catches order-dependence across
  input splits: an unordered first()/collect_list(), a window ORDER that
  is not total over duplicate keys, a float fold sensitive to combine
  order.
- ``perturb``: structure-preserving value shifts (ids offset, money
  scaled by an odd integer so it stays exact to 2 decimals, timestamps
  shifted, embeddings negated, text prefixed). Catches keys that depend
  on the current corpus's values. The invariants the oracle conventions
  rely on (exact 2-decimal money, word-per-space text, 64-dim
  embeddings, the event_type vocabulary) are kept on purpose.
- ``null:<table.column>``: that one column NULLed on the deterministic
  ``id % 50 = 7`` stripe (~2%), every other table byte-identical.
  Catches NULL crashes in Python paths and cross-engine NULL-semantics
  divergence. ``null`` alone means one run per column in NULL_COLUMNS.
- A comma chain applies several axes to one corpus in one write per
  table; ``composed`` is ``perturb,split``, the configuration that found
  join_theta_range's half-boundary bug.

Each ``--axis`` value is one gate run (``null`` is four), sequential,
over one output dir that is rewritten for each run and removed at the
end. The output dir is only ever deleted when it carries the probe's
marker file, and a dir that resolves to ``--src`` is refused.

Usage: python scripts/probe.py --axis AXIS [--axis AXIS ...]
           [--drive {verify_contract,flag_matrix}] [--src DIR] [--out DIR]
           [KEY ...]
Exit code is 1 if any run's gate failed, else 0.
"""

from __future__ import annotations

import argparse
import glob
import itertools
import os
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Split-axis row groups: a large table keeps groups of ROW_GROUP_SIZE
# rows (sf0.01 lineitem: 30); a smaller one is cut into MIN_ROW_GROUPS.
# pyarrow writes them, since DuckDB writes no row group under 2048 rows.
ROW_GROUP_SIZE = 2048
MIN_ROW_GROUPS = 4
# Appended before the caller's PYSPARK_SUBMIT_ARGS, so a caller conf
# wins on conflict (the last --conf occurrence takes precedence).
SPLIT_CONFS = (
    "spark.sql.files.maxPartitionBytes=131072",
    "spark.sql.files.openCostInBytes=0",
)

# Per-table perturbation over the source rows, exposed as view ``t``.
PERTURB = {
    "region": "SELECT * FROM t",
    "nation": "SELECT * FROM t",
    "customer": """
        SELECT c_custkey + 90000 AS c_custkey, c_name, c_nationkey,
               round(c_acctbal * 3, 2) AS c_acctbal, c_mktsegment
        FROM t""",
    "supplier": """
        SELECT s_suppkey + 7000 AS s_suppkey, s_name, s_nationkey,
               round(s_acctbal * 3, 2) AS s_acctbal
        FROM t""",
    "part": """
        SELECT p_partkey + 40000 AS p_partkey, p_name, p_brand,
               p_type, p_size,
               round(p_retailprice * 3, 2) AS p_retailprice
        FROM t""",
    "orders": """
        SELECT o_orderkey + 600000 AS o_orderkey,
               o_custkey + 90000 AS o_custkey, o_orderstatus,
               round(o_totalprice * 3, 2) AS o_totalprice,
               o_orderdate + INTERVAL 11 DAY AS o_orderdate,
               o_orderpriority
        FROM t""",
    "lineitem": """
        SELECT l_orderkey + 600000 AS l_orderkey,
               l_partkey + 40000 AS l_partkey,
               l_suppkey + 7000 AS l_suppkey, l_linenumber,
               l_quantity + 1 AS l_quantity,
               round(l_extendedprice * 3, 2) AS l_extendedprice,
               l_discount, l_tax, l_returnflag, l_linestatus,
               l_shipdate + INTERVAL 11 DAY AS l_shipdate
        FROM t""",
    "events": """
        SELECT event_id + 100000 AS event_id,
               ts + INTERVAL 11 DAY AS ts,
               user_id + 555 AS user_id, event_type,
               round(value * 23, 2) AS value, props
        FROM t""",
    "documents": """
        SELECT doc_id + 100000 AS doc_id,
               'zq' || CAST(doc_id % 7 AS VARCHAR) || ' ' || text AS text,
               lang, source,
               n_chars + 4 AS n_chars
        FROM t""",
    "embeddings": """
        SELECT vec_id + 100000 AS vec_id,
               list_transform(embedding, x -> -x) AS embedding, label
        FROM t""",
}

# NULL axis column -> the table's id column the stripe is drawn on. The
# perturb id offsets are multiples of 50, so the stripe picks the same
# rows before and after perturb.
NULL_COLUMNS = {
    "documents.text": "doc_id",
    "events.props": "event_id",
    "events.value": "event_id",
    "embeddings.embedding": "vec_id",
}

# Written into every probe-created output dir; nothing without it is
# ever deleted.
MARKER = ".probe_out"


def _axis(value: str) -> list[tuple[str, ...]]:
    """One ``--axis`` value -> its gate runs, each a chain of steps."""
    options = []
    for step in value.split(","):
        if step == "composed":
            options += [["perturb"], ["split"]]
        elif step == "null":
            options.append([f"null:{c}" for c in NULL_COLUMNS])
        elif step in ("split", "perturb") or (
            step.startswith("null:") and step[5:] in NULL_COLUMNS
        ):
            options.append([step])
        else:
            raise argparse.ArgumentTypeError(
                f"unknown axis step {step!r}; expected split, perturb, "
                "composed, null or null:<column> with a column in "
                + ", ".join(NULL_COLUMNS)
            )
    return list(itertools.product(*options))


def _parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    """Parse with no side effects: ``--help`` and any bad option or axis
    exit before a fixture is written or a Spark session starts."""
    parser = argparse.ArgumentParser(
        description=(
            "Rewrite the fixtures along one or more failure axes and "
            "re-run a Spark-vs-DuckDB gate over the copy."
        ),
        epilog=(
            "Axes: split, perturb, composed (= perturb,split), null (one "
            "run per column), "
            + ", ".join(f"null:{c}" for c in NULL_COLUMNS)
            + "; a comma chain applies several to one corpus."
        ),
    )
    parser.add_argument(
        "--axis",
        action="append",
        required=True,
        type=_axis,
        help="axis or comma chain of axes; repeatable, one gate run each",
    )
    parser.add_argument(
        "--drive",
        choices=("verify_contract", "flag_matrix"),
        default="verify_contract",
        help="gate run over each rewritten corpus",
    )
    parser.add_argument(
        "--src",
        type=os.path.abspath,
        default="/root/testdata/sf0.01",
        help="source fixture dir (default %(default)s)",
    )
    parser.add_argument(
        "--out",
        type=os.path.abspath,
        default=f"/dev/shm/probe.{os.getpid()}",
        help="rewritten-fixture dir, deleted after each run "
        "(default: pid-unique under /dev/shm)",
    )
    parser.add_argument(
        "keys",
        nargs="*",
        metavar="KEY",
        help="key filters forwarded to the gate (exact or prefix)",
    )
    return parser.parse_args(argv)


def _guard_out_dir(src: str, out: str) -> None:
    """Refuse an output dir that is not safe to rmtree."""
    if os.path.realpath(out) == os.path.realpath(src):
        raise SystemExit(
            f"probe: --out {out} resolves to the source fixture dir "
            f"{src}; refusing to delete it"
        )
    if os.path.exists(out) and not os.path.exists(os.path.join(out, MARKER)):
        raise SystemExit(
            f"probe: --out {out} already exists and was not created by "
            f"this probe (no {MARKER} marker); refusing to delete it"
        )


def _remove_out(out: str) -> None:
    if os.path.exists(os.path.join(out, MARKER)):
        shutil.rmtree(out, ignore_errors=True)


def _table_sql(src: str, name: str, chain: tuple[str, ...]) -> str | None:
    """The chain's SELECT for one table, or None if no step changes it."""
    sql = f"SELECT * FROM read_parquet('{src}/{name}.parquet')"
    touched = "split" in chain
    for step in chain:
        if step == "perturb" and name in PERTURB:
            sql = f"WITH t AS ({sql}) {PERTURB[name]}"
        elif step.startswith("null:") and step[5:].split(".")[0] == name:
            col, id_col = step[5:].split(".")[1], NULL_COLUMNS[step[5:]]
            # * REPLACE keeps column order and every other column's type
            sql = (
                f"SELECT * REPLACE (CASE WHEN {id_col} % 50 = 7 THEN NULL "
                f"ELSE {col} END AS {col}) FROM ({sql})"
            )
        else:
            continue
        touched = True
    return sql if touched else None


def row_group_size(rows: int) -> int:
    """Rows per split-axis row group: at least MIN_ROW_GROUPS groups for
    any table of MIN_ROW_GROUPS rows or more."""
    return min(ROW_GROUP_SIZE, max(1, -(-rows // MIN_ROW_GROUPS)))


def write_corpus(src: str, out: str, chain: tuple[str, ...]) -> dict[str, int]:
    """Write ``src``'s tables to ``out`` rewritten by ``chain``: one
    DuckDB query per changed table (row order kept) written by pyarrow,
    a byte copy for the rest. Returns the NULL count of each NULLed
    column and exits if one is 0, since such a run would silently repeat
    the plain gate."""
    import duckdb
    import pyarrow.parquet as pq

    _guard_out_dir(src, out)
    _remove_out(out)
    os.makedirs(out)
    with open(os.path.join(out, MARKER), "w") as f:
        f.write("created by scripts/probe.py; safe to delete\n")
    nulled = {}
    with duckdb.connect() as con:
        for path in sorted(glob.glob(os.path.join(src, "*.parquet"))):
            name = os.path.basename(path)[: -len(".parquet")]
            sql = _table_sql(src, name, chain)
            if sql is None:
                shutil.copyfile(path, os.path.join(out, f"{name}.parquet"))
            else:
                table = con.execute(sql).arrow()
                pq.write_table(
                    table,
                    os.path.join(out, f"{name}.parquet"),
                    row_group_size=(
                        row_group_size(table.num_rows) if "split" in chain else None
                    ),
                )
        for column in (step[5:] for step in chain if step.startswith("null:")):
            table, col = column.split(".")
            (nulled[column],) = con.execute(
                f"SELECT count(*) FROM read_parquet('{out}/{table}.parquet') "
                f"WHERE {col} IS NULL"
            ).fetchone()
            if not nulled[column]:
                raise SystemExit(
                    f"probe: 0 rows NULLed in {column} from {src}; the id "
                    "stripe matched nothing"
                )
    return nulled


def _merge_submit_args(existing: str) -> str:
    """SPLIT_CONFS ahead of the caller's PYSPARK_SUBMIT_ARGS, with one
    trailing ``pyspark-shell`` launcher token."""
    existing = existing.strip().removesuffix("pyspark-shell").strip()
    confs = " ".join(f"--conf {c}" for c in SPLIT_CONFS)
    return " ".join(p for p in (confs, existing, "pyspark-shell") if p)


def drive_env(chain: tuple[str, ...], out: str, environ=os.environ) -> dict:
    """The gate's environment: the rewritten fixtures, plus the split
    confs when the chain splits."""
    env = dict(environ, VERIFY_SF_DIR=out)
    if "split" in chain:
        env["PYSPARK_SUBMIT_ARGS"] = _merge_submit_args(
            environ.get("PYSPARK_SUBMIT_ARGS", "")
        )
    return env


def main(argv: list[str] | None = None) -> int:
    ns = _parse_args(argv)
    gate = os.path.join(REPO, "scripts", f"{ns.drive}.py")
    # a list, not a dict: an axis given twice (to re-roll task
    # interleavings) must report both runs
    results: list[tuple[str, int]] = []
    for chain in itertools.chain.from_iterable(ns.axis):
        label = ",".join(chain)
        try:
            nulled = write_corpus(ns.src, ns.out, chain)
            print(
                f"probe [{label}]: fixtures written to {ns.out}"
                + "".join(f"; {n} {c} NULLed" for c, n in nulled.items()),
                flush=True,
            )
            code = subprocess.call(
                [sys.executable, gate, *ns.keys],
                env=drive_env(chain, ns.out),
                cwd=REPO,
            )
            results.append((label, code))
        finally:
            _remove_out(ns.out)
    for label, code in results:
        print(f"probe [{label}]: {'PASS' if code == 0 else 'FAIL'}")
    return 1 if any(code for _, code in results) else 0


if __name__ == "__main__":
    sys.exit(main())
