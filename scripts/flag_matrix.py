"""Standing per-round gate for the 100 TB scale-switch flags.

The driver's CORRECTNESS sweep runs ``queries()`` in a vanilla session
with no flags set, so it only ever exercises the DEFAULT plans; the
flagged paths — precisely the plans claimed to survive 100 TB — would
otherwise carry no recurring check against the current fixture
generation (VERDICT r07 item 1). This gate closes that hole: for every
flag in ``cloud2sql_spark.flags.FLAG_MATRIX`` it re-runs each affected
registry key with the flag ON, under the same vanilla-session + DuckDB
setup as scripts/verify_contract.py, and checks:

- ``exact`` switches (PREFIX_FILTER, DEGREE_ORIENT): full oracle
  hash-compare — the flagged plan must be bit-identical to the default.
- ``tolerance`` switches (APPROX_NTILE, APPROX_PROFILE): a key-specific
  checker enforcing the operator's DOCUMENTED approximation contract
  (see each checker's docstring).

Usage: python scripts/flag_matrix.py [key-prefix ...]  [exit 1 on any FAIL]
Positional args filter the checked keys by prefix, same convention as
verify_contract.py (so `perturb_audit.py --drive=flag_matrix dedup`
filters instead of silently running everything — review r09). No args =
the full matrix; the standing per-round gate runs unfiltered.
Record the summary line in SURVEY.md §8 status each round, next to the
contract-sweep and perturb-audit lines. tests/test_flags.py guarantees
the matrix covers every flag the package consults.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from tests.oracle import compare

SF_DIR = os.environ.get("VERIFY_SF_DIR", "/root/testdata/sf0.01")


def _spark_rows(df) -> list[dict]:
    return [r.asDict() for r in df.collect()]


def _oracle_rows(con, sql: str) -> list[dict]:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return [dict(zip(cols, row)) for row in cur.fetchall()]


def check_profile_table(df, con, oracle: str) -> None:
    """Documented contract (quality.profile_table /
    tests/test_approx_profile.py): every non-cardinality statistic
    (n_rows, n_nulls, min, max) identical to the exact result; each
    n_distinct within 3 sigma of HLL++'s default 5% rsd (15% relative,
    floor 1)."""
    got = {r["column_name"]: r for r in _spark_rows(df)}
    want = {r["column_name"]: r for r in _oracle_rows(con, oracle)}
    assert set(got) == set(want), (sorted(got), sorted(want))
    for name, w in want.items():
        g = got[name]
        for col in ("n_rows", "n_nulls", "min_value", "max_value"):
            assert g[col] == w[col], (name, col, g[col], w[col])
        tol = max(1, 0.15 * w["n_distinct"])
        assert abs(g["n_distinct"] - w["n_distinct"]) <= tol, (
            name,
            g["n_distinct"],
            w["n_distinct"],
        )


def check_sample_curriculum(df, con, oracle: str) -> None:
    """Documented contract (ntile_scale.py): value-range assignment
    replaces rank-splitting of ties, and sketch boundary ranks can move
    by at most one VALUE (rank/accuracy, with accuracy 10k >= the
    sf0.01 doc count the sketch holds every value). So a doc's flagged
    stage must lie within [min, max] of the exact stages taken by its
    difficulty value OR its immediately adjacent distinct difficulty
    values (a boundary shifted by one value moves only the docs AT that
    neighborhood). Interior values — whose neighbors share their exact
    stage — must match EXACTLY, so a systematic off-by-one bucket bug
    fails on ~the whole corpus rather than passing under a universal
    slack. Every non-stage column is exact."""
    got = {r["doc_id"]: r for r in _spark_rows(df)}
    want = {r["doc_id"]: r for r in _oracle_rows(con, oracle)}
    assert set(got) == set(want)
    # exact stage set per difficulty value, plus each value's sorted
    # neighbors — the only places a one-value boundary shift can reach
    by_diff: dict[int, set[int]] = {}
    for r in want.values():
        by_diff.setdefault(r["difficulty_milli"], set()).add(r["stage"])
    ordered = sorted(by_diff)
    pos = {v: i for i, v in enumerate(ordered)}
    for doc_id, w in want.items():
        g = got[doc_id]
        for col in ("lang", "n_tokens", "difficulty_milli"):
            assert g[col] == w[col], (doc_id, col)
        i = pos[w["difficulty_milli"]]
        allowed = set()
        for j in (i - 1, i, i + 1):
            if 0 <= j < len(ordered):
                allowed |= by_diff[ordered[j]]
        assert g["stage"] in allowed, (doc_id, g["stage"], sorted(allowed))


_RFM_AXIS_TIES_SQL = """
    WITH u AS (
      SELECT user_id,
             (SELECT max(date_diff('microsecond', TIMESTAMP '1970-01-01',
                                   ts)) FROM events)
                 - max(date_diff('microsecond', TIMESTAMP '1970-01-01', ts))
                 AS rec_us,
             CAST(count(*) AS BIGINT) AS freq,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                 AS mon_c
      FROM events GROUP BY user_id),
    r AS (SELECT {key} AS k,
                 row_number() OVER (ORDER BY {key} {dir}, user_id) AS rk,
                 count(*) OVER () AS m
          FROM u),
    b AS (SELECT k, rk, m,
                 CAST(ceil(rk * 5.0 / m) AS INT) AS bucket
          FROM r)
    SELECT k, count(*) AS ties,
           min(bucket) AS blo, max(bucket) AS bhi
    FROM b GROUP BY k HAVING min(bucket) <> max(bucket)
           OR k IN (SELECT k FROM b WHERE rk * 5 % m = 0)
"""


def check_events_rfm_segments(df, con, oracle: str) -> None:
    """Documented contract (analytics.events_rfm_segments /
    ntile_scale.py): totals are conserved exactly (every user scored
    once, with exact integer money), and per-axis quintile marginals
    may deviate from exact ntile only by boundary-tie redistribution
    (range assignment puts a whole tie group in one bucket) plus the
    sketch's one-rank convention slack. The tie mass at each exact
    boundary is computed from the same per-user CTE as the oracle."""
    got = _spark_rows(df)
    want = _oracle_rows(con, oracle)
    assert sum(r["n_users"] for r in got) == sum(r["n_users"] for r in want)
    assert sum(r["segment_cents"] for r in got) == sum(
        r["segment_cents"] for r in want
    )
    for axis, key, direction in (
        ("r_score", "rec_us", "ASC"),
        ("f_score", "freq", "DESC"),
        ("m_score", "mon_c", "DESC"),
    ):
        gm: dict[int, int] = {}
        wm: dict[int, int] = {}
        for r in got:
            gm[r[axis]] = gm.get(r[axis], 0) + r["n_users"]
        for r in want:
            wm[r[axis]] = wm.get(r[axis], 0) + r["n_users"]
        ties = _oracle_rows(
            con, _RFM_AXIS_TIES_SQL.format(key=key, dir=direction)
        )
        # max mass of any value group touching a boundary, per bucket
        # edge; one global bound keeps the checker simple — a real
        # breakage (reversed axis, null misplacement, off-by-one-bucket)
        # shifts entire quintiles (~20% of users), far above tie mass
        slack = sum(t["ties"] for t in ties) + 2
        for k in range(1, 6):
            g, w = gm.get(k, 0), wm.get(k, 0)
            assert abs(g - w) <= slack, (axis, k, g, w, slack)
        assert set(gm) <= set(range(1, 6)), (axis, sorted(gm))


TOLERANCE_CHECKERS = {
    "profile_table": check_profile_table,
    "sample_curriculum": check_sample_curriculum,
    "events_rfm_segments": check_events_rfm_segments,
}


def _parse_args(argv: list[str] | None = None):
    """Zero-side-effect CLI parse (VERDICT r09 item 4 class): ``--help``
    must answer before any Spark session, and an unknown --option must
    not fall through as a never-matching key prefix."""
    import argparse

    parser = argparse.ArgumentParser(
        description=(
            "Re-run every FLAG_MATRIX key with its scale-switch flag ON "
            "under a vanilla session; exact switches oracle-hash-checked, "
            "approx switches tolerance-checked. ~10 min unfiltered."
        ),
        epilog="Env: VERIFY_SF_DIR (default /root/testdata/sf0.01).",
    )
    parser.add_argument(
        "prefixes",
        nargs="*",
        metavar="KEY_PREFIX",
        help="optional key-prefix filters (no args = the full matrix)",
    )
    return parser.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    prefixes = _parse_args(argv).prefixes

    from cloud2sql_spark.flags import FLAG_MATRIX
    from cloud2sql_spark.catalog import TABLES
    from cloud2sql_spark.registry import oracle_sql, queries
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.master("local[8]").getOrCreate()  # vanilla
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for name in TABLES:
        path = os.path.join(SF_DIR, f"{name}.parquet")
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
        )
    qs, oracles = queries(), oracle_sql()

    def _selected(keys: list[str]) -> list[str]:
        if not prefixes:
            return keys
        return [k for k in keys if any(k.startswith(p) for p in prefixes)]

    n_pass, n_run, failed = 0, 0, []
    for flag, spec in FLAG_MATRIX.items():
        keys = _selected(spec["keys"])
        if not keys:
            continue
        os.environ[flag] = "1"
        try:
            for key in keys:
                n_run += 1
                t0 = time.time()
                label = f"{flag}:{key}"
                try:
                    # clear shared caches so a prior (default-path) run
                    # in this session can't serve a default-plan frame
                    from cloud2sql_spark import memo
                    from cloud2sql_spark.queries import extensions as ext

                    memo.reset()
                    # dedup_cluster_cc consults RELIABLE_CHECKPOINT only
                    # on its distributed >2M-edge path; at gate scale the
                    # bounded union-find would run instead and the row
                    # would re-test the default plan (review r09). Force
                    # the distributed loop (the module documents this
                    # knob for exactly this purpose) so the flagged
                    # truncation points are genuinely exercised.
                    force_cc = (
                        flag == "SPARK_GRAFT_RELIABLE_CHECKPOINT"
                        and key == "dedup_cluster_cc"
                    )
                    saved_cc = ext._CC_UNION_FIND_MAX_EDGES
                    if force_cc:
                        ext._CC_UNION_FIND_MAX_EDGES = 0
                    try:
                        df = qs[key](spark, SF_DIR)
                        if spec["check"] == "exact":
                            compare(df, con, oracles[key], key=key)
                        else:
                            TOLERANCE_CHECKERS[key](df, con, oracles[key])
                    finally:
                        ext._CC_UNION_FIND_MAX_EDGES = saved_cc
                    status = f"PASS({spec['check']})"
                    n_pass += 1
                except Exception as exc:  # noqa: BLE001
                    import traceback

                    traceback.print_exc()
                    status = f"FAIL: {exc}"
                    failed.append(label)
                print(
                    f"{label:55s} {status}  {time.time() - t0:.1f}s",
                    flush=True,
                )
        finally:
            os.environ.pop(flag, None)

    # reliable-checkpoint files are not auto-deleted by Spark; sweep the
    # tempdir default dirs this gate run created (review r09)
    from cloud2sql_spark.checkpointing import cleanup_default_checkpoint_dirs

    cleanup_default_checkpoint_dirs()

    if prefixes and n_run == 0:
        # a typo'd prefix must not exit 0 with a hollow "0/0 PASS"
        print(f"no matrix keys match prefixes {prefixes}", file=sys.stderr)
        return 1
    if prefixes:
        skipped = sum(len(s["keys"]) for s in FLAG_MATRIX.values()) - n_run
        print(f"\n(prefix filter {prefixes}: {skipped} matrix rows skipped)")
    print(f"\nflag matrix: {n_pass}/{n_run} PASS")
    if failed:
        print("FAILED:", failed)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
