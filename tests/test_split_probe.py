"""Pin scripts/probe.py's fixture rewrites and its runner (no Spark).

Each probe axis only probes anything if its rewritten corpus really
differs from the source in the intended way and in no other: ``split``
must carry MANY row groups (Spark splits parquet at row-group boundaries
inside a byte-range split) with the SAME values in the SAME row order;
``perturb`` must shift values while keeping money exact to 2 decimals;
``null:<column>`` must NULL exactly the id stripe and leave every other
table byte-identical. These premises live in DuckDB's COPY behaviour — a
library upgrade that ignored ROW_GROUP_SIZE or reordered rows would
silently turn a probe into a re-run of verify_contract. The gate itself
is stubbed: these tests pin what the probe hands it.
"""

from __future__ import annotations

import filecmp
import importlib.util
import os
import shutil

import duckdb
import pyarrow.parquet as pq
import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_SF = os.environ.get("SPLIT_TEST_SRC", "/root/testdata/sf0.001")


def _load_module():
    spec = importlib.util.spec_from_file_location(
        "probe", os.path.join(_REPO, "scripts", "probe.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _chains(mod) -> list[tuple[str, ...]]:
    """One chain per standing axis: split, perturb, composed, each null."""
    return [
        chain
        for axis in ("split", "perturb", "composed", "null")
        for chain in mod._axis(axis)
    ]


def _snapshot(path) -> dict[str, tuple[int, float]]:
    return {
        fn: (os.path.getsize(p), os.path.getmtime(p))
        for fn in os.listdir(path)
        if os.path.isfile(p := os.path.join(path, fn))
    }


def test_rewrite_fans_out_row_groups_and_preserves_rows(tmp_path):
    mod = _load_module()
    out = str(tmp_path / "multisplit")
    mod.write_corpus(_SF, out, ("split",))

    # every table of 100 rows or more is several row groups, small ones
    # (sf0.001 customer: 150 rows) included, not only lineitem
    from cloud2sql_spark.catalog import TABLES

    for name in TABLES:
        meta = pq.ParquetFile(os.path.join(out, f"{name}.parquet")).metadata
        if meta.num_rows >= 100:
            assert meta.num_row_groups >= 2, (name, meta.num_row_groups)
            assert max(
                meta.row_group(i).num_rows for i in range(meta.num_row_groups)
            ) <= mod.ROW_GROUP_SIZE, name

    # every catalog table rewritten value-identical IN ROW ORDER: the
    # oracle's stream is unchanged. Full column-wise compare — a
    # prefix-only check would miss a parallel-scan reorder confined to
    # later row groups, the plausible failure mode.
    for name in TABLES:
        a = pq.read_table(os.path.join(out, f"{name}.parquet"))
        b = pq.read_table(os.path.join(_SF, f"{name}.parquet"))
        assert a.schema == b.schema, name
        assert a.to_pydict() == b.to_pydict(), name

    # probe-created dirs carry the rmtree-safety marker
    assert os.path.exists(os.path.join(out, mod.MARKER))


def test_split_corpus_reaches_spark_as_several_splits(spark, tmp_path):
    """Under the split confs, every table of 100 rows or more is planned
    as two or more input partitions, and its rows land in two or more of
    them: a single-row-group file would plan many splits but fill one."""
    from pyspark.sql import functions as F

    mod = _load_module()
    out = str(tmp_path / "multisplit")
    mod.write_corpus(_SF, out, ("split",))
    confs = dict(c.split("=") for c in mod.SPLIT_CONFS)
    before = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        for fn in sorted(f for f in os.listdir(out) if f.endswith(".parquet")):
            df = spark.read.parquet(os.path.join(out, fn))
            if df.count() < 100:
                continue
            assert df.rdd.getNumPartitions() >= 2, fn
            filled = df.groupBy(F.spark_partition_id()).count().count()
            assert filled >= 2, (fn, filled)
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)


def test_rewrite_refuses_to_delete_source_or_foreign_dirs(tmp_path, monkeypatch):
    """A misconfigured --out must never destroy the source fixtures or
    any dir the probe didn't create, on any axis — not when the corpus
    is written and not in the cleanup after the gate."""
    mod = _load_module()
    calls = []
    monkeypatch.setattr(mod.subprocess, "call", lambda *a, **k: calls.append(a))

    # a private copy of the fixtures, so a broken guard can only ever
    # destroy this copy
    src = str(tmp_path / "src")
    shutil.copytree(_SF, src)
    link = tmp_path / "src_link"
    os.symlink(src, link)
    foreign = tmp_path / "precious"
    foreign.mkdir()
    (foreign / "data.txt").write_text("do not delete")
    src_before, foreign_before = _snapshot(src), _snapshot(foreign)

    for chain in _chains(mod):
        axis = ",".join(chain)
        # --out resolving to --src, directly or through a symlink
        for bad in (src, str(link)):
            with pytest.raises(SystemExit, match="source fixture dir"):
                mod.main(["--axis", axis, "--src", src, "--out", bad])
        # an existing dir WITHOUT the probe marker
        with pytest.raises(SystemExit, match="refusing to delete"):
            mod.main(["--axis", axis, "--src", src, "--out", str(foreign)])
    assert _snapshot(src) == src_before
    assert _snapshot(foreign) == foreign_before
    assert (foreign / "data.txt").read_text() == "do not delete"
    assert calls == []  # no gate ran

    # a dir WITH the marker (a prior probe run's leftover) is reusable
    stale = tmp_path / "stale_out"
    stale.mkdir()
    (stale / mod.MARKER).write_text("x")
    mod.write_corpus(_SF, str(stale), ("split",))
    assert os.path.exists(os.path.join(stale, "lineitem.parquet"))


def test_merge_submit_args_preserves_caller_confs():
    """The probe must prepend its confs to a pre-existing
    PYSPARK_SUBMIT_ARGS, not replace it."""
    mod = _load_module()
    probe_confs = (
        "--conf spark.sql.files.maxPartitionBytes=131072 "
        "--conf spark.sql.files.openCostInBytes=0"
    )

    # empty environment: just the probe flags + launcher token
    assert mod._merge_submit_args("") == f"{probe_confs} pyspark-shell"

    # caller confs survive, trailing launcher token is not duplicated,
    # and caller flags come after the probe's (so they win on conflict)
    got = mod._merge_submit_args(
        "--conf spark.sql.files.maxPartitionBytes=65536 "
        "--conf spark.driver.memory=4g pyspark-shell"
    )
    assert got == (
        f"{probe_confs} --conf spark.sql.files.maxPartitionBytes=65536 "
        "--conf spark.driver.memory=4g pyspark-shell"
    )
    assert got.count("pyspark-shell") == 1


def test_composed_probe_perturbs_before_splitting(tmp_path):
    """``composed`` must hand the gate a corpus that is BOTH perturbed
    (ids offset, money x3 still exact to 2 decimals) and multi-row-group
    — otherwise the composition degenerates to one of its parts."""
    mod = _load_module()
    assert mod._axis("composed") == [("perturb", "split")]
    out = str(tmp_path / "composed")
    mod.write_corpus(_SF, out, ("perturb", "split"))

    from cloud2sql_spark.catalog import TABLES

    for name in TABLES:
        assert os.path.exists(os.path.join(out, f"{name}.parquet")), name

    con = duckdb.connect()
    (min_src,) = con.execute(
        f"SELECT min(c_custkey) FROM read_parquet('{_SF}/customer.parquet')"
    ).fetchone()
    (min_out,) = con.execute(
        f"SELECT min(c_custkey) FROM read_parquet('{out}/customer.parquet')"
    ).fetchone()
    assert min_out == min_src + 90000  # the id-offset transform applied
    (bad_money,) = con.execute(
        f"SELECT count(*) FROM read_parquet('{out}/customer.parquet') "
        "WHERE abs(c_acctbal*100 - round(c_acctbal*100)) > 1e-9"
    ).fetchone()
    assert bad_money == 0  # money x3 stays exact 2-decimal
    con.close()
    li = pq.ParquetFile(os.path.join(out, "lineitem.parquet"))
    assert li.num_row_groups >= 2, li.num_row_groups


def test_perturb_covers_every_catalog_table():
    from cloud2sql_spark.catalog import TABLES

    assert set(_load_module().PERTURB) == set(TABLES)


@pytest.mark.parametrize(
    "column",
    ["documents.text", "events.props", "events.value", "embeddings.embedding"],
)
def test_null_axis_nulls_exactly_the_stripe(tmp_path, column):
    mod = _load_module()
    out = str(tmp_path / "nulled")
    table, col = column.split(".")
    id_col = mod.NULL_COLUMNS[column]
    nulled = mod.write_corpus(_SF, out, (f"null:{column}",))
    assert nulled[column] > 0

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW a AS SELECT * FROM read_parquet('{_SF}/{table}.parquet')"
    )
    con.execute(
        f"CREATE VIEW b AS SELECT * FROM read_parquet('{out}/{table}.parquet')"
    )
    # the source column has no NULLs, so every NULL is the probe's
    assert con.execute(f"SELECT count(*) FROM a WHERE {col} IS NULL").fetchone() == (0,)
    (off_stripe,) = con.execute(
        f"SELECT count(*) FROM b WHERE ({col} IS NULL) != ({id_col} % 50 = 7)"
    ).fetchone()
    assert off_stripe == 0
    # off the stripe every row is unchanged, and every other column is
    # unchanged on all rows, in row order
    for sql in (
        f"SELECT * FROM {{}} WHERE {id_col} % 50 != 7",
        f"SELECT * EXCLUDE ({col}) FROM {{}}",
    ):
        assert (
            con.execute(sql.format("a")).fetchall()
            == con.execute(sql.format("b")).fetchall()
        )
    con.close()

    # every other table is a byte-identical copy
    for fn in os.listdir(_SF):
        if fn.endswith(".parquet") and fn != f"{table}.parquet":
            assert filecmp.cmp(
                os.path.join(_SF, fn), os.path.join(out, fn), shallow=False
            ), fn


def test_null_axis_without_stripe_rows_exits(tmp_path):
    """A stripe that matches no row would silently re-run the plain
    contract; the probe refuses instead."""
    mod = _load_module()
    src = tmp_path / "src"
    src.mkdir()
    duckdb.connect().execute(
        "COPY (SELECT 1 AS doc_id, 'a b' AS text) "
        f"TO '{src}/documents.parquet' (FORMAT PARQUET)"
    )
    with pytest.raises(SystemExit, match="0 rows NULLed"):
        mod.write_corpus(str(src), str(tmp_path / "out"), ("null:documents.text",))


def test_axis_values_expand_to_gate_runs():
    mod = _load_module()
    nulls = [(f"null:{c}",) for c in mod.NULL_COLUMNS]
    assert mod._axis("split") == [("split",)]
    assert mod._axis("null") == nulls
    assert mod._axis("null,split") == [n + ("split",) for n in nulls]
    assert mod._axis("null:events.value") == [("null:events.value",)]


def test_drive_env_carries_split_confs_only_when_splitting():
    mod = _load_module()
    caller = {"PATH": "/bin", "PYSPARK_SUBMIT_ARGS": "--conf a=b pyspark-shell"}
    for chain in _chains(mod):
        for environ in (caller, {"PATH": "/bin"}):
            env = mod.drive_env(chain, "/x/out", environ)
            assert env["VERIFY_SF_DIR"] == "/x/out"
            assert env["PATH"] == "/bin"
            submit = env.get("PYSPARK_SUBMIT_ARGS")
            if "split" in chain:
                assert "maxPartitionBytes=131072" in submit, chain
                assert submit.endswith("pyspark-shell")
                assert ("--conf a=b" in submit) == ("PYSPARK_SUBMIT_ARGS" in environ)
            else:
                assert submit == environ.get("PYSPARK_SUBMIT_ARGS"), chain


def test_main_runs_one_gate_per_chain_and_cleans_up(tmp_path, monkeypatch, capsys):
    mod = _load_module()
    out = str(tmp_path / "out")
    seen = []

    def gate(argv, env, cwd):
        # the rewritten corpus exists while the gate runs
        assert os.path.exists(os.path.join(env["VERIFY_SF_DIR"], mod.MARKER))
        seen.append((argv[1:], env["VERIFY_SF_DIR"]))
        return 1 if len(seen) == 2 else 0

    monkeypatch.setattr(mod.subprocess, "call", gate)
    # null:events.props runs twice; only its first run fails
    rc = mod.main(
        ["--axis", "null", "--axis", "null:events.props", "--drive",
         "flag_matrix", "--src", _SF, "--out", out, "dedup"]
    )
    gate_py = os.path.join(_REPO, "scripts", "flag_matrix.py")
    assert seen == [([gate_py, "dedup"], out)] * 5
    assert rc == 1  # one failing run fails the probe
    assert not os.path.exists(out)
    summary = capsys.readouterr().out
    assert "probe [null:events.props]: FAIL" in summary
    assert summary.count(": PASS") == 4
