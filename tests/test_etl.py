"""Layer-1 ETL parity tests (SURVEY.md §5.2(2-3)): the Spark pipeline over
the synthetic example graph must reproduce the reference's golden output —
exactly 13 tables with exact row counts (reference tests/collect_test.py:
26-45), through both the file sink and the JDBC sink; plus snapshot-swap
atomicity and executor-side distributed fetch."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from cloud2sql_spark.etl import sinks
from cloud2sql_spark.etl.config import (
    FileDestination,
    JdbcDestination,
    destination_from_config,
    normalize_s3_url,
    parse_config,
)
from cloud2sql_spark.etl.example_source import (
    GOLDEN_COUNTS,
    collect_example,
    example_catalog,
)
from cloud2sql_spark.etl.flatten import flatten_graph, link_tables
from cloud2sql_spark.etl.pipeline import collect, distributed_collect

_TMP = os.path.join(tempfile.gettempdir(), "cloud2sql_spark", "etl_tests")


def test_flatten_golden_counts(spark):
    """Graph -> relational flatten yields exactly the reference's 13
    tables with the reference's exact row counts."""
    nodes, edges = collect_example(spark)
    tables = flatten_graph(nodes, edges, example_catalog())
    assert sorted(tables) == sorted(GOLDEN_COUNTS)
    counts = {name: df.count() for name, df in tables.items()}
    assert counts == GOLDEN_COUNTS


def test_flatten_typed_columns(spark):
    """Kind-specific properties are flattened to typed native columns."""
    nodes, edges = collect_example(spark)
    tables = flatten_graph(nodes, edges, example_catalog())
    inst = tables["example_instance"]
    row = inst.filter(F.col("id") == "inst1").collect()[0]
    assert row["instance_cores"] == 4.0
    assert row["instance_status"] == "running"
    assert row["region"] == "us-west"
    assert row["tags"]["owner"] == "example"
    assert dict(inst.dtypes)["instance_cores"] == "double"
    assert dict(inst.dtypes)["tags"] == "map<string,string>"


def test_collect_csv_golden(spark):
    """Full pipeline through the CSV sink (mirrors reference
    test_collect_csv, tests/collect_test.py:48-79): load back and assert
    the golden counts."""
    out = os.path.join(_TMP, "csv_out")
    cfg = parse_config(
        f"sources:\n  example:\ndestinations:\n  file:\n    path: {out}\n    format: csv\n"
    )
    dest = destination_from_config(cfg)
    assert isinstance(dest, FileDestination) and dest.format == "csv"
    counts = collect(spark, cfg, dest)
    assert counts == GOLDEN_COUNTS
    for table, expected in GOLDEN_COUNTS.items():
        back = spark.read.option("header", True).csv(f"{out}/{table}")
        assert back.count() == expected, table


def test_collect_jdbc_golden(spark):
    """Full pipeline through the JDBC sink with staged tmp_* tables and
    atomic swap (mirrors reference test_collect, tests/collect_test.py:
    16-45; Derby stands in for SQLite)."""
    db = os.path.join(_TMP, "jdbc_db")
    import shutil

    shutil.rmtree(db, ignore_errors=True)
    cfg = parse_config(
        "sources:\n  example:\ndestinations:\n  derby:\n    url: "
        f"jdbc:derby:{db};create=true\n"
    )
    dest = destination_from_config(cfg)
    assert isinstance(dest, JdbcDestination)
    counts = collect(spark, cfg, dest)
    assert counts == GOLDEN_COUNTS
    url = f"jdbc:derby:{db}"
    for table, expected in GOLDEN_COUNTS.items():
        back = (
            spark.read.format("jdbc").option("url", url).option("dbtable", table).load()
        )
        assert back.count() == expected, table


def test_parquet_snapshot_swap_atomicity(spark):
    """Readers resolving the target path see either the old or the new
    snapshot, never a mix (reference swap_temp_tables contract,
    collect.py:198-203)."""
    target = os.path.join(_TMP, "snap")
    v1 = spark.range(5).select(F.col("id"), F.lit("v1").alias("ver"))
    sinks.write_parquet_snapshot(v1, target)
    before = spark.read.parquet(target).select("ver").distinct().collect()
    assert [r["ver"] for r in before] == ["v1"]

    v2 = spark.range(7).select(F.col("id"), F.lit("v2").alias("ver"))
    sinks.write_parquet_snapshot(v2, target)
    after = spark.read.parquet(target)
    assert after.count() == 7
    assert [r["ver"] for r in after.select("ver").distinct().collect()] == ["v2"]


def test_failed_load_does_not_promote(spark):
    """Fail-fast: a failing load must leave the previous JDBC snapshot
    intact (reference collect.py:204-212 — no partial promote)."""
    db = os.path.join(_TMP, "jdbc_fail")
    import shutil

    shutil.rmtree(db, ignore_errors=True)
    url = f"jdbc:derby:{db};create=true"
    writer = sinks.JdbcSnapshotWriter(spark, url)
    writer.stage("t1", spark.range(3).select(F.col("id")))
    writer.swap()

    writer2 = sinks.JdbcSnapshotWriter(spark, url)
    writer2.stage("t1", spark.range(10).select(F.col("id")))
    # a second staged table fails before swap -> nothing is promoted
    with pytest.raises(Exception):
        bad = spark.range(1).select((F.col("id") / F.lit(0)).alias("x"))
        writer2.stage("t2", bad.filter(F.expr("assert_true(x > 0) IS NULL")))
        raise RuntimeError("load failed")
    back = (
        spark.read.format("jdbc")
        .option("url", f"jdbc:derby:{db}")
        .option("dbtable", "t1")
        .load()
    )
    assert back.count() == 3  # previous snapshot intact


def test_distributed_collect(spark):
    """Executor-side fetch over accounts×regions via mapInPandas."""

    def fetch(account: str, region: str) -> list[dict]:
        return [
            {"account": account, "region": region, "resource_id": f"{account}-{region}-{i}"}
            for i in range(3)
        ]

    df = distributed_collect(
        spark,
        ["acc1", "acc2"],
        ["us-west", "us-east"],
        fetch,
        "account STRING, region STRING, resource_id STRING",
    )
    rows = df.collect()
    assert len(rows) == 12
    assert {r["account"] for r in rows} == {"acc1", "acc2"}


def test_s3_url_normalization():
    """The four accepted S3 URL shapes normalize to s3a:// (reference
    collect.py:110-124 semantics)."""
    assert normalize_s3_url("s3://my-bucket/prefix") == "s3a://my-bucket/prefix"
    assert normalize_s3_url("s3://my-bucket") == "s3a://my-bucket"
    assert (
        normalize_s3_url("https://my-bucket.s3.us-east-1.amazonaws.com/prefix")
        == "s3a://my-bucket/prefix"
    )
    assert (
        normalize_s3_url("https://s3.us-east-1.amazonaws.com/my-bucket/x")
        == "s3a://my-bucket/x"
    )


# ---------------------------------------------------------------------------
# A13: multi-dialect JDBC destinations (reference util.py:22-87)
# ---------------------------------------------------------------------------


def test_build_jdbc_url_matrix():
    """URL construction per dialect from the reference's destination
    fields (db_string_from_config semantics in JDBC shapes)."""
    from cloud2sql_spark.etl.config import ConfigError, build_jdbc_url

    assert (
        build_jdbc_url(
            "postgresql",
            {"host": "db.example", "port": 5432, "database": "cloud",
             "user": "u", "password": "p"},
        )
        == "jdbc:postgresql://db.example:5432/cloud?user=u&password=p"
    )
    assert (
        build_jdbc_url("mysql", {"host": "h", "database": "d",
                                 "args": {"useSSL": "false"}})
        == "jdbc:mysql://h/d?useSSL=false"
    )
    assert (
        build_jdbc_url("mariadb", {"host": "h", "port": 3306, "database": "d"})
        == "jdbc:mariadb://h:3306/d"
    )
    assert build_jdbc_url("sqlite", {"database": "/tmp/x.db"}) == "jdbc:sqlite:/tmp/x.db"
    assert (
        build_jdbc_url("derby", {"database": "/tmp/db", "args": {"create": "true"}})
        == "jdbc:derby:/tmp/db;create=true"
    )
    assert (
        build_jdbc_url("snowflake", {"host": "acc.snowflakecomputing.com",
                                     "database": "d", "user": "u"})
        == "jdbc:snowflake://acc.snowflakecomputing.com/d?user=u"
    )
    with pytest.raises(ConfigError):
        build_jdbc_url("oracle", {})
    with pytest.raises(ConfigError):
        build_jdbc_url("sqlite", {})  # file dialects require database


def test_destination_from_config_builds_dialect_url():
    cfg = parse_config(
        "sources:\n  example:\n"
        "destinations:\n  postgresql:\n"
        "    host: localhost\n    port: 5432\n    database: cloud\n"
        "    user: u\n    password: p\n"
    )
    dest = destination_from_config(cfg)
    assert isinstance(dest, JdbcDestination)
    assert dest.url == "jdbc:postgresql://localhost:5432/cloud?user=u&password=p"


def test_dialect_swap_sql_matrix():
    """Promotion statements per dialect express the documented guarantee."""
    from cloud2sql_spark.etl.dialects import DIALECTS

    # transactional: DROP + RENAME (rolls back together)
    assert DIALECTS["derby"].swap_sql("t", live_exists=True) == (
        ["DROP TABLE t", "RENAME TABLE tmp_t TO t"],
        [],
    )
    assert DIALECTS["postgresql"].swap_sql("t", live_exists=True) == (
        ["DROP TABLE t", "ALTER TABLE tmp_t RENAME TO t"],
        [],
    )
    assert DIALECTS["sqlite"].swap_sql("t", live_exists=True) == (
        ["DROP TABLE t", "ALTER TABLE tmp_t RENAME TO t"],
        [],
    )
    # MySQL family: single-statement atomic shuffle, retired drop deferred
    assert DIALECTS["mysql"].swap_sql("t", live_exists=True) == (
        ["RENAME TABLE t TO retired_t, tmp_t TO t"],
        ["retired_t"],
    )
    assert DIALECTS["mariadb"].swap_sql("t", live_exists=True) == (
        ["RENAME TABLE t TO retired_t, tmp_t TO t"],
        ["retired_t"],
    )
    # Snowflake: two renames, retired drop deferred
    assert DIALECTS["snowflake"].swap_sql("t", live_exists=True) == (
        ["ALTER TABLE t RENAME TO retired_t", "ALTER TABLE tmp_t RENAME TO t"],
        ["retired_t"],
    )
    # first-ever promote: plain rename everywhere
    for d in DIALECTS.values():
        sqls, retired = d.swap_sql("t", live_exists=False)
        assert len(sqls) == 1 and "tmp_t" in sqls[0] and retired == []


def test_dialect_ident_case():
    from cloud2sql_spark.etl.dialects import DIALECTS, dialect_for_url

    assert DIALECTS["derby"].normalize_ident("My_Table") == "MY_TABLE"
    assert DIALECTS["postgresql"].normalize_ident("My_Table") == "my_table"
    assert DIALECTS["mysql"].normalize_ident("My_Table") == "My_Table"
    assert dialect_for_url("jdbc:postgresql://h/d").name == "postgresql"
    assert dialect_for_url("jdbc:derby:/tmp/x;create=true").name == "derby"
    assert dialect_for_url("jdbc:weirddb://h/d").name == "generic"
    with pytest.raises(ValueError):
        dialect_for_url("postgresql://h/d")


def test_missing_driver_diagnostic(spark):
    """A dialect whose driver jar is absent fails fast with an install
    hint (reference check_db_driver, util.py:70-87); Derby (bundled with
    Spark) passes."""
    from cloud2sql_spark.etl.dialects import MissingJdbcDriver, check_jdbc_driver

    check_jdbc_driver(spark, "jdbc:derby:memory:ok;create=true")  # no raise
    with pytest.raises(MissingJdbcDriver, match="postgresql"):
        check_jdbc_driver(spark, "jdbc:postgresql://localhost/db")


def test_swap_failure_rolls_back_previous_snapshot(spark):
    """Transactional-DDL promote (ADVICE r1): a failure mid-swap must
    leave EVERY live table at the previous snapshot — even tables whose
    own DROP+RENAME already executed in the doomed transaction."""
    db = os.path.join(_TMP, "jdbc_txn")
    import shutil

    shutil.rmtree(db, ignore_errors=True)
    url = f"jdbc:derby:{db};create=true"
    w1 = sinks.JdbcSnapshotWriter(spark, url)
    w1.stage("t1", spark.range(3).select(F.col("id")))
    w1.stage("t2", spark.range(4).select(F.col("id")))
    assert w1.swap() == ["t1", "t2"]

    w2 = sinks.JdbcSnapshotWriter(spark, url)
    w2.stage("t1", spark.range(30).select(F.col("id")))
    w2.stage("t2", spark.range(40).select(F.col("id")))
    # sabotage: remove t2's staged table behind the writer's back so its
    # rename fails AFTER t1's drop+rename already ran
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    st = conn.createStatement()
    st.execute("DROP TABLE tmp_t2")
    st.close()
    conn.close()
    with pytest.raises(Exception):
        w2.swap()
    for name, expected in [("t1", 3), ("t2", 4)]:
        back = (
            spark.read.format("jdbc")
            .option("url", f"jdbc:derby:{db}")
            .option("dbtable", name)
            .load()
        )
        assert back.count() == expected, name  # previous snapshot intact


# ---------------------------------------------------------------------------
# A5: pre-collected ("remote") graph source (reference collect.py:60-63)
# ---------------------------------------------------------------------------


def test_remote_graph_roundtrip_golden(spark):
    """Export the example graph in the ndjson wire format, re-ingest it
    through the remote_graph source, and land the reference's exact 13
    golden tables."""
    from cloud2sql_spark.etl.graph_source import export_graph

    export_dir = os.path.join(_TMP, "graph_export")
    out = os.path.join(_TMP, "graph_reingest_out")
    nodes, edges = collect_example(spark)
    export_graph(nodes, edges, example_catalog(), export_dir)

    cfg = parse_config(
        "sources:\n"
        "  remote_graph:\n"
        f"    path: {export_dir}\n"
        "destinations:\n"
        f"  file:\n    path: {out}\n    format: csv\n"
    )
    counts = collect(spark, cfg, destination_from_config(cfg))
    assert counts == GOLDEN_COUNTS
    inst = spark.read.option("header", True).csv(f"{out}/example_instance")
    assert {r["id"] for r in inst.collect()} == {"inst1", "inst2"}


_WIRE_NODE_LINES = (
    '{"node_id": "n1", "kind": "k", "payload": {"id": "n1", "name": "x"},'
    ' "cloud": "c", "account": "a", "region": "r"}',
    '{"node_id": "n2", "kind": "k", "payload": "{\\"id\\": \\"n2\\"}",'
    ' "cloud": "c", "account": "a", "region": "r"}',
    "",
    "garbage line",
    '{"node_id": "n3", "kind": "k", "payload": {"id": "n3"',
    '{"node_id": "n4", "kind": "k", "kind": "k2", "payload": {"id": "n4"}}',
    '{"node_id": 5, "kind": "k", "payload": {"n": 3},'
    ' "cloud": true, "account": 1.5, "region": null}',
    '{"node_id": "n6", "Kind": "k", "payload": {"id": "n6"}}',
    '[{"node_id": "n7", "kind": "k"}, {"node_id": "n8", "kind": "k2"}]',
)
_WIRE_EDGE_LINES = (
    '{"from_id": "n1", "to_id": "n2", "from_kind": "k", "to_kind": "k2"}',
    "",
    "garbage line",
    '{"from_id": "n1", "to_id": "n3", "from_kind": "k"',
    '{"from_id": 1, "to_id": true, "from_kind": "k", "to_kind": "k", "to_kind": "k3"}',
    '{"from_id": "n1", "To_id": "n2", "from_kind": "k", "to_kind": "k"}',
    '[{"from_id": "n7", "to_id": "n8", "from_kind": "k", "to_kind": "k2"}]',
)


def test_remote_graph_wire_format_contract(spark):
    """The exact rows ``read_graph`` yields for every line shape: both
    payload shapes load; blank, garbage and truncated lines yield no row,
    also under a kind filter; a duplicated key keeps its last value;
    numbers and booleans arrive as their JSON text; keys match
    case-sensitively; a top-level array of objects yields one row per
    element."""
    import json as _json
    import shutil

    from cloud2sql_spark.etl.graph_source import read_graph

    path = os.path.join(_TMP, "graph_wire_contract")
    shutil.rmtree(path, ignore_errors=True)
    for sub, lines in (("nodes", _WIRE_NODE_LINES), ("edges", _WIRE_EDGE_LINES)):
        os.makedirs(os.path.join(path, sub))
        with open(os.path.join(path, sub, "part-0.json"), "w") as fh:
            fh.write("\n".join(lines) + "\n")
    nodes, edges = read_graph(spark, path)

    def rows(df):
        return sorted(
            (tuple(r) for r in df.collect()), key=lambda t: tuple(v or "" for v in t)
        )

    got = rows(nodes)
    payloads = {r[0]: r[2] for r in got}
    assert _json.loads(payloads["n1"]) == {"id": "n1", "name": "x"}
    assert _json.loads(payloads["n2"]) == {"id": "n2"}
    assert [r[:2] + r[3:] for r in got] == [
        ("5", "k", "true", "1.5", None),
        ("n1", "k", "c", "a", "r"),
        ("n2", "k", "c", "a", "r"),
        ("n4", "k2", None, None, None),
        ("n6", None, None, None, None),
        ("n7", "k", None, None, None),
        ("n8", "k2", None, None, None),
    ]
    assert _json.loads(payloads["5"]) == {"n": 3}
    assert payloads["n7"] is None and payloads["n8"] is None
    assert nodes.count() == 7
    assert sorted(
        r["node_id"] for r in nodes.filter(F.col("kind") == "k").collect()
    ) == ["5", "n1", "n2", "n7"]
    assert nodes.filter(F.col("kind") == "k").count() == 4

    assert rows(edges) == [
        ("1", "true", "k", "k3"),
        ("n1", None, "k", "k"),
        ("n1", "n2", "k", "k2"),
        ("n7", "n8", "k", "k2"),
    ]
    assert edges.count() == 4


def test_kind_table_plans_push_kind_into_json_scan(spark):
    """Every kind table scans the node lines once with Spark's JSON
    reader and pushes its kind filter into that scan; no per-field
    ``get_json_object`` re-parse is left in the plan."""
    from cloud2sql_spark.etl.flatten import flatten_nodes
    from cloud2sql_spark.etl.graph_source import export_graph, read_graph

    export_dir = os.path.join(_TMP, "plan_export")
    nodes, edges = collect_example(spark)
    export_graph(nodes, edges, example_catalog(), export_dir)
    nodes, _ = read_graph(spark, export_dir)
    tables = flatten_nodes(nodes, example_catalog())
    assert sorted(tables) == example_catalog().kinds()
    for kind, df in tables.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "FileScan json" in plan, plan
        assert f"EqualTo(kind,{kind})" in plan, plan
        assert "get_json_object" not in plan, plan


def test_link_table_plans_push_kind_pair_into_json_scan(spark):
    """Every per-pair link table (the JDBC and CSV destinations) pushes
    both of its kind columns into the JSON scan of the edge lines."""
    import re

    from cloud2sql_spark.etl.graph_source import export_graph, read_graph

    export_dir = os.path.join(_TMP, "plan_export")
    nodes, edges = collect_example(spark)
    export_graph(nodes, edges, example_catalog(), export_dir)
    _, edges = read_graph(spark, export_dir)
    links = link_tables(edges)
    assert sorted(links) == sorted(t for t in GOLDEN_COUNTS if t.startswith("link_"))
    for name, df in links.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "FileScan json" in plan, plan
        pushed = re.search(r"PushedFilters: \[([^\]]*)", plan).group(1)
        assert "EqualTo(from_kind," in pushed and "EqualTo(to_kind," in pushed, plan
        assert "get_json_object" not in plan, plan


def test_remote_graph_requires_path():
    from cloud2sql_spark.etl.graph_source import make_graph_source

    with pytest.raises(ValueError, match="path"):
        make_graph_source({})


# ---------------------------------------------------------------------------
# A15: concurrent source collection (reference: 4 threads, collect.py:186)
# ---------------------------------------------------------------------------


def _slow_example_factory(delay: float, spans: dict, tag: str):
    """Source that sleeps ``delay`` and records its sleep's wall-clock
    interval in ``spans[tag]`` so the test can prove the intervals of two
    sources genuinely overlapped (load-independent, unlike elapsed-time
    thresholds — Spark job durations vary wildly on a shared box)."""

    def factory(cfg):
        def source_fn(sp):
            import time

            start = time.time()
            time.sleep(delay)
            spans[tag] = (start, time.time())
            return collect_example(sp)

        return source_fn, example_catalog

    return factory


def test_sources_collect_concurrently(spark, monkeypatch):
    """Two sources that each block 1s must overlap, not serialize
    (reference runs collectors under a 4-thread pool, collect.py:186).
    Proof = the recorded sleep intervals intersect; a serial pipeline
    cannot produce intersecting sleeps."""
    from cloud2sql_spark.etl import pipeline

    spans: dict = {}
    monkeypatch.setitem(
        pipeline.SOURCES, "slow_a", _slow_example_factory(1.0, spans, "a")
    )
    monkeypatch.setitem(
        pipeline.SOURCES, "slow_b", _slow_example_factory(1.0, spans, "b")
    )
    out = os.path.join(_TMP, "concurrent_out")
    cfg = parse_config(
        "sources:\n  slow_a:\n  slow_b:\n"
        f"destinations:\n  file:\n    path: {out}\n    format: csv\n"
    )
    counts = collect(spark, cfg, destination_from_config(cfg))
    assert counts == GOLDEN_COUNTS  # both produce the same example graph
    (a0, a1), (b0, b1) = spans["a"], spans["b"]
    assert max(a0, b0) < min(a1, b1), f"sources serialized: {spans}"


def test_failing_source_blocks_promote(spark, monkeypatch):
    """A source that fails must abort the run BEFORE anything is staged or
    promoted (A19 fail-fast preserved under the thread pool)."""
    import shutil

    from cloud2sql_spark.etl import pipeline

    def boom_factory(cfg):
        def source_fn(sp):
            raise RuntimeError("collector exploded")

        return source_fn, example_catalog

    monkeypatch.setitem(pipeline.SOURCES, "boom", boom_factory)
    out = os.path.join(_TMP, "failfast_out")
    shutil.rmtree(out, ignore_errors=True)
    cfg = parse_config(
        "sources:\n  example:\n  boom:\n"
        f"destinations:\n  file:\n    path: {out}\n    format: csv\n"
    )
    with pytest.raises(RuntimeError, match="collector exploded"):
        collect(spark, cfg, destination_from_config(cfg))
    assert not os.path.exists(out)  # nothing written, let alone promoted


# ---------------------------------------------------------------------------
# Load: one Spark job per table, file tables written concurrently, fail-fast
# ---------------------------------------------------------------------------


def test_run_in_order_inherits_job_group(spark):
    """Pool threads run their targets under the caller's job group, so
    ``cancelJobGroup`` reaches every job an ETL phase starts."""
    from cloud2sql_spark.etl.pipeline import _run_in_order

    sc = spark.sparkContext
    sc.setJobGroup("grp-A", "pool inheritance")
    try:
        groups = _run_in_order(
            spark, [lambda: sc.getLocalProperty("spark.jobGroup.id")] * 6
        )
    finally:
        sc._jsc.clearJobGroup()
    assert groups == ["grp-A"] * 6


def test_run_in_order_fail_fast(spark):
    """Results come back in the given order; the first failure stops every
    target not yet started, and the earliest failing target's error is
    the one raised, whichever failed first in time."""
    import threading
    from functools import partial

    from cloud2sql_spark.etl.pipeline import _run_in_order

    assert _run_in_order(spark, [partial(pow, i, 2) for i in range(10)]) == [
        i * i for i in range(10)
    ]

    started: list[int] = []

    def one_worker(i: int) -> int:
        started.append(i)
        if i == 1:
            raise RuntimeError("table 1 failed")
        return i

    with pytest.raises(RuntimeError, match="table 1 failed"):
        _run_in_order(spark, [partial(one_worker, i) for i in range(5)], 1)
    assert started == [0, 1]  # tables 2-4 never started

    first_started = threading.Event()
    second_failed = threading.Event()

    def first_fails_last(i: int) -> int:
        if i == 1:
            # fail only once target 0 is running: a target that has not
            # started when another fails is skipped, by design
            assert first_started.wait(10)
            second_failed.set()
            raise RuntimeError("table 1 failed")
        first_started.set()
        assert second_failed.wait(10)
        raise RuntimeError("table 0 failed")

    with pytest.raises(RuntimeError, match="table 0 failed"):
        _run_in_order(spark, [partial(first_fails_last, i) for i in range(2)])


def _edges_source(extra_edges: list[tuple]):
    """Source factory: the example graph plus ``extra_edges`` rows of
    (from_id, to_id, from_kind, to_kind)."""
    from cloud2sql_spark.etl.model import EDGES_SCHEMA

    def source_fn(sp):
        nodes, edges = collect_example(sp)
        return nodes, edges.union(sp.createDataFrame(extra_edges, EDGES_SCHEMA))

    return lambda cfg: (source_fn, example_catalog)


def _parquet_cfg(out: str):
    return parse_config(
        f"sources:\n  example:\ndestinations:\n  file:\n    path: {out}\n"
    )


def _derby_cfg(db: str):
    return parse_config(
        "sources:\n  example:\ndestinations:\n  derby:\n"
        f"    url: jdbc:derby:{db};create=true\n"
    )


def _read_back(spark, dest: str, table: str):
    if not dest.startswith("jdbc:"):
        return spark.read.parquet(f"{dest}/{table}")
    return spark.read.format("jdbc").option("url", dest).option("dbtable", table).load()


def _jobs_in_group(spark, group: str, run):
    """Run ``run()`` under job group ``group``; return its result and the
    number of Spark jobs the group ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        result = run()
    finally:
        sc._jsc.clearJobGroup()
    # the status tracker is fed from the listener bus; let it catch up
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def test_load_runs_one_job_per_table(spark):
    """Under the caller's job group, a Parquet export runs exactly one
    write job per kind table plus ONE write for every link table (a
    partitioned write, row counts from its footers) — no link-pair
    discovery and no per-table recount: 7 jobs for the example graph."""
    import shutil

    out = os.path.join(_TMP, "one_job_per_table")
    shutil.rmtree(out, ignore_errors=True)
    cfg = _parquet_cfg(out)
    counts, jobs = _jobs_in_group(
        spark, "etl-jobs", lambda: collect(spark, cfg, destination_from_config(cfg))
    )
    assert counts == GOLDEN_COUNTS
    # each source's FAIR pool stays on its own pool thread
    assert spark.sparkContext.getLocalProperty("spark.scheduler.pool") is None
    assert len(example_catalog().kinds()) == 6
    assert jobs == 6 + 1
    for table, expected in GOLDEN_COUNTS.items():
        assert spark.read.parquet(f"{out}/{table}").count() == expected, table


def test_jdbc_load_runs_one_job_per_table_plus_discovery(spark):
    """A JDBC export stages each of the 13 tables in one job, and the
    link-pair discovery (a ``distinct().collect()``: two jobs under AQE)
    runs on a side thread that keeps the caller's job group."""
    import shutil

    db = os.path.join(_TMP, "jdbc_job_count")
    shutil.rmtree(db, ignore_errors=True)
    cfg = _derby_cfg(db)
    nodes, edges = collect_example(spark)
    _, discovery_jobs = _jobs_in_group(
        spark, "etl-discovery", lambda: link_tables(edges)
    )
    assert discovery_jobs == 2
    counts, jobs = _jobs_in_group(
        spark, "etl-jdbc", lambda: collect(spark, cfg, destination_from_config(cfg))
    )
    assert counts == GOLDEN_COUNTS
    assert jobs == 13 + 2


def test_read_catalog_runs_no_spark_job(spark):
    """kinds.json is read on the driver through the Hadoop FileSystem
    API (a ``file:`` URI here), not by a Spark job."""
    from cloud2sql_spark.etl.graph_source import export_graph, read_catalog

    export_dir = os.path.join(_TMP, "catalog_export")
    nodes, edges = collect_example(spark)
    export_graph(nodes, edges, example_catalog(), export_dir)
    catalog, jobs = _jobs_in_group(
        spark, "etl-catalog", lambda: read_catalog(spark, f"file://{export_dir}")
    )
    assert jobs == 0
    assert catalog.kinds() == example_catalog().kinds()
    for kind in catalog.kinds():
        assert catalog.schema(kind) == example_catalog().schema(kind), kind


def test_empty_kind_loads_empty_table(spark, monkeypatch):
    """A catalog kind with no nodes still gets its (empty) table, and its
    observed count is 0."""
    import shutil

    from cloud2sql_spark.etl import pipeline
    from cloud2sql_spark.etl.model import Kind

    def with_empty_kind():
        catalog = example_catalog()
        catalog.add(Kind("example_empty", {"empty_attribute": "string"}))
        return catalog

    monkeypatch.setitem(
        pipeline.SOURCES, "with_empty", lambda cfg: (collect_example, with_empty_kind)
    )
    out = os.path.join(_TMP, "empty_kind_out")
    shutil.rmtree(out, ignore_errors=True)
    cfg = parse_config(
        f"sources:\n  with_empty:\ndestinations:\n  file:\n    path: {out}\n"
    )
    counts = collect(spark, cfg, destination_from_config(cfg))
    assert counts == {**GOLDEN_COUNTS, "example_empty": 0}
    back = spark.read.parquet(f"{out}/example_empty")
    assert back.count() == 0
    assert "empty_attribute" in back.columns


def test_failing_table_blocks_jdbc_promote(spark, monkeypatch):
    """A load failure on the second table aborts the run before the swap:
    the previous JDBC snapshot reads back unchanged. The failing run's
    first table differs from the live one, so a swap after the failure
    would show."""
    import shutil

    from cloud2sql_spark.etl import pipeline

    first, second = example_catalog().kinds()[:2]

    def failing_second_table(sp):
        nodes, edges = collect_example(sp)
        nodes = nodes.union(nodes.filter(F.col("kind") == first)).withColumn(
            "payload",
            F.when(
                F.col("kind") == second, F.raise_error(F.lit("table 2 exploded"))
            ).otherwise(F.col("payload")),
        )
        return nodes, edges

    db = os.path.join(_TMP, "jdbc_table_fail")
    shutil.rmtree(db, ignore_errors=True)
    url = f"jdbc:derby:{db}"
    cfg = parse_config(
        f"sources:\n  example:\ndestinations:\n  derby:\n    url: {url};create=true\n"
    )
    assert collect(spark, cfg, destination_from_config(cfg)) == GOLDEN_COUNTS

    monkeypatch.setitem(
        pipeline.SOURCES, "example", lambda c: (failing_second_table, example_catalog)
    )
    with pytest.raises(Exception, match="table 2 exploded"):
        collect(spark, cfg, destination_from_config(cfg))
    for table, expected in GOLDEN_COUNTS.items():
        back = spark.read.format("jdbc").option("url", url).option("dbtable", table)
        assert back.load().count() == expected, table  # previous snapshot intact


# ---------------------------------------------------------------------------
# Parquet link tables: one partitioned write, promoted per pair
# ---------------------------------------------------------------------------


_LINK = "link_example_account_example_region"


@pytest.mark.parametrize("sink", ["parquet", "derby"])
@pytest.mark.parametrize(
    "bad_pair",
    [(None, "example_region"), ("example_account", "")],
    ids=["null", "empty"],
)
def test_null_or_empty_edge_kind_raises_before_link_promote(
    spark, monkeypatch, sink, bad_pair
):
    """An edge whose kind is NULL or empty names no link table: the export
    raises a ValueError naming the pair, before any link table is promoted
    (Parquet) or the swap runs (Derby). The failing run also adds an edge
    to a valid pair, so a promoted link would read back a different
    count."""
    import shutil

    from cloud2sql_spark.etl import pipeline

    root = os.path.join(_TMP, f"bad_kind_{sink}_{bad_pair[0] is None}")
    shutil.rmtree(root, ignore_errors=True)
    if sink == "parquet":
        cfg, dest = _parquet_cfg(root), root
    else:
        cfg, dest = _derby_cfg(root), f"jdbc:derby:{root}"
    assert collect(spark, cfg, destination_from_config(cfg)) == GOLDEN_COUNTS

    bad_edges = [
        ("acc1", "reg2", "example_account", "example_region"),
        ("x1", "reg1", *bad_pair),
    ]
    monkeypatch.setitem(pipeline.SOURCES, "example", _edges_source(bad_edges))
    with pytest.raises(ValueError, match="NULL or empty") as err:
        collect(spark, cfg, destination_from_config(cfg))
    named = [k for k in bad_pair if k]
    assert all(repr(k) in str(err.value) for k in named), err.value
    for table, expected in GOLDEN_COUNTS.items():
        if sink == "derby" or table.startswith("link_"):
            assert _read_back(spark, dest, table).count() == expected, table
    if sink == "parquet":
        assert not [n for n in os.listdir(root) if n.startswith("link__")]


# kind names whose partition directories Spark writes %XX-escaped
_ODD_KINDS = ["my kind", "x=y", "50%", "a:b", "#h", "größe-ü"]


def test_link_kind_names_round_trip(spark, monkeypatch):
    """Kinds with a space, ``=``, ``%``, ``:``, ``#`` and non-ASCII
    characters: the Parquet link tables, named from the unescaped
    partition directories, get exactly the names ``link_tables`` gives,
    and each reads back with its own rows."""
    import shutil

    from cloud2sql_spark.etl import pipeline
    from cloud2sql_spark.etl.model import EDGES_SCHEMA

    pairs = list(zip(_ODD_KINDS, _ODD_KINDS[1:] + _ODD_KINDS[:1]))
    extra = [
        (f"{f}-{i}", f"{t}-{i}", f, t)
        for n, (f, t) in enumerate(pairs, start=1)
        for i in range(n)
    ]
    edges = spark.createDataFrame(extra, EDGES_SCHEMA)
    expected = {
        name: sorted((r["from_id"], r["to_id"]) for r in df.collect())
        for name, df in link_tables(edges).items()
    }
    assert len(expected) == len(pairs)

    out = os.path.join(_TMP, "odd_kind_names")
    shutil.rmtree(out, ignore_errors=True)
    monkeypatch.setitem(pipeline.SOURCES, "example", _edges_source(extra))
    counts = collect(spark, _parquet_cfg(out), FileDestination(out))
    assert {t: counts[t] for t in counts if t not in GOLDEN_COUNTS} == {
        t: len(rows) for t, rows in expected.items()
    }
    for table, rows in expected.items():
        back = spark.read.parquet(os.path.join(out, table))
        assert back.columns == ["from_id", "to_id"], table
        assert sorted((r["from_id"], r["to_id"]) for r in back.collect()) == rows


def _link_versions(out: str) -> list[str]:
    return os.listdir(os.path.join(out, "_links.versions"))


def test_link_promote_failure_keeps_every_link_readable(spark, monkeypatch):
    """A promote that fails on the second link leaves every link table
    readable, each at its old or its new snapshot, and deletes no version
    directory a live link resolves into. The next successful export
    retires the old version: one ``_links`` version remains."""
    import shutil

    from cloud2sql_spark.etl import pipeline

    out = os.path.join(_TMP, "link_promote_failure")
    shutil.rmtree(out, ignore_errors=True)
    assert collect(spark, _parquet_cfg(out), FileDestination(out)) == GOLDEN_COUNTS
    assert len(_link_versions(out)) == 1

    # every pair gets one more edge, so old and new snapshots differ
    links = sorted(t for t in GOLDEN_COUNTS if t.startswith("link_"))
    pairs = [t.removeprefix("link_").split("_example_") for t in links]
    extra = [(f"x{i}", f"y{i}", f, f"example_{t}") for i, (f, t) in enumerate(pairs)]
    monkeypatch.setitem(pipeline.SOURCES, "example", _edges_source(extra))
    new_counts = {**GOLDEN_COUNTS, **{t: GOLDEN_COUNTS[t] + 1 for t in links}}

    promote = sinks.promote_snapshot
    promoted: list[str] = []

    def fail_on_second_link(version_dir, target):
        if os.path.basename(target).startswith("link_"):
            promoted.append(target)
            if len(promoted) == 2:
                raise OSError("promote failed")
        promote(version_dir, target)

    monkeypatch.setattr(sinks, "promote_snapshot", fail_on_second_link)
    with pytest.raises(OSError, match="promote failed"):
        collect(spark, _parquet_cfg(out), FileDestination(out))
    monkeypatch.setattr(sinks, "promote_snapshot", promote)

    seen = set()
    for table in links:
        live = os.path.realpath(os.path.join(out, table))
        assert os.path.isdir(live), table
        n = spark.read.parquet(os.path.join(out, table)).count()
        assert n in (GOLDEN_COUNTS[table], new_counts[table]), table
        seen.add(n == new_counts[table])
    assert seen == {True, False}  # the failure really was part-way
    assert len(_link_versions(out)) == 2

    assert collect(spark, _parquet_cfg(out), FileDestination(out)) == new_counts
    assert len(_link_versions(out)) == 1
    for table in links:
        assert spark.read.parquet(os.path.join(out, table)).count() == new_counts[table]


def test_link_snapshot_migrates_per_table_layout(spark):
    """An output directory written by the per-table layout (each link at
    ``link_<from>_<to>.versions/<uuid>``) is migrated: the link now
    resolves into ``_links.versions`` and its old versions are gone."""
    import shutil

    out = os.path.join(_TMP, "link_layout_migration")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    stale = spark.range(50).selectExpr("CAST(id AS STRING) AS from_id", "'z' AS to_id")
    sinks.write_parquet_snapshot(stale, os.path.join(out, _LINK))
    assert os.path.isdir(os.path.join(out, _LINK + ".versions"))

    assert collect(spark, _parquet_cfg(out), FileDestination(out)) == GOLDEN_COUNTS
    assert not os.path.exists(os.path.join(out, _LINK + ".versions"))
    live = os.path.realpath(os.path.join(out, _LINK))
    assert live.startswith(os.path.realpath(os.path.join(out, "_links.versions")))
    assert spark.read.parquet(os.path.join(out, _LINK)).count() == GOLDEN_COUNTS[_LINK]


def test_link_footer_counts_match_link_tables(spark):
    """Per-pair counts read from the Parquet footers of a write that puts
    several files in each pair's directory equal the counts of the
    ``link_tables`` frames."""
    from cloud2sql_spark.etl.pipeline import _write_links

    nodes, edges = collect_example(spark)
    edges = edges.crossJoin(spark.range(40).withColumnRenamed("id", "k")).selectExpr(
        "concat(from_id, '-', k) AS from_id", "to_id", "from_kind", "to_kind"
    ).repartition(4)
    root = os.path.join(_TMP, "link_footers", "_links.versions")
    import shutil

    shutil.rmtree(os.path.dirname(root), ignore_errors=True)
    written = _write_links(edges, root)
    expected = {name: df.count() for name, df in link_tables(edges).items()}
    assert {name: rows for name, (_, rows) in written.items()} == expected
    files = [
        f
        for leaf, _ in written.values()
        for f in os.listdir(leaf)
        if f.endswith(".parquet")
    ]
    assert len(files) > len(written)  # some pair directory holds several files


def test_shared_pair_from_two_sources_keeps_later_source(spark, monkeypatch):
    """Two sources that emit the same pairs: each link table holds the
    later source's edges (as each kind table holds the later source's
    nodes), not the union of both."""
    import shutil

    from cloud2sql_spark.etl import pipeline

    monkeypatch.setitem(pipeline.SOURCES, "twin", pipeline.SOURCES["example"])
    out = os.path.join(_TMP, "two_sources_parquet")
    shutil.rmtree(out, ignore_errors=True)
    cfg = parse_config(
        f"sources:\n  example:\n  twin:\ndestinations:\n  file:\n    path: {out}\n"
    )
    assert collect(spark, cfg, destination_from_config(cfg)) == GOLDEN_COUNTS
    for table, expected in GOLDEN_COUNTS.items():
        assert spark.read.parquet(f"{out}/{table}").count() == expected, table


# ---------------------------------------------------------------------------
# A17: progress/feedback channel (reference collect.py:165-189)
# ---------------------------------------------------------------------------


def test_progress_messages_from_collect(spark):
    """collect() streams per-source and per-table progress through the
    feedback channel."""
    import io

    from cloud2sql_spark.etl.progress import ProgressReporter

    buf = io.StringIO()
    out = os.path.join(_TMP, "progress_out")
    cfg = parse_config(
        "sources:\n  example:\n"
        f"destinations:\n  file:\n    path: {out}\n    format: csv\n"
    )
    counts = collect(
        spark, cfg, destination_from_config(cfg),
        feedback=ProgressReporter(stream=buf),
    )
    assert counts == GOLDEN_COUNTS
    lines = buf.getvalue().splitlines()
    assert "[example] collecting" in lines
    assert "[example] collected (6 kinds)" in lines
    assert any(l.startswith("[load] wrote example_instance") for l in lines)
    assert f"[load] {len(GOLDEN_COUNTS)}/{len(GOLDEN_COUNTS)} done" in lines


def test_cli_show_progress(spark, capfd):
    """CLI integration: --show progress renders progress lines on stderr;
    --show none stays silent."""
    from cloud2sql_spark import cli

    out = os.path.join(_TMP, "cli_progress_out")
    cfg_path = os.path.join(_TMP, "cli_progress.yaml")
    os.makedirs(_TMP, exist_ok=True)
    with open(cfg_path, "w") as fh:
        fh.write(
            "sources:\n  example:\n"
            f"destinations:\n  file:\n    path: {out}\n    format: csv\n"
        )
    assert cli.main(["--config", cfg_path, "--show", "progress"]) == 0
    captured = capfd.readouterr()
    assert "[example] collecting" in captured.err
    assert "[load] snapshot" not in captured.err  # file dest: no JDBC promote
    assert "done: 13 tables" in captured.out

    assert cli.main(["--config", cfg_path, "--show", "none"]) == 0
    captured = capfd.readouterr()
    assert "[example]" not in captured.err


def test_cli_show_log_mode(spark, capfd):
    """--show log surfaces engine logs instead of the progress channel
    (reference __main__.py:65 log-level mapping) and still completes."""
    from cloud2sql_spark import cli

    out = os.path.join(_TMP, "cli_log_out")
    cfg_path = os.path.join(_TMP, "cli_log.yaml")
    os.makedirs(_TMP, exist_ok=True)
    with open(cfg_path, "w") as fh:
        fh.write(
            "sources:\n  example:\n"
            f"destinations:\n  file:\n    path: {out}\n    format: csv\n"
        )
    assert cli.main(["--config", cfg_path, "--show", "log"]) == 0
    captured = capfd.readouterr()
    assert "[example]" not in captured.err  # no progress lines in log mode
    assert "done: 13 tables" in captured.out


# ---------------------------------------------------------------------------
# AWS-shaped mock collector (reference's real plugins: requirements.txt:14-17;
# live APIs unreachable here, so the collector PATH is proven against a
# deterministic in-process mock — VERDICT r3 "What's missing" item 1)
# ---------------------------------------------------------------------------


def test_aws_mock_golden_counts(spark):
    """accounts -> regions -> instances/volumes hierarchy flattens to
    exactly the expected kind + link tables with md5-determined counts."""
    from cloud2sql_spark.etl.aws_mock_source import (
        GOLDEN_COUNTS as AWS_GOLDEN,
        aws_mock_catalog,
        collect_aws_mock,
    )

    nodes, edges = collect_aws_mock(spark)
    tables = flatten_graph(nodes, edges, aws_mock_catalog())
    assert sorted(tables) == sorted(AWS_GOLDEN)
    assert {n: df.count() for n, df in tables.items()} == AWS_GOLDEN


def test_aws_mock_link_traversal(spark):
    """Traversal over the link table: total attached volume size per
    instance status, verified against the pure-python mock API."""
    from cloud2sql_spark.etl.aws_mock_source import (
        aws_mock_catalog,
        collect_aws_mock,
        describe_instances,
        describe_volumes,
        DEFAULT_ACCOUNTS,
        DEFAULT_REGIONS,
    )

    expected: dict[str, int] = {}
    for a in DEFAULT_ACCOUNTS:
        for r in DEFAULT_REGIONS:
            vmap = {v["id"]: v["volume_size"] for v in describe_volumes(a, r)}
            for inst in describe_instances(a, r):
                for vid in inst["volume_ids"]:
                    expected[inst["instance_status"]] = (
                        expected.get(inst["instance_status"], 0) + vmap[vid]
                    )

    nodes, edges = collect_aws_mock(spark)
    tables = flatten_graph(nodes, edges, aws_mock_catalog())
    got = {
        r["instance_status"]: r["attached_gb"]
        for r in (
            tables["aws_ec2_instance"]
            .alias("i")
            .join(
                tables["link_aws_ec2_instance_aws_ebs_volume"].alias("l"),
                F.col("i.id") == F.col("l.from_id"),
            )
            .join(
                tables["aws_ebs_volume"].alias("v"),
                F.col("l.to_id") == F.col("v.id"),
            )
            .groupBy("i.instance_status")
            .agg(F.sum("v.volume_size").alias("attached_gb"))
            .collect()
        )
    }
    assert got == expected


def test_aws_mock_through_pipeline(spark):
    """Full collect() run with a custom accounts/regions config through
    the parquet sink — the fetch fans out via distributed_collect on
    executors, and the loaded counts match the pure-python mock."""
    from cloud2sql_spark.etl.aws_mock_source import describe_instances

    out = os.path.join(_TMP, "aws_mock_out")
    cfg = parse_config(
        "sources:\n  aws_mock:\n    accounts: [a1]\n    regions: [r1, r2]\n"
        f"destinations:\n  file:\n    path: {out}\n    format: parquet\n"
    )
    counts = collect(spark, cfg, destination_from_config(cfg))
    n_inst = sum(len(describe_instances("a1", r)) for r in ["r1", "r2"])
    assert counts["aws_account"] == 1
    assert counts["aws_region"] == 2
    assert counts["aws_ec2_instance"] == n_inst
    back = spark.read.parquet(f"{out}/aws_ec2_instance")
    assert back.count() == n_inst
    # typed flatten survived the sink: int64 cores, string status
    assert dict(back.dtypes)["instance_cores"] == "bigint"


def test_entry_point_source_discovery(spark, monkeypatch):
    """A source exposed via an importlib.metadata entry point is
    discovered and collectable without touching the built-in dict
    (reference A2: pkg_resources scan, collect.py:39-44)."""
    import importlib.metadata as md

    from cloud2sql_spark.etl import pipeline

    class _EP:
        name = "plugin_example"
        group = pipeline.ENTRY_POINT_GROUP

        @staticmethod
        def load():
            return lambda cfg: (collect_example, example_catalog)

    real_eps = md.entry_points

    def fake_entry_points(**kwargs):
        if kwargs.get("group") == pipeline.ENTRY_POINT_GROUP:
            return [_EP()]
        return real_eps(**kwargs)

    monkeypatch.setattr(md, "entry_points", fake_entry_points)
    sources = pipeline.discover_sources()
    assert "plugin_example" in sources
    assert "aws_mock" in sources  # built-ins survive the merge

    out = os.path.join(_TMP, "ep_out")
    cfg = parse_config(
        "sources:\n  plugin_example:\n"
        f"destinations:\n  file:\n    path: {out}\n    format: parquet\n"
    )
    counts = collect(spark, cfg, destination_from_config(cfg))
    assert counts == GOLDEN_COUNTS


# ---------------------------------------------------------------------------
# Kubernetes-shaped mock collector — the second cloud plugin, proving the
# collector framework generalizes (different hierarchy, different context
# mapping, cross-subtree reference edge)
# ---------------------------------------------------------------------------


def test_k8s_mock_golden_counts(spark):
    """clusters -> namespaces -> pods/config-maps flattens to exactly the
    expected kind + link tables with md5-determined counts, including the
    payload-derived pod -> config_map reference edges."""
    from cloud2sql_spark.etl.k8s_mock_source import (
        GOLDEN_COUNTS as K8S_GOLDEN,
        collect_k8s_mock,
        k8s_mock_catalog,
    )

    nodes, edges = collect_k8s_mock(spark)
    tables = flatten_graph(nodes, edges, k8s_mock_catalog())
    assert sorted(tables) == sorted(K8S_GOLDEN)
    assert {n: df.count() for n, df in tables.items()} == K8S_GOLDEN


def test_k8s_mock_cross_subtree_traversal(spark):
    """Traversal across the non-hierarchical edge: per config-map
    mutability class, the total restart count of pods mounting it —
    verified against the pure-python mock API. Exercises the join that a
    real inventory query ("which pods break if this immutable config
    changes?") performs."""
    from cloud2sql_spark.etl.k8s_mock_source import (
        DEFAULT_CLUSTERS,
        DEFAULT_NAMESPACES,
        collect_k8s_mock,
        k8s_mock_catalog,
        list_config_maps,
        list_pods,
    )

    expected: dict[bool, int] = {}
    for c in DEFAULT_CLUSTERS:
        for ns in DEFAULT_NAMESPACES:
            imm = {m["name"]: m["immutable"] for m in list_config_maps(c, ns)}
            for pod in list_pods(c, ns):
                for name in pod["config_maps"]:
                    expected[imm[name]] = (
                        expected.get(imm[name], 0) + pod["restart_count"]
                    )

    nodes, edges = collect_k8s_mock(spark)
    tables = flatten_graph(nodes, edges, k8s_mock_catalog())
    got = {
        r["immutable"]: r["restarts"]
        for r in (
            tables["k8s_pod"]
            .alias("p")
            .join(
                tables["link_k8s_pod_k8s_config_map"].alias("l"),
                F.col("p.id") == F.col("l.from_id"),
            )
            .join(
                tables["k8s_config_map"].alias("m"),
                F.col("l.to_id") == F.col("m.id"),
            )
            .groupBy("m.immutable")
            .agg(F.sum("p.restart_count").alias("restarts"))
            .collect()
        )
    }
    assert got == expected


def test_multi_cloud_sources_through_pipeline(spark):
    """aws_mock and k8s_mock collect through ONE collect() run into one
    parquet destination — the reference's multi-collector story
    (config-template.yaml lists several providers side by side): kind
    tables from both clouds land in the same snapshot, counts match each
    mock, and the typed flatten keeps each plugin's schema."""
    from cloud2sql_spark.etl.k8s_mock_source import GOLDEN_COUNTS as K8S_GOLDEN

    out = os.path.join(_TMP, "multi_cloud_out")
    cfg = parse_config(
        "sources:\n"
        "  aws_mock:\n    accounts: [a1]\n    regions: [r1]\n"
        "  k8s_mock: {}\n"
        f"destinations:\n  file:\n    path: {out}\n    format: parquet\n"
    )
    counts = collect(spark, cfg, destination_from_config(cfg))
    assert counts["aws_account"] == 1
    assert counts["k8s_cluster"] == K8S_GOLDEN["k8s_cluster"]
    assert counts["k8s_pod"] == K8S_GOLDEN["k8s_pod"]
    back = spark.read.parquet(f"{out}/k8s_pod")
    assert back.count() == K8S_GOLDEN["k8s_pod"]
    dt = dict(back.dtypes)
    assert dt["restart_count"] == "bigint"
    assert dt["container_images"] == "array<string>"
    assert dt["cpu_request"] == "double"


def test_default_config_covers_every_discovered_source():
    """--create-config must emit a section (active or commented template)
    for EVERY discovered source — the reference's default_config
    instantiates each plugin's config (collect.py:37-45), so a new
    collector that forgets a template still shows up as a stub. The
    emitted YAML must also parse with the example source active."""
    from cloud2sql_spark.etl.config import default_config, parse_config
    from cloud2sql_spark.etl.pipeline import discover_sources

    text = default_config()
    for name in discover_sources():
        assert name in text, f"source {name} missing from template"
    cfg = parse_config(text)
    assert "example" in cfg["sources"]


def test_gcp_mock_golden_counts(spark):
    """projects -> zones -> instances plus project-scoped buckets flatten
    to exactly the expected kind + link tables with md5-determined
    counts (incl. the cross-scope instance -> bucket link)."""
    from cloud2sql_spark.etl.gcp_mock_source import (
        GOLDEN_COUNTS as GCP_GOLDEN,
        collect_gcp_mock,
        gcp_mock_catalog,
    )

    nodes, edges = collect_gcp_mock(spark)
    tables = flatten_graph(nodes, edges, gcp_mock_catalog())
    assert sorted(tables) == sorted(GCP_GOLDEN)
    assert {n: df.count() for n, df in tables.items()} == GCP_GOLDEN


def test_gcp_mock_cross_scope_traversal(spark):
    """Traversal across scopes: instances per logs-bucket storage class,
    verified against the pure-python mock API — the zonal child joins a
    project-scoped child through the link table."""
    from cloud2sql_spark.etl.gcp_mock_source import (
        DEFAULT_PROJECTS,
        DEFAULT_ZONES,
        collect_gcp_mock,
        gcp_mock_catalog,
        list_buckets,
        list_instances,
    )

    expected: dict[str, int] = {}
    for p in DEFAULT_PROJECTS:
        cls = {b["id"]: b["storage_class"] for b in list_buckets(p)}
        for z in DEFAULT_ZONES:
            for inst in list_instances(p, z):
                c = cls[inst["logs_bucket"]]
                expected[c] = expected.get(c, 0) + 1

    nodes, edges = collect_gcp_mock(spark)
    tables = flatten_graph(nodes, edges, gcp_mock_catalog())
    link = tables["link_gcp_gce_instance_gcp_gcs_bucket"]
    got = {
        r["storage_class"]: r["n_instances"]
        for r in (
            link.alias("l")
            .join(
                tables["gcp_gcs_bucket"].alias("b"),
                F.col("l.to_id") == F.col("b.id"),
            )
            .groupBy("b.storage_class")
            .agg(F.count(F.lit(1)).alias("n_instances"))
            .collect()
        )
    }
    assert got == expected


def test_gcp_mock_collects_through_registry(spark):
    """The gcp_mock source resolves through discover_sources and collects
    via the standard factory contract."""
    from cloud2sql_spark.etl.pipeline import discover_sources

    collect, catalog_fn = discover_sources()["gcp_mock"](
        {"projects": ["solo-proj"], "zones": ["zone-a", "zone-b"]}
    )
    nodes, edges = collect(spark)
    kinds = {r["kind"] for r in nodes.select("kind").distinct().collect()}
    assert kinds == {
        "gcp_project",
        "gcp_zone",
        "gcp_gce_instance",
        "gcp_gcs_bucket",
    }
    assert nodes.filter(F.col("kind") == "gcp_zone").count() == 2


def test_do_mock_golden_counts(spark):
    """teams -> regions -> droplets + volumes flatten to exactly the
    expected kind + link tables with md5-determined counts; the
    droplet -> volume attachment link is SMALLER than the volume table
    (detached volumes emit no edge — the nullable-reference shape)."""
    from cloud2sql_spark.etl.do_mock_source import (
        GOLDEN_COUNTS as DO_GOLDEN,
        collect_do_mock,
        do_mock_catalog,
    )

    nodes, edges = collect_do_mock(spark)
    tables = flatten_graph(nodes, edges, do_mock_catalog())
    assert sorted(tables) == sorted(DO_GOLDEN)
    assert {n: df.count() for n, df in tables.items()} == DO_GOLDEN
    assert (
        DO_GOLDEN["link_digitalocean_droplet_digitalocean_volume"]
        < DO_GOLDEN["digitalocean_volume"]
    )


def test_do_mock_attachment_traversal(spark):
    """Sibling-edge traversal: attached storage GB per droplet status,
    verified against the pure-python mock API."""
    from cloud2sql_spark.etl.do_mock_source import (
        DEFAULT_REGIONS,
        DEFAULT_TEAMS,
        collect_do_mock,
        do_mock_catalog,
        list_droplets,
        list_volumes,
    )

    expected: dict[str, int] = {}
    for t in DEFAULT_TEAMS:
        for r in DEFAULT_REGIONS:
            status = {d["id"]: d["droplet_status"] for d in list_droplets(t, r)}
            for v in list_volumes(t, r):
                if v["attached_droplet"]:
                    s = status[v["attached_droplet"]]
                    expected[s] = expected.get(s, 0) + v["size_gigabytes"]

    nodes, edges = collect_do_mock(spark)
    tables = flatten_graph(nodes, edges, do_mock_catalog())
    link = tables["link_digitalocean_droplet_digitalocean_volume"]
    got = {
        r["droplet_status"]: r["gb"]
        for r in (
            link.alias("l")
            .join(
                tables["digitalocean_droplet"].alias("d"),
                F.col("l.from_id") == F.col("d.id"),
            )
            .join(
                tables["digitalocean_volume"].alias("v"),
                F.col("l.to_id") == F.col("v.id"),
            )
            .groupBy("d.droplet_status")
            .agg(F.sum("v.size_gigabytes").alias("gb"))
            .collect()
        )
    }
    assert got == expected


def test_do_mock_collects_through_registry(spark):
    """The do_mock source resolves through discover_sources and collects
    via the standard factory contract, completing the reference's
    four-plugin registry (aws/do/gcp/k8s)."""
    from cloud2sql_spark.etl.pipeline import discover_sources

    sources = discover_sources()
    assert {"aws_mock", "do_mock", "gcp_mock", "k8s_mock"} <= set(sources)
    collect, catalog_fn = sources["do_mock"](
        {"teams": ["solo-team"], "regions": ["nyc1", "fra1"]}
    )
    nodes, edges = collect(spark)
    kinds = {r["kind"] for r in nodes.select("kind").distinct().collect()}
    assert kinds == {
        "digitalocean_team",
        "digitalocean_region",
        "digitalocean_droplet",
        "digitalocean_volume",
    }
    assert nodes.filter(F.col("kind") == "digitalocean_region").count() == 2


def test_cli_analytics_opt_out_parity():
    """Reference-shaped invocations carrying --analytics-opt-out
    (reference __main__.py:38-43) parse; the flag is a no-op here
    (no analytics sender exists — SURVEY A18)."""
    from cloud2sql_spark.cli import parse_args

    args = parse_args(
        ["--config", "c.yaml", "--analytics-opt-out", "--show", "none"]
    )
    assert args.analytics_opt_out is True
    assert parse_args(["--config", "c.yaml"]).analytics_opt_out is False
