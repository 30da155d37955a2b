"""ETL orchestration (reference A4/A15/A19: collect_from_plugins,
cloud2sql/collect.py:154-214): run sources -> flatten -> load destinations
-> atomic snapshot promote; fail-fast with no partial promote.

Parallelism mapping (reference A15/A16 -> Spark):

- inter-source: the reference runs 4 collector threads (collect.py:186);
  here sources collect and flatten on a pool of at most 4 driver threads,
  each tagging its jobs with a per-source FAIR pool (inert under FIFO).
- load: each kind table's load is ONE Spark job — the write itself,
  whose observed ``count`` is the table's row count (no recount of the
  source). Parquet/CSV tables are written on a pool of at most 4 driver
  threads, so one table's job overhead overlaps another's tasks; JDBC
  tables stage one at a time (SQLite allows one writer, and concurrent
  Derby staging measured no faster).
- links: on Parquet, ONE partitioned write per source holds every link
  table, and the per-pair counts come from its footers, so the pairs are
  never discovered. JDBC/CSV load one table per pair; the pair discovery
  (two jobs) runs on a side thread while the kind tables load.
- both pools run their targets through ``_run_in_order``: jobs keep the
  caller's job group and local properties, results come back in order,
  and the first failure stops every target not yet started.
- intra-source: the reference forks per account and pools per region
  (config-template.yaml:17-32); ``distributed_collect`` re-expresses that
  as a mapInPandas fan-out over an accounts×regions task table, so fetch
  runs ON EXECUTORS and scales with the cluster, not the driver.
"""

from __future__ import annotations

import threading
from collections.abc import Callable, Iterator
from concurrent.futures import CancelledError, ThreadPoolExecutor
from functools import partial
from typing import TypeVar

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.util import inheritable_thread_target

from cloud2sql_spark.etl import sinks
from cloud2sql_spark.etl.config import FileDestination, JdbcDestination
from cloud2sql_spark.etl.example_source import collect_example, example_catalog
# flatten_graph is not called here, but the benchmark's tracer
# (perfbench/worker.py) wraps it on this module
from cloud2sql_spark.etl.flatten import (  # noqa: F401
    flatten_graph,
    flatten_nodes,
    link_table_name,
    link_tables,
)
from cloud2sql_spark.etl.model import KindCatalog

# source registry (reference A2: entry-points discovery collect.py:48-71;
# a plain dict of FACTORIES here — each takes the source's config section
# and returns (collect_fn, catalog_fn), mirroring the reference handing
# each plugin its Config slice (collect.py:64-70))
SourceFn = Callable[[SparkSession], tuple[DataFrame, DataFrame]]
CatalogFn = Callable[[], KindCatalog]
SourceFactory = Callable[[dict | None], tuple[SourceFn, CatalogFn]]
_R = TypeVar("_R")


def _make_example_source(cfg: dict | None) -> tuple[SourceFn, CatalogFn]:
    return collect_example, example_catalog


def _make_remote_graph_source(cfg: dict | None) -> tuple[SourceFn, CatalogFn]:
    from cloud2sql_spark.etl.graph_source import make_graph_source

    return make_graph_source(cfg)


def _make_aws_mock_source(cfg: dict | None) -> tuple[SourceFn, CatalogFn]:
    from cloud2sql_spark.etl.aws_mock_source import make_aws_mock_source

    return make_aws_mock_source(cfg)


def _make_k8s_mock_source(cfg: dict | None) -> tuple[SourceFn, CatalogFn]:
    from cloud2sql_spark.etl.k8s_mock_source import make_k8s_mock_source

    return make_k8s_mock_source(cfg)


def _make_gcp_mock_source(cfg: dict | None) -> tuple[SourceFn, CatalogFn]:
    from cloud2sql_spark.etl.gcp_mock_source import make_gcp_mock_source

    return make_gcp_mock_source(cfg)


def _make_do_mock_source(cfg: dict | None) -> tuple[SourceFn, CatalogFn]:
    from cloud2sql_spark.etl.do_mock_source import make_do_mock_source

    return make_do_mock_source(cfg)


SOURCES: dict[str, SourceFactory] = {
    "example": _make_example_source,
    # A5: ingest a graph collected elsewhere (reference RemoteGraphCollector,
    # collect.py:60-63)
    "remote_graph": _make_remote_graph_source,
    # AWS-shaped collector against a deterministic in-process mock API —
    # proves the executor-side fetch path (distributed_collect) on the
    # account -> region -> instances/volumes hierarchy the reference's
    # real cloud plugins produce (requirements.txt:14-17).
    "aws_mock": _make_aws_mock_source,
    # Kubernetes-shaped collector against the same mock-API pattern —
    # proves the framework generalizes: cluster/namespace context
    # mapping, two-phase namespace listing, and a payload-derived
    # cross-subtree reference edge (pod -> config_map).
    "k8s_mock": _make_k8s_mock_source,
    # GCP-shaped collector — adds the mixed-scope child pattern (zonal
    # instances, project-scoped buckets with the project-level API swept
    # by one zone task) and a cross-scope instance -> bucket reference.
    "gcp_mock": _make_gcp_mock_source,
    # DigitalOcean-shaped collector — completes the reference's
    # four-plugin registry (requirements.txt:14-17); adds the
    # nullable-reference sibling edge (volume attachment may be NULL).
    "do_mock": _make_do_mock_source,
}

# Entry-point group for third-party source plugins (reference A2: the
# pkg_resources entry-points scan in cloud2sql/collect.py:39-44). An
# installed distribution exposes
#   [project.entry-points."cloud2sql_spark.sources"]
#   mysource = "my_pkg.my_mod:factory"
# and the factory has the SourceFactory signature above.
ENTRY_POINT_GROUP = "cloud2sql_spark.sources"

# Per-source config template snippets for ``--create-config`` (reference
# A3: default_config() instantiates every plugin's config section,
# collect.py:37-45). Sources discovered via entry points that have no
# snippet get a generic commented stub.
CONFIG_TEMPLATES: dict[str, str] = {
    "example": "  example:\n    # the synthetic example source needs no configuration\n",
    "remote_graph": (
        "  # remote_graph:           # ingest a pre-collected graph export\n"
        "  #   path: /data/graph     # dir with nodes/, edges/, kinds.json\n"
    ),
    "aws_mock": (
        "  # aws_mock:               # AWS-shaped mock collector\n"
        "  #   accounts: [acct-01, acct-02]\n"
        "  #   regions: [us-east-1, us-west-2, eu-central-1]\n"
    ),
    "k8s_mock": (
        "  # k8s_mock:               # Kubernetes-shaped mock collector\n"
        "  #   clusters: [prod-cluster, staging-cluster]\n"
        "  #   namespaces: [default, kube-system, payments, ml-serving]\n"
    ),
    "gcp_mock": (
        "  # gcp_mock:               # GCP-shaped mock collector\n"
        "  #   projects: [proj-alpha, proj-beta]\n"
        "  #   zones: [us-central1-a, us-central1-b, europe-west1-b]\n"
    ),
    "do_mock": (
        "  # do_mock:                # DigitalOcean-shaped mock collector\n"
        "  #   teams: [team-ocean, team-reef]\n"
        "  #   regions: [nyc3, ams3, sgp1]\n"
    ),
}


def discover_sources() -> dict[str, SourceFactory]:
    """Built-in sources merged with ``importlib.metadata`` entry points.

    Entry points shadow built-ins of the same name (a plugin may override
    the stock implementation, matching the reference's last-wins plugin
    scan). Discovery failures of one plugin never break the others."""
    out: dict[str, SourceFactory] = dict(SOURCES)
    from importlib.metadata import entry_points

    try:
        eps = entry_points(group=ENTRY_POINT_GROUP)
    except TypeError:  # pragma: no cover — pre-3.10 selectable API
        eps = entry_points().get(ENTRY_POINT_GROUP, [])
    for ep in eps:
        try:
            out[ep.name] = ep.load()
        except Exception:
            continue
    return out


def collect(
    spark: SparkSession,
    config: dict,
    destination: FileDestination | JdbcDestination,
    feedback: "ProgressReporter | None" = None,
) -> dict[str, int]:
    """Run every configured source, flatten, load, then promote. Returns
    per-table row counts (the reference's analytics payload,
    collect.py:194-196), observed on the writes themselves.

    How link tables are loaded depends on the destination:

    - Parquet: each source's edges are written once, partitioned by
      (from_kind, to_kind), into ``<dest>/_links.versions/<uuid>``; every
      partition directory becomes the ``link_<from>_<to>`` snapshot, and
      its row count comes from the Parquet footers. No pair discovery
      runs, and the link write shares the kind tables' load pool.
    - JDBC and CSV: one table per pair. The pairs are discovered
      (``link_tables``) on a side thread while the kind tables load, and
      the link tables load after them.

    Where two sources emit the same kind or pair, the later source (in
    name order) wins.

    What a failure leaves behind depends on the destination:

    - JDBC: every table is staged into ``tmp_<table>`` and all are
      promoted in one swap after the last load succeeded (reference
      collect.py:198-212), so a failure leaves readers on the whole
      previous snapshot.
    - Parquet: each kind table's versioned snapshot is promoted as soon as
      it is written, and the link tables once every load succeeded. A
      reader never sees a half-written table, but a failure can leave some
      tables at the new snapshot and the rest at the old.
    - CSV: each table's directory is overwritten in place; a failure can
      leave a table partly written.

    Any source failure aborts before anything is written, and a load
    failure stops every table not yet started. An edge with a NULL or
    empty kind raises ``ValueError`` before any link table is promoted
    or the JDBC swap runs.

    ``feedback`` (A17): per-source and per-table progress messages, the
    reference's CoreFeedback channel (collect.py:183-189)."""
    from cloud2sql_spark.etl.progress import NullReporter

    fb = feedback or NullReporter()
    sources = discover_sources()
    names = sorted(config["sources"])
    for name in names:
        if name not in sources:
            raise ValueError(f"unknown source: {name}")

    # A15: sources collect concurrently (reference: 4 collector threads,
    # collect.py:186). Any source failure propagates BEFORE loading
    # starts, so fail-fast-no-promote (A19) is preserved exactly.
    kinds: dict[str, DataFrame] = {}
    edges: list[DataFrame] = []
    for source_kinds, source_edges in _run_in_order(
        spark,
        [
            partial(_run_source, spark, n, sources[n], config["sources"].get(n), fb)
            for n in names
        ],
    ):
        kinds.update(source_kinds)
        edges.append(source_edges)

    writer, parquet = None, False
    if isinstance(destination, JdbcDestination):
        # fail fast with an install hint if the dialect's JDBC driver is
        # absent (reference check_db_driver, util.py:70-87)
        from cloud2sql_spark.etl.dialects import check_jdbc_driver

        check_jdbc_driver(spark, destination.url)
        writer = sinks.JdbcSnapshotWriter(
            spark, destination.url, destination.batch_size
        )
        verb, max_workers = "staged", 1

        def write(tname: str, df: DataFrame) -> None:
            writer.stage(tname, _jsonify_complex(df))

    else:
        verb, max_workers = "wrote", 4
        parquet = destination.format != "csv"

        def write(tname: str, df: DataFrame) -> None:
            path = f"{destination.path}/{tname}"
            if parquet:
                sinks.write_parquet_snapshot(df, path)
            else:
                sinks.write_csv(_jsonify_complex(df), path)

    done_lock = threading.Lock()
    done, total = 0, len(kinds)

    def loaded(tname: str, rows: int) -> None:
        nonlocal done
        fb.progress("load", f"{verb} {tname} ({rows} rows)")
        with done_lock:
            done += 1
            fb.progress_done("load", done, total)

    def load(tname: str, df: DataFrame) -> int:
        df, obs = _observed(df)
        write(tname, df)
        rows = obs.get["rows"]
        loaded(tname, rows)
        return rows

    kind_loads = [partial(load, t, df) for t, df in kinds.items()]
    if parquet:
        versions_root = f"{destination.path}/_links.versions"
        # the link writes go first: each holds every pair of its source
        results = _run_in_order(
            spark,
            [partial(_write_links, e, versions_root) for e in edges] + kind_loads,
            max_workers,
        )
        counts = dict(zip(kinds, results[len(edges) :]))
        links: dict[str, tuple[str, int]] = {}
        for source_links in results[: len(edges)]:
            links.update(source_links)
        sinks.promote_partitions(
            destination.path, {t: leaf for t, (leaf, _) in links.items()}, versions_root
        )
        total += len(links)
        for tname, (_, rows) in sorted(links.items()):
            counts[tname] = rows
            loaded(tname, rows)
        return counts

    # pair discovery runs beside the kind loads, off their critical path
    with ThreadPoolExecutor(1) as side:
        discovery = side.submit(
            inheritable_thread_target(spark)(lambda: [link_tables(e) for e in edges])
        )
        counts = dict(zip(kinds, _run_in_order(spark, kind_loads, max_workers)))
        link_dfs: dict[str, DataFrame] = {}
        for source_links in discovery.result():
            link_dfs.update(source_links)
    total += len(link_dfs)
    rows = _run_in_order(
        spark, [partial(load, t, df) for t, df in link_dfs.items()], max_workers
    )
    counts.update(zip(link_dfs, rows))
    if writer is not None:
        writer.swap()  # atomic promote only after every load succeeded
        fb.progress("load", "snapshot promoted")
    return counts


def _observed(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with an observed row count: once an action ran on the
    returned frame, ``obs.get["rows"]`` holds it, with no second job."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs


def _write_links(edges: DataFrame, versions_root: str) -> dict[str, tuple[str, int]]:
    """Every link table of one source in one Parquet write, partitioned by
    pair; returns link table name -> (partition directory, row count).
    Nothing is promoted. The footer counts must add up to the rows the
    write observed."""
    df, obs = _observed(edges.select("from_id", "to_id", "from_kind", "to_kind"))
    parts = sinks.write_partitioned_version(df, versions_root, ("from_kind", "to_kind"))
    footer_rows = sum(rows for _, rows in parts.values())
    if footer_rows != obs.get["rows"]:
        raise RuntimeError(
            f"link partitions under {versions_root} hold {footer_rows} rows "
            f"by their footers, but the write observed {obs.get['rows']}"
        )
    return {link_table_name(*pair): leaf_rows for pair, leaf_rows in parts.items()}


def _run_in_order(
    spark: SparkSession, targets: list[Callable[[], _R]], max_workers: int = 4
) -> list[_R]:
    """Run ``targets`` on at most ``max_workers`` driver threads and
    return their results in the given order.

    Each target runs under ``inheritable_thread_target(spark)``, wrapped
    on the calling thread, so its Spark jobs carry the caller's job group,
    description and other local properties (a bare pool thread has none,
    and ``cancelJobGroup`` could not reach its jobs) and the session's
    tags. Every target gets its own copy of the properties, so one may
    set a property without racing the others.

    The first failure stops every target not yet started; once the
    running ones finish, the failure of the earliest target in the given
    order is raised."""
    failed = threading.Event()

    def guarded(target: Callable[[], _R]) -> Callable[[], _R]:
        # checked inside the worker, not by cancelling futures from the
        # caller: a worker takes its next target before the caller wakes
        # up to the failure, so cancelling would still let one more start
        def run() -> _R:
            if failed.is_set():
                raise CancelledError()
            try:
                return target()
            except BaseException:
                failed.set()
                raise

        return inheritable_thread_target(spark)(run)

    with ThreadPoolExecutor(max(1, min(max_workers, len(targets)))) as pool:
        futures = [pool.submit(guarded(t)) for t in targets]
    for f in futures:
        err = f.exception()
        if err is not None and not isinstance(err, CancelledError):
            raise err
    return [f.result() for f in futures]


def _run_source(
    spark: SparkSession,
    name: str,
    factory: SourceFactory,
    source_cfg: dict | None,
    feedback: "ProgressReporter | None" = None,
) -> tuple[dict[str, DataFrame], DataFrame]:
    """One source's collect + kind flatten, run on a pool thread: its kind
    tables and its edges (``collect`` turns those into link tables). Its
    jobs go to a per-source FAIR pool, so under
    ``spark.scheduler.mode=FAIR`` one source's long job cannot starve the
    others."""
    from cloud2sql_spark.etl.progress import NullReporter

    fb = feedback or NullReporter()
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", f"source-{name}")
    fb.progress(name, "collecting")
    source_fn, catalog_fn = factory(source_cfg)
    nodes, edges = source_fn(spark)
    kinds = flatten_nodes(nodes, catalog_fn())
    fb.progress(name, f"collected ({len(kinds)} kinds)")
    return kinds, edges


def _jsonify_complex(df: DataFrame) -> DataFrame:
    """Complex/array/map columns -> JSON text at the flat-sink boundary
    (the reference's SqlUpdater stores complex properties as JSON [dep];
    SURVEY §1.3 'keep as StructType internally')."""
    from pyspark.sql import types as T

    cols = []
    for f in df.schema.fields:
        if isinstance(f.dataType, (T.StructType, T.ArrayType, T.MapType)):
            cols.append(F.to_json(f.name).alias(f.name))
        else:
            cols.append(F.col(f.name))
    return df.select(*cols)


def distributed_collect(
    spark: SparkSession,
    accounts: list[str],
    regions: list[str],
    fetch: Callable[[str, str], list[dict]],
    result_schema: str | StructType,
) -> DataFrame:
    """Executor-side fetch (reference A16: per-account forks + per-region
    thread pools, config-template.yaml:17-32): build an accounts×regions
    task DataFrame, repartition so each task lands on its own executor
    slot, and run ``fetch`` inside mapInPandas. At 1000 executors this is
    1000-way parallel API fetch with no driver bottleneck."""
    import pandas as pd

    tasks = spark.createDataFrame(
        [(a, r) for a in accounts for r in regions], "account STRING, region STRING"
    ).repartition(max(1, len(accounts) * len(regions)))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict] = []
            for account, region in zip(pdf["account"], pdf["region"]):
                rows.extend(fetch(account, region))
            if rows:
                yield pd.DataFrame(rows)

    return tasks.mapInPandas(run, result_schema)
