"""Pre-collected ("remote") graph source — A5 (reference:
RemoteGraphCollector, cloud2sql/collect.py:20,60-63 + requirements.txt:7
``resotodatalink[remote-graph]``; the reference ingests a graph that was
already collected elsewhere instead of calling cloud APIs itself).

Wire format: a directory (any Hadoop-readable URI — file://, s3a://,
hdfs://) holding

- ``nodes/``  — ndjson lines ``{"node_id", "kind", "payload", "cloud",
  "account", "region"}`` where ``payload`` is either a nested JSON object
  or a JSON-encoded string of one (both shapes are accepted);
- ``edges/``  — ndjson lines ``{"from_id", "to_id", "from_kind",
  "to_kind"}``;
- ``kinds.json`` — the kind catalog ``{"kinds": {name: {prop: type}}}``
  with reference model type names (etl/model.py).

Reader: each directory is one scan of Spark's JSON data source with a
fixed envelope schema that declares every field as STRING — no
schema-inference pre-pass over what may be terabytes of export, and each
line is parsed once. A STRING field takes an object or array value as
its raw JSON text and a string value decoded, so both payload shapes land
in the same STRING column that the flatten step parses with the kind's
StructType; numbers and booleans arrive as their JSON text. Filters on
envelope fields reach the parser (``PushedFilters: [IsNotNull(kind),
EqualTo(kind,<kind>)]`` for a kind table, ``from_kind``/``to_kind`` for a
per-pair link table), so a line of another kind is dropped as soon as its
``kind`` field is read.

Line policy (``mode=DROPMALFORMED``): a blank, garbage or truncated line
yields no row — a truncated line never loads as a half-filled node. A
duplicated key keeps its last value (as Python's ``json.loads`` does);
keys match case-sensitively; a line holding a top-level array of objects
yields one row per element.

kinds.json is read on the driver through Hadoop's FileSystem API (works
on any filesystem, runs no Spark job) — bounded by the number of kinds,
not data.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from cloud2sql_spark.etl.model import EDGES_SCHEMA, NODES_SCHEMA, Kind, KindCatalog


def _read_lines(spark: SparkSession, path: str, envelope: StructType) -> DataFrame:
    return spark.read.schema(envelope).option("mode", "DROPMALFORMED").json(path)


def read_graph(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """Load the nodes and edges DataFrames from an exported graph."""
    nodes = _read_lines(spark, os.path.join(path, "nodes"), NODES_SCHEMA)
    edges = _read_lines(spark, os.path.join(path, "edges"), EDGES_SCHEMA)
    return nodes, edges


def read_catalog(spark: SparkSession, path: str) -> KindCatalog:
    """kinds.json -> KindCatalog, read on the driver through Hadoop's
    FileSystem API: any Hadoop URI works and no Spark job runs."""
    jvm = spark._jvm
    file = jvm.org.apache.hadoop.fs.Path(os.path.join(path, "kinds.json"))
    stream = file.getFileSystem(spark._jsc.hadoopConfiguration()).open(file)
    try:
        doc = json.loads(jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8"))
    finally:
        stream.close()
    return KindCatalog(
        [Kind(name, props or {}) for name, props in sorted(doc["kinds"].items())]
    )


def export_graph(
    nodes: DataFrame, edges: DataFrame, catalog: KindCatalog, path: str
) -> None:
    """Write a graph in the wire format above (the producer side a
    collector runs elsewhere; partition-parallel ndjson via Spark's JSON
    writer). kinds.json is written driver-side — it is catalog metadata,
    not data."""
    nodes.write.mode("overwrite").json(os.path.join(path, "nodes"))
    edges.write.mode("overwrite").json(os.path.join(path, "edges"))
    kinds = {
        name: catalog.properties(name) for name in catalog.kinds()
    }
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "kinds.json"), "w") as fh:
        json.dump({"kinds": kinds}, fh, indent=2, sort_keys=True)


def make_graph_source(cfg: dict | None):
    """Source factory for the registry: config needs ``path`` (the export
    directory/URI)."""
    cfg = cfg or {}
    if "path" not in cfg:
        raise ValueError("remote_graph source requires 'path'")
    path = cfg["path"]

    def source_fn(spark: SparkSession) -> tuple[DataFrame, DataFrame]:
        return read_graph(spark, path)

    def catalog_fn() -> KindCatalog:
        from cloud2sql_spark.session import get_spark

        spark = SparkSession.getActiveSession() or get_spark("graph-source")
        return read_catalog(spark, path)

    return source_fn, catalog_fn
