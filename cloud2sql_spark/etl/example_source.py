"""Synthetic "example" resource graph — the reference's golden ETL test
fixture re-created (reference: resoto-plugin-example-collector,
requirements-test.txt:9; golden output contract tests/collect_test.py:26-40
= 6 kind tables + 7 link tables with exact row counts; FIXTURES.md §1).

The raw shape is the RemoteGraphCollector wire format (SURVEY §3.3):
``nodes`` (node_id, kind, payload JSON, cloud, account, region) and
``edges`` (from_id, to_id, from_kind, to_kind).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession

from cloud2sql_spark.etl.model import EDGES_SCHEMA, NODES_SCHEMA, Kind, KindCatalog

EXAMPLE_KINDS = [
    Kind("example_account"),
    Kind("example_region"),
    Kind(
        "example_instance",
        {
            "instance_cores": "double",
            "instance_memory": "double",
            "instance_status": "string",
        },
    ),
    Kind("example_volume", {"volume_size": "int64", "volume_status": "string"}),
    Kind("example_network"),
    Kind("example_custom_resource", {"custom_attribute": "string"}),
]

# golden row counts (reference tests/collect_test.py:26-40)
GOLDEN_COUNTS = {
    "example_account": 1,
    "example_region": 2,
    "example_instance": 2,
    "example_volume": 2,
    "example_network": 2,
    "example_custom_resource": 1,
    "link_example_account_example_region": 2,
    "link_example_region_example_instance": 2,
    "link_example_region_example_network": 2,
    "link_example_region_example_volume": 2,
    "link_example_region_example_custom_resource": 1,
    "link_example_instance_example_volume": 2,
    "link_example_network_example_instance": 2,
}

_CTIME = "2023-01-01T00:00:00"


def _node(nid, kind, name, region, **props):
    payload = {
        "id": nid,
        "name": name,
        "tags": {"owner": "example"},
        "ctime": _CTIME,
        **props,
    }
    return (nid, kind, json.dumps(payload), "example", "example_account", region)


_NODES = [
    _node("acc1", "example_account", "Example Account", None),
    _node("reg1", "example_region", "us-west", "us-west"),
    _node("reg2", "example_region", "us-east", "us-east"),
    _node("inst1", "example_instance", "Instance 1", "us-west",
          instance_cores=4.0, instance_memory=32.0, instance_status="running"),
    _node("inst2", "example_instance", "Instance 2", "us-east",
          instance_cores=2.0, instance_memory=16.0, instance_status="stopped"),
    _node("vol1", "example_volume", "Volume 1", "us-west",
          volume_size=100, volume_status="in-use"),
    _node("vol2", "example_volume", "Volume 2", "us-east",
          volume_size=200, volume_status="available"),
    _node("net1", "example_network", "Network 1", "us-west"),
    _node("net2", "example_network", "Network 2", "us-east"),
    _node("cust1", "example_custom_resource", "Custom 1", "us-west",
          custom_attribute="custom"),
]

_EDGES = [
    ("acc1", "reg1", "example_account", "example_region"),
    ("acc1", "reg2", "example_account", "example_region"),
    ("reg1", "inst1", "example_region", "example_instance"),
    ("reg2", "inst2", "example_region", "example_instance"),
    ("reg1", "net1", "example_region", "example_network"),
    ("reg2", "net2", "example_region", "example_network"),
    ("reg1", "vol1", "example_region", "example_volume"),
    ("reg2", "vol2", "example_region", "example_volume"),
    ("reg1", "cust1", "example_region", "example_custom_resource"),
    ("inst1", "vol1", "example_instance", "example_volume"),
    ("inst2", "vol2", "example_instance", "example_volume"),
    ("net1", "inst1", "example_network", "example_instance"),
    ("net2", "inst2", "example_network", "example_instance"),
]


def example_catalog() -> KindCatalog:
    return KindCatalog(EXAMPLE_KINDS)


def collect_example(spark: SparkSession) -> tuple[DataFrame, DataFrame]:
    """The 'collect' step for the example source: produce the nodes and
    edges DataFrames (a real cloud source would fetch per account/region on
    executors — see pipeline.distributed_collect)."""
    nodes = spark.createDataFrame(_NODES, NODES_SCHEMA)
    edges = spark.createDataFrame(_EDGES, EDGES_SCHEMA)
    return nodes, edges
