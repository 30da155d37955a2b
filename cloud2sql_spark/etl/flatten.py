"""Graph -> relational flatten (reference A7: collect_sql inside
resotodatalink, call site cloud2sql/collect.py:158; output contract
tests/collect_test.py:26-45 — one table per kind, one ``link_<from>_<to>``
table per edge-kind pair).

Spark re-expression: nodes arrive as (node_id, kind, payload JSON, context)
rows; for each kind, filter + ``from_json`` with the kind's StructType and
flatten the struct to columns. ``link_tables`` groups edges by
(from_kind, to_kind) into per-pair link DataFrames; ``flatten_graph``
composes both.

Scale notes: the per-kind filter + JSON parse is one pass over nodes with
predicate pushdown on ``kind`` (partition nodes by kind at ingest and the
scan prunes); no shuffle at all — flattening is embarrassingly parallel.
Link tables group edges by the (from_kind, to_kind) pair columns, also
pushdown-prunable; only discovering the pairs shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cloud2sql_spark.etl.model import CONTEXT_PROPERTIES, KindCatalog


def flatten_nodes(
    nodes: DataFrame, catalog: KindCatalog
) -> dict[str, DataFrame]:
    """One DataFrame per kind: JSON payload parsed with the kind's schema,
    struct fields flattened to top-level columns; context columns
    (cloud/account/region) come from the node envelope."""
    out: dict[str, DataFrame] = {}
    for kind in catalog.kinds():
        schema = catalog.schema(kind)
        payload_fields = [
            f.name for f in schema.fields if f.name not in CONTEXT_PROPERTIES
        ]
        parsed = (
            nodes.filter(F.col("kind") == kind)
            .withColumn("_p", F.from_json("payload", schema))
            .select(
                *[F.col(f"_p.{name}").alias(name) for name in payload_fields],
                *[F.col(c) for c in CONTEXT_PROPERTIES],
            )
        )
        out[kind] = parsed
    return out


def link_table_name(from_kind: str | None, to_kind: str | None) -> str:
    """``link_<from_kind>_<to_kind>`` (reference tests/collect_test.py:
    33-39). A NULL or empty kind names no table, so it is an error."""
    if not from_kind or not to_kind:
        raise ValueError(
            f"edge kind pair ({from_kind!r}, {to_kind!r}) has a NULL or empty "
            "kind; every edge needs both kinds to name its link table"
        )
    return f"link_{from_kind}_{to_kind}"


def link_tables(edges: DataFrame) -> dict[str, DataFrame]:
    """One (from_id, to_id) DataFrame per distinct edge-kind pair, named
    by ``link_table_name``, in name order.

    Discovering the pairs is a ``distinct().collect()`` (two Spark jobs
    under AQE). The pair list is tiny (kinds × kinds bounded), so
    collecting it to the driver is safe at any data scale; each link
    DataFrame is a pruned scan. The Parquet destination needs no
    discovery: it writes every link table at once, partitioned by pair
    (``pipeline.collect``).
    """
    pairs = edges.select("from_kind", "to_kind").distinct().collect()
    named = sorted((link_table_name(f, t), f, t) for f, t in pairs)
    return {
        name: edges.filter(
            (F.col("from_kind") == from_kind) & (F.col("to_kind") == to_kind)
        ).select("from_id", "to_id")
        for name, from_kind, to_kind in named
    }


def flatten_graph(
    nodes: DataFrame, edges: DataFrame, catalog: KindCatalog
) -> dict[str, DataFrame]:
    """Full graph -> relational schema: kind tables + link tables."""
    return {**flatten_nodes(nodes, catalog), **link_tables(edges)}
