"""Kind model -> Spark StructType catalog (reference A8: SqlUpdater DDL
derivation, import at cloud2sql/collect.py:22 [dep]; type inventory
SURVEY.md §1.3).

The reference derives one relational table per resource kind from a
dataclass-based model: simple properties become native columns, complex /
array properties become JSON-typed columns. Here a kind is declared as a
property->type mapping using the reference's type names and compiled to a
StructType; per SURVEY §1.3, complex kinds map to nested StructType (kept
structured internally; ``to_json`` only at the JDBC sink boundary).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import types as T

# reference property-type names (resotolib model [dep]) -> Spark types
_SIMPLE_TYPES: dict[str, T.DataType] = {
    "string": T.StringType(),
    "int32": T.IntegerType(),
    "int64": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "boolean": T.BooleanType(),
    "date": T.DateType(),
    "datetime": T.TimestampNTZType(),
    "duration": T.DayTimeIntervalType(),
}


def parse_type(name: str) -> T.DataType:
    """Parse a reference model type name into a Spark type.

    Supports ``array[T]`` and ``dictionary[K,V]`` composites recursively
    (SURVEY §1.3)."""
    name = name.strip()
    if name in _SIMPLE_TYPES:
        return _SIMPLE_TYPES[name]
    if name.startswith("array[") and name.endswith("]"):
        return T.ArrayType(parse_type(name[6:-1]))
    if name.startswith("dictionary[") and name.endswith("]"):
        k, v = name[11:-1].split(",", 1)
        return T.MapType(parse_type(k), parse_type(v))
    raise ValueError(f"unknown model type: {name}")


# base columns every resource kind carries (resotolib BaseResource [dep];
# FIXTURES.md §1.1) plus the ancestry context columns the reference
# denormalizes into every row
BASE_PROPERTIES: dict[str, str] = {
    "id": "string",
    "name": "string",
    "tags": "dictionary[string,string]",
    "ctime": "datetime",
}
CONTEXT_PROPERTIES: dict[str, str] = {
    "cloud": "string",
    "account": "string",
    "region": "string",
}

# The node/edge wire format every source emits and graph_source reads:
# all-STRING envelopes. ``payload`` is one resource's JSON text, which
# flatten parses with its kind's StructType; the trailing node fields are
# the CONTEXT_PROPERTIES columns.
NODES_SCHEMA = T.StructType(
    [
        T.StructField(f, T.StringType())
        for f in ("node_id", "kind", "payload", *CONTEXT_PROPERTIES)
    ]
)
EDGES_SCHEMA = T.StructType(
    [
        T.StructField(f, T.StringType())
        for f in ("from_id", "to_id", "from_kind", "to_kind")
    ]
)


@dataclass
class Kind:
    """One resource kind: its name and kind-specific properties."""

    name: str
    properties: dict[str, str] = field(default_factory=dict)

    def schema(self) -> T.StructType:
        fields = [
            T.StructField(p, parse_type(t))
            for p, t in {**BASE_PROPERTIES, **self.properties, **CONTEXT_PROPERTIES}.items()
        ]
        return T.StructType(fields)


class KindCatalog:
    """Registry of kinds -> StructType schemas (the dynamic-schema catalog
    that replaces the reference's runtime DDL derivation)."""

    def __init__(self, kinds: list[Kind] | None = None):
        self._kinds: dict[str, Kind] = {}
        for k in kinds or []:
            self.add(k)

    def add(self, kind: Kind) -> None:
        if kind.name in self._kinds:
            raise ValueError(f"duplicate kind: {kind.name}")
        self._kinds[kind.name] = kind

    def schema(self, kind_name: str) -> T.StructType:
        return self._kinds[kind_name].schema()

    def properties(self, kind_name: str) -> dict[str, str]:
        """Kind-specific property->type mapping (the serializable half of
        the catalog — base/context columns are implied by the model)."""
        return dict(self._kinds[kind_name].properties)

    def kinds(self) -> list[str]:
        return sorted(self._kinds)

    def __contains__(self, kind_name: str) -> bool:
        return kind_name in self._kinds
