"""Seeded input generator for the ``etl_export`` workload.

``write_graph_export`` writes a resource graph in the ``remote_graph``
wire format that ``cloud2sql_spark.etl.graph_source`` reads (``nodes/``
and ``edges/`` as ndjson, plus ``kinds.json``). Kind sizes are
Zipf-skewed, every payload carries a tags map and an array, and the
edge-kind pairs are drawn from the seed. The generator returns the row
count it wrote for every output table, which is what the export must
promote. Only the standard library is used, so generation needs no
Spark session.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

# Kind-specific properties every generated kind carries (reference model
# type names, see cloud2sql_spark.etl.model).
KIND_PROPERTIES = {
    "size": "int64",
    "score": "double",
    "status": "string",
    "enabled": "boolean",
    "labels": "array[string]",
}
_STATUSES = ["running", "stopped", "available", "in-use", "pending"]
_TAG_KEYS = ["owner", "env", "team", "cost-center", "app", "tier"]
_TAG_VALUES = ["alpha", "beta", "prod", "dev", "ml", "web", "db", "ops"]
_CLOUDS = ["aws", "gcp", "azure"]
_REGIONS = ["us-east-1", "us-west-2", "eu-central-1", "ap-south-1"]


def kind_names(n_kinds: int) -> list[str]:
    return [f"kind{i:02d}" for i in range(n_kinds)]


def write_graph_export(
    path: str, seed: int, n_nodes: int, n_kinds: int, n_pairs: int
) -> dict[str, int]:
    """Write a seeded graph export to ``path``; return table -> row count.

    Node counts per kind follow a Zipf(1.1) split of ``n_nodes`` (every
    kind gets at least 20 nodes). ``n_pairs`` distinct (from_kind,
    to_kind) pairs are drawn from the seed; each pair gets
    ``n_nodes // n_kinds`` edges between random nodes of its two kinds.
    """
    rng = random.Random(seed)
    kinds = kind_names(n_kinds)
    weights = [1.0 / (i + 1) ** 1.1 for i in range(n_kinds)]
    rng.shuffle(weights)
    total = sum(weights)
    sizes = [max(20, int(n_nodes * w / total)) for w in weights]
    counts: dict[str, int] = {}
    ids: dict[str, list[str]] = {}
    os.makedirs(os.path.join(path, "nodes"), exist_ok=True)
    os.makedirs(os.path.join(path, "edges"), exist_ok=True)
    with open(os.path.join(path, "nodes", "part-00000.json"), "w") as fh:
        for ki, (kind, size) in enumerate(zip(kinds, sizes)):
            counts[kind] = size
            ids[kind] = [f"{kind}-{ki}-{j}" for j in range(size)]
            for nid in ids[kind]:
                n_tags = rng.randint(1, 4)
                payload = {
                    "id": nid,
                    "name": f"{kind} {nid}",
                    "tags": {
                        k: rng.choice(_TAG_VALUES)
                        for k in rng.sample(_TAG_KEYS, n_tags)
                    },
                    "ctime": (
                        dt.datetime(2023, 1, 1)
                        + dt.timedelta(seconds=rng.randrange(365 * 86400))
                    ).isoformat(),
                    "size": rng.randrange(1, 1 << 40),
                    "score": round(rng.random() * 100, 3),
                    "status": rng.choice(_STATUSES),
                    "enabled": rng.random() < 0.5,
                    "labels": [
                        rng.choice(_TAG_VALUES) for _ in range(rng.randint(0, 3))
                    ],
                }
                fh.write(
                    json.dumps(
                        {
                            "node_id": nid,
                            "kind": kind,
                            "payload": payload,
                            "cloud": rng.choice(_CLOUDS),
                            "account": f"acct-{rng.randrange(8):02d}",
                            "region": rng.choice(_REGIONS),
                        }
                    )
                    + "\n"
                )
    all_pairs = [(a, b) for a in kinds for b in kinds if a != b]
    pairs = sorted(rng.sample(all_pairs, n_pairs))
    # the same number of edges for every pair, so every seed exports the
    # same number of rows
    per_pair = n_nodes // n_kinds
    with open(os.path.join(path, "edges", "part-00000.json"), "w") as fh:
        for a, b in pairs:
            for _ in range(per_pair):
                edge = {
                    "from_id": rng.choice(ids[a]),
                    "to_id": rng.choice(ids[b]),
                    "from_kind": a,
                    "to_kind": b,
                }
                fh.write(json.dumps(edge) + "\n")
            counts[f"link_{a}_{b}"] = per_pair
    with open(os.path.join(path, "kinds.json"), "w") as fh:
        json.dump(
            {"kinds": {k: dict(KIND_PROPERTIES) for k in kinds}},
            fh,
            indent=2,
            sort_keys=True,
        )
    return counts
