"""Shared contract pieces for the cloud-shaped mock collectors.

The AWS/k8s/GCP mocks all speak the same node-envelope wire format into
``pipeline.distributed_collect`` and derive attributes from the same md5
hash scheme. These used to be three verbatim copies; a schema change
applied to two of them but missed in the third would pass each mock's
own golden tests while silently diverging the shared contract — so the
ONE definition lives here.
"""

from __future__ import annotations

import hashlib
import json

# Fixed resource creation time: mocks are fully deterministic (no clock).
CTIME = "2023-06-01T00:00:00"


def det_hash(*parts: object) -> int:
    """Deterministic 64-bit value from the md5 of the joined parts —
    the mocks' only source of 'randomness' (stable across runs, hosts,
    and partitionings)."""
    raw = hashlib.md5("|".join(str(p) for p in parts).encode()).digest()
    return int.from_bytes(raw[:8], "big")


def envelope(
    kind: str,
    payload: dict,
    cloud: str,
    account: str,
    region: str | None,
) -> dict:
    """One node row in the shared wire format (model.NODES_SCHEMA)."""
    return {
        "node_id": payload["id"],
        "kind": kind,
        "payload": json.dumps(payload),
        "cloud": cloud,
        "account": account,
        "region": region,
    }
