"""Opt-in scale-switch flags.

Every 100 TB scale switch in the repo is the same shape: an env var set
to "1" swaps an exact default plan for the plan that survives three more
orders of magnitude (approx quantile boundaries for global ntile, HLL++
for multi-column count-distinct, degree orientation for triangle
adjacency). One helper keeps the read-at-call-time semantics identical
everywhere — flags must be consulted when the query builds, never at
module import, so a test's monkeypatch.setenv takes effect.
"""

from __future__ import annotations

import os


def flag_enabled(name: str) -> bool:
    """True when env var ``name`` is exactly "1" (unset/other = off)."""
    return os.environ.get(name, "") == "1"


# ---------------------------------------------------------------------------
# The flag matrix: every scale-switch flag -> the registry keys whose plan
# it changes, plus the equivalence class of the switch.
#
#   "exact"     — flagged output is bit-identical to the default; the
#                 standing gate (scripts/flag_matrix.py) re-runs the key's
#                 DuckDB oracle with the flag ON and hash-compares, exactly
#                 like the driver does for the default path.
#   "tolerance" — flagged output is approximate by design; the gate runs a
#                 key-specific checker that enforces the DOCUMENTED
#                 tolerance (see each operator's docstring and the checker
#                 in scripts/flag_matrix.py).
#
# This table is the single source of truth the per-round gate iterates —
# tests/test_flags.py fails if a flag consulted anywhere in the package is
# missing here (or vice versa), so a new switch cannot land ungated
# (VERDICT r07 item 1).
FLAG_MATRIX: dict[str, dict] = {
    "SPARK_GRAFT_PREFIX_FILTER": {
        "check": "exact",
        "keys": [
            "dedup_ngram_jaccard",
            "dedup_minhash_banding_curve",
            "dedup_containment",
            "dedup_quality_report",
            "dedup_ngram_capped",
            "dedup_cluster_cc",
        ],
    },
    "SPARK_GRAFT_DEGREE_ORIENT": {
        "check": "exact",
        "keys": ["graph_triangle_count"],
    },
    "SPARK_GRAFT_APPROX_NTILE": {
        "check": "tolerance",
        "keys": ["events_rfm_segments", "sample_curriculum"],
    },
    "SPARK_GRAFT_APPROX_PROFILE": {
        "check": "tolerance",
        "keys": ["profile_table"],
    },
    # Checkpoint durability switch for the iterative graph loops:
    # localCheckpoint (executor-local blocks, default — right for
    # local[32] and fine on a cluster that tolerates recompute-on-loss)
    # vs reliable checkpoint() to SPARK_GRAFT_CHECKPOINT_DIR (the 1000-
    # executor posture where losing an executor mid-superstep must not
    # recompute the whole lineage). Data-identical by construction —
    # only the storage of the truncation point changes — so the gate
    # class is "exact". dedup_cluster_cc consults it only on its
    # distributed >2M-edge path; the gate forces that path (it zeroes
    # _CC_UNION_FIND_MAX_EDGES for this row) so the flagged truncation
    # points run for real at gate scale instead of re-testing the
    # bounded union-find default.
    "SPARK_GRAFT_RELIABLE_CHECKPOINT": {
        "check": "exact",
        "keys": [
            "graph_kcore_peel",
            "graph_label_propagation",
            "dedup_cluster_cc",
        ],
    },
}
