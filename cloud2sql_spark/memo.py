"""Session-scoped persisted frames: the one owner of every memoized
intermediate and of the per-call persist ledger.

``session_memo`` persists an expensive shared frame once per (Spark
application, key) — shingles, quantized embeddings, LSH buckets, the
dedup truth/signature/sr_meta indexes, PageRank and co-purchase edges —
so every consumer in the session reads one materialization. An explicit
memo, not Spark's cache-manager plan equality, which is fragile across
separately constructed mapInPandas nodes. ``track`` bounds the per-call
persists that are not memoized, and ``reset`` releases both (the
bench/test hook between trials, and the escape hatch when fixture files
under a memoized path are rewritten mid-session and would otherwise
serve stale data).

Eviction and reset only ever unpersist. A DataFrame a caller still holds
after its entry was dropped stays CORRECT and silently degrades to
recomputing its plan per action — never an error.
"""

from __future__ import annotations

import logging
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

# One LRU bound for every family. The working set of one sf_dir is 11
# keys: shingles, quant, lsh, pagerank, triangle plain and oriented,
# jaccard_pairs and sr_meta under both SPARK_GRAFT_PREFIX_FILTER states,
# and simhash_sig. 16 keeps all of them resident, so a sweep over one
# sf_dir never evicts its own frames, and leaves room for the hot few of
# a second sf_dir before the least recently used entry goes.
_MEMO_MAX = 16
_MEMO: dict = {}
# Hits, misses and LRU evictions of session_memo since the last reset().
# Observability only: no code path reads them.
_STATS = {"hits": 0, "misses": 0, "evictions": 0}


def _unpersist(df: DataFrame) -> None:
    try:
        df.unpersist()
    except Exception:
        pass


def session_memo(
    spark: SparkSession, key: tuple, build: Callable[[], DataFrame]
) -> DataFrame:
    """``build().persist()`` memoized under (applicationId, *key); key[0]
    is the family tag. A hit re-inserts the key, so insertion order is
    LRU order and a hot entry is never the victim while a caller still
    holds its frame. Eviction runs after ``build()`` returns: a build
    that itself calls session_memo (oriented over plain triangle edges,
    LSH buckets over quant) has already inserted its own entry, so the
    store can never overrun the bound."""
    full = (spark.sparkContext.applicationId, *key)
    if full in _MEMO:
        _STATS["hits"] += 1
        _MEMO[full] = _MEMO.pop(full)
        return _MEMO[full]
    _STATS["misses"] += 1
    out = build().persist()
    while len(_MEMO) >= _MEMO_MAX:
        _unpersist(_MEMO.pop(next(iter(_MEMO))))
        _STATS["evictions"] += 1
    _MEMO[full] = out
    return out


def stats() -> dict[str, int]:
    """session_memo's hit, miss and eviction counts since the last reset()."""
    return dict(_STATS)


# Per-call intermediate persists (an op's tok/prefix/posting frames) are
# not memoized — a repeat invocation rebuilds them — but the storage they
# pin would otherwise live until Spark's own eviction. Tracking them here
# lets reset release them along with the memo (ADVICE r07). The list
# itself is BOUNDED: a long session that never calls the reset hook (a
# full 289-key registry sweep) must not pin every past frame's plan graph
# for the process lifetime, so the oldest entries are unpersisted and
# dropped once the window fills — unpersisting a frame sooner than the hook would
# is always correctness-safe (Spark recomputes). The bound is sized so the
# FIFO can only ever evict frames from long-completed ops: no single op
# tracks more than ~4 frames, so an in-flight op's frames are always the
# newest handful and a 256-deep window means ≥60 whole ops ran (and
# collected) since an evicted frame was tracked. Eviction also logs —
# the failure mode this guards (a still-referenced frame silently losing
# its persist and recomputing) is a perf cliff, not a correctness bug,
# and the log line is what makes it diagnosable (ADVICE r08).
_EPHEMERAL_PERSISTS: list = []
_EPHEMERAL_MAX = 256


def track(df: DataFrame) -> DataFrame:
    """Register a per-call persisted frame for release by the reset hook."""
    evicted = 0
    while len(_EPHEMERAL_PERSISTS) >= _EPHEMERAL_MAX:
        _unpersist(_EPHEMERAL_PERSISTS.pop(0))
        evicted += 1
    if evicted:
        logging.getLogger(__name__).warning(
            "ephemeral-persist ledger full (%d): unpersisted %d oldest "
            "frame(s); if a live op's intermediate was evicted its plan "
            "recomputes instead of reading cache — call "
            "memo.reset() between ops or raise _EPHEMERAL_MAX",
            _EPHEMERAL_MAX,
            evicted,
        )
    _EPHEMERAL_PERSISTS.append(df)
    return df


def reset() -> None:
    """Unpersist and drop every memo entry and every tracked frame, and
    zero the counters."""
    for df in (*_MEMO.values(), *_EPHEMERAL_PERSISTS):
        _unpersist(df)
    _MEMO.clear()
    _EPHEMERAL_PERSISTS.clear()
    _STATS.update(dict.fromkeys(_STATS, 0))
