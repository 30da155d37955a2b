"""The session memo (cloud2sql_spark/memo.py): one bounded LRU store for
every persisted shared frame, the bounded per-call persist ledger, and
the reset hook that releases both."""

from __future__ import annotations

import logging

from cloud2sql_spark import memo


class _Frame:
    """Stands in for a DataFrame: persist() is a passthrough, unpersist()
    records the call or raises like an already-freed frame."""

    def __init__(self, fail=False):
        self.fail = fail
        self.unpersisted = False

    def persist(self):
        return self

    def unpersist(self):
        if self.fail:
            raise RuntimeError("already freed")
        self.unpersisted = True


class _Spark:
    """Just enough of a SparkSession for the memo key."""

    class sparkContext:
        applicationId = "app-test"


def test_session_memo_bound_order_and_unpersist(empty_memo, monkeypatch):
    """The one LRU store: evicts oldest-first (insertion order; hits
    re-insert), stops strictly below the bound before inserting,
    unpersists every victim, swallows unpersist failures, and reset()
    releases the survivors and empties the store."""
    monkeypatch.setattr(memo, "_MEMO_MAX", 3)
    frames = {k: _Frame(fail=(k == "a")) for k in "abcde"}
    built = []

    def get(k):
        def build():
            built.append(k)
            return frames[k]

        return memo.session_memo(_Spark(), ("fam", k), build)

    for k in "abc":
        assert get(k) is frames[k]
    # below the bound until the fourth key: nothing evicted yet
    assert not any(f.unpersisted for f in frames.values())
    # a hit on b serves the stored frame without rebuilding and
    # re-inserts it -> eviction order a, c, b
    assert get("b") is frames["b"]
    assert built == ["a", "b", "c"]
    get("d")  # len 3 >= 3: evict a -> c, b, d
    get("e")  # evict c -> b, d, e
    assert list(memo._MEMO) == [("app-test", "fam", k) for k in "bde"]
    assert frames["c"].unpersisted  # victim freed
    assert not frames["a"].unpersisted  # its failure was swallowed
    assert not any(frames[k].unpersisted for k in "bde")
    memo.reset()
    assert memo._MEMO == {}
    assert all(frames[k].unpersisted for k in "bde")


def test_session_memo_counts_hits_misses_and_evictions(empty_memo, monkeypatch):
    """stats() counts a miss per build, a hit per stored frame served and
    an eviction per victim past _MEMO_MAX; reset() zeroes all three."""
    monkeypatch.setattr(memo, "_MEMO_MAX", 2)

    def get(k):
        return memo.session_memo(_Spark(), ("fam", k), _Frame)

    assert memo.stats() == {"hits": 0, "misses": 0, "evictions": 0}
    get("a")
    assert memo.stats() == {"hits": 0, "misses": 1, "evictions": 0}
    get("a")
    assert memo.stats() == {"hits": 1, "misses": 1, "evictions": 0}
    get("b")  # fills the store: no eviction yet
    get("c")  # evicts a
    assert memo.stats() == {"hits": 1, "misses": 3, "evictions": 1}
    get("a")  # a rebuild is a miss, and evicts b
    assert memo.stats() == {"hits": 1, "misses": 4, "evictions": 2}
    memo.stats()["hits"] = 99  # a copy: the caller cannot move the counts
    assert memo.stats()["hits"] == 1
    memo.reset()
    assert memo.stats() == {"hits": 0, "misses": 0, "evictions": 0}


def test_track_bounds_ephemeral_persists(empty_memo, caplog):
    """track keeps the per-call persist ledger bounded: once the window
    fills, the OLDEST tracked frame is unpersisted and dropped (a long
    session that never calls the reset hook — a full 289-key registry
    sweep — must not pin every past frame's plan graph), eviction logs a
    warning (an evicted-but-live frame is a silent perf cliff, ADVICE
    r08), unpersist failures are swallowed, and reset still releases
    the survivors and empties the ledger."""
    frames = [_Frame(fail=(i == 1)) for i in range(memo._EPHEMERAL_MAX + 3)]
    with caplog.at_level(logging.WARNING, logger=memo.__name__):
        for f in frames:
            assert memo.track(f) is f  # passthrough contract
    # ledger holds exactly the newest _EPHEMERAL_MAX frames
    assert len(memo._EPHEMERAL_PERSISTS) == memo._EPHEMERAL_MAX
    assert memo._EPHEMERAL_PERSISTS == frames[3:]
    # the three displacements each fired the eviction warning
    evict_logs = [r for r in caplog.records
                  if "ephemeral-persist ledger full" in r.message]
    assert len(evict_logs) == 3
    # the three displaced frames were unpersisted oldest-first
    # (frame 1's failure swallowed, not re-raised)
    assert frames[0].unpersisted and frames[2].unpersisted
    assert not frames[1].unpersisted
    assert not frames[3].unpersisted  # survivors untouched
    memo.reset()
    assert memo._EPHEMERAL_PERSISTS == []
    assert frames[-1].unpersisted


def test_families_share_one_bounded_lru_store(
    spark, sf_dir, empty_memo, monkeypatch
):
    """Every family lives in the one store under one discipline: a hit
    on the shingles family refreshes its LRU position, a nested build
    (LSH buckets over quant, oriented over plain triangle edges) never
    leaves the store above its bound, and reset() unpersists a frame of
    every family. Frames are only planned and persisted, never run."""
    from pyspark import StorageLevel

    from cloud2sql_spark.queries.analytics import (
        _oriented_copurchase_edges,
        _pagerank_edges,
    )
    from cloud2sql_spark.queries.extensions import (
        _capped_sr_meta,
        _doc_shingles,
        _exact_jaccard_pairs_shared,
        _lsh_bucket_frame,
        _quantized,
        _simhash_sig_frame,
    )

    def stored():
        return [k[1:] for k in memo._MEMO]

    try:
        monkeypatch.setattr(memo, "_MEMO_MAX", 2)
        sh = _doc_shingles(spark, sf_dir)
        _quantized(spark, sf_dir)
        _doc_shingles(spark, sf_dir, nonempty=True)  # hit: refresh
        assert stored() == [("quant", sf_dir), ("shingles", sf_dir)]
        _pagerank_edges(spark, sf_dir)  # quant is now the LRU victim
        assert stored() == [("shingles", sf_dir), ("pagerank", sf_dir)]
        assert _doc_shingles(spark, sf_dir) is sh

        _lsh_bucket_frame(spark, sf_dir)  # inserts quant, then lsh
        assert stored() == [("quant", sf_dir), ("lsh", sf_dir)]
        _oriented_copurchase_edges(spark, sf_dir)
        assert stored() == [
            ("triangle", sf_dir),
            ("triangle", sf_dir, "oriented"),
        ]

        monkeypatch.setattr(memo, "_MEMO_MAX", 16)
        _doc_shingles(spark, sf_dir)
        _quantized(spark, sf_dir)
        _lsh_bucket_frame(spark, sf_dir)
        _pagerank_edges(spark, sf_dir)
        _exact_jaccard_pairs_shared(spark, sf_dir, 0.5)
        _simhash_sig_frame(spark, sf_dir)
        _capped_sr_meta(spark, sf_dir)
        assert {k[0] for k in stored()} == {
            "shingles", "quant", "lsh", "pagerank", "triangle",
            "jaccard_pairs", "simhash_sig", "sr_meta",
        }
        frames = list(memo._MEMO.values())
        assert all(f.storageLevel != StorageLevel.NONE for f in frames)
        memo.reset()
        assert memo._MEMO == {} and memo._EPHEMERAL_PERSISTS == []
        assert all(f.storageLevel == StorageLevel.NONE for f in frames)
    finally:
        memo.reset()
