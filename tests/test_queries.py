"""Differential oracle test over every registered query (SURVEY.md §5.2(1)).

For each key in the registry: run the PySpark query and, when an oracle SQL
exists, compare against DuckDB exactly like the driver does. Keys without an
oracle get a rows-runnable smoke check.
"""

from __future__ import annotations

import pytest

from cloud2sql_spark.registry import oracle_sql, queries
from tests.oracle import compare

_QUERIES = queries()
_ORACLES = oracle_sql()


@pytest.mark.parametrize("key", sorted(_QUERIES))
def test_query_matches_oracle(key, spark, duck, sf_dir):
    df = _QUERIES[key](spark, sf_dir)
    if key in _ORACLES:
        compare(df, duck, _ORACLES[key], key=key)
    else:
        rows = df.collect()
        assert rows is not None
        assert len(df.columns) > 0


def test_lang_id_short_docs(spark, tmp_path):
    """Regression (ADVICE r1): docs shorter than 3 chars used to produce a
    descending sequence(1, 0) and a runtime slice() crash. Short docs must
    instead yield an empty trigram array and the all-zero-score prediction
    (alphabetically first lang) — identical to the oracle's coalesce(0)
    cross-join path."""
    import duckdb
    import pandas as pd

    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5, 6],
            "text": ["a", "xy", "", "hello hello hello world", "bonjour le monde", "x"],
            "lang": ["en", "en", "fr", "en", "fr", "fr"],
            "source": ["web"] * 6,
            "n_chars": [1, 2, 0, 23, 16, 1],
        }
    )
    sf = str(tmp_path)
    docs.to_parquet(f"{sf}/documents.parquet")
    df = _QUERIES["text_lang_id"](spark, sf)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet')"
    )
    try:
        compare(df, con, _ORACLES["text_lang_id"], key="text_lang_id_short")
    finally:
        con.close()


def test_asof_same_ts_strict(spark, tmp_path):
    """Regression (ADVICE r1): a click at exactly the purchase timestamp must
    NOT match (oracle is strict p.ts > c.ts); the fixtures contain no such
    ties, so this synthesizes them (TIMESTAMP_NANOS like the real fixture)."""
    import duckdb
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = pd.Timestamp("2026-01-01 00:00:00")
    s = pd.Timedelta(seconds=1)
    rows = [
        # user 1: click@0, click@5, purchase@5 -> must match click@0, not click@5
        (1, base + 0 * s, 1, "click", 10.0, None),
        (2, base + 5 * s, 1, "click", 20.0, None),
        (3, base + 5 * s, 1, "purchase", 99.0, None),
        # user 2: click@3 == purchase@3 and nothing earlier -> no match (dropped)
        (4, base + 3 * s, 2, "click", 30.0, None),
        (5, base + 3 * s, 2, "purchase", 88.0, None),
        # user 3: two clicks at the same prior ts -> deterministic largest event_id
        (6, base + 1 * s, 3, "click", 40.0, None),
        (7, base + 1 * s, 3, "click", 41.0, None),
        (8, base + 2 * s, 3, "purchase", 77.0, None),
    ]
    ev = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    schema = pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.timestamp("ns")),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    )
    pq.write_table(
        pa.Table.from_pandas(ev, schema=schema), f"{tmp_path}/events.parquet"
    )
    df = _QUERIES["join_asof"](spark, str(tmp_path))
    got = {(r["event_id"], r["click_value"]) for r in df.collect()}
    assert got == {(3, 10.0), (8, 41.0)}, got
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{tmp_path}/events.parquet')"
    )
    try:
        compare(df, con, _ORACLES["join_asof"], key="join_asof_ties")
    finally:
        con.close()


def test_simhash_signature_matches_oracle_sig_cte(spark, tmp_path):
    """_simhash_sig_frame shingles the text inside its own Arrow pass, a
    copy of _doc_shingles' rules. Pin it per doc to the oracle's sig CTE
    on a corpus built to hit every rule: NULL text, '', a 2-word text,
    double and trailing spaces (empty words are words on both engines),
    a 3-word text of empties, a repeated trigram (distinct before the
    vote) and non-ASCII words (md5 over UTF-8). Docs without shingles
    must have no signature on either side."""
    import duckdb
    import pandas as pd

    from cloud2sql_spark import memo
    from cloud2sql_spark.queries.extensions import (
        _SIMHASH_SIG_SQL,
        _simhash_sig_frame,
    )

    texts = [
        None,
        "",
        "two words",
        "a b ",
        "  ",
        "alpha  beta gamma delta",
        "alpha beta gamma delta ",
        "alpha beta gamma delta",
        "x y z x y z x y z",
        "one two three",
        "café naïve über straße 東京 タワー",
        "the quick brown fox jumps over the lazy dog " * 3,
    ]
    docs = pd.DataFrame(
        {
            "doc_id": range(100, 100 + len(texts)),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["web"] * len(texts),
            "n_chars": [len(t or "") for t in texts],
        }
    )
    sf = str(tmp_path)
    docs.to_parquet(f"{sf}/documents.parquet")
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{sf}/documents.parquet')"
        )
        sig_sql = f"{_SIMHASH_SIG_SQL} SELECT doc_id, s FROM sig"
        want = dict(con.execute(sig_sql).fetchall())
        got = dict(_simhash_sig_frame(spark, sf).collect())
    finally:
        con.close()
        memo.reset()
    assert set(want) == {103, 104, 105, 106, 107, 108, 109, 110, 111}
    assert got == want


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(e.oracle_sql()) <= set(e.queries())


def test_cluster_cc_transitive(spark, tmp_path):
    """dedup_cluster_cc must merge chains: A~B and B~C near-dup pairs (but
    A~C below threshold) still form ONE {A,B,C} cluster. The sf fixtures'
    planted dups are mostly disjoint pairs, so transitivity needs its own
    corpus: B is 20 words; A replaces the first 4, C the last 4 — J(A,B)
    and J(B,C) are 14/22 >= 0.5 while J(A,C) is 10/26 < 0.5."""
    import duckdb
    import pandas as pd

    base = [f"w{i}" for i in range(20)]
    a = [f"x{i}" for i in range(4)] + base[4:]
    c = base[:16] + [f"y{i}" for i in range(4)]
    texts = {
        10: " ".join(a),
        11: " ".join(base),
        12: " ".join(c),
        13: "totally unrelated words that share nothing with the others",
    }
    docs = pd.DataFrame(
        {
            "doc_id": list(texts),
            "text": list(texts.values()),
            "lang": ["en"] * 4,
            "source": ["web"] * 4,
            "n_chars": [len(t) for t in texts.values()],
        }
    )
    sf = str(tmp_path)
    docs.to_parquet(f"{sf}/documents.parquet")
    df = _QUERIES["dedup_cluster_cc"](spark, sf)
    rows = {r["doc_id"]: (r["cluster_id"], r["cluster_size"]) for r in df.collect()}
    assert rows == {10: (10, 3), 11: (10, 3), 12: (10, 3)}, rows
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet')"
    )
    try:
        compare(df, con, _ORACLES["dedup_cluster_cc"], key="dedup_cluster_cc_chain")
    finally:
        con.close()


def test_cluster_cc_distributed_path_matches_oracle(spark, duck, sf_dir, monkeypatch):
    """The >2M-edge distributed min-label propagation path never runs at
    test scale (the union-find fast path wins). Force it by dropping the
    threshold to 0 and pin it against the same recursive-CTE oracle, so
    the cluster-scale path cannot silently rot."""
    from cloud2sql_spark.queries import extensions

    monkeypatch.setattr(extensions, "_CC_UNION_FIND_MAX_EDGES", 0)
    df = _QUERIES["dedup_cluster_cc"](spark, sf_dir)
    compare(df, duck, _ORACLES["dedup_cluster_cc"], key="dedup_cluster_cc_loop")


def test_cluster_cc_path_graph_log_rounds(spark):
    """Adversarial path graph (the worst case for label propagation):
    hash-to-min's pointer jump must (a) label every node with the global
    min and (b) converge in O(log d) rounds — a 200-node path has
    diameter 199, so plain one-hop propagation needs ~199 rounds while
    the doubling scheme needs ~log2(200) + fixpoint-detection slack."""
    from cloud2sql_spark.queries.extensions import _min_label_propagate

    n = 200
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a BIGINT, doc_b BIGINT"
    )
    labels, rounds = _min_label_propagate(spark, pairs, max_rounds=n)
    got = {r["node"]: r["label"] for r in labels.collect()}
    assert got == {i: 0 for i in range(n)}
    assert rounds <= 12, f"not logarithmic: {rounds} rounds for diameter {n - 1}"
