"""Property-based tests (hypothesis) for the pure invariants the engine's
scale design leans on. The reference has no randomized testing (SURVEY.md
§5.1); these pin the math that the differential oracle can only sample.

No SparkSession here — everything tested is deterministic driver-side
arithmetic mirrored from the query implementations.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from cloud2sql_spark.etl.config import normalize_s3_url
from cloud2sql_spark.queries.extensions import (
    _SIMHASH_CHUNK_BITS as CHUNK_BITS,
    _SIMHASH_MAX_HAMMING as MAX_HAMMING,
    _SIMHASH_N_BANDS as N_BANDS,
)

# ---------------------------------------------------------------- simhash

MASK64 = (1 << 64) - 1


def _bands(sig: int) -> list[int]:
    """The band cut exactly as the query computes it (shiftrightunsigned
    over the signed BIGINT reinterpreted as unsigned)."""
    u = sig & MASK64
    return [(u >> (b * CHUNK_BITS)) & ((1 << CHUNK_BITS) - 1) for b in range(N_BANDS)]


@given(
    sig=st.integers(min_value=0, max_value=MASK64),
    flip_positions=st.sets(
        st.integers(min_value=0, max_value=63), max_size=MAX_HAMMING
    ),
)
@settings(max_examples=500, deadline=None)
def test_simhash_band_recall_guarantee(sig, flip_positions):
    """Any pair within dedup_simhash's hamming bound MUST share at least
    one band — the pigeonhole guarantee that makes the equality pre-join
    exact. The bound and the band cut are the query's own constants."""
    other = sig
    for p in flip_positions:
        other ^= 1 << p
    assert bin(sig ^ other).count("1") == len(flip_positions)
    shared = [a == b for a, b in zip(_bands(sig), _bands(other))]
    assert any(shared), (
        f"hamming {len(flip_positions)} pair shares no band: "
        f"{_bands(sig)} vs {_bands(other)}"
    )


def test_simhash_bands_cover_all_bits():
    """The bands must cover every one of the 64 bits — an uncovered bit
    would let two different signatures share ALL bands."""
    covered = set()
    for b in range(N_BANDS):
        for i in range(CHUNK_BITS):
            bit = b * CHUNK_BITS + i
            if bit < 64:
                covered.add(bit)
    assert covered == set(range(64))


# ---------------------------------------------------------------- s3 urls

_BUCKET = st.from_regex(r"[a-z0-9][a-z0-9\-]{2,40}[a-z0-9]", fullmatch=True)
_PATH = st.from_regex(r"([a-z0-9]{1,8}(/[a-z0-9]{1,8}){0,3})?", fullmatch=True)


@given(bucket=_BUCKET, path=_PATH)
@settings(max_examples=200, deadline=None)
def test_s3_url_shapes_normalize_identically(bucket, path):
    """The reference accepts exactly these S3 URL shapes (collect.py:
    110-124: bare name, s3:// URI, virtual-host WITH region, path-style
    WITH region — region-less hosts raise there too); all must normalize
    to the same s3a://bucket/path."""
    suffix = f"/{path}" if path else ""
    shapes = [
        f"s3://{bucket}{suffix}",
        f"https://{bucket}.s3.eu-central-1.amazonaws.com{suffix}",
        f"https://s3.us-east-1.amazonaws.com/{bucket}{suffix}",
    ]
    if not path:
        shapes.append(bucket)  # bare bucket name
    normalized = {normalize_s3_url(u) for u in shapes}
    assert normalized == {f"s3a://{bucket}{suffix}".rstrip("/")}, normalized


def test_s3_key_starting_with_bucket_name_not_stripped():
    """Regression (ADVICE r1): the path-style bucket strip must not fire on
    s3:// or virtual-hosted URLs whose KEY happens to begin with the bucket
    name."""
    assert normalize_s3_url("s3://foo/foo/bar") == "s3a://foo/foo/bar"
    assert (
        normalize_s3_url("https://foo.s3.us-east-1.amazonaws.com/foo/bar")
        == "s3a://foo/foo/bar"
    )
    # path-style still strips exactly one leading bucket segment
    assert (
        normalize_s3_url("https://s3.us-east-1.amazonaws.com/foo/foo/bar")
        == "s3a://foo/foo/bar"
    )


# ---------------------------------------------------------------------------
# curation op invariants (pure-python mirrors of the SQL/window logic)
# ---------------------------------------------------------------------------


@given(
    st.lists(st.integers(min_value=0, max_value=600), min_size=1, max_size=200)
)
@settings(max_examples=100, deadline=None)
def test_pack_sequences_invariants(token_counts):
    """The streaming pack (bin = exclusive-prefix // B) guarantees:
    offsets stay in [0, B); bin ids are non-decreasing; every bin except
    possibly the last one is filled past B once the next doc starts a new
    bin (no empty bins skipped)."""
    B = 512
    prefix = 0
    last_bin = 0
    seen_bins = set()
    for n in token_counts:
        bin_id = prefix // B
        offset = prefix - bin_id * B
        assert 0 <= offset < B
        assert bin_id >= last_bin
        seen_bins.add(bin_id)
        last_bin = bin_id
        prefix += n
    # bins form a contiguous range unless one doc alone spans > B tokens
    # (a giant doc legitimately jumps past whole bins)
    if max(token_counts) <= B:
        assert seen_bins == set(range(min(seen_bins), max(seen_bins) + 1))


@given(
    st.dictionaries(
        st.sampled_from(["en", "fr", "de", "es"]),
        st.integers(min_value=1, max_value=500),
        min_size=1,
        max_size=4,
    )
)
@settings(max_examples=100, deadline=None)
def test_stratified_quota_exact(strata):
    """ceil(0.1 * n) per stratum: the quota the window filter keeps is
    exact — never rounds a stratum down to zero and never exceeds 10%+1."""
    import math

    for _, n in strata.items():
        q = math.ceil(0.1 * n)
        assert q >= 1
        assert q <= n
        assert q - 1 < 0.1 * n <= q or q == 1


def test_asof_equal_timestamp_ties(spark, tmp_path):
    """join_asof tie semantics (SURVEY §5.2(8)): a click at EXACTLY the
    purchase timestamp must NOT match (strict p.ts > c.ts), and when two
    clicks tie at the latest strictly-prior timestamp the operator picks
    the one with the largest event_id, deterministically. Runs the real
    registry operator against an adversarial fixture written in the
    events schema."""
    from cloud2sql_spark.queries.joins import join_asof

    rows = [
        # user 1: two clicks tied at t=100 (ids 1, 2), a purchase AT
        # t=100 (no strictly-prior click -> excluded), a purchase at
        # t=200 (matches the tie, must pick event_id 2's value)
        (1, "2024-01-01 00:01:40", 1, "click", 10.0, "{}"),
        (2, "2024-01-01 00:01:40", 1, "click", 20.0, "{}"),
        (3, "2024-01-01 00:01:40", 1, "purchase", 1.0, "{}"),
        (4, "2024-01-01 00:03:20", 1, "purchase", 2.0, "{}"),
        # user 2: purchase with no prior click -> excluded
        (5, "2024-01-01 00:00:50", 2, "purchase", 3.0, "{}"),
        # user 3: one click, two later purchases -> both match it
        (6, "2024-01-01 00:00:10", 3, "click", 7.5, "{}"),
        (7, "2024-01-01 00:00:20", 3, "purchase", 4.0, "{}"),
        (8, "2024-01-01 00:00:30", 3, "purchase", 5.0, "{}"),
    ]
    df = spark.createDataFrame(
        [(i, __import__("datetime").datetime.fromisoformat(ts), u, et, v, p)
         for (i, ts, u, et, v, p) in rows],
        "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, "
        "event_type STRING, value DOUBLE, props STRING",
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))

    out = {
        r["event_id"]: (r["click_value"], r["click_ts"])
        for r in join_asof(spark, str(tmp_path)).collect()
    }
    # purchase 3 (ts == click ts) and purchase 5 (no prior click) excluded
    assert set(out) == {4, 7, 8}
    # the tie at t=100 resolves to event_id 2 (largest id), value 20
    assert out[4][0] == 20.0
    # both of user 3's purchases match the single prior click
    assert out[7][0] == 7.5 and out[8][0] == 7.5


@given(
    ids=st.sets(
        st.integers(min_value=0, max_value=2000) | st.sampled_from(
            [0, 31, 32, 33, 63, 64, 95, 96, 1023, 1024]
        ),
        min_size=1,
        max_size=60,
    )
)
@settings(max_examples=300, deadline=None)
def test_bitmap_distinct_chunk_math(ids):
    """agg_bitmap_distinct's driver-side mirror: OR-ing 1<<(id%32) into
    per-(id//32) chunk words and summing popcounts must equal the exact
    distinct count for ANY id set — including chunk-boundary ids (31/32,
    63/64) where an off-by-one in the split double-counts or drops."""
    chunks: dict[int, int] = {}
    for i in ids:
        chunks[i // 32] = chunks.get(i // 32, 0) | (1 << (i % 32))
    assert sum(bin(w).count("1") for w in chunks.values()) == len(set(ids))


@given(doc_id=st.integers(min_value=0, max_value=10**12))
@settings(max_examples=500, deadline=None)
def test_poisson_bootstrap_hex_compare_is_numeric(doc_id):
    """sample_poisson_bootstrap relies on 6-char lowercase hex comparing
    lexicographically exactly like the underlying integer — that is what
    makes the CASE chain engine-portable with zero float ops. Mirror the
    query: k from string comparison must equal k from integer inverse-CDF
    lookup, for the md5 of any doc_id."""
    import hashlib

    from cloud2sql_spark.queries.curation import _POISSON1_HEX

    h6 = hashlib.md5(str(doc_id).encode()).hexdigest()[:6]
    k_str = sum(1 for t in _POISSON1_HEX if h6 >= t)
    k_num = sum(1 for t in _POISSON1_HEX if int(h6, 16) >= int(t, 16))
    assert k_str == k_num
    assert 0 <= k_str <= 4


def test_poisson_bootstrap_thresholds_match_cdf():
    """The embedded hex thresholds must be floor(CDF_Poisson(1)(k)*16^6)
    — regenerating them from math.exp proves nobody fat-fingered a
    constant."""
    import math

    from cloud2sql_spark.queries.curation import _POISSON1_HEX

    cum = 0.0
    for k, expect in enumerate(_POISSON1_HEX):
        cum += math.exp(-1) / math.factorial(k)
        assert format(int(cum * 16**6), "06x") == expect


def test_bfs_levels_chain_graph(spark, tmp_path):
    """graph_bfs_levels on a hand-built graph: a chain s0-p1-s1-p2-s2
    plus a branch p3 off s0, an unreachable island s9-p9, and a parallel
    edge (duplicate lineitem row) that must not double-count. Expected
    levels computed by hand; the hop-6 cap must also exclude nothing
    here (diameter 4)."""
    from datetime import datetime

    from cloud2sql_spark.queries.analytics import graph_bfs_levels

    edges = [
        (1, 0), (1, 1), (2, 1), (2, 2),   # chain p1(s0,s1), p2(s1,s2)
        (3, 0),                            # branch p3 off s0
        (3, 0),                            # parallel duplicate edge
        (9, 9),                            # island p9-s9
    ]
    rows = [
        (i, pk, sk, 1, 1.0, 10.0, 0.0, 0.0, "N", "O",
         datetime(2024, 1, 1))
        for i, (pk, sk) in enumerate(edges)
    ]
    df = spark.createDataFrame(
        rows,
        "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, "
        "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, "
        "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, "
        "l_linestatus STRING, l_shipdate TIMESTAMP_NTZ",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "lineitem.parquet")
    )
    got = {
        r["hop"]: r["n_nodes"]
        for r in graph_bfs_levels(spark, str(tmp_path)).collect()
    }
    # seed s0 (hop 0); p1,p3 (1); s1 (2); p2 (3); s2 (4); island excluded
    assert got == {0: 1, 1: 2, 2: 1, 3: 1, 4: 1}


def _write_events(spark, tmp_path, rows):
    from datetime import datetime

    df = spark.createDataFrame(
        [
            (i, datetime.fromisoformat(ts), u, et, v, "{}")
            for (i, ts, u, et, v) in rows
        ],
        "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, "
        "event_type STRING, value DOUBLE, props STRING",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )


def test_time_travel_row_level_isolation(spark, tmp_path):
    """Version 1 must stay byte-identical after version 2's append: read
    manifest 1's files directly after the operator ran and assert the
    exact event_id set — stronger than the aggregate oracle, which could
    mask an offsetting add+drop."""
    import json
    import os

    from cloud2sql_spark.fixtures import session_fixture_path
    from cloud2sql_spark.queries.scans import scan_time_travel

    rows = [
        (i, f"2024-01-01 00:00:{i:02d}", 1, "view", float(i)) for i in range(1, 11)
    ]
    _write_events(spark, tmp_path, rows)
    got = {
        r["version"]: r["n_events"]
        for r in scan_time_travel(spark, str(tmp_path)).collect()
    }
    # ids 5 and 10 are the %5==0 append; v1 holds the other eight
    assert got == {1: 8, 2: 10}
    table_dir = session_fixture_path(spark, "scan_time_travel", str(tmp_path))
    with open(os.path.join(table_dir, "manifests", "1.json")) as fh:
        v1_files = json.load(fh)["files"]
    v1_ids = {
        r["event_id"] for r in spark.read.parquet(*v1_files).collect()
    }
    assert v1_ids == {1, 2, 3, 4, 6, 7, 8, 9}


def test_ewma_matches_reference_implementation(spark, tmp_path):
    """events_ewma against a driver-side reference: one user, ten known
    values — the 8-tap dyadic kernel result is computed independently in
    python and must match to 1e-6 (the op's declared rounding)."""
    from cloud2sql_spark.queries.analytics import events_ewma

    vals = [10.0, 20.0, 5.0, 40.0, 2.5, 80.0, 1.25, 7.5, 160.0, 0.75]
    rows = [
        (i, f"2024-01-01 00:00:{i:02d}", 7, "view", vals[i])
        for i in range(len(vals))
    ]
    _write_events(spark, tmp_path, rows)

    def ref(i: int) -> float:
        num = den = 0.0
        for d in range(8):
            j = i - d
            if j < 0:
                break
            w = 1 << (7 - d)
            num += vals[j] * w
            den += w
        return round(num / den, 6)

    got = {
        r["event_id"]: r["ewma"]
        for r in events_ewma(spark, str(tmp_path)).collect()
    }
    for i in range(len(vals)):
        assert abs(got[i] - ref(i)) < 1e-6, (i, got[i], ref(i))


def test_pagerank_matches_integer_reference(spark, tmp_path):
    """graph_pagerank on a hand-built bipartite graph must equal a pure-
    Python replay of the SAME fixed-point recurrence (init 1e9; share =
    rank // degree; next = 150e6 + 85*contrib // 100, 3 rounds) — pinning
    the exact integer semantics the cross-engine determinism rests on."""
    from datetime import datetime

    from cloud2sql_spark.queries.analytics import graph_pagerank

    edges = [(1, 0), (1, 1), (2, 1), (3, 1), (3, 0), (3, 0)]  # dup edge
    rows = [
        (i, pk, sk, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", datetime(2024, 1, 1))
        for i, (pk, sk) in enumerate(edges)
    ]
    df = spark.createDataFrame(
        rows,
        "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, "
        "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, "
        "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, "
        "l_linestatus STRING, l_shipdate TIMESTAMP_NTZ",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "lineitem.parquet")
    )

    adj: dict[str, set[str]] = {}
    for pk, sk in set(edges):
        a, b = f"p{pk}", f"s{sk}"
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    ranks = {n: 10**9 for n in adj}
    for _ in range(3):
        contrib = {n: 0 for n in adj}
        for u, nbrs in adj.items():
            share = ranks[u] // len(nbrs)
            for v in nbrs:
                contrib[v] += share
        ranks = {n: 150_000_000 + (85 * c) // 100 for n, c in contrib.items()}

    got = {
        r["node"]: r["rank_nano"]
        for r in graph_pagerank(spark, str(tmp_path)).collect()
    }
    assert got == ranks


@given(c=st.integers(min_value=1, max_value=10**7),
       s=st.integers(min_value=1, max_value=10**5))
@settings(max_examples=500, deadline=None)
def test_cidr_bucket_join_equals_range_membership(c, s):
    """The /16-bucket equality + prefix-mask residual used by
    join_cidr_contains must decide membership identically to the naive
    range check [net, net + 2^(32-plen)) for every derived (ip, net)."""
    ip = (10 * 16777216 + ((c * 2654435761) % 64) * 65536
          + ((c * 97) % 256) * 256 + (c * 31) % 256)
    plen = 24 if s % 2 == 1 else 16
    net = (10 * 16777216 + (s % 64) * 65536
           + (((s * 13) % 256) * 256 if s % 2 == 1 else 0))
    bucketed = (ip >> 16) == (net >> 16) and (
        ip >> (32 - plen)) == (net >> (32 - plen))
    naive = net <= ip < net + (1 << (32 - plen))
    assert bucketed == naive


def test_text_repetition_edge_docs_match_oracle(spark, tmp_path):
    """Edge shapes — empty text, lone word (no bigrams), all-one-word doc,
    doc made of one repeated bigram — must agree with the DuckDB oracle
    and trip the integer-threshold flags exactly as designed."""
    import duckdb
    import pandas as pd

    from cloud2sql_spark.registry import oracle_sql, queries

    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5],
            "text": [
                "",
                "word",
                "spam spam spam spam spam spam",
                "tick tock tick tock tick tock tick tock",
                "all the words here are fully distinct tokens",
            ],
            "lang": ["en"] * 5,
            "source": ["web"] * 5,
            "n_chars": [0, 4, 29, 39, 44],
        }
    )
    sf = str(tmp_path)
    docs.to_parquet(f"{sf}/documents.parquet")
    df = queries()["text_repetition"](spark, sf)
    got = {r["doc_id"]: r.asDict() for r in df.collect()}
    # empty doc vanishes (no tokens); lone word has no bigram but a
    # 100%-frequency word; the spam doc trips the word rule; the
    # tick-tock doc trips the bigram rule; the distinct doc trips nothing
    assert 1 not in got
    assert got[2]["top_bigram_freq"] == 0 and got[2]["is_repetitive"]
    assert got[3]["is_repetitive"] and got[3]["top_word_freq"] == 6
    assert got[4]["is_repetitive"] and got[4]["top_bigram_freq"] == 4
    assert not got[5]["is_repetitive"] and got[5]["n_distinct"] == 8
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet')"
    )
    try:
        from tests.oracle import compare

        compare(df, con, oracle_sql()["text_repetition"], key="text_repetition_edge")
    finally:
        con.close()


def test_reliable_checkpoint_path(spark, sf_dir, monkeypatch, tmp_path):
    """truncate_lineage's reliable=True path (cluster fault-tolerance:
    checkpoint() to a durable dir instead of executor-local blocks) must
    produce the same rows as the default local path, and must actually
    write checkpoint data under SPARK_GRAFT_CHECKPOINT_DIR. Exercised
    through a real iterative op (graph_bfs_levels) driven by the env
    switch, plus directly on a DataFrame."""
    import os

    from cloud2sql_spark.checkpointing import truncate_lineage
    from cloud2sql_spark.queries.analytics import graph_bfs_levels

    base = {
        (r["hop"], r["n_nodes"])
        for r in graph_bfs_levels(spark, sf_dir).collect()
    }

    ckdir = str(tmp_path / "reliable-ckpt")
    monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", "1")
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", ckdir)
    reliable = {
        (r["hop"], r["n_nodes"])
        for r in graph_bfs_levels(spark, sf_dir).collect()
    }
    assert reliable == base

    out = truncate_lineage(spark.range(100).selectExpr("sum(id) AS s"))
    assert out.collect()[0]["s"] == 4950
    # setCheckpointDir is first-call-wins per SparkContext: the dir used is
    # whatever the first reliable call in this JVM registered — assert data
    # landed under it rather than under ckdir specifically.
    used = spark.sparkContext.getCheckpointDir()
    assert used is not None
    local = used.removeprefix("file:")
    assert any(files for _, _, files in os.walk(local)), used


def test_reliable_checkpoint_dir_env_honored_after_default(spark, monkeypatch, tmp_path):
    """Regression: SPARK_GRAFT_CHECKPOINT_DIR must redirect future
    checkpoints even when an earlier reliable call already registered
    the tmp default — first-call-wins silently kept cluster checkpoints
    on driver-local disk."""
    from cloud2sql_spark.checkpointing import truncate_lineage

    monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_DIR", raising=False)
    truncate_lineage(spark.range(10), reliable=True)  # registers a default
    ckdir = str(tmp_path / "durable-ckpt")
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", ckdir)
    out = truncate_lineage(
        spark.range(50).selectExpr("sum(id) AS s"), reliable=True
    )
    assert out.collect()[0]["s"] == 1225
    # getCheckpointDir() appends a per-set UUID subdir under the
    # registered path — assert the env dir is a path prefix
    used = spark.sparkContext.getCheckpointDir()
    assert used is not None and used.removeprefix("file:").startswith(
        ckdir.rstrip("/") + "/"
    ), used
    import os

    assert any(files for _, _, files in os.walk(ckdir)), "no checkpoint data"


def test_cleanup_default_checkpoint_dirs(monkeypatch, tmp_path):
    """The sweep removes only the tempdir-default dirs THIS module
    INVENTED (_DEFAULT_DIRS) — an explicit app-chosen dir is untouched
    even when it lives under the temp dir, where the old
    gettempdir()-prefix test misclassified and destroyed it (ADVICE
    r09). Pure filesystem logic — no SparkSession."""
    import tempfile

    from cloud2sql_spark import checkpointing as cp

    fake_tmp = tmp_path / "tmp"
    fake_tmp.mkdir()
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(fake_tmp))
    ours = fake_tmp / "spark-graft-ckpt-app1"
    ours.mkdir()
    (ours / "rdd-1").write_text("x")
    theirs = tmp_path / "explicit" / "cluster-ckpt"
    theirs.mkdir(parents=True)
    # the ADVICE r09 case: an explicit SPARK_GRAFT_CHECKPOINT_DIR that
    # happens to live UNDER the temp dir (e.g. /tmp/shared-ckpt) — the
    # app's to manage, must survive the sweep
    theirs_in_tmp = fake_tmp / "shared-ckpt"
    theirs_in_tmp.mkdir()
    (theirs_in_tmp / "rdd-9").write_text("app data")
    saved = dict(cp._REGISTERED)
    saved_defaults = set(cp._DEFAULT_DIRS)
    cp._REGISTERED.clear()
    cp._DEFAULT_DIRS.clear()
    try:
        cp._REGISTERED["app1"] = str(ours)
        cp._DEFAULT_DIRS.add(str(ours))  # the elif default branch
        # registered via the env branch: explicit dirs never enter
        # _DEFAULT_DIRS, wherever they live
        cp._REGISTERED["app2"] = str(theirs)
        cp._REGISTERED["app3"] = str(theirs_in_tmp)
        cp.cleanup_default_checkpoint_dirs()
        assert not ours.exists()
        assert theirs.exists()
        assert theirs_in_tmp.exists()
        assert (theirs_in_tmp / "rdd-9").exists()
        # registrations are KEPT (review r09 second pass): the
        # SparkContext still points at the swept path, so a later
        # reliable checkpoint recreates the dir — it must stay tracked
        # for the next sweep, and _ensure_checkpoint_dir must keep
        # classifying it as OUR default (not an app-chosen dir)
        assert list(cp._REGISTERED) == ["app1", "app2", "app3"]
        assert cp._DEFAULT_DIRS == {str(ours)}
        ours.mkdir()  # Spark recreating the dir on the next checkpoint
        (ours / "rdd-2").write_text("y")
        cp.cleanup_default_checkpoint_dirs()
        assert not ours.exists()
    finally:
        cp._REGISTERED.clear()
        cp._REGISTERED.update(saved)
        cp._DEFAULT_DIRS.clear()
        cp._DEFAULT_DIRS.update(saved_defaults)


def _write_events(spark, tmp_path, rows):
    from datetime import datetime

    df = spark.createDataFrame(
        [
            (i, datetime.fromisoformat(ts), u, et, v, "{}")
            for (i, ts, u, et, v) in rows
        ],
        "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, "
        "event_type STRING, value DOUBLE, props STRING",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )


def _events_oracle_check(spark, tmp_path, key):
    import duckdb

    from cloud2sql_spark.registry import oracle_sql, queries
    from tests.oracle import compare

    con = duckdb.connect()
    # Spark writes events.parquet as a DIRECTORY of part files
    con.execute(
        "CREATE VIEW events AS SELECT * FROM read_parquet("
        f"'{tmp_path}/events.parquet/*.parquet')"
    )
    try:
        df = queries()[key](spark, str(tmp_path))
        compare(df, con, oracle_sql()[key], key=f"{key}_edge")
        return {tuple(r) for r in df.collect()}
    finally:
        con.close()


def test_interval_merge_touching_and_swallowed(spark, tmp_path):
    """Edge shapes for events_interval_merge: back-to-back intervals that
    TOUCH exactly (start == prev end) must merge; an event inside an
    open interval must be swallowed without extending it past the later
    of the two ends; an isolated event stands alone. Verified against
    the oracle AND by explicit expected rows."""
    rows = [
        # user 1: e1 opens [0,600s); e2 at +600s touches -> one island
        (1, "2024-01-01 00:00:00", 1, "click", 1.0),
        (2, "2024-01-01 00:10:00", 1, "click", 1.0),
        # user 2: e3 opens [0,600); e4 at +200 extends to +800; e5 at
        # +780 overlaps e4's tail -> ONE island [0, 1380s)
        (3, "2024-01-01 00:00:00", 2, "click", 1.0),
        (4, "2024-01-01 00:03:20", 2, "click", 1.0),
        (5, "2024-01-01 00:13:00", 2, "click", 1.0),
        # user 3: two far-apart events -> two islands
        (6, "2024-01-01 00:00:00", 3, "click", 1.0),
        (7, "2024-01-01 02:00:00", 3, "click", 1.0),
    ]
    _write_events(spark, tmp_path, rows)
    out = _events_oracle_check(spark, tmp_path, "events_interval_merge")
    by_user = {u: (n, cov, longest) for (u, n, cov, longest) in out}
    assert by_user[1] == (1, 1_200_000_000, 1_200_000_000)
    assert by_user[2] == (1, 1_380_000_000, 1_380_000_000)
    assert by_user[3] == (2, 1_200_000_000, 600_000_000)


def test_temporal_fk_pre_version_and_same_instant(spark, tmp_path):
    """join_temporal_foreign_key edges: a purchase BEFORE any signup
    resolves to NULL tier; a purchase at the SAME instant as a signup
    sees that signup (dim-first tie-break); a later signup re-tiers
    subsequent purchases only."""
    rows = [
        # user 1: purchase before any signup -> NULL tier
        (1, "2024-01-01 00:00:00", 1, "purchase", 1.00),
        # signup at t1 sets tier = round(2.00*100) % 3 = 200 % 3 = 2
        (2, "2024-01-01 01:00:00", 1, "signup", 2.00),
        # same-instant purchase sees the signup (is_dim DESC tie-break)
        (3, "2024-01-01 01:00:00", 1, "purchase", 5.00),
        # re-tier: signup value 4.00 -> 400 % 3 = 1
        (4, "2024-01-01 02:00:00", 1, "signup", 4.00),
        (5, "2024-01-01 03:00:00", 1, "purchase", 7.00),
        # user 2: only purchases -> all NULL tier
        (6, "2024-01-01 00:30:00", 2, "purchase", 3.00),
    ]
    _write_events(spark, tmp_path, rows)
    out = _events_oracle_check(spark, tmp_path, "join_temporal_foreign_key")
    by_tier = {t: (n, c) for (t, n, c) in out}
    assert by_tier[None] == (2, 400)  # events 1 and 6
    assert by_tier[2] == (1, 500)  # event 3 at the signup instant
    assert by_tier[1] == (1, 700)  # event 5 after the re-tier


def test_streak_reset_boundaries(spark, tmp_path):
    """win_conditional_streak_reset edges: a leading miss starts at 0,
    an all-hit user counts 1..n, and a hit immediately after a miss
    restarts at 1 (never resumes the prior streak)."""
    rows = [
        # user 1: miss, hit, hit, miss, hit -> 0 1 2 0 1
        (1, "2024-01-01 00:00:00", 1, "click", 50.00),
        (2, "2024-01-01 00:01:00", 1, "click", 100.00),
        (3, "2024-01-01 00:02:00", 1, "click", 250.00),
        (4, "2024-01-01 00:03:00", 1, "click", 99.99),
        (5, "2024-01-01 00:04:00", 1, "click", 100.01),
        # user 2: all hits -> 1 2 3
        (6, "2024-01-01 00:00:00", 2, "click", 400.00),
        (7, "2024-01-01 00:01:00", 2, "click", 400.00),
        (8, "2024-01-01 00:02:00", 2, "click", 400.00),
    ]
    _write_events(spark, tmp_path, rows)
    out = _events_oracle_check(
        spark, tmp_path, "win_conditional_streak_reset"
    )
    streaks = {e: s for (_, e, s) in out}
    assert streaks == {1: 0, 2: 1, 3: 2, 4: 0, 5: 1, 6: 1, 7: 2, 8: 3}


def test_winsorized_tiny_groups(spark, tmp_path):
    """agg_winsorized_stats edges: n=1 and n=2 groups — the integer ceil
    rank (n*p + 99) // 100 must stay in [1, n], so a singleton clamps to
    itself (std 0) and a pair clamps to [lo=min, hi=max] (plain mean)."""
    rows = [
        (1, "2024-01-01 00:00:00", 1, "solo", 7.00),
        (2, "2024-01-01 00:00:00", 1, "pair", 1.00),
        (3, "2024-01-01 00:01:00", 2, "pair", 3.00),
    ]
    _write_events(spark, tmp_path, rows)
    out = _events_oracle_check(spark, tmp_path, "agg_winsorized_stats")
    by_type = {t: rest for (t, *rest) in out}
    assert by_type["solo"] == [1, 700, 700, 7.0, 0.0]
    n, lo, hi, mean, std = by_type["pair"]
    assert (n, lo, hi, mean) == (2, 100, 300, 2.0)
    assert std == 1.0  # population std of {1.00, 3.00}


def test_markov_single_event_users_and_self_loops(spark, tmp_path):
    """events_markov_next_state edges: a single-event user contributes NO
    transition; consecutive same-type events form self-loop cells; row
    probabilities are exact ratios over the per-current-type total."""
    rows = [
        (1, "2024-01-01 00:00:00", 1, "view", 1.0),  # lone event: no cell
        (2, "2024-01-01 00:00:00", 2, "view", 1.0),
        (3, "2024-01-01 00:01:00", 2, "view", 1.0),  # view->view
        (4, "2024-01-01 00:02:00", 2, "click", 1.0),  # view->click
        (5, "2024-01-01 00:00:00", 3, "view", 1.0),
        (6, "2024-01-01 00:01:00", 3, "click", 1.0),  # view->click
    ]
    _write_events(spark, tmp_path, rows)
    out = _events_oracle_check(spark, tmp_path, "events_markov_next_state")
    cells = {(c, nx): (n, tot, p) for (c, nx, n, tot, p) in out}
    assert cells[("view", "view")] == (1, 3, round(1 / 3, 6))
    assert cells[("view", "click")] == (2, 3, round(2 / 3, 6))
    assert ("click", "view") not in cells  # click is always terminal here


def test_rfm_fewer_users_than_quintiles(spark, tmp_path):
    """events_rfm_segments edge: with 3 users, ntile(5) assigns buckets
    1..3 (one user each) deterministically via the user_id tie-break —
    never an empty-bucket error or a >n bucket."""
    rows = [
        (1, "2024-01-01 00:00:00", 1, "view", 10.00),
        (2, "2024-01-02 00:00:00", 2, "view", 20.00),
        (3, "2024-01-03 00:00:00", 3, "view", 30.00),
        (4, "2024-01-03 01:00:00", 3, "view", 5.00),
    ]
    _write_events(spark, tmp_path, rows)
    out = _events_oracle_check(spark, tmp_path, "events_rfm_segments")
    assert sum(n for (_, _, _, n, _) in out) == 3  # every user in a segment
    for (r, f, m, _, _) in out:
        assert 1 <= r <= 3 and 1 <= f <= 3 and 1 <= m <= 3


def test_hashing_trick_empty_and_null_text(spark, tmp_path):
    """text_hashing_trick_features edges: empty text still produces one
    token (Spark split('', ' ') = ['']; DuckDB string_split mirrors), and
    every bucket stays in [0, 64)."""
    import duckdb
    import pandas as pd

    from cloud2sql_spark.registry import oracle_sql, queries
    from tests.oracle import compare

    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": ["", "one", "alpha beta alpha"],
            "lang": ["en"] * 3,
            "source": ["web"] * 3,
            "n_chars": [0, 3, 16],
        }
    )
    sf = str(tmp_path)
    docs.to_parquet(f"{sf}/documents.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet')"
    )
    try:
        df = queries()["text_hashing_trick_features"](spark, sf)
        compare(
            df, con, oracle_sql()["text_hashing_trick_features"],
            key="hashing_trick_edge",
        )
        rows = df.collect()
    finally:
        con.close()
    assert all(0 <= r["bucket"] < 64 for r in rows)
    # doc 3: 'alpha' twice -> one bucket with tf=2 (plus beta's bucket,
    # unless they collide into one)
    d3 = {r["bucket"]: r["tf"] for r in rows if r["doc_id"] == 3}
    assert sum(d3.values()) == 3


def test_label_propagation_tie_clamp_and_isolation(spark, tmp_path):
    """graph_label_propagation edges on a crafted co-purchase graph:
    a node with two equally-frequent labeled neighbors takes the SMALLER
    label; seeds stay clamped; a component with no seed stays unlabeled
    through all rounds. Also diffed against the unrolled CTE oracle."""
    from datetime import datetime

    import duckdb

    from cloud2sql_spark.registry import oracle_sql, queries
    from tests.oracle import compare

    # order 1: parts {7, 10}; order 2: {11, 12}; order 3: {14, 10}
    # seeds (part % 7 == 0): 7 and 14. Node 10 ties between them -> 7.
    rows = [
        (1, 7), (1, 10),
        (2, 11), (2, 12),
        (3, 14), (3, 10),
    ]
    df = spark.createDataFrame(
        [
            (ok, pk, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O",
             datetime(2024, 1, 1))
            for (ok, pk) in rows
        ],
        "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, "
        "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, "
        "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, "
        "l_linestatus STRING, l_shipdate TIMESTAMP_NTZ",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "lineitem.parquet")
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM read_parquet("
        f"'{tmp_path}/lineitem.parquet/*.parquet')"
    )
    try:
        out = queries()["graph_label_propagation"](spark, str(tmp_path))
        compare(
            out, con, oracle_sql()["graph_label_propagation"],
            key="lpa_edge",
        )
        hist = {r["label"]: r["n_nodes"] for r in out.collect()}
    finally:
        con.close()
    assert hist == {7: 2, 14: 1, None: 2}


def test_snm_and_silence_short_docs(spark, tmp_path):
    """dedup_sorted_neighborhood + multimodal_silence_segments edges on
    one fixture: docs too short to shingle (< 3 words) or to frame
    (< 32 bytes) are excluded; a constant-energy doc has no
    below-half-mean window; near-identical neighbors within a source
    are caught. Both ops diffed against their oracles."""
    import duckdb
    import pandas as pd

    from cloud2sql_spark.registry import oracle_sql, queries
    from tests.oracle import compare

    near_a = "the quick brown fox jumps over the lazy dog again " * 3
    near_b = near_a + "extra tail"
    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [
                "xy",  # unshingleable AND unframeable
                near_a,
                near_b,
                # constant bytes: every 32-byte window has equal energy
                "a" * 64,
            ],
            "lang": ["en"] * 4,
            "source": ["web"] * 4,
            "n_chars": [2, len(near_a), len(near_b), 64],
        }
    )
    sf = str(tmp_path)
    docs.to_parquet(f"{sf}/documents.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet')"
    )
    try:
        snm = queries()["dedup_sorted_neighborhood"](spark, sf)
        compare(
            snm, con, oracle_sql()["dedup_sorted_neighborhood"],
            key="snm_edge",
        )
        pairs = {(r["doc_a"], r["doc_b"]) for r in snm.collect()}
        sil = queries()["multimodal_silence_segments"](spark, sf)
        compare(
            sil, con, oracle_sql()["multimodal_silence_segments"],
            key="silence_edge",
        )
        sil_docs = {r["doc_id"] for r in sil.collect()}
    finally:
        con.close()
    assert (2, 3) in pairs  # adjacent by sort key, J >= 0.5
    assert not any(1 in p for p in pairs)  # unshingleable doc never pairs
    # doc 1 too short to frame; doc 4 constant energy -> neither silent
    assert 1 not in sil_docs and 4 not in sil_docs


# ------------------------------------------------- prefix-filter theorem

def _prefix_candidates(docs: dict[int, frozenset[str]], t: float):
    """The AllPairs pruning exactly as _exact_jaccard_pairs' prefix path
    computes it (queries/extensions.py): global rare-first (df, g) order,
    per-doc prefix of length n - ceil(t*n - 1e-9) + 1, candidate pairs =
    prefix-token collisions passing min >= t*max - 1e-9."""
    import math

    df: dict[str, int] = {}
    for sg in docs.values():
        for g in sg:
            df[g] = df.get(g, 0) + 1
    prefixes = {}
    for d, sg in docs.items():
        n = len(sg)
        plen = n - math.ceil(t * n - 1e-9) + 1
        prefixes[d] = set(sorted(sg, key=lambda g: (df[g], g))[:plen])
    cand = set()
    ids = sorted(docs)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            na, nb = len(docs[a]), len(docs[b])
            if min(na, nb) < t * max(na, nb) - 1e-9:
                continue
            if prefixes[a] & prefixes[b]:
                cand.add((a, b))
    return cand


@given(
    corpus=st.lists(
        st.frozensets(
            st.sampled_from([f"g{i}" for i in range(12)]), min_size=1, max_size=8
        ),
        min_size=2,
        max_size=8,
    ),
    t=st.sampled_from([0.3, 0.5, 0.6, 2 / 3, 0.75, 0.8, 0.9]),
)
@settings(max_examples=500, deadline=None)
def test_prefix_filter_candidates_are_complete(corpus, t):
    """COMPLETENESS of the AllPairs pruning (the only property that can
    silently break — precision is restored by the exact verify step):
    every pair with true Jaccard >= t must survive both the length
    filter and the prefix-collision test. A tiny shingle alphabet forces
    heavy df ties and stop-shingle-like collisions; thresholds include
    the binary-unrepresentable 0.8 and 2/3 cases the 1e-9 slack exists
    for."""
    docs = dict(enumerate(corpus))
    cand = _prefix_candidates(docs, t)
    ids = sorted(docs)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(docs[a] & docs[b])
            union = len(docs[a] | docs[b])
            if inter / union >= t:
                assert (a, b) in cand, (docs[a], docs[b], t)


# ------------------------------------------------- _MEAN_MILLI_6DP widening

def _mean_milli_exact(s1: int, n: int) -> float:
    """Fraction-exact half-away-from-zero round(s1/(n·10³), 6), expressed
    through the same integer quotient both engine expressions compute,
    then the same two-step int→double→/1e6 conversion (each step
    correctly rounded in CPython exactly as in both engines' CAST +
    division)."""
    sign = -1 if s1 < 0 else 1
    q = (2 * abs(s1) * 10**6 + n * 1000) // (2 * n * 1000)
    return sign * q / 1e6


# Deterministic adversarial cases: past the old int64 numerator cliff
# (|s1| > ~4.6e12 made 2·|s1|·10⁶ wrap in int64 — ADVICE r09), at the
# bigint edge, at EXACT 6th-decimal half boundaries (2·s1·10³ = odd·n),
# and with negatives (sign applied after the unsigned rounding). The
# remaining contract is on the QUOTIENT, not the numerator: Spark's
# decimal `div` returns BIGINT, so the rounded mean·10⁶ must fit int64
# — |s1/n| < 9.2e12 milli-units, guaranteed for any mean of bounded
# per-dimension values at ANY corpus row count n (the n-scaling axis is
# exactly what the widening fixed). Cases respect that bound; DuckDB's
# HUGEINT quotient has no such bound (the full-domain hypothesis sweep
# below exercises it).
_MEAN_MILLI_CASES = [
    (4_600_000_000_001, 3),              # just past the old cliff
    (-4_600_000_000_001, 3),
    (9_223_372_036_854_775_000, 10**7),  # s1 at bigint max, bounded mean
    (-9_223_372_036_854_775_000, 10**7),
    (9_200_000_001 * 10**9, 2 * 10**12), # exact .xxxxx5 half boundary
    (-9_200_000_001 * 10**9, 2 * 10**12),
    (3 * 10**15, 2 * 10**12),            # half boundary, even quotient
    (4_999_999_999_999_500, 1000),
    (5, 10),
    (0, 123456789),
]


def test_mean_milli_6dp_duckdb_exact_past_int64():
    """The DuckDB (HUGEINT) form of _MEAN_MILLI_6DP matches exact integer
    half-away-from-zero rounding at |s1| magnitudes where the old int64
    numerator silently wrapped."""
    import duckdb

    from cloud2sql_spark.queries.embeddings import _MEAN_MILLI_6DP_ORACLE

    con = duckdb.connect()
    for s1, n in _MEAN_MILLI_CASES:
        got = con.execute(
            f"SELECT {_MEAN_MILLI_6DP_ORACLE} FROM "
            f"(SELECT CAST({s1} AS BIGINT) s1, CAST({n} AS BIGINT) n)"
        ).fetchone()[0]
        assert got == _mean_milli_exact(s1, n), (s1, n, got)


@given(
    s1=st.integers(min_value=-(2**63) + 1, max_value=2**63 - 1),
    n=st.integers(min_value=1, max_value=10**12),
)
@settings(max_examples=300, deadline=None)
def test_mean_milli_6dp_duckdb_exact_property(s1, n):
    """Hypothesis sweep of the full bigint s1 domain against the exact
    form — the numerator 2·|s1|·10⁶ exceeds int64 for most draws, so any
    residual narrow arithmetic in the oracle template would wrap and
    fail here. Constrained to the documented quotient contract
    (|s1/n| < 9.2e12 milli-units, automatic for any mean of bounded
    per-dimension values): past it, Spark's `div` overflows its BIGINT
    result by contract, and DuckDB's HUGEINT→DOUBLE conversion
    double-rounds through its two 64-bit halves (hypothesis found
    s1=898812011403235994, n=25 — quotient ≈ 3.6e19 — off by one ulp),
    so the template is only claimed exact inside the contract."""
    import duckdb

    from hypothesis import assume

    from cloud2sql_spark.queries.embeddings import _MEAN_MILLI_6DP_ORACLE

    assume(abs(s1) <= n * 9_200_000_000_000)
    con = duckdb.connect()
    got = con.execute(
        f"SELECT {_MEAN_MILLI_6DP_ORACLE} FROM "
        f"(SELECT CAST({s1} AS BIGINT) s1, CAST({n} AS BIGINT) n)"
    ).fetchone()[0]
    assert got == _mean_milli_exact(s1, n), (s1, n, got)


def test_mean_milli_6dp_spark_matches_exact_and_oracle(spark):
    """The Spark (DECIMAL(38,0) div) form computes the identical double
    for every adversarial case — one DataFrame pass, both engine
    templates pinned to the same Fraction-exact integer."""
    from cloud2sql_spark.queries.embeddings import _MEAN_MILLI_6DP_SPARK

    df = spark.createDataFrame(_MEAN_MILLI_CASES, "s1 long, n long")
    rows = df.selectExpr(
        "s1", "n", f"{_MEAN_MILLI_6DP_SPARK} AS r"
    ).collect()
    assert len(rows) == len(_MEAN_MILLI_CASES)
    for row in rows:
        assert row.r == _mean_milli_exact(row.s1, row.n), (row.s1, row.n, row.r)


# ------------------------------------------------ ratio_round (rounding.py)

def _ratio_round_exact(num: int, den: int, k: int) -> float:
    """Fraction-exact half-away-from-zero round(num/den, k) through the
    same integer quotient + two-step int->double->/10^k conversion the
    engine templates compute."""
    sign = -1 if num < 0 else 1
    q = (2 * abs(num) * 10**k + den) // (2 * den)
    return sign * q / float(10**k)


@given(
    num=st.integers(min_value=-(10**15), max_value=10**15),
    den=st.integers(min_value=1, max_value=10**9),
    k=st.sampled_from([0, 2, 4, 6, 8]),
)
@settings(max_examples=200, deadline=None)
def test_ratio_round_duckdb_matches_fraction_exact(num, den, k):
    """rounding.ratio_round's DuckDB form == exact rational rounding over
    the general (num, den, k) domain, including boundary-adjacent draws."""
    import duckdb

    from cloud2sql_spark.queries.rounding import ratio_round_oracle

    # respect the documented quotient contract (|num/den|*10^k < 2^63)
    if abs(num) // den >= 10 ** (18 - k):
        return
    con = duckdb.connect()
    got = con.execute(
        f"SELECT {ratio_round_oracle('num', 'den', k)} FROM "
        f"(SELECT CAST({num} AS BIGINT) num, CAST({den} AS BIGINT) den)"
    ).fetchone()[0]
    assert got == _ratio_round_exact(num, den, k), (num, den, k, got)


def test_ratio_round_fixes_measured_engine_divergence(spark):
    """The exact templates agree with each other AND with Fraction-exact
    rounding on the very cases where the engines' native round()
    provably diverged (measured in the round-10 audit: e.g. the money
    mean 251 cents / 2 rows = 1.255, where Spark round() gave 1.26 and
    DuckDB round() gave 1.25)."""
    import duckdb

    from cloud2sql_spark.queries.rounding import (
        ratio_round_oracle,
        ratio_round_spark,
    )

    # (num, den, k): 2dp money means + 6dp count ratios, all EXACT halves,
    # drawn from the audit's measured-divergence sets, plus negatives.
    cases = [
        (251, 200, 2),            # 1.255  — measured Spark 1.26 vs Duck 1.25
        (1999, 200, 2),           # 9.995  — measured divergence
        (502, 400, 2),
        (-251, 200, 2),
        (502091, 2000000, 6),     # 0.2510455 — measured divergence
        (509199, 2000000, 6),
        (41, 640, 6),             # 0.0640625 — measured divergence
        (323, 640, 6),
        (-41, 640, 6),
        (9_200_000_001 * 10**9, 2 * 10**12 * 1000, 6),  # embed-mean shape
        # r10 judge counterexample: negative quotient > 2^53 — DuckDB's
        # negative-HUGEINT->DOUBLE cast double-rounds through its two
        # 64-bit halves, so the sign must stay OUTSIDE the DOUBLE cast.
        (-486665475228506, 47775, 6),
        (486665475228506, 47775, 6),
    ]
    con = duckdb.connect()
    df = spark.createDataFrame(
        [(n, d, k) for n, d, k in cases], "num long, den long, k int"
    )
    for n, d, k in cases:
        exact = _ratio_round_exact(n, d, k)
        duck = con.execute(
            f"SELECT {ratio_round_oracle('num', 'den', k)} FROM "
            f"(SELECT CAST({n} AS BIGINT) num, CAST({d} AS BIGINT) den)"
        ).fetchone()[0]
        assert duck == exact, ("duckdb", n, d, k, duck, exact)
    # one Spark pass per k (expr embeds k as a literal)
    for k in sorted({k for _, _, k in cases}):
        sub = [(n, d) for n, d, kk in cases if kk == k]
        sdf = spark.createDataFrame(sub, "num long, den long")
        from cloud2sql_spark.queries.rounding import ratio_round_spark

        rows = sdf.selectExpr(
            "num", "den", f"{ratio_round_spark('num', 'den', k)} AS r"
        ).collect()
        for row in rows:
            exact = _ratio_round_exact(row.num, row.den, k)
            assert row.r == exact, ("spark", row.num, row.den, k, row.r)
