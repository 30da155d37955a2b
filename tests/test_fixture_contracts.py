"""Fixture-contract assertions: the data invariants the oracle
conventions DEPEND on, checked loudly and pointedly.

The driver regenerates /root/testdata each round with a new seed (and
has changed physical details before — events.ts was NANOS in rounds
1-2, MICROS in round 3). When an invariant breaks, dozens of oracle
comparisons fail mysteriously; these tests fail FIRST with a message
naming the broken assumption and the operators that rest on it.
"""

from __future__ import annotations

import duckdb
import pytest


@pytest.fixture(scope="module")
def duck_raw(sf_dir):
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    yield con
    con.close()


def test_events_value_is_two_decimal_money(duck_raw):
    """Every DECIMAL(18,2) cast oracle over events.value (18 keys at the
    round-3 audit incl. the streaming family, events_concurrency_sweep's
    cent quantization, events_anomaly_zscore) requires value*100 to be
    integral. If this fails, the quantization convention needs a rethink
    repo-wide — see the verify skill's round-4 notes."""
    n = duck_raw.execute(
        "SELECT count(*) FROM events "
        "WHERE abs(value*100 - round(value*100, 0)) > 1e-9"
    ).fetchone()[0]
    assert n == 0, (
        f"{n} events.value rows are not exact 2-decimal money — every "
        "DECIMAL(18,2)-cast oracle over value is now suspect"
    )


def test_money_columns_are_two_decimal(duck_raw):
    """lineitem prices/discounts/taxes and customer balances carry the
    same 2-decimal contract (DECIMAL oracle sums, cent quantization in
    agg_weighted_percentile / fn_ip-free money ops / tpch_q22)."""
    # NOTE: o_totalprice is deliberately absent — it carries >2 decimals
    # in every driver round (it is a computed sum) and no oracle casts it
    # to DECIMAL; queries only compare/order it as a double.
    for table, col in [
        ("lineitem", "l_extendedprice"),
        ("lineitem", "l_discount"),
        ("lineitem", "l_tax"),
        ("customer", "c_acctbal"),
    ]:
        n = duck_raw.execute(
            f"SELECT count(*) FROM {table} "
            f"WHERE abs({col}*100 - round({col}*100, 0)) > 1e-9"
        ).fetchone()[0]
        assert n == 0, f"{table}.{col}: {n} rows exceed 2 decimals"


def test_lineitem_quantity_is_integral(duck_raw):
    """agg_weighted_percentile treats l_quantity as an exact integral
    weight (cast to BIGINT); tpch_q18's >270 threshold and q19's
    BETWEEN bands assume integer-valued quantities."""
    n = duck_raw.execute(
        "SELECT count(*) FROM lineitem "
        "WHERE abs(l_quantity - round(l_quantity, 0)) > 1e-9"
    ).fetchone()[0]
    assert n == 0, f"{n} l_quantity rows are non-integral"


def test_lineitem_price_domain_is_bounded(duck_raw):
    """agg_weighted_percentile's r12 scale rewrite windows per-(flag,
    price_c) rows instead of the fact table; the scale premise is that
    the CENT-PRICE DOMAIN is a bounded range (observed ~[90k, 10.5M]
    cents every driver round), so each of the 3 window partitions holds
    at most domain-size rows at ANY table size. 5e7 cents = $500k gives
    ~50x headroom over the observed envelope while one window task can
    still sort the partition. If this fires, the domain is approaching
    row count and the window needs the two-level cumsum escape hatch
    documented in agg_weighted_percentile's docstring."""
    lo, hi = duck_raw.execute(
        "SELECT min(l_extendedprice), max(l_extendedprice) FROM lineitem"
    ).fetchone()
    assert lo > 0, f"non-positive l_extendedprice {lo}"
    assert hi * 100 <= 5e7, (
        f"max l_extendedprice {hi} puts the cent-price domain past 5e7 — "
        "the 3-partition window over per-price rows is no longer bounded"
    )


def test_documents_text_is_single_line_ascii(duck_raw):
    """The multimodal oracles slice TEXT by character while Spark slices
    the utf-8 PAYLOAD by byte — identical only while the corpus is pure
    ASCII. text_repetition's word adaptation assumes no newlines."""
    n_non_ascii = duck_raw.execute(
        "SELECT count(*) FROM documents WHERE octet_length(encode(text))"
        " <> length(text)"
    ).fetchone()[0]
    assert n_non_ascii == 0, (
        f"{n_non_ascii} non-ASCII documents — multimodal byte/char "
        "oracle equivalence (decode/resize/frames/audio_window) is broken"
    )
    n_newline = duck_raw.execute(
        "SELECT count(*) FROM documents WHERE contains(text, chr(10))"
    ).fetchone()[0]
    assert n_newline == 0, (
        f"{n_newline} documents contain newlines — revisit the "
        "word-level Gopher adaptation in text_repetition"
    )


def test_embeddings_are_64_dim_round_safe(duck_raw):
    """The shared milli-integer quantization (extensions._quantized, the
    whole embed/sim family) rounds x*1000 to the nearest integer on BOTH
    engines; that agrees everywhere EXCEPT when x*1000 sits exactly on a
    half-integer boundary (where DuckDB's half-even and Spark's half-up
    could split). Assert 64 dims and no component within 1e-9 of a
    boundary — if this ever fires, the quantization needs a tie-safe
    rule (e.g. floor(x*1000 + 0.5))."""
    bad_dim = duck_raw.execute(
        "SELECT count(*) FROM embeddings WHERE len(embedding) <> 64"
    ).fetchone()[0]
    assert bad_dim == 0, f"{bad_dim} embeddings are not 64-dim"
    on_boundary = duck_raw.execute(
        "SELECT count(*) FROM embeddings, unnest(embedding) AS t(x) "
        "WHERE abs(abs(CAST(x AS DOUBLE)*1000"
        "           - trunc(CAST(x AS DOUBLE)*1000)) - 0.5) < 1e-9"
    ).fetchone()[0]
    assert on_boundary == 0, (
        f"{on_boundary} embedding components land on a rounding "
        "half-boundary — cross-engine milli quantization may split"
    )


def test_events_props_k_is_never_string_typed(duck_raw):
    """fn_json parses props with a typed from_json (k BIGINT), which
    reads a STRING-typed k ({"k": "7"}) as NULL where the oracle's
    CAST(props->>'$.k' AS BIGINT) reads 7. The two agree on integer,
    NULL, malformed and missing k; a string-typed k is the one input
    class they split on, so the fixture must never carry it."""
    n = duck_raw.execute(
        "SELECT count(*) FROM events "
        "WHERE CASE WHEN json_valid(props) "
        "           THEN json_type(props, '$.k') END = 'VARCHAR'"
    ).fetchone()[0]
    assert n == 0, (
        f"{n} events.props rows carry a string-typed k — fn_json's "
        "typed from_json would read NULL where the oracle reads the number"
    )


def test_events_ts_loads_as_timestamp(spark, sf_dir):
    """catalog.load_table must adapt to whichever physical unit the
    driver wrote this round (NANOS in r1-2, MICROS in r3+): the loaded
    column is a usable timestamp in a sane range."""
    from cloud2sql_spark.catalog import load_table
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    assert dict(ev.dtypes)["ts"].startswith("timestamp"), ev.dtypes
    row = ev.agg(
        F.min(F.year("ts")).alias("lo"), F.max(F.year("ts")).alias("hi")
    ).first()
    assert 2000 <= row["lo"] <= row["hi"] <= 2100, row
