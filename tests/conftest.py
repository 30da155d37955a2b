"""Shared fixtures: one SparkSession per test session, DuckDB oracle helper."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cloud2sql_spark import memo
from cloud2sql_spark.catalog import TABLES
from cloud2sql_spark.session import get_spark

# Small sf for fast iteration; the driver gate runs sf0.01.
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("cloud2sql_spark-tests", cpus=8)
    yield spark


@pytest.fixture
def empty_memo(monkeypatch):
    """A private memo store and ledger, so a test never touches the frames
    other tests memoized in the shared session."""
    monkeypatch.setattr(memo, "_MEMO", {})
    monkeypatch.setattr(memo, "_EPHEMERAL_PERSISTS", [])
    monkeypatch.setattr(memo, "_STATS", dict.fromkeys(memo._STATS, 0))


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    """DuckDB connection with fixture tables registered as views, mirroring
    the driver's oracle setup."""
    con = duckdb.connect()
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    yield con
    con.close()
