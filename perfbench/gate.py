"""Correctness gate: every op's output is checked, and any mismatch is a
failed op.

- Query ops are compared with their DuckDB oracle from
  ``cloud2sql_spark.registry.oracle_sql()`` run over the same parquet
  files, with the project's own differential check
  (``tests/oracle.compare``): same column names, same row count, and the
  same rows as an order-insensitive multiset after value normalization.
- ETL exports are compared table by table with the row counts the graph
  generator knows, and the promoted snapshot is read back.
"""

from __future__ import annotations

from tests.oracle import compare


class Collected:
    """A result collected once, in the shape ``tests.oracle.compare``
    reads (``columns`` and ``collect()``), so the check needs no second
    Spark run."""

    def __init__(self, df):
        self.columns = list(df.columns)
        self.rows = df.collect()

    def collect(self):
        return self.rows


def check_result(result, con, sql: str, key: str) -> str | None:
    """None when ``result`` matches the oracle ``sql``, else the reason."""
    try:
        compare(result, con, sql, key)
    except AssertionError as exc:
        return str(exc)[:300]
    return None


def oracle_connection(fixture_dir: str):
    import duckdb

    from cloud2sql_spark.catalog import TABLES

    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{fixture_dir}/{name}.parquet')"
        )
    return con


def check_counts(got: dict[str, int], expected: dict[str, int]) -> str | None:
    if got != expected:
        bad = sorted(
            k for k in set(got) | set(expected) if got.get(k) != expected.get(k)
        )
        return f"table counts differ from generator on {bad[:5]}"
    return None


def check_parquet_snapshot(spark, out_dir: str, expected: dict[str, int]) -> str | None:
    """Read every promoted table back through its snapshot link."""
    got = {t: spark.read.parquet(f"{out_dir}/{t}").count() for t in expected}
    return check_counts(got, expected)


def check_jdbc_snapshot(spark, url: str, expected: dict[str, int]) -> str | None:
    """Read every live table back; no staged ``tmp_*`` table may remain."""
    got = {
        t: spark.read.format("jdbc").option("url", url).option("dbtable", t).load().count()
        for t in expected
    }
    err = check_counts(got, expected)
    if err:
        return err
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        rs = conn.getMetaData().getTables(None, None, "TMP_%", None)
        try:
            if rs.next():
                return f"staged table {rs.getString('TABLE_NAME')} left after swap"
        finally:
            rs.close()
    finally:
        conn.close()
    return None
