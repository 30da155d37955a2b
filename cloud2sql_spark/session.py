"""SparkSession factory.

Local-mode defaults tuned for the test container (local[N], single JVM); the
same configs are the right starting point on a real cluster — AQE handles
runtime re-planning (partition coalescing, skew joins, broadcast switching),
and UTC session time keeps timestamp semantics aligned with the DuckDB oracle.

The engine answers many registry keys in one long-lived session, so the
compiled-class cache is sized to hold every class the registry
generates: with Spark's default of 100 entries a session recompiled most
of its generated code on every pass.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Entries in Spark's compiled-class cache (spark.sql.codegen.cache.
# maxEntries, default 100). One session running all 289 registry keys
# compiles 2,769 distinct classes at sf0.001 and 2,776 at sf0.01; with no
# eviction a second round of all keys compiles 84 classes the first did
# not generate (38 of them in etl_flatten_counts). 4096 holds the whole
# registry with room to spare: Guava splits the bound over 4 segments of
# 1024 entries, each about 2/3 full (the default gives 4 segments of 25).
# A longer session still evicts, least recently used first.
_CODEGEN_CACHE_MAX = 4096


def get_spark(app_name: str = "cloud2sql_spark", cpus: int | None = None) -> SparkSession:
    """Create (or get) a SparkSession with scale-aware defaults.

    - AQE on: runtime join-strategy switching, partition coalescing, skew
      handling — the knobs that matter at 100 TB are enabled declaratively.
    - shuffle.partitions ~ cores locally; on a cluster AQE coalesces from a
      higher initial number, so this is safe to leave.
    - UTC session timezone: fixtures are tz-naive; oracle (DuckDB) is UTC-naive.
    - nanosAsLong: the events fixture stores TIMESTAMP(NANOS) which Spark's
      vectorized parquet reader rejects; we read ns as long and convert
      (see catalog.load_table).
    - codegen cache of _CODEGEN_CACHE_MAX compiled classes, not Spark's
      100: a warm pass reuses every class instead of recompiling it with
      Janino, after which HotSpot starts the fresh class in its
      interpreter again. It is a static conf, read once per JVM when the
      cache is first built, so it is set here and not at runtime.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 4)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # local[N] puts executors in the driver JVM: size the heap for N
        # concurrent tasks + broadcasts + shuffle buffers. 8g showed
        # GC-driven 10-30s stalls late in long sessions (accumulated
        # broadcast blocks only free on GC); 24g removes them. On a real
        # cluster this maps to ordinary executor memory, not driver memory.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        # shuffle/spill files on tmpfs: with /tmp disk-backed, the writeback
        # + cleaner-deletion storm after a heavy query mix stalled following
        # queries 5-20× for ~a minute. On a cluster this is the standard
        # local-SSD/ramdisk scratch-dir sizing decision.
        .config("spark.local.dir", os.environ.get("SPARK_LOCAL_DIRS", "/dev/shm/spark-local"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(_CODEGEN_CACHE_MAX))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
