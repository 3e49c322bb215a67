"""SparkSession factory tuned for the engine.

Local mode is only the test harness; every config choice is made for a real
multi-executor cluster at ~100 TB:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing) — the
  reference's LA key is naturally skewed (London boroughs ≫ rural LAs).
- ``spark.sql.shuffle.partitions`` defaults to the local core count here; on a
  cluster you size it to ~2-3× total cores (or leave AQE's coalescing to fix
  over-partitioning downward).
- Arrow enabled so any ``toPandas``/pandas-UDF boundary is columnar, not
  pickled rows.
- Session timezone pinned to UTC so timestamp semantics (``date_trunc`` week
  bucketing) are independent of the host machine and match the DuckDB oracle,
  which treats parquet timestamps as naive.
- ``spark.sql.codegen.cache.maxEntries`` = 1000, not Spark's 100. The
  generated-code cache is one LRU per JVM. A refresh generates ~124
  classes and a tick ~117, so at 100 entries each class is evicted before
  its next use: every warm refresh would recompile ~113 classes with
  Janino, and the JIT would compile them again. 1000 holds the refresh,
  the tick, the dashboard panels and the registry queries of one
  long-lived JVM; a warm refresh then compiles at most a handful. It is
  a static conf: ``extra_conf`` overrides it only before the JVM starts.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Session SQL confs that change what a query returns, not how fast it
# runs. ``get_spark`` builds with them and ``sources.readers.read_table``
# sets them again on the session it is handed, which may have been built
# elsewhere.
SEMANTIC_CONF = {
    # testdata parquet carries TIMESTAMP(NANOS), which the vectorized
    # reader rejects: read it as long nanoseconds and let read_table
    # convert to micros (the same truncation DuckDB applies)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # week bucketing and collected timestamps are host-independent and
    # match the DuckDB oracle's naive-timestamp semantics
    "spark.sql.session.timeZone": "UTC",
    # pyarrow writes timestamp[us] with no tz, which Spark 3.5+ infers as
    # TIMESTAMP_NTZ, and unix_micros()/interval arithmetic reject that.
    # Read it as plain TIMESTAMP: with the UTC session tz these are the
    # same instants as the oracle's naive timestamps.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}


def default_driver_memory() -> str:
    """``$SPARK_DRIVER_MEMORY``, else the smaller of 16g and ~3/4 of the
    host's physical memory: Spark sizes its memory pool from the heap it
    is given, so a heap the host cannot back invites the OOM killer."""
    if os.environ.get("SPARK_DRIVER_MEMORY"):
        return os.environ["SPARK_DRIVER_MEMORY"]
    physical_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**20
    return f"{min(16 * 1024, physical_mb * 3 // 4)}m"


def get_spark(
    app_name: str = "uk-housing-dashboard-etl-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract) else all
    local cores. In cluster deployments you would drop ``master`` entirely
    and let spark-submit provide it; everything else carries over.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    shuffle = str(shuffle_partitions or (32 if cpus == "*" else cpus))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        # stderr progress bars interleave with tool output (selfcheck
        # pipes through shells) and garble per-query log lines
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    for k, v in {**SEMANTIC_CONF, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
