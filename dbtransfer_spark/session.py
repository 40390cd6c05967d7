"""SparkSession factory with scale-aware defaults.

The reference tool (aricy/dbtransfer) is a single-process Go binary; its
"session" is a pool of DB connections (e.g. /root/reference/internal/
migration/mysql/mysql.go:62-118). Our engine's unit of execution is a
SparkSession configured for the Catalyst/AQE path: adaptive execution,
partition coalescing, skew-join handling, and Arrow-accelerated Python
interop. One session is reused across all tables/queries (BASELINE.md: keep
startup overhead low).

At 100 TB on a real cluster the same builder applies — only master/memory
change; shuffle partitions are left to AQE via
``spark.sql.adaptive.coalescePartitions.initialPartitionNum``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "stop"]


def _default_parallelism() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return max(1, int(env))
    return os.cpu_count() or 4


def get_spark(
    app_name: str = "dbtransfer-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    Defaults are tuned so the identical logical plans scale from local[32]
    tests to a 1000-executor cluster:

    - AQE on: runtime coalescing of small shuffle partitions and skew-join
      splitting replace hand-tuned partition counts.
    - Arrow on: any unavoidable Python stage (pandas UDFs in operators/)
      moves columnar batches, not pickled rows.
    - UTC session timezone: deterministic timestamp semantics vs the oracle.
    """
    cpus = _default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # R1: concurrent per-table jobs share the cluster fairly — the
        # engine tags each table's jobs with a scheduler pool, which is
        # only honored under FAIR mode (default FIFO would serialize a
        # long table scan ahead of every other table's work).
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # The Mongo source is a Python data source; its reader turns the
        # engine's pushed `_id` comparisons into the wire filter.
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions if shuffle_partitions else max(cpus, 8)),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
    )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_GRAFT_NO_MASTER"):
        # Local test/bench default; on a cluster, spark-submit supplies master.
        builder = builder.master(f"local[{cpus}]")
        builder = builder.config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
