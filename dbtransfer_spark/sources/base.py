"""Source/Sink protocol — the engine's two-sided connector interface.

The reference's whole engine interface is two methods
(``Migration{Run(ctx), Close()}``, /root/reference/internal/migration/
migration.go:18-21) with per-engine monoliths behind it. We split the same
responsibilities along Spark's natural seam: a Source produces a DataFrame
(Catalyst handles pagination/pushdown that the reference hand-rolls), a
Sink consumes one idempotently (upsert keyed on PK, §2.5).

Every database sink (JDBC, MongoDB, Cassandra) is a ``BatchSink``: each
write partition opens one client and writes ``batch_size``-row batches
through one retry-and-pace loop, ``write_partitions`` — the reference's
per-batch write with retries (mysql.go:448-498) and its global rows/sec
limiter (migration.go:211-268) split across the partitions.
"""

from __future__ import annotations

import importlib
import time
from abc import ABC, abstractmethod
from collections.abc import Callable
from itertools import islice
from types import ModuleType
from typing import Any

from pyspark.sql import DataFrame, Row, SparkSession

from dbtransfer_spark.config import DBConfig, MigrationConfig, TableMapping


class Source(ABC):
    # Whether the engine may resume a table from a stored watermark on its
    # first key column, and cut it into chunks by that column's value.
    resumes_by_key = True

    def __init__(self, spark: SparkSession, cfg: DBConfig):
        self.spark = spark
        self.cfg = cfg

    @abstractmethod
    def read(self, table: TableMapping) -> DataFrame:
        """Full-table read as a (partitioned) DataFrame."""

    @abstractmethod
    def detect_primary_key(self, table: TableMapping) -> list[str]:
        """PK columns: config override first (TableMapping.primary_key),
        else engine catalog detection (C1-C3 in SURVEY.md §2.2)."""

    @abstractmethod
    def table_exists(self, table: TableMapping) -> bool:
        """S7 existence probe (mysql.go:202-207). A catalog that cannot be
        read (no driver, no server) raises: it is not a missing table."""

    def count_rows(
        self, df: DataFrame, table: TableMapping, pk: str | None, watermark: int | None
    ) -> int:
        """Count ``df``. The engine no longer calls this (every sink counts
        its own writes); it stays only because the benchmark's tracer wraps
        it by name."""
        return df.count()


class Sink(ABC):
    def __init__(self, spark: SparkSession, cfg: DBConfig):
        self.spark = spark
        self.cfg = cfg

    @abstractmethod
    def upsert(self, df: DataFrame, table: TableMapping, key_columns: list[str]) -> int:
        """Idempotent merge-by-key write; returns the rows written.

        Count on the write itself (an Observation or an accumulator), not
        with a separate count job: the engine takes the returned rows as
        the table's progress denominator and runs no pre-scan.

        Idempotence is the engine's exactly-once-effect mechanism: Spark
        task retries give at-least-once, the upsert collapses replays
        (SURVEY.md §4 'Retry + idempotent upsert')."""

    def ensure_schema(
        self, df: DataFrame, table: TableMapping, source: Source | None = None
    ) -> None:
        """DDL clone: create the destination table (C5) from the frame's
        StructType, or from ``source``'s catalog where the frame does not
        carry the schema (Cassandra). Default no-op for schema-on-write
        sinks (parquet)."""


def import_driver(module: str, package: str) -> ModuleType:
    """Import a database client module, or raise naming the package that
    provides it. Clients are imported when a transfer first connects, so a
    sink or source can be built on a host without them."""
    try:
        return importlib.import_module(module)
    except ImportError as exc:
        raise RuntimeError(f"this transfer needs the '{package}' package") from exc


def write_partitions(
    df: DataFrame,
    connect: Callable[[], Any],
    write_batch: Callable[[Any, list[Row]], None],
    batch_size: int = 1000,
    max_retries: int = 3,
    retry_delay: float = 5.0,
    rows_per_sec: int | None = None,
) -> int:
    """Write ``df`` partition by partition; return the rows written.

    Each partition opens one client with ``connect()`` and cuts its rows
    into ``batch_size`` batches. ``write_batch(client, batch)`` gets at
    most 1 + ``max_retries`` attempts, ``retry_delay`` seconds apart, then
    its last error is raised (R2, mysql.go:448-498). Batches are idempotent
    upserts, so a retried batch or a retried Spark task writes nothing
    twice. Each partition paces itself to ``rows_per_sec // partitions``
    (R3). An accumulator sums the rows written, so the count costs no job.
    """
    if batch_size < 1:
        raise ValueError(f"batch_size must be at least 1, got {batch_size}")
    per_partition = (
        max(1, rows_per_sec // (df.rdd.getNumPartitions() or 1)) if rows_per_sec else None
    )
    written = df.sparkSession.sparkContext.accumulator(0)

    def write_partition(rows) -> None:
        client = connect()
        start = time.monotonic()
        n = 0
        try:
            while batch := list(islice(rows, batch_size)):
                for attempt in range(max_retries + 1):
                    try:
                        write_batch(client, batch)
                        break
                    except Exception:
                        if attempt == max_retries:
                            raise
                        time.sleep(retry_delay)
                n += len(batch)
                if per_partition:
                    ahead = n / per_partition - (time.monotonic() - start)
                    if ahead > 0:
                        time.sleep(ahead)
        finally:
            client.close()
            written.add(n)

    df.foreachPartition(write_partition)
    return int(written.value)


class BatchSink(Sink):
    """A database sink: ``upsert`` runs the engine's ``write_batch`` for
    every batch through ``write_partitions``. ``connect`` opens one client
    (a DB-API connection, a MongoClient, a CQL session); the batch settings
    are the reference's own (config.go: batch_size, max_retries,
    retry_delay, rate_limit)."""

    def __init__(
        self,
        spark: SparkSession,
        cfg: DBConfig,
        connect: Callable[[], Any],
        batch_size: int = 1000,
        max_retries: int = 3,
        retry_delay: float = 5.0,
        rows_per_sec: int | None = None,
    ):
        super().__init__(spark, cfg)
        self.connect = connect
        self.batch_size = batch_size
        self.max_retries = max_retries
        self.retry_delay = retry_delay
        self.rows_per_sec = rows_per_sec

    @abstractmethod
    def batch_writer(
        self, df: DataFrame, table: TableMapping, key_columns: list[str]
    ) -> Callable[[Any, list[Row]], None]:
        """``write_batch(client, rows)``: one idempotent upsert of ``rows``,
        which raises if any of them was not written."""

    def upsert(self, df: DataFrame, table: TableMapping, key_columns: list[str]) -> int:
        return write_partitions(
            df,
            self.connect,
            self.batch_writer(df, table, key_columns),
            batch_size=self.batch_size,
            max_retries=self.max_retries,
            retry_delay=self.retry_delay,
            rows_per_sec=self.rows_per_sec,
        )


def get_source(
    spark: SparkSession, cfg: DBConfig, migration: MigrationConfig | None = None
) -> Source:
    """The source for ``cfg``; the Mongo cursor reads ``migration``'s
    batch size (else 1000 documents) per round trip."""
    from dbtransfer_spark.sources import cassandra, files, jdbc, mongodb, parquet

    t = (cfg.type or "").lower()
    if t in ("", "parquet"):
        return parquet.ParquetSource(spark, cfg)
    if t == "orc":
        return parquet.OrcSource(spark, cfg)
    if t in ("jsonl", "json"):
        return files.JsonlSource(spark, cfg)
    if t == "csv":
        return files.CsvSource(spark, cfg)
    if t in ("mysql", "postgresql", "postgres"):
        return jdbc.JDBCSource(spark, cfg)
    if t in ("mongodb", "mongo"):
        return mongodb.MongoSource(
            spark, cfg, batch_size=migration.batch_size if migration else 1000
        )
    if t in ("cassandra", "scylladb"):
        return cassandra.CassandraSource(spark, cfg)
    raise ValueError(f"unknown source type: {cfg.type}")


def get_sink(
    spark: SparkSession, cfg: DBConfig, migration: MigrationConfig | None = None
) -> Sink:
    """The sink for ``cfg``; a database sink takes its batch settings from
    ``migration`` (else the ``BatchSink`` defaults)."""
    from dbtransfer_spark.sources import cassandra, files, jdbc, mongodb, parquet

    t = (cfg.type or "").lower()
    if t in ("", "parquet"):
        return parquet.ParquetSink(spark, cfg)
    if t == "orc":
        return parquet.OrcSink(spark, cfg)
    if t in ("jsonl", "json"):
        return files.JsonlSink(spark, cfg)
    if t == "csv":
        return files.CsvSink(spark, cfg)
    batching = {}
    if migration is not None:
        batching = dict(
            batch_size=migration.batch_size,
            max_retries=migration.max_retries,
            retry_delay=migration.retry_delay,
            rows_per_sec=migration.rate_limit or None,
        )
    if t in ("mysql", "postgresql", "postgres"):
        return jdbc.JDBCSink(spark, cfg, **batching)
    if t in ("mongodb", "mongo"):
        return mongodb.MongoSink(spark, cfg, **batching)
    if t in ("cassandra", "scylladb"):
        return cassandra.CassandraSink(spark, cfg, **batching)
    raise ValueError(f"unknown sink type: {cfg.type}")
