"""Source/Sink protocol — the engine's two-sided connector interface.

The reference's whole engine interface is two methods
(``Migration{Run(ctx), Close()}``, /root/reference/internal/migration/
migration.go:18-21) with per-engine monoliths behind it. We split the same
responsibilities along Spark's natural seam: a Source produces a DataFrame
(Catalyst handles pagination/pushdown that the reference hand-rolls), a
Sink consumes one idempotently (upsert keyed on PK, §2.5).
"""

from __future__ import annotations

from abc import ABC, abstractmethod

from pyspark.sql import DataFrame, SparkSession

from dbtransfer_spark.config import DBConfig, TableMapping


class Source(ABC):
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

    def table_exists(self, table: TableMapping) -> bool:  # S7 existence probe
        try:
            self.read(table).schema
            return True
        except Exception:
            return False

    def count_rows(
        self, df: DataFrame, table: TableMapping, pk: str | None, watermark: int | None
    ) -> int:
        """S6/R9 row count of the (already watermark-filtered) table.

        The engine asks only when the sink cannot count its own writes
        (``Sink.upsert`` returned -1); otherwise the rows written are the
        denominator and no count job runs. Default: count the DataFrame,
        which re-runs the read. Connector sources should override with a
        server-side COUNT (mysql.go:243-249 counts on the server)."""
        return df.count()


class Sink(ABC):
    def __init__(self, spark: SparkSession, cfg: DBConfig):
        self.spark = spark
        self.cfg = cfg

    @abstractmethod
    def upsert(self, df: DataFrame, table: TableMapping, key_columns: list[str]) -> int:
        """Idempotent merge-by-key write; returns rows written, or -1 if
        the sink cannot count them.

        Count on the write itself (an Observation or an accumulator), not
        with a separate count job: the engine takes the returned rows as
        the table's progress denominator and runs no pre-scan.

        Idempotence is the engine's exactly-once-effect mechanism: Spark
        task retries give at-least-once, the upsert collapses replays
        (SURVEY.md §4 'Retry + idempotent upsert')."""

    def ensure_schema(self, df: DataFrame, table: TableMapping) -> None:
        """DDL clone: create destination table from the source StructType
        (C5). Default no-op for schema-on-write sinks (parquet)."""


def get_source(spark: SparkSession, cfg: DBConfig) -> Source:
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
        return mongodb.MongoSource(spark, cfg)
    if t in ("cassandra", "scylladb"):
        return cassandra.CassandraSource(spark, cfg)
    raise ValueError(f"unknown source type: {cfg.type}")


def get_sink(spark: SparkSession, cfg: DBConfig) -> Sink:
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
    if t in ("mysql", "postgresql", "postgres"):
        return jdbc.JDBCSink(spark, cfg)
    if t in ("mongodb", "mongo"):
        return mongodb.MongoSink(spark, cfg)
    if t in ("cassandra", "scylladb"):
        return cassandra.CassandraSink(spark, cfg)
    raise ValueError(f"unknown sink type: {cfg.type}")
