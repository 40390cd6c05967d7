"""Incremental sync + event-time streaming aggregation.

Maps the reference's batch-resume loop (/root/reference/internal/migration/
mysql/mysql.go:302-368: read batch → write upsert → checkpoint) onto
Structured Streaming:

- Source: file stream over a directory of parquet drops (the fixture
  ``events`` table stands in for a CDC/append feed). In production the same
  code takes Kafka/Kinesis by swapping ``readStream.format``.
- Sink: ``foreachBatch`` reusing the engine's idempotent upsert writers
  (sources/parquet.ParquetSink, or JDBC/Mongo/Cassandra sinks) — micro-batch
  at-least-once × idempotent upsert = exactly-once effect, identical
  reasoning to the batch path (SURVEY.md §4).
- Checkpoint: Spark's checkpointLocation (WAL + offsets) replaces the JSON
  file store; restart resumes mid-stream with no manual watermark.
- Late data: ``withWatermark`` bounds state; tumbling/sliding/session
  windows mirror operators/windows.py (batch/stream parity is a Spark
  guarantee, which the tests assert).

Scale: state size is O(open windows × keys), bounded by the watermark:
this is the 100 TB-friendly formulation — no reprocessing, no full-table
diffs, shuffle only on the aggregation keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_event_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """File-source stream over parquet drops in ``source_dir``.
    maxFilesPerTrigger bounds micro-batch size — the streaming analog of
    the reference's batch_size (config.go:50-52)."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "4")
        .parquet(source_dir)
    )


def incremental_sync(
    spark: SparkSession,
    source_dir: str,
    target_dir: str,
    checkpoint_dir: str,
    key_columns: list[str] | None = None,
    table_name: str = "events",
) -> None:
    """Continuously upsert new source files into the parquet target.

    foreachBatch gives each micro-batch a batch_id; the ParquetSink merge
    is idempotent on the key, so replayed batches (failure/restart) are
    absorbed — W1-W4 semantics in streaming form. Runs with availableNow
    (drain-and-stop) so tests and cron-style syncs terminate; a live
    deployment passes its own trigger."""
    from dbtransfer_spark.config import DBConfig, TableMapping
    from dbtransfer_spark.sources.parquet import ParquetSink

    keys = key_columns or ["event_id"]
    sink = ParquetSink(spark, DBConfig(type="parquet", database=target_dir))
    mapping = TableMapping(name=table_name)

    def upsert_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sink.upsert(batch_df, mapping, keys)

    (
        read_event_stream(spark, source_dir)
        .writeStream.foreachBatch(upsert_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def windowed_stream(
    spark: SparkSession,
    source_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window aggregate (streaming twin of
    operators/windows.events_tumbling_1h — same expressions, same results
    once the stream drains)."""
    return (
        read_event_stream(spark, source_dir)
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(30,10)")), 2)
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sessionized_stream(
    spark: SparkSession,
    source_dir: str,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked session windows (streaming twin of events_session_30m);
    state per (user, open session), closed and emitted once the watermark
    passes session end."""
    return (
        read_event_stream(spark, source_dir)
        .withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(30,10)")), 2)
            .cast("double")
            .alias("session_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )
