"""M7: Structured Streaming incremental sync + windowed aggregation.

Asserts the two properties that matter:
1. incremental sync is exactly-once-in-effect: drain → target == source;
   new files with overlapping keys → upserted, no duplicates.
2. batch/stream parity: the streaming window aggregates equal their batch
   twins from operators/windows.py on the same data.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dbtransfer_spark.catalog import load_table
from dbtransfer_spark.operators import windows as batch_windows
from dbtransfer_spark.streaming.incremental import (
    incremental_sync,
    sessionized_stream,
    windowed_stream,
)
from tests.conftest import SF_SMOKE


def run_stream_to_memory(spark, stream_df, query_name):
    """Drain a (bounded) stream into an in-memory table and return it as a
    DataFrame."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(query_name)


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """Fixture events re-written µs-precision into a stream source dir
    (the raw fixture is ns-precision, which the file stream schema can't
    take directly)."""
    d = tmp_path_factory.mktemp("events_src")
    load_table(spark, SF_SMOKE, "events").repartition(4).write.mode("overwrite").parquet(
        str(d / "drop1")
    )
    return str(d / "drop1")


def test_incremental_sync_upserts(spark, tmp_path):
    # Own source dir: this test appends an update file, which must not
    # leak into the (module-scoped) batch-parity fixtures.
    events_dir = str(tmp_path / "src")
    load_table(spark, SF_SMOKE, "events").repartition(4).write.parquet(events_dir)
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")
    incremental_sync(spark, events_dir, target, ckpt)

    src = spark.read.parquet(events_dir)
    n_src = src.count()
    out = spark.read.parquet(os.path.join(target, "events.parquet"))
    assert out.count() == n_src
    assert out.exceptAll(src).count() == 0

    # Drop 2: 50 updated rows (same keys, new value) — only the new file is
    # read (checkpoint), and the merge replaces rather than appends.
    updates = src.filter(F.col("event_id") < 50).withColumn("value", F.lit(999.0))
    updates.write.mode("append").parquet(events_dir)
    incremental_sync(spark, events_dir, target, ckpt)
    out2 = spark.read.parquet(os.path.join(target, "events.parquet"))
    assert out2.count() == n_src  # upsert, not append
    assert out2.filter(F.col("value") == 999.0).count() == 50


def test_windowed_stream_matches_batch(spark, events_dir):
    streamed = run_stream_to_memory(
        spark, windowed_stream(spark, events_dir), "win_stream_test"
    )
    batch = batch_windows.events_tumbling_1h(spark, SF_SMOKE)
    assert streamed.count() == batch.count()
    assert streamed.exceptAll(batch).count() == 0


def test_sessionized_stream_matches_batch(spark, events_dir):
    streamed = run_stream_to_memory(
        spark, sessionized_stream(spark, events_dir), "sess_stream_test"
    )
    batch = batch_windows.events_session_30m(spark, SF_SMOKE)
    assert streamed.count() == batch.count()
    assert streamed.exceptAll(batch).count() == 0


def test_stream_to_jdbc_upsert_exactly_once_effect(spark, tmp_path):
    """Streaming micro-batches into the JDBC (SQLite) upsert writer:
    at-least-once foreachBatch x idempotent W1-style upsert = target ==
    source exactly, even when the source redelivers every file."""
    import sqlite3

    from dbtransfer_spark.config import DBConfig, TableMapping
    from dbtransfer_spark.sources.jdbc import JDBCSink
    from dbtransfer_spark.streaming.incremental import read_event_stream
    from tests.test_jdbc_writer import _connect_factory

    src = str(tmp_path / "src")
    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    ).repartition(2)
    ev.write.parquet(src)
    ev.write.mode("append").parquet(src)      # full redelivery upstream

    db = str(tmp_path / "t.db")
    with sqlite3.connect(db) as conn:
        conn.execute(
            'CREATE TABLE "events" ("event_id" INTEGER PRIMARY KEY, "ts" TEXT,'
            ' "user_id" INTEGER, "event_type" TEXT, "value" REAL, "props" TEXT)'
        )
    sink = JDBCSink(
        spark, DBConfig(type="sqlite"), connect=_connect_factory(db), batch_size=500
    )
    mapping = TableMapping(name="events")

    def upsert_batch(batch_df, batch_id):
        if not batch_df.isEmpty():
            # one writer connection: SQLite allows a single writer, and
            # under full-suite CPU contention two concurrent partition
            # writers can outlast the busy timeout (flaked once in CI-style
            # runs); concurrency is covered by the SQLite-WAL writer tests
            sink.upsert(
                batch_df.coalesce(1).withColumn("ts", F.col("ts").cast("string")),
                mapping,
                ["event_id"],
            )

    (
        read_event_stream(spark, src)
        .writeStream.foreachBatch(upsert_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    with sqlite3.connect(db) as conn:
        n, users = conn.execute(
            'SELECT count(*), count(DISTINCT "user_id") FROM "events"'
        ).fetchone()
    assert n == ev.count()                     # upserted, not doubled
    assert users == ev.select("user_id").distinct().count()
