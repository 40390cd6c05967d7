"""Transfer engine: per-table orchestration of read → transform → upsert.

This is the Spark re-expression of the reference's engine Run loop
(/root/reference/internal/migration/mysql/mysql.go:138-380 and isomorphic
PG/Mongo/Cassandra variants — SURVEY.md §3.2):

reference (per table, serial batches)          this engine
-----------------------------------          ------------------------------
existence probe (mysql.go:202-207)           Source.table_exists
PK detect (mysql.go:210-220)                 Source.detect_primary_key
source/target column schema                  one parquet footer read on the
                                               driver, no Spark job (read_files)
checkpoint load/skip (mysql.go:222-229)      CheckpointStore.is_complete
COUNT(*) denominator (mysql.go:243-249)      rows counted on the upsert write
DDL clone+apply (mysql.go:254-274)           Sink.ensure_schema (Cassandra reads
                                               the source catalog)
batch loop WHERE pk>? LIMIT n                one partitioned job, or PK-range
  (mysql.go:302-368)                           chunks for checkpoint granularity
per-batch upsert write                       Sink.upsert (idempotent); database
                                               sinks batch per partition with
                                               retry and pacing
rate limit (mysql.go:324-327)                database sinks pace each write's
                                               partitions to a per-table share;
                                               RateLimiter.acquire after each
                                               file-sink write
checkpoint policy (mysql.go:332-355)         save watermark per chunk
goroutine-per-table + semaphore              ThreadPoolExecutor(workers) +
  (mysql.go:156-169)                           FAIR scheduler pools

Chunked mode exists purely for checkpoint granularity (resume mid-table);
single-shot mode is one Spark job whose retry unit is the task, relying on
the idempotent sink — at 100 TB, single-shot is the right default because
each of the N read partitions already retries independently, which is the
failure-isolation the reference's 1000-row batches exist to provide.

This is the one runtime for every engine: files, JDBC, MongoDB and
Cassandra. Like the reference, MongoDB and Cassandra copy only to their
own type — their frames carry whole documents or rows in one opaque
column — so any other pairing with them is refused at construction.
"""

from __future__ import annotations

import dataclasses
import math
import threading
from concurrent.futures import ThreadPoolExecutor, as_completed
from typing import Any

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from dbtransfer_spark.checkpoint import Checkpoint, CheckpointStore
from dbtransfer_spark.config import Config, TableMapping
from dbtransfer_spark.governance import MigrationStats, RateLimiter
from dbtransfer_spark.sources.base import BatchSink, get_sink, get_source
from dbtransfer_spark.sources.cassandra import CassandraSink, CassandraSource
from dbtransfer_spark.sources.mongodb import MongoSink, MongoSource
from dbtransfer_spark.transforms import apply_transforms


class TransferEngine:
    def __init__(
        self,
        spark: SparkSession,
        config: Config,
        chunk_rows: int | None = None,
    ):
        self.spark = spark
        self.config = config
        migration = config.migration
        self.source = get_source(spark, config.source, migration)
        # R3: a database sink paces its writes while they run, and up to
        # `workers` tables write at once, so each gets an equal share of
        # the global rows/sec cap.
        at_once = max(1, min(migration.workers, len(config.source.tables)))
        share = max(1, migration.rate_limit // at_once) if migration.rate_limit > 0 else 0
        self.sink = get_sink(
            spark, config.destination, dataclasses.replace(migration, rate_limit=share)
        )
        _check_pair(config, self.source, self.sink)
        self.store = CheckpointStore(
            config.migration.checkpoint_dir, engine=config.source.type
        )
        self.stats = MigrationStats()
        self.limiter = RateLimiter(config.migration.rate_limit)
        # None → single-shot (scale default); set for fine-grained resume.
        self.chunk_rows = chunk_rows
        self.stop_event = threading.Event()

    # -- public ------------------------------------------------------------

    def run(self) -> dict[str, Any]:
        """R1: concurrent tables, ``workers``-bounded (mysql.go:156-169).
        Tables are independent (no cross-table ops in this path), so a
        thread pool + Spark FAIR scheduling keeps the cluster busy while
        any one table is in a shuffle-light phase."""
        tables = self.config.source.tables
        results: dict[str, Any] = {}
        workers = max(1, self.config.migration.workers)
        with ThreadPoolExecutor(max_workers=workers) as pool:
            futures = {pool.submit(self._run_table, t): t.name for t in tables}
            for fut in as_completed(futures):
                name = futures[fut]
                try:
                    results[name] = fut.result()
                except Exception as exc:  # error channel analog mysql.go:171-177
                    results[name] = {"error": str(exc)}
        return results

    def shutdown(self) -> None:
        """R10 graceful shutdown (main.go:298-308): finish current chunk,
        persist checkpoint, stop."""
        self.stop_event.set()

    # -- per-table ---------------------------------------------------------

    def _run_table(self, table: TableMapping) -> dict[str, Any]:
        self.spark.sparkContext.setLocalProperty("spark.scheduler.pool", table.name)
        # A pool thread starts with no active session on the JVM side, and
        # Spark plans `df.rdd` (the database sinks' foreachPartition) with
        # the active session's SQL conf; without it, the defaults.
        self.spark._jvm.SparkSession.setActiveSession(self.spark._jsparkSession)
        name = table.name
        if self.store.is_complete(name):  # mysql.go:222-229
            return {"skipped": True, "reason": "checkpoint complete"}
        if not self.source.table_exists(table):  # S7
            raise RuntimeError(f"source table does not exist: {name}")

        key_columns = self.source.detect_primary_key(table)
        df = self.source.read(table)
        self.sink.ensure_schema(df, table, self.source)  # C5/W5

        # The watermark and the chunk bounds are value-order positions on
        # the first key column; a source that does not resume by key
        # (Cassandra) re-runs the table whole.
        pk = key_columns[0] if key_columns and self.source.resumes_by_key else None
        # Reference keys last_key by the PK column name (mysql.go:539).
        watermark = self.store.watermark(name, pk) if pk else None
        if watermark is not None and pk is not None:
            # P4-P6 resume predicate; Catalyst pushes into the scan.
            df = df.filter(F.col(pk) > F.lit(_coerce(df, pk, watermark)))

        # Raw expressions go straight to apply_transforms, which translates
        # exactly once (compile_transform). A pre-translation pass here
        # would double-translate — translate_expression is not idempotent
        # for DATE_FORMAT patterns (re-quoting every letter of the already-
        # Spark format string). When the source already pushed the
        # transforms into its own SELECT (P1 pushdown mode,
        # JDBCSource(pushdown_transforms=True)), applying them again here
        # would corrupt the data (e.g. price * 100 twice) — skip.
        if not getattr(self.source, "pushdown_transforms", False):
            df = apply_transforms(df, table.transform_map())

        if self.chunk_rows and pk is not None and _is_integral(df, pk):
            rows = self._run_chunked(df, table, pk, key_columns)
            if self.stop_event.is_set():
                # Graceful shutdown mid-table (mysql.go:357-367): the
                # reference persists the watermark with complete=false and
                # returns ctx.Err(); marking complete here would make the
                # next run skip the untransferred remainder.
                return {"rows": rows, "resumed_from": watermark, "interrupted": True}
        else:
            # S6/R9 progress denominator (mysql.go:243-249,
            # postgresql.go:312-337) without a pre-scan: the sink counts
            # the rows it writes on the write itself, and single-shot
            # progress only ever jumps from 0 to done, so the rows written
            # (those above any resume watermark) are the denominator. The
            # table is registered first, so a failed write still lists it.
            self.stats.init_table(name, 0)
            rows = self.sink.upsert(df, table, key_columns)
            self.stats.set_total(name, rows)
            self.stats.add_processed(name, rows)
            self._pace(rows)
        self.store.mark_complete(name)  # mysql.go:374-377
        return {"rows": rows, "resumed_from": watermark}

    def _run_chunked(self, df, table: TableMapping, pk: str, key_columns: list[str]) -> int:
        """PK-range chunks: each chunk is one bounded, pushdown-pruned job
        followed by a checkpoint save — resume granularity ≈ chunk size
        (SURVEY.md §7 hard-part #2). Chunk boundaries come from one
        min/max/count probe, not a per-batch MAX like mysql.go:659-661."""
        name = table.name
        bounds = df.agg(
            F.min(pk).alias("lo"), F.max(pk).alias("hi"), F.count(F.lit(1)).alias("n")
        ).collect()[0]
        if bounds["n"] == 0:
            return 0
        lo, hi, n = int(bounds["lo"]), int(bounds["hi"]), int(bounds["n"])
        n_chunks = max(1, math.ceil(n / self.chunk_rows))
        width = max(1, math.ceil((hi - lo + 1) / n_chunks))
        self.stats.init_table(name, n)
        total = 0
        for start in range(lo, hi + 1, width):
            if self.stop_event.is_set():  # mysql.go:357-367
                break
            end = start + width - 1
            chunk = df.filter((F.col(pk) >= start) & (F.col(pk) <= end))
            rows = self.sink.upsert(chunk, table, key_columns)
            total += rows
            self.stats.add_processed(name, rows)
            self._pace(rows)
            ckpt = self.store.load(name) or Checkpoint()
            ckpt.last_key[pk] = str(end)  # keyed by PK column (mysql.go:539)
            self.store.save(name, ckpt)  # R5/R7
        return total

    def _pace(self, rows: int) -> None:
        """R3 for the file sinks, between writes; a database sink has
        already paced the write itself (``write_partitions``)."""
        if not isinstance(self.sink, BatchSink):
            self.limiter.acquire(rows)


def _check_pair(config: Config, source, sink) -> None:
    """Refuse a MongoDB or Cassandra transfer to any other engine type."""
    for source_cls, sink_cls in ((MongoSource, MongoSink), (CassandraSource, CassandraSink)):
        if isinstance(source, source_cls) != isinstance(sink, sink_cls):
            raise ValueError(
                f"cannot transfer {config.source.type or 'parquet'} to "
                f"{config.destination.type or 'parquet'}: "
                "MongoDB and Cassandra copy only to their own type"
            )


def _coerce(df, column: str, value: str):
    """Checkpoint values are strings (map[string]string migration.go:31);
    coerce back to the column's type for a pushdown-friendly literal."""
    dtype = dict(df.dtypes)[column]
    if dtype in ("int", "bigint", "smallint", "tinyint"):
        return int(value)
    if dtype in ("double", "float"):
        return float(value)
    return value


def _is_integral(df, column: str) -> bool:
    return dict(df.dtypes)[column] in ("int", "bigint", "smallint", "tinyint")
