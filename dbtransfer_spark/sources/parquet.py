"""Parquet source/sink — native format for fixtures, tests, and staging.

The reference has no file engine; this is the Spark-native analog of its
table copy: directory of ``<table>.parquet`` per table. The sink implements
the same *idempotent upsert* contract as the reference's DB writers
(SURVEY.md §2.5) via merge-by-key rewrite — the Delta-less MERGE:

    merged = target ⟕anti⟖ new  ∪  new        (new rows win on key clash)

Scale path (100 TB): full-rewrite MERGE is O(target); when the destination
is partitioned (``partition_by``), we use dynamic partition overwrite so
only partitions actually touched by the incoming batch are rewritten —
the parquet equivalent of the reference writing only the rows in the batch
(mysql.go:455-476). Combined with a PK-range chunked transfer this bounds
each commit's write amplification.

The rows written are counted on the write itself: a COUNT Observation on
the ``new`` branch of the merge (``dbtransfer_spark.observe``), so an
upsert is one job wave with no separate count job, and its return value
is the engine's progress denominator. The merged output keeps the
incoming frame's column order.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dbtransfer_spark.config import TableMapping
from dbtransfer_spark.observe import observe_count
from dbtransfer_spark.sources.base import Sink, Source


class ParquetSource(Source):
    FORMAT = "parquet"  # any self-describing splittable columnar format
    EXT = "parquet"

    def _path(self, name: str) -> str:
        return os.path.join(self.cfg.database, f"{name}.{self.EXT}")

    def read(self, table: TableMapping) -> DataFrame:
        return self.spark.read.format(self.FORMAT).load(self._path(table.name))

    def detect_primary_key(self, table: TableMapping) -> list[str]:
        if table.primary_key:
            return [c.strip() for c in table.primary_key.split(",")]
        # Parquet has no key catalog (unlike C1-C3); fall back to the
        # fixture convention: first column is the key.
        from dbtransfer_spark.catalog import PRIMARY_KEYS

        if table.name in PRIMARY_KEYS:
            return list(PRIMARY_KEYS[table.name])
        return [self.read(table).columns[0]]

    def table_exists(self, table: TableMapping) -> bool:
        return os.path.exists(self._path(table.name))


class ParquetSink(Sink):
    FORMAT = "parquet"
    EXT = "parquet"

    def __init__(self, spark, cfg, partition_by: list[str] | None = None):
        super().__init__(spark, cfg)
        self.partition_by = partition_by or []

    def _path(self, name: str) -> str:
        return os.path.join(self.cfg.database, f"{name}.{self.EXT}")

    def upsert(self, df: DataFrame, table: TableMapping, key_columns: list[str]) -> int:
        target = self._path(table.effective_target)
        os.makedirs(self.cfg.database, exist_ok=True)
        # The row count rides the write: observed on the branch that
        # carries the new rows, never on the anti-join's key side.
        new, n_new = observe_count(df, f"rows upserted into {target}")
        if not os.path.exists(target):
            writer = new.write.mode("overwrite")
            if self.partition_by:
                writer = writer.partitionBy(*self.partition_by)
            writer.format(self.FORMAT).save(target)
            return n_new()
        # read in df's session, so the merge runs where the Observation
        # is registered (foreachBatch hands over a cloned session's frame)
        existing = df.sparkSession.read.format(self.FORMAT).load(target)
        if self.partition_by:
            # Rewrite only affected partitions (dynamic overwrite). The
            # merged batch is staged to a scratch dir first: Spark's file
            # sink refuses to overwrite a path that one of its own inputs
            # is lazily reading from ('Cannot overwrite a path that is
            # also being read from'), so the dynamic-overwrite pass reads
            # the staged copy, never `target` itself.
            parts = df.select(*self.partition_by).distinct()
            affected = existing.join(F.broadcast(parts), self.partition_by, "left_semi")
            merged = _merge(affected, df, new, key_columns)
            tmp = f"{target}.__staging_{uuid.uuid4().hex[:8]}"
            merged.write.mode("overwrite").format(self.FORMAT).save(tmp)
            try:
                (
                    self.spark.read.format(self.FORMAT).load(tmp)
                    .write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy(*self.partition_by)
                    .format(self.FORMAT)
                    .save(target)
                )
            finally:
                shutil.rmtree(tmp, ignore_errors=True)
            return n_new()
        merged = _merge(existing, df, new, key_columns)
        # Cannot overwrite a path while lazily reading it: stage then swap.
        tmp = f"{target}.__staging_{uuid.uuid4().hex[:8]}"
        merged.write.mode("overwrite").format(self.FORMAT).save(tmp)
        old = f"{target}.__old_{uuid.uuid4().hex[:8]}"
        os.replace(target, old) if os.path.isfile(target) else shutil.move(target, old)
        shutil.move(tmp, target)
        shutil.rmtree(old, ignore_errors=True)
        return n_new()


def _merge(
    existing: DataFrame, df: DataFrame, new: DataFrame, key_columns: list[str]
) -> DataFrame:
    """Rows of ``existing`` whose key ``df`` lacks, plus ``new`` (``df``
    with its count observed), in ``df``'s column order: the anti-join
    moves the key columns first, and ``unionByName`` keeps its left
    side's order."""
    kept = existing.join(df.select(*key_columns), key_columns, "left_anti")
    return kept.select(*df.columns).unionByName(new)


class OrcSource(ParquetSource):
    """ORC source — same self-describing columnar contract as parquet
    (schema embedded, splittable stripes, predicate pushdown + column
    pruning via the native Spark reader). Hive-ecosystem exports arrive
    as ORC; the engine treats it as a first-class table directory of
    ``<table>.orc``."""

    FORMAT = "orc"
    EXT = "orc"


class OrcSink(ParquetSink):
    """ORC sink with the identical idempotent merge-by-key upsert and
    dynamic-partition-overwrite scale path as the parquet sink."""

    FORMAT = "orc"
    EXT = "orc"
