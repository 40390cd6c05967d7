"""Parquet source/sink — native format for fixtures, tests, and staging.

The reference has no file engine; this is the Spark-native analog of its
table copy: directory of ``<table>.parquet`` per table. The sink implements
the same *idempotent upsert* contract as the reference's DB writers
(SURVEY.md §2.5) via merge-by-key rewrite — the Delta-less MERGE:

    merged = target ⟕anti⟖ new  ∪  new        (new rows win on key clash)

``ParquetSink.upsert`` is the one upsert of every file sink: ORC, JSONL
and CSV (``sources/files.py``) subclass it and set only the format, the
extension and their reader/writer options.

An unpartitioned merge is written to ``<target>.__staging`` and swapped
in by :func:`replace_dir`. Every writer first runs :func:`recover_dir`,
which undoes a swap that stopped at any step, so a retried batch always
merges into the full table (the idempotence the engine's retries rely
on). The store is single-writer per table, so the sibling names are
fixed.

Scale path (100 TB): full-rewrite MERGE is O(target); when the destination
is partitioned (``partition_by``), one dynamic partition overwrite
rewrites only the partitions the incoming batch touches — the parquet
equivalent of the reference writing only the rows in the batch
(mysql.go:455-476). It reads and replaces the target in the same write:
Spark's overwrite-while-reading guard applies only to static overwrite,
and dynamic overwrite commits through its own staging directory. That
commit is Spark's, and not atomic across partitions.

The rows written are counted on the write itself: a COUNT Observation on
the ``new`` branch of the merge (``dbtransfer_spark.observe``), so an
upsert is one job wave with no separate count job, and its return value
is the engine's progress denominator. The merged output keeps the
incoming frame's column order, and puts the new rows first: Spark's file
writer always writes partition 0, so that partition carries data and a
merge never leaves a zero-row part file for the next merge to scan.

Schemas come from one parquet footer read on the driver
(:func:`read_files`), not from Spark's schema-inference job, so a merge
upsert runs two Spark jobs: the anti-join's key broadcast and the write.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from dbtransfer_spark.config import TableMapping
from dbtransfer_spark.observe import observe_count
from dbtransfer_spark.sources.base import Sink, Source


class _FileTable:
    """A table is the file or directory ``<database>/<name>.<EXT>``."""

    FORMAT = "parquet"  # any self-describing splittable columnar format
    EXT = "parquet"
    READ_OPTIONS: dict[str, str] = {}

    def _path(self, name: str) -> str:
        return os.path.join(self.cfg.database, f"{name}.{self.EXT}")


class ParquetSource(_FileTable, Source):
    def read(self, table: TableMapping) -> DataFrame:
        return read_files(self.spark, self.FORMAT, self._path(table.name), self.READ_OPTIONS)

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


class ParquetSink(_FileTable, Sink):
    WRITE_OPTIONS: dict[str, str] = {}

    def __init__(self, spark, cfg, partition_by: list[str] | None = None):
        super().__init__(spark, cfg)
        self.partition_by = partition_by or []

    def upsert(self, df: DataFrame, table: TableMapping, key_columns: list[str]) -> int:
        target = self._path(table.effective_target)
        os.makedirs(self.cfg.database, exist_ok=True)
        recover_dir(target)
        # The row count rides the write: observed on the branch that
        # carries the new rows, never on the anti-join's key side.
        new, n_new = observe_count(df, f"rows upserted into {target}")
        merged, exists = new, os.path.exists(target)
        if exists:
            # read in df's session, so the merge runs where the Observation
            # is registered (foreachBatch hands over a cloned session's frame)
            existing = read_files(df.sparkSession, self.FORMAT, target, self.READ_OPTIONS)
            if self.partition_by:
                parts = df.select(*self.partition_by).distinct()
                existing = existing.join(F.broadcast(parts), self.partition_by, "left_semi")
            merged = _merge(existing, df, new, key_columns)
        writer = merged.write.mode("overwrite").format(self.FORMAT).options(**self.WRITE_OPTIONS)
        if self.partition_by:
            writer = writer.partitionBy(*self.partition_by)
        if exists and self.partition_by:
            # rewrites only the partitions the batch touches
            writer.option("partitionOverwriteMode", "dynamic").save(target)
        else:
            writer.save(f"{target}.__staging")
            replace_dir(f"{target}.__staging", target)
        return n_new()


def replace_dir(staging: str, target: str) -> None:
    """Put ``staging`` in ``target``'s place: rename ``target`` to
    ``<target>.__old``, rename ``staging`` to ``target``, remove the old
    copy. A stop between any two steps is undone by :func:`recover_dir`."""
    old = f"{target}.__old"
    if os.path.exists(target):
        os.rename(target, old)
    os.rename(staging, target)
    _remove(old)


def recover_dir(target: str) -> None:
    """Finish or undo a :func:`replace_dir` that stopped part way, before
    a writer looks at ``target``: with no ``target``, the old copy goes
    back; with both, the old copy goes. A leftover staging dir is never
    the table, so it is always removed."""
    old = f"{target}.__old"
    if os.path.exists(old):
        if os.path.exists(target):
            _remove(old)
        else:
            os.rename(old, target)
    _remove(f"{target}.__staging")


def _remove(path: str) -> None:
    if os.path.isdir(path):
        shutil.rmtree(path)
    elif os.path.exists(path):
        os.remove(path)


def _merge(
    existing: DataFrame, df: DataFrame, new: DataFrame, key_columns: list[str]
) -> DataFrame:
    """``new`` (``df`` with its count observed), then the rows of
    ``existing`` whose key ``df`` lacks, in ``df``'s column order.

    The new rows come first so that partition 0, which Spark's file
    writer writes even when it is empty, carries data: with the target
    side first, a batch that replaces every key left a zero-row file."""
    kept = existing.join(df.select(*key_columns), key_columns, "left_anti")
    return new.unionByName(kept.select(*df.columns))


def read_files(
    spark: SparkSession, fmt: str, path: str, options: dict[str, str] | None = None
) -> DataFrame:
    """``spark.read.format(fmt).options(**options).load(path)``, minus
    Spark's schema job where it can be skipped.

    Spark infers a parquet schema with a one-task job that reads one
    footer. For a local parquet file or flat directory, with schema
    merging off, that footer is read here on the driver and converted
    by Spark's own code, so the schema is exactly the one Spark would
    infer. Every other read (ORC, remote or globbed paths, partitioned
    directories, summary files, merged schemas) is Spark's own."""
    schema = _footer_schema(spark, path) if fmt == "parquet" else None
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.format(fmt).options(**(options or {})).load(path)


def _footer_schema(spark: SparkSession, path: str) -> StructType | None:
    state = spark._jsparkSession.sessionState()
    jconf = state.conf()
    first = None if jconf.isParquetSchemaMergingEnabled() else _first_data_file(path)
    if first is None:
        return None
    jvm = spark._jvm
    pq = jvm.org.apache.spark.sql.execution.datasources.parquet
    hpath = jvm.org.apache.hadoop.fs.Path(os.path.abspath(first))
    meta = pq.ParquetFooterReader.readFooter(
        jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(hpath, state.newHadoopConf()),
        jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS,
    )
    schema = pq.ParquetFileFormat.readSchemaFromFooter(
        jvm.org.apache.parquet.hadoop.Footer(hpath, meta),
        pq.ParquetToSparkSchemaConverter(jconf),
    )
    return StructType.fromJson(json.loads(schema.asNullable().json()))


def _first_data_file(path: str) -> str | None:
    """The file Spark's non-merging inference takes the schema from: the
    path itself, or a flat directory's name-sorted first data file. None
    when the choice needs Spark's own listing: a URI or glob, a missing
    path, a subdirectory (``k=v`` partitions), a summary file, or no
    data file at all."""
    if any(c in path for c in "{}[]*?\\"):
        return None
    if os.path.isfile(path):
        return path
    if not os.path.isdir(path):
        return None
    data = []
    with os.scandir(path) as entries:
        for e in entries:
            if e.name.startswith(("_metadata", "_common_metadata")):
                return None
            if _hidden(e.name):
                continue
            if e.is_dir():
                return None
            data.append(e.name)
    return os.path.join(path, min(data)) if data else None


def _hidden(name: str) -> bool:
    """Spark's listing skips this name (HadoopFSUtils.shouldFilterOutPathName,
    summary files aside): ``_SUCCESS``, ``_temporary``, ``.crc`` files."""
    return (
        name.startswith(".")
        or (name.startswith("_") and "=" not in name)
        or name.endswith("._COPYING_")
    )


class OrcSource(ParquetSource):
    """ORC source — same self-describing columnar contract as parquet
    (schema embedded, splittable stripes, predicate pushdown + column
    pruning via the native Spark reader). Hive-ecosystem exports arrive
    as ORC; the engine treats it as a first-class table directory of
    ``<table>.orc``."""

    FORMAT = "orc"
    EXT = "orc"


class OrcSink(ParquetSink):
    """ORC sink: the parquet sink's upsert, written as ORC."""

    FORMAT = "orc"
    EXT = "orc"
