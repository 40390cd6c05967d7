"""JSONL / CSV file connectors — the ingest formats of a training-data
pipeline (web-crawl dumps, label exports, log shards arrive as JSONL/CSV
long before they are parquet).

The reference speaks only database wire protocols; on Spark the native
DataSource readers give these formats the same first-class treatment:
schema-on-read with explicit StructType, malformed-record CAPTURE instead
of job failure (``PERMISSIVE`` + ``columnNameOfCorruptRecord``), and
pushdown-friendly column pruning. The sinks implement the same
idempotent merge-by-key upsert contract as the parquet sink
(SURVEY.md §2.5): anti-join the existing rows on key, union the batch,
stage to a scratch path, atomic directory swap.

Scale notes: JSONL/CSV are splittable (uncompressed / bzip2), so a
100 TB dump parallelizes by HDFS block without any driver-side work;
schema is supplied explicitly (inference would scan the corpus twice).
Corrupt rows stay in-partition — capturing them costs nothing beyond the
extra string column, versus a re-read under FAILFAST.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dbtransfer_spark.config import TableMapping
from dbtransfer_spark.observe import observe_count
from dbtransfer_spark.sources.base import Sink, Source

CORRUPT_COL = "_corrupt_record"


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    capture_corrupt: bool = True,
) -> DataFrame:
    """Schema-on-read JSONL with malformed-line capture.

    The schema is REQUIRED (inference is a full extra pass over the
    data — never acceptable at 100 TB) and is augmented with the corrupt
    column so bad lines surface as rows with every data field null and
    the raw line preserved, instead of failing the job or silently
    dropping (Spark's default PERMISSIVE without the column loses the
    original line)."""
    full = schema
    if capture_corrupt and CORRUPT_COL not in schema.fieldNames():
        full = T.StructType(
            list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType())]
        )
    return (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = True,
    sep: str = ",",
    capture_corrupt: bool = True,
) -> DataFrame:
    """Schema-on-read CSV with malformed-row capture (same contract as
    :func:`read_jsonl`)."""
    full = schema
    if capture_corrupt and CORRUPT_COL not in schema.fieldNames():
        full = T.StructType(
            list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType())]
        )
    return (
        spark.read.schema(full)
        .option("header", str(header).lower())
        .option("sep", sep)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .csv(path)
    )


def split_corrupt(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(clean_rows_without_corrupt_col, corrupt_rows) — the standard
    quarantine split run right after a permissive read.

    The parsed frame is cached first: Spark refuses plans that reference
    ONLY the corrupt column of a raw file scan
    (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN — the pruned
    re-parse couldn't know which rows were corrupt), and caching is the
    documented contract. It is also what you want operationally: the
    split always consumes BOTH sides (clean rows forward, quarantine to
    the dead-letter sink), so the cache converts two full parses of the
    raw text into one."""
    if CORRUPT_COL not in df.columns:
        return df, df.limit(0)
    df = df.cache()
    clean = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    bad = df.filter(F.col(CORRUPT_COL).isNotNull())
    return clean, bad


def _infer_schema_from_sample(spark: SparkSession, path: str, fmt: str):
    """Fixture-scale fallback when no schema is configured: infer from
    the file. Only reached in tests/CLI smoke paths — the scale path
    always configures an explicit schema."""
    if fmt == "jsonl":
        return spark.read.json(path).schema
    return spark.read.option("header", "true").option(
        "inferSchema", "true"
    ).csv(path).schema


class _FileSource(Source):
    FMT = "jsonl"
    EXT = "jsonl"

    def _path(self, name: str) -> str:
        return os.path.join(self.cfg.database, f"{name}.{self.EXT}")

    def _schema(self, table: TableMapping):
        return _infer_schema_from_sample(
            self.spark, self._path(table.name), self.FMT
        )

    def read(self, table: TableMapping) -> DataFrame:
        path = self._path(table.name)
        schema = self._schema(table)
        if self.FMT == "jsonl":
            df = read_jsonl(self.spark, path, schema)
        else:
            df = read_csv(self.spark, path, schema)
        clean, _ = split_corrupt(df)
        return clean

    def read_with_quarantine(
        self, table: TableMapping
    ) -> tuple[DataFrame, DataFrame]:
        path = self._path(table.name)
        schema = self._schema(table)
        if self.FMT == "jsonl":
            df = read_jsonl(self.spark, path, schema)
        else:
            df = read_csv(self.spark, path, schema)
        return split_corrupt(df)

    def detect_primary_key(self, table: TableMapping) -> list[str]:
        if table.primary_key:
            return [c.strip() for c in table.primary_key.split(",")]
        from dbtransfer_spark.catalog import PRIMARY_KEYS

        if table.name in PRIMARY_KEYS:
            return list(PRIMARY_KEYS[table.name])
        return [self.read(table).columns[0]]

    def table_exists(self, table: TableMapping) -> bool:
        return os.path.exists(self._path(table.name))


class JsonlSource(_FileSource):
    FMT = "jsonl"
    EXT = "jsonl"


class CsvSource(_FileSource):
    FMT = "csv"
    EXT = "csv"


class _FileSink(Sink):
    FMT = "json"
    EXT = "jsonl"

    def _path(self, name: str) -> str:
        return os.path.join(self.cfg.database, f"{name}.{self.EXT}")

    def _write(self, df: DataFrame, path: str) -> None:
        w = df.write.mode("overwrite")
        if self.FMT == "csv":
            w = w.option("header", "true")
        getattr(w, "json" if self.FMT == "json" else "csv")(path)

    def _read(self, spark: SparkSession, path: str) -> DataFrame:
        if self.FMT == "json":
            return spark.read.json(path)
        return (
            spark.read.option("header", "true")
            .option("inferSchema", "true")
            .csv(path)
        )

    def upsert(
        self, df: DataFrame, table: TableMapping, key_columns: list[str]
    ) -> int:
        target = self._path(table.effective_target)
        os.makedirs(self.cfg.database, exist_ok=True)
        # the row count rides the write, observed on the new rows' branch
        new, n_new = observe_count(df, f"rows upserted into {target}")
        if not os.path.exists(target):
            self._write(new, target)
            return n_new()
        # in df's session, where the Observation is registered
        existing = self._read(df.sparkSession, target)
        kept = existing.join(
            df.select(*key_columns).distinct(), key_columns, "left_anti"
        )
        merged = kept.select(*existing.columns).unionByName(
            new.select(*existing.columns), allowMissingColumns=True
        )
        staging = target + f".staging-{uuid.uuid4().hex[:8]}"
        self._write(merged, staging)
        shutil.rmtree(target)
        os.rename(staging, target)
        return n_new()


class JsonlSink(_FileSink):
    FMT = "json"
    EXT = "jsonl"


class CsvSink(_FileSink):
    FMT = "csv"
    EXT = "csv"
