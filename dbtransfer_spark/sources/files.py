"""JSONL / CSV file connectors — the ingest formats of a training-data
pipeline (web-crawl dumps, label exports, log shards arrive as JSONL/CSV
long before they are parquet).

The reference speaks only database wire protocols; on Spark the native
DataSource readers give these formats the same first-class treatment:
schema-on-read with explicit StructType, malformed-record CAPTURE instead
of job failure (``PERMISSIVE`` + ``columnNameOfCorruptRecord``), and
pushdown-friendly column pruning. The source and sink are the parquet
ones (``sources/parquet.py``) with a format, an extension and reader/
writer options: one merge-by-key upsert (SURVEY.md §2.5), staged and
swapped in by the same recoverable directory swap. The JSONL sink
writes null fields, so a column that is null in every stored row keeps
its place in the inferred target schema.

Scale notes: JSONL/CSV are splittable (uncompressed / bzip2), so a
100 TB dump parallelizes by HDFS block without any driver-side work;
schema is supplied explicitly (inference would scan the corpus twice).
Corrupt rows stay in-partition — capturing them costs nothing beyond the
extra string column, versus a re-read under FAILFAST.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dbtransfer_spark.config import TableMapping
from dbtransfer_spark.sources.parquet import ParquetSink, ParquetSource, read_files

CORRUPT_COL = "_corrupt_record"
_CSV_READ = {"header": "true", "inferSchema": "true"}


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
    return _read_permissive(spark, "json", path, schema, capture_corrupt)


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
    return _read_permissive(
        spark, "csv", path, schema, capture_corrupt, header=str(header).lower(), sep=sep
    )


def _read_permissive(
    spark: SparkSession,
    fmt: str,
    path: str,
    schema: T.StructType,
    capture_corrupt: bool = True,
    **options: str,
) -> DataFrame:
    if capture_corrupt and CORRUPT_COL not in schema.fieldNames():
        schema = T.StructType(
            list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType())]
        )
    return (
        spark.read.schema(schema)
        .format(fmt)
        .options(mode="PERMISSIVE", columnNameOfCorruptRecord=CORRUPT_COL, **options)
        .load(path)
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


class _FileSource(ParquetSource):
    """Reads with malformed-row capture; ``read`` is the clean half of
    :meth:`read_with_quarantine`. The schema is inferred from the file,
    which suits fixtures and CLI smoke runs; the scale path passes an
    explicit schema to :func:`read_jsonl` / :func:`read_csv`."""

    def read(self, table: TableMapping) -> DataFrame:
        return self.read_with_quarantine(table)[0]

    def read_with_quarantine(
        self, table: TableMapping
    ) -> tuple[DataFrame, DataFrame]:
        path = self._path(table.name)
        schema = read_files(self.spark, self.FORMAT, path, self.READ_OPTIONS).schema
        return split_corrupt(
            _read_permissive(self.spark, self.FORMAT, path, schema, **self.READ_OPTIONS)
        )


class JsonlSource(_FileSource):
    FORMAT = "json"
    EXT = "jsonl"


class CsvSource(_FileSource):
    FORMAT = "csv"
    EXT = "csv"
    READ_OPTIONS = _CSV_READ


class JsonlSink(ParquetSink):
    FORMAT = "json"
    EXT = "jsonl"
    WRITE_OPTIONS = {"ignoreNullFields": "false"}


class CsvSink(ParquetSink):
    FORMAT = "csv"
    EXT = "csv"
    READ_OPTIONS = _CSV_READ
    WRITE_OPTIONS = {"header": "true"}
