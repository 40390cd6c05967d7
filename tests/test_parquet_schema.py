"""``read_files``' parquet schema, read from one footer on the driver, is
exactly the schema Spark's own inference gives, and where the footer
read does not apply the helper is Spark's own read, job and all."""

from __future__ import annotations

import glob
import os
import shutil
from contextlib import contextmanager

import pytest

from dbtransfer_spark.sources.parquet import _hidden, read_files
from tests.conftest import SF_CORRECT, SF_SMOKE, spark_job_ids

FIXTURE_FILES = sorted(glob.glob(f"{SF_SMOKE}/*.parquet") + glob.glob(f"{SF_CORRECT}/*.parquet"))


@contextmanager
def _conf(spark, **settings):
    old = {k: spark.conf.get(k, None) for k in settings}
    for k, v in settings.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _footer_read(spark, path):
    """The helper's schema, asserting it ran no Spark job."""
    before = spark_job_ids(spark)
    schema = read_files(spark, "parquet", path).schema
    assert spark_job_ids(spark) == before, f"footer read of {path} ran a job"
    return schema


def test_footer_schema_matches_spark_on_every_fixture_table(spark):
    assert len(FIXTURE_FILES) == 20
    for path in FIXTURE_FILES:
        assert _footer_read(spark, path) == spark.read.parquet(path).schema, path


def test_footer_schema_matches_spark_on_nested_and_typed_columns(spark, tmp_path):
    path = str(tmp_path / "typed.parquet")
    spark.sql(
        """
        SELECT CAST(id AS TINYINT) AS t, CAST(id AS SMALLINT) AS s,
               CAST(id / 3 AS FLOAT) AS f, DATE'2024-01-02' + CAST(id AS INT) AS d,
               CAST(id * 1.25 AS DECIMAL(12, 2)) AS dec,
               TIMESTAMP_NTZ'2024-01-02 03:04:05' AS ntz,
               TIMESTAMP'2024-01-02 03:04:05' AS ts,
               CAST(CAST(id AS STRING) AS BINARY) AS bin,
               named_struct('a', id, 'b', CAST(id AS STRING)) AS st,
               map(CAST(id AS STRING), id) AS m,
               array(named_struct('p', id * 0.5D, 'q', 'y')) AS arr,
               'v' AS `with space`
        FROM range(6)
        """
    ).repartition(3).write.parquet(path)
    assert len(glob.glob(f"{path}/part-*")) > 1
    for binary_as_string in ("false", "true"):
        with _conf(spark, **{"spark.sql.parquet.binaryAsString": binary_as_string}):
            assert _footer_read(spark, path) == spark.read.parquet(path).schema


def test_footer_schema_matches_spark_on_a_pyarrow_file(spark, tmp_path):
    import datetime
    import decimal

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "arrow.parquet")
    table = pa.table(
        {
            "ts": pa.array([datetime.datetime(2024, 1, 2, 3, 4, 5)], pa.timestamp("us")),
            "dec": pa.array([decimal.Decimal("1.250")], pa.decimal128(10, 3)),
            "d": pa.array([datetime.date(2024, 1, 2)], pa.date32()),
            "bin": pa.array([b"\x01"], pa.binary()),
        }
    )
    pq.write_table(table, path)
    for binary_as_string in ("false", "true"):
        for infer_ntz in ("false", "true"):
            with _conf(
                spark,
                **{
                    "spark.sql.parquet.binaryAsString": binary_as_string,
                    "spark.sql.parquet.inferTimestampNTZ.enabled": infer_ntz,
                },
            ):
                assert _footer_read(spark, path) == spark.read.parquet(path).schema


def test_footer_schema_takes_the_file_spark_takes(spark, tmp_path):
    """Without schema merging Spark takes the schema of one file, the
    first by path; the footer read must pick the same one."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    narrow = pa.table({"id": [1]})
    wide = pa.table({"id": [2], "extra": ["x"]})
    for first, second in ((narrow, wide), (wide, narrow)):
        path = tmp_path / f"two_{len(first.columns)}.parquet"
        path.mkdir()
        pq.write_table(first, str(path / "part-0.parquet"))
        pq.write_table(second, str(path / "part-1.parquet"))
        spark_schema = spark.read.parquet(str(path)).schema
        assert spark_schema.names == first.column_names
        assert _footer_read(spark, str(path)) == spark_schema


def _assert_spark_read(spark, path):
    """The helper falls back to Spark's read: same schema, and Spark's
    schema job runs."""
    before = spark_job_ids(spark)
    schema = read_files(spark, "parquet", path).schema
    assert spark_job_ids(spark) - before, f"no schema job for {path}"
    assert schema == spark.read.parquet(path).schema


def test_partitioned_directory_takes_spark_read(spark, tmp_path):
    path = str(tmp_path / "parted.parquet")
    spark.range(4).selectExpr("id", "id % 2 AS p").write.partitionBy("p").parquet(path)
    _assert_spark_read(spark, path)
    assert "p" in read_files(spark, "parquet", path).columns


def test_summary_file_takes_spark_read(spark, tmp_path):
    path = str(tmp_path / "summary.parquet")
    spark.range(4).write.parquet(path)
    first = sorted(glob.glob(f"{path}/part-*.parquet"))[0]
    shutil.copy(first, os.path.join(path, "_common_metadata"))
    _assert_spark_read(spark, path)


def test_merge_schema_takes_spark_read(spark, tmp_path):
    path = str(tmp_path / "merged.parquet")
    spark.range(2).write.parquet(path)
    spark.range(2).selectExpr("id", "id AS extra").write.mode("append").parquet(path)
    with _conf(spark, **{"spark.sql.parquet.mergeSchema": "true"}):
        _assert_spark_read(spark, path)
        assert read_files(spark, "parquet", path).columns == ["id", "extra"]


def test_empty_directory_fails_like_spark(spark, tmp_path):
    from pyspark.errors import AnalysisException

    path = str(tmp_path / "empty.parquet")
    os.makedirs(path)
    with pytest.raises(AnalysisException, match="UNABLE_TO_INFER_SCHEMA"):
        spark.read.parquet(path)
    with pytest.raises(AnalysisException, match="UNABLE_TO_INFER_SCHEMA"):
        read_files(spark, "parquet", path)


def test_hidden_names_follow_spark_listing(spark):
    spark_hidden = spark._jvm.org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName
    for name in (
        "part-00000.snappy.parquet",
        ".part-00000.snappy.parquet.crc",
        "_SUCCESS",
        "_temporary",
        "_p=1",
        "p=1",
        "part-1._COPYING_",
    ):
        assert _hidden(name) == spark_hidden(name), name
