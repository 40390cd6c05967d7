"""Bounded read of an observed row count (dbtransfer_spark.observe)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbtransfer_spark import observe
from dbtransfer_spark.observe import observe_count


def test_observed_count_rides_the_action(spark, tmp_path):
    df, n_rows = observe_count(spark.range(1234), "probe rows")
    df.write.parquet(str(tmp_path / "out"))
    assert n_rows() == 1234


def test_observed_count_without_action_times_out_by_name(spark, monkeypatch):
    monkeypatch.setattr(observe, "OBSERVATION_TIMEOUT_S", 0.2)
    _df, n_rows = observe_count(spark.range(10), "never-run rows")
    with pytest.raises(TimeoutError, match="never-run rows"):
        n_rows()


def test_observed_count_falls_back_when_the_action_skips_it(spark):
    """Adaptive execution drops a join's side once the other proves
    empty, so the action never runs the cached, observed frame; the
    reader then counts that frame itself, through the caller's cache,
    so no action computes the frame's rows a second time."""
    evaluated = spark.sparkContext.accumulator(0)

    def keep(_id):
        evaluated.add(1)
        return True

    rows = spark.range(1000).filter(F.udf(keep, "boolean")("id"))
    df, n_rows = observe_count(rows, "cached rows")
    df = df.persist()
    try:
        empty = spark.range(10).filter("id > 100").repartition(4, "id")
        assert df.join(empty, "id").count() == 0
        assert n_rows() == 1000
        assert df.count() == 1000  # a later action over the cache
        assert evaluated.value == 1000
    finally:
        df.unpersist()
