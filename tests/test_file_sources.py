"""JSONL/CSV connector e2e: permissive read with corrupt-line quarantine,
engine transfer jsonl → parquet, idempotent jsonl upsert sink."""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
from pyspark.sql import types as T

from dbtransfer_spark.config import Config, DBConfig, MigrationConfig, TableMapping
from dbtransfer_spark.engine import TransferEngine
from dbtransfer_spark.sources import files as fsrc

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("score", T.DoubleType()),
    ]
)


def _write_jsonl(path, rows, corrupt_lines=()):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
        for line in corrupt_lines:
            f.write(line + "\n")


def test_jsonl_read_quarantines_corrupt_lines(spark, tmp_path):
    p = str(tmp_path / "t.jsonl")
    rows = [{"id": i, "name": f"n{i}", "score": i / 2} for i in range(10)]
    _write_jsonl(p, rows, corrupt_lines=['{"id": broken', "not json at all"])

    df = fsrc.read_jsonl(spark, p, SCHEMA)
    clean, bad = fsrc.split_corrupt(df)
    assert clean.count() == 10
    assert bad.count() == 2
    # corrupt rows keep the raw line for forensics
    raw = {r[fsrc.CORRUPT_COL] for r in bad.collect()}
    assert '{"id": broken' in raw
    # clean side has no corrupt column and full fidelity
    assert fsrc.CORRUPT_COL not in clean.columns
    assert clean.agg(F.sum("id")).first()[0] == sum(range(10))


def test_csv_read_quarantines_malformed_rows(spark, tmp_path):
    p = str(tmp_path / "t.csv")
    with open(p, "w") as f:
        f.write("id,name,score\n")
        for i in range(5):
            f.write(f"{i},n{i},{i/2}\n")
        f.write("oops,not_a_long,xyz\n")

    df = fsrc.read_csv(spark, p, SCHEMA)
    clean, bad = fsrc.split_corrupt(df)
    assert clean.count() == 5
    assert bad.count() == 1


def test_engine_transfers_jsonl_to_parquet(spark, tmp_path):
    src_dir = tmp_path / "src"
    os.makedirs(src_dir)
    rows = [{"id": i, "name": f"n{i}", "score": float(i)} for i in range(50)]
    _write_jsonl(str(src_dir / "t.jsonl"), rows)

    cfg = Config(
        source=DBConfig(
            type="jsonl",
            database=str(src_dir),
            tables=[TableMapping(name="t", primary_key="id")],
        ),
        destination=DBConfig(type="parquet", database=str(tmp_path / "out")),
        migration=MigrationConfig(checkpoint_dir=str(tmp_path / "ckpt")),
    )
    cfg.set_defaults()
    results = TransferEngine(spark, cfg).run()
    assert "error" not in results["t"], results["t"]
    out = spark.read.parquet(str(tmp_path / "out" / "t.parquet"))
    assert out.count() == 50
    assert set(out.columns) == {"id", "name", "score"}


def test_jsonl_sink_upsert_is_idempotent_and_merges(spark, tmp_path):
    cfg = DBConfig(type="jsonl", database=str(tmp_path / "dst"))
    sink = fsrc.JsonlSink(spark, cfg)
    tm = TableMapping(name="t")

    d1 = spark.createDataFrame(
        [(1, "a"), (2, "b")], T.StructType(
            [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
        )
    )
    sink.upsert(d1, tm, ["id"])
    # overlapping batch: id=2 updated, id=3 new
    d2 = spark.createDataFrame(
        [(2, "B"), (3, "c")], d1.schema
    )
    sink.upsert(d2, tm, ["id"])
    got = {
        (r["id"], r["v"])
        for r in spark.read.json(str(tmp_path / "dst" / "t.jsonl")).collect()
    }
    assert got == {(1, "a"), (2, "B"), (3, "c")}
    # idempotence: replay the same batch → unchanged
    sink.upsert(d2, tm, ["id"])
    again = {
        (r["id"], r["v"])
        for r in spark.read.json(str(tmp_path / "dst" / "t.jsonl")).collect()
    }
    assert again == got


def test_jsonl_sink_keeps_a_column_null_in_every_stored_row(spark, tmp_path):
    """A column null in every stored row stays in the target's inferred
    schema, so a later batch's values for it are merged, not dropped."""
    sink = fsrc.JsonlSink(spark, DBConfig(type="jsonl", database=str(tmp_path)))
    tm = TableMapping(name="t")
    schema = "id long, note string"
    sink.upsert(spark.createDataFrame([(1, None), (2, None)], schema), tm, ["id"])
    sink.upsert(spark.createDataFrame([(2, "set"), (3, "new")], schema), tm, ["id"])
    got = {(r["id"], r["note"]) for r in spark.read.json(str(tmp_path / "t.jsonl")).collect()}
    assert got == {(1, None), (2, "set"), (3, "new")}


def test_engine_transfers_orc_roundtrip(spark, tmp_path):
    """ORC source → engine → ORC sink, then an overlapping second batch:
    the merge-by-key upsert contract must hold format-independently."""
    from dbtransfer_spark.sources.parquet import OrcSink, OrcSource

    src_dir = tmp_path / "src"
    os.makedirs(src_dir)
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    spark.createDataFrame(
        [(i, f"n{i}", float(i)) for i in range(50)], schema
    ).write.mode("overwrite").orc(str(src_dir / "t.orc"))

    cfg = Config(
        source=DBConfig(
            type="orc",
            database=str(src_dir),
            tables=[TableMapping(name="t", primary_key="id")],
        ),
        destination=DBConfig(type="orc", database=str(tmp_path / "out")),
        migration=MigrationConfig(checkpoint_dir=str(tmp_path / "ckpt")),
    )
    cfg.set_defaults()
    results = TransferEngine(spark, cfg).run()
    assert "error" not in results["t"], results["t"]
    out = spark.read.orc(str(tmp_path / "out" / "t.orc"))
    assert out.count() == 50
    assert set(out.columns) == {"id", "name", "score"}

    # overlapping upsert straight through the sink
    sink = OrcSink(spark, DBConfig(type="orc", database=str(tmp_path / "out")))
    batch = spark.createDataFrame([(1, "UPDATED", 1.0), (50, "new", 50.0)], schema)
    sink.upsert(batch, TableMapping(name="t"), ["id"])
    got = spark.read.orc(str(tmp_path / "out" / "t.orc"))
    assert got.count() == 51
    assert got.filter("id = 1").first()["name"] == "UPDATED"

    # source class reads what the sink wrote
    src = OrcSource(spark, DBConfig(type="orc", database=str(tmp_path / "out")))
    assert src.table_exists(TableMapping(name="t"))
    assert src.read(TableMapping(name="t")).count() == 51
    assert src.detect_primary_key(TableMapping(name="t", primary_key="id")) == ["id"]
