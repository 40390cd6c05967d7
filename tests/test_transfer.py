"""M1 end-to-end: parquet → transform → parquet upsert, checkpoint/resume.

Mirrors the reference's golden path (SURVEY.md §3.2) on the fixture tables:
transfer with transforms, idempotence (run twice → identical), resume
(mid-run checkpoint → rerun → identical), skip-complete.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from dbtransfer_spark.checkpoint import Checkpoint, CheckpointStore
from dbtransfer_spark.config import (
    ColumnTransformation,
    Config,
    DBConfig,
    MigrationConfig,
    TableMapping,
)
from dbtransfer_spark.engine import TransferEngine
from tests.conftest import SF_SMOKE


def make_config(tmp_path, tables) -> Config:
    cfg = Config(
        source=DBConfig(type="parquet", database=SF_SMOKE, tables=tables),
        destination=DBConfig(type="parquet", database=str(tmp_path / "out")),
        migration=MigrationConfig(checkpoint_dir=str(tmp_path / "ckpt")),
    )
    cfg.set_defaults()
    return cfg


def test_transfer_with_transforms(spark, tmp_path):
    tables = [
        TableMapping(
            name="customer",
            primary_key="c_custkey",
            column_transformations=[
                ColumnTransformation("c_name", "UPPER(c_name)"),
                ColumnTransformation("c_acctbal", "c_acctbal * 100"),
            ],
        )
    ]
    cfg = make_config(tmp_path, tables)
    engine = TransferEngine(spark, cfg)
    results = engine.run()
    assert "error" not in results["customer"], results["customer"]

    src = spark.read.parquet(f"{SF_SMOKE}/customer.parquet")
    out = spark.read.parquet(str(tmp_path / "out" / "customer.parquet"))
    assert out.count() == src.count()
    assert out.columns == src.columns
    joined = (
        src.alias("s")
        .join(out.alias("o"), "c_custkey")
        .select(
            F.max(F.col("o.c_name") == F.upper(F.col("s.c_name"))).alias("name_ok"),
            F.min(
                F.abs(F.col("o.c_acctbal") - F.col("s.c_acctbal") * 100) < 1e-9
            ).alias("bal_ok"),
        )
        .collect()[0]
    )
    assert joined["name_ok"] and joined["bal_ok"]


def test_transfer_idempotent(spark, tmp_path):
    tables = [TableMapping(name="nation", primary_key="n_nationkey")]
    cfg = make_config(tmp_path, tables)
    TransferEngine(spark, cfg).run()
    first = {r["n_nationkey"]: r for r in spark.read.parquet(str(tmp_path / "out" / "nation.parquet")).collect()}
    # Clear the completion marker so the second run actually re-transfers.
    CheckpointStore(cfg.migration.checkpoint_dir).save("nation", Checkpoint())
    TransferEngine(spark, cfg).run()
    second = {r["n_nationkey"]: r for r in spark.read.parquet(str(tmp_path / "out" / "nation.parquet")).collect()}
    assert first == second


def test_skip_complete(spark, tmp_path):
    tables = [TableMapping(name="region", primary_key="r_regionkey")]
    cfg = make_config(tmp_path, tables)
    engine = TransferEngine(spark, cfg)
    engine.run()
    results = TransferEngine(spark, cfg).run()
    assert results["region"].get("skipped") is True


def test_resume_from_watermark(spark, tmp_path):
    """Kill-mid-run analog: pre-seed a watermark, verify only pk>watermark
    rows are (re)written, and the final table equals a full transfer."""
    tables = [TableMapping(name="supplier", primary_key="s_suppkey")]
    cfg = make_config(tmp_path, tables)
    store = CheckpointStore(cfg.migration.checkpoint_dir)

    src = spark.read.parquet(f"{SF_SMOKE}/supplier.parquet")
    keys = sorted(r["s_suppkey"] for r in src.select("s_suppkey").collect())
    cut = keys[len(keys) // 2]

    # Simulate a partial run: rows ≤ cut already at destination (stale name),
    # checkpoint watermark at cut.
    partial = src.filter(F.col("s_suppkey") <= cut).withColumn("s_name", F.lit("STALE"))
    partial.write.parquet(str(tmp_path / "out" / "supplier.parquet"))
    store.save("supplier", Checkpoint(last_key={"s_suppkey": str(cut)}))

    engine = TransferEngine(spark, cfg)
    engine.run()
    # R9: the progress denominator is the rows remaining above the cut
    assert engine.stats.snapshot()["supplier"]["total"] == len([k for k in keys if k > cut])
    out = spark.read.parquet(str(tmp_path / "out" / "supplier.parquet"))
    assert out.count() == src.count()
    # Rows beyond the watermark were re-transferred fresh...
    fresh = out.filter((F.col("s_suppkey") > cut) & (F.col("s_name") == "STALE")).count()
    assert fresh == 0
    # ...and rows before it were left as the partial run wrote them.
    assert out.filter(F.col("s_name") == "STALE").count() == len([k for k in keys if k <= cut])


def test_merge_keeps_source_column_order(spark, tmp_path):
    """The merge's anti-join moves the key columns first; the upsert must
    still write lineitem's columns in the source's order."""
    cfg = make_config(tmp_path, [TableMapping(name="lineitem")])
    TransferEngine(spark, cfg).run()
    CheckpointStore(cfg.migration.checkpoint_dir).save("lineitem", Checkpoint())
    results = TransferEngine(spark, cfg).run()  # the merge path
    assert "error" not in results["lineitem"], results["lineitem"]
    src = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    out = spark.read.parquet(str(tmp_path / "out" / "lineitem.parquet"))
    assert out.columns == src.columns


def _job_ids(spark) -> set[int]:
    sc = spark.sparkContext
    # job starts reach the status tracker through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return set(sc.statusTracker().getJobIdsForGroup())


def test_single_shot_merge_transfer_job_budget(spark, tmp_path):
    """A one-table merge-path transfer is one job wave: the merge write
    counts its own rows, so no count job runs beside it."""
    name = "supplier"
    cfg = make_config(tmp_path, [TableMapping(name=name, primary_key="s_suppkey")])
    TransferEngine(spark, cfg).run()
    CheckpointStore(cfg.migration.checkpoint_dir).save(name, Checkpoint())
    before = _job_ids(spark)
    results = TransferEngine(spark, cfg).run()
    jobs = _job_ids(spark) - before
    assert "error" not in results[name], results[name]
    assert len(jobs) <= 4, sorted(jobs)


def test_single_shot_progress_needs_no_count_rows(spark, tmp_path, monkeypatch):
    """The single-shot denominator comes from the rows the sink wrote,
    never from a Source.count_rows pre-scan."""
    name = "nation"
    cfg = make_config(tmp_path, [TableMapping(name=name, primary_key="n_nationkey")])
    engine = TransferEngine(spark, cfg)

    def no_count(*_args, **_kw):
        raise AssertionError("count_rows pre-scan ran")

    monkeypatch.setattr(engine.source, "count_rows", no_count)
    results = engine.run()
    rows = spark.read.parquet(f"{SF_SMOKE}/{name}.parquet").count()
    assert results[name]["rows"] == rows
    snap = engine.stats.snapshot()[name]
    assert (snap["processed"], snap["total"]) == (rows, rows)


def test_single_shot_sink_without_counts_takes_source_count(spark, tmp_path, monkeypatch):
    """A sink that cannot count its writes (upsert returns -1, as the
    Mongo and Cassandra sinks do) leaves the denominator to the source."""
    name = "region"
    cfg = make_config(tmp_path, [TableMapping(name=name, primary_key="r_regionkey")])
    engine = TransferEngine(spark, cfg)
    monkeypatch.setattr(engine.sink, "upsert", lambda *_a: -1)
    engine.run()
    rows = spark.read.parquet(f"{SF_SMOKE}/{name}.parquet").count()
    snap = engine.stats.snapshot()[name]
    assert (snap["processed"], snap["total"]) == (0, rows)


def test_single_shot_failed_write_still_lists_the_table(spark, tmp_path, monkeypatch):
    """A table whose upsert raises is still in the stats, with nothing
    processed, so the CLI's final stats name every failed table."""
    name = "region"
    cfg = make_config(tmp_path, [TableMapping(name=name, primary_key="r_regionkey")])
    engine = TransferEngine(spark, cfg)

    def failing_upsert(*_args):
        raise RuntimeError("sink down")

    monkeypatch.setattr(engine.sink, "upsert", failing_upsert)
    results = engine.run()
    assert results[name] == {"error": "sink down"}
    snap = engine.stats.snapshot()[name]
    assert (snap["processed"], snap["total"]) == (0, 0)
    assert not engine.store.is_complete(name)


def test_chunked_transfer_matches_single_shot(spark, tmp_path):
    tables = [TableMapping(name="orders", primary_key="o_orderkey")]
    cfg = make_config(tmp_path, tables)
    engine = TransferEngine(spark, cfg, chunk_rows=400)
    results = engine.run()
    assert "error" not in results["orders"], results["orders"]
    src = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    out = spark.read.parquet(str(tmp_path / "out" / "orders.parquet"))
    assert out.count() == src.count()
    assert out.exceptAll(src).count() == 0


def test_upsert_overwrites_by_key(spark, tmp_path):
    from dbtransfer_spark.sources.parquet import ParquetSink

    dest = DBConfig(type="parquet", database=str(tmp_path / "up"))
    sink = ParquetSink(spark, dest)
    t = TableMapping(name="region")
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k int, v string"
    )
    sink.upsert(base, t, ["k"])
    update = spark.createDataFrame([(2, "B"), (4, "d")], "k int, v string")
    sink.upsert(update, t, ["k"])
    rows = {
        r["k"]: r["v"]
        for r in spark.read.parquet(str(tmp_path / "up" / "region.parquet")).collect()
    }
    assert rows == {1: "a", 2: "B", 3: "c", 4: "d"}


def test_partitioned_upsert_rewrites_only_affected_partitions(spark, tmp_path):
    """partition_by upsert: dynamic partition overwrite must merge by key
    inside touched partitions and leave untouched partitions' files alone
    (and not trip Spark's overwrite-while-reading guard)."""
    import os

    from dbtransfer_spark.sources.parquet import ParquetSink

    dest = DBConfig(type="parquet", database=str(tmp_path / "up"))
    sink = ParquetSink(spark, dest, partition_by=["p"])
    t = TableMapping(name="events")
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 30)], "k int, p string, v int"
    )
    sink.upsert(base, t, ["k"])
    target = str(tmp_path / "up" / "events.parquet")
    b_files_before = sorted(os.listdir(os.path.join(target, "p=b")))

    update = spark.createDataFrame([(2, "a", 99), (4, "c", 40)], "k int, p string, v int")
    sink.upsert(update, t, ["k"])

    rows = {
        r["k"]: (r["p"], r["v"]) for r in spark.read.parquet(target).collect()
    }
    assert rows == {1: ("a", 10), 2: ("a", 99), 3: ("b", 30), 4: ("c", 40)}
    # untouched partition p=b still has its original files
    assert sorted(os.listdir(os.path.join(target, "p=b"))) == b_files_before
    assert not [d for d in os.listdir(str(tmp_path / "up")) if "__staging" in d]


def test_concurrent_multi_table_transfer(spark, tmp_path):
    """R1: several tables transferred concurrently through the worker pool
    (goroutine-per-table analog, mysql.go:156-169)."""
    tables = [
        TableMapping(name=n, primary_key=pk)
        for n, pk in [
            ("region", "r_regionkey"),
            ("nation", "n_nationkey"),
            ("supplier", "s_suppkey"),
            ("part", "p_partkey"),
            ("customer", "c_custkey"),
        ]
    ]
    cfg = make_config(tmp_path, tables)
    results = TransferEngine(spark, cfg).run()
    assert all("error" not in r for r in results.values()), results
    for t in tables:
        src = spark.read.parquet(f"{SF_SMOKE}/{t.name}.parquet")
        out = spark.read.parquet(str(tmp_path / "out" / f"{t.name}.parquet"))
        assert out.count() == src.count()


def test_date_format_transform_end_to_end(spark, tmp_path):
    """The reference's documented DATE_FORMAT example (configs/config.yaml)
    must survive the engine path intact — a second translation pass would
    quote every letter of the already-translated pattern and emit literal
    'yyyy'-style garbage instead of formatted dates."""
    tables = [
        TableMapping(
            name="orders",
            primary_key="o_orderkey",
            column_transformations=[
                ColumnTransformation("o_comment", "DATE_FORMAT(o_orderdate, '%Y-%m-%d')"),
            ],
        )
    ]
    cfg = make_config(tmp_path, tables)
    results = TransferEngine(spark, cfg).run()
    assert "error" not in results["orders"], results["orders"]
    out = spark.read.parquet(str(tmp_path / "out" / "orders.parquet"))
    src = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    expect = src.select(
        "o_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("e")
    )
    bad = (
        out.alias("o")
        .join(expect.alias("x"), "o_orderkey")
        .filter(F.col("o.o_comment") != F.col("x.e"))
        .count()
    )
    assert bad == 0


def test_interrupted_transfer_not_marked_complete(spark, tmp_path):
    """R10: a graceful shutdown mid-table must leave the checkpoint
    resumable (complete=false), not mark the table done — otherwise the
    next run silently skips the untransferred remainder (mysql.go:357-367
    saves the watermark and returns ctx.Err())."""
    tables = [TableMapping(name="orders", primary_key="o_orderkey")]
    cfg = make_config(tmp_path, tables)
    engine = TransferEngine(spark, cfg, chunk_rows=400)
    engine.shutdown()  # stop before any chunk: all rows remain untransferred
    results = engine.run()
    assert results["orders"].get("interrupted") is True
    store = CheckpointStore(cfg.migration.checkpoint_dir)
    assert not store.is_complete("orders")
    # a fresh run (no stop signal) finishes the table
    results2 = TransferEngine(spark, cfg, chunk_rows=400).run()
    assert "error" not in results2["orders"]
    src = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    out = spark.read.parquet(str(tmp_path / "out" / "orders.parquet"))
    assert out.count() == src.count()
    assert store.is_complete("orders")


def test_missing_source_table_errors(spark, tmp_path):
    """S7 existence probe: missing source table is a per-table error, not a
    crash of the whole run."""
    cfg = make_config(tmp_path, [TableMapping(name="nope", primary_key="x")])
    results = TransferEngine(spark, cfg).run()
    assert "does not exist" in results["nope"]["error"]


def test_pushdown_source_transforms_not_applied_twice(spark, tmp_path):
    """P1 pushdown mode: when the source declares pushdown_transforms
    (it already evaluated the expressions in its own SELECT), the engine
    must NOT re-apply them — doubling price*100 silently corrupts data."""
    tables = [
        TableMapping(
            name="customer",
            primary_key="c_custkey",
            column_transformations=[
                ColumnTransformation("c_acctbal", "c_acctbal * 100"),
            ],
        )
    ]
    cfg = make_config(tmp_path, tables)
    engine = TransferEngine(spark, cfg)
    # Simulate a source that pushed the transform down already (the JDBC
    # pushdown path evaluates it server-side; parquet stands in here).
    engine.source.pushdown_transforms = True
    engine.run()

    out = spark.read.parquet(str(tmp_path / "out" / "customer.parquet"))
    src = spark.read.parquet(f"{SF_SMOKE}/customer.parquet")
    # Engine skipped apply_transforms → values untouched (the "source"
    # would have produced them already); crucially NOT multiplied again.
    got = out.agg(F.sum("c_acctbal")).collect()[0][0]
    want = src.agg(F.sum("c_acctbal")).collect()[0][0]
    assert got == pytest.approx(want)


def test_optimize_layout_clusters_and_is_idempotent(spark, tmp_path):
    """Ingest re-layout: files cover disjoint PK ranges (tight parquet
    min/max → keyset scans skip files), and a rerun touches nothing."""
    import os

    import pyarrow.parquet as pq

    from dbtransfer_spark.catalog import optimize_layout

    cache = str(tmp_path / "cache")
    optimize_layout(spark, SF_SMOKE, cache, names=("lineitem",), target_partitions=4, min_bytes=0)
    d = os.path.join(cache, "lineitem.parquet")
    parts = sorted(
        f for f in os.listdir(d) if f.endswith(".parquet") and not f.startswith("_")
    )
    ranges = []
    for f in parts:
        md = pq.read_metadata(os.path.join(d, f))
        col = next(
            i for i in range(len(md.schema))
            if md.schema.column(i).name == "l_orderkey"
        )
        stats = [md.row_group(r).column(col).statistics for r in range(md.num_row_groups)]
        ranges.append((min(s.min for s in stats), max(s.max for s in stats)))
    ranges.sort()
    assert len(ranges) >= 2
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint key ranges across files

    # Idempotent: rerun leaves every file untouched.
    mtimes = {f: os.path.getmtime(os.path.join(d, f)) for f in parts}
    optimize_layout(spark, SF_SMOKE, cache, names=("lineitem",), target_partitions=4, min_bytes=0)
    assert {f: os.path.getmtime(os.path.join(d, f)) for f in parts} == mtimes


def test_schema_evolution_mergeschema_read(spark, tmp_path):
    """Lake schema evolution: after a new column appears in later
    partitions, mergeSchema reads the union schema and back-fills nulls
    for old files — the contract a long-lived 100 TB table depends on
    (per-file schemas stay heterogeneous; no rewrite of history)."""
    import pyspark.sql.functions as F

    old = spark.range(5).select(F.col("id").alias("k"), F.lit("a").alias("v1"))
    old.write.parquet(str(tmp_path / "t" / "batch=1"))
    new = spark.range(5, 8).select(
        F.col("id").alias("k"), F.lit("b").alias("v1"), F.lit(1.5).alias("v2")
    )
    new.write.parquet(str(tmp_path / "t" / "batch=2"))

    df = spark.read.option("mergeSchema", "true").parquet(str(tmp_path / "t"))
    assert set(df.columns) == {"k", "v1", "v2", "batch"}
    rows = {r["k"]: (r["v1"], r["v2"]) for r in df.collect()}
    assert rows[0] == ("a", None)   # old files: evolved column null-filled
    assert rows[7] == ("b", 1.5)
    assert df.filter(F.col("v2").isNull()).count() == 5
