"""Unit tests for the custom (non-Catalyst) pieces — SURVEY.md §5.4:
transform dialect translation, upsert SQL generation, DDL generation,
checkpoint store semantics, config defaults parity, CLI autodetect."""

from __future__ import annotations

import json
import os
import threading

import pytest
from pyspark.sql import types as T

from dbtransfer_spark.checkpoint import Checkpoint, CheckpointStore
from dbtransfer_spark.cli import autodetect_type
from dbtransfer_spark.config import Config, load_config
from dbtransfer_spark.governance import RateLimiter
from dbtransfer_spark.sources import ddl
from dbtransfer_spark.sources.jdbc import mysql_upsert_sql, postgres_upsert_sql, read_options
from dbtransfer_spark.sources.mongodb import connection_uri, upsert_models
from dbtransfer_spark.transforms import (
    TransformError,
    translate_expression,
    translate_format_string,
    validate_expression,
)


# -- transform dialect ------------------------------------------------------


def test_translate_date_format():
    out = translate_expression("DATE_FORMAT(create_time, '%Y-%m-%d')")
    assert out == "DATE_FORMAT(create_time, 'yyyy-MM-dd')"


def test_translate_format_tokens():
    assert translate_format_string("%Y-%m-%d %H:%i:%s") == "yyyy-MM-dd HH:mm:ss"
    assert translate_format_string("%d/%b/%Y") == "dd/MMM/yyyy"


def test_translate_passthrough():
    for expr in ("UPPER(name)", "price * 100", "CONCAT('Status: ', status)"):
        assert translate_expression(expr) == expr


def test_translate_ifnull_now():
    assert translate_expression("IFNULL(a, 0) + 1") == "coalesce(a, 0) + 1"
    assert translate_expression("NOW()") == "current_timestamp()"


def test_validate_denies_ddl():
    # postgresql.go:780-799 deny-list parity
    for bad in ("DROP TABLE x", "1; DELETE FROM t", "TRUNCATE t", "EXECUTE f()"):
        with pytest.raises(TransformError):
            validate_expression(bad)


def test_validate_rejects_non_expression(spark):
    with pytest.raises(TransformError):
        validate_expression("SELECT * FROM t WHERE")


def test_validate_accepts_scalars(spark):
    validate_expression("upper(name)")
    validate_expression("price * 100 + coalesce(tax, 0)")


# -- upsert SQL generation (W1/W2 parity) -----------------------------------


def test_mysql_upsert_sql():
    sql = mysql_upsert_sql("t", ["id", "name"], 2)
    assert sql == (
        "INSERT INTO `t` (`id`, `name`) VALUES (%s, %s), (%s, %s) "
        "ON DUPLICATE KEY UPDATE `id`=VALUES(`id`), `name`=VALUES(`name`)"
    )


def test_postgres_upsert_sql():
    sql = postgres_upsert_sql("t", ["id", "name"], ["id"], 2)
    assert sql == (
        'INSERT INTO "t" ("id", "name") VALUES (%s, %s), (%s, %s) '
        'ON CONFLICT ("id") DO UPDATE SET "name"=EXCLUDED."name"'
    )


def test_postgres_upsert_all_keys_do_nothing():
    assert postgres_upsert_sql("t", ["id"], ["id"], 1).endswith("DO NOTHING")


# -- JDBC read options ------------------------------------------------------


def test_read_options_partitioned_and_watermarked():
    from dbtransfer_spark.config import DBConfig, TableMapping

    cfg = DBConfig(type="mysql", hosts=["h:3306"], database="db", username="u", password="p")
    opts = read_options(cfg, TableMapping(name="t"), "id", 0, 1000, 8)
    assert opts["url"] == "jdbc:mysql://h:3306/db"
    # the table itself: the engine's `id > watermark` resume filter is
    # pushed into the partitioned range scans by Catalyst
    assert opts["dbtable"] == "t"
    assert opts["partitionColumn"] == "id"
    assert (opts["lowerBound"], opts["upperBound"]) == ("0", "1000")
    assert opts["numPartitions"] == "8"
    cfg.schema = "app"
    assert read_options(cfg, TableMapping(name="t"), None, None, None, 8)["dbtable"] == "app.t"


# -- Mongo options ----------------------------------------------------------


def test_mongo_uri_and_upsert_options():
    from dbtransfer_spark.config import DBConfig, TableMapping

    cfg = DBConfig(type="mongodb", hosts=["m:27017"], database="db", username="u", password="p")
    cfg.set_defaults()
    assert connection_uri(cfg) == "mongodb://u:p@m:27017/?authSource=admin"
    # W3: each document is an upsert keyed on _id that $sets it whole
    (model,) = upsert_models([{"_id": 1, "a": [2]}])
    assert model["filter"] == {"_id": 1} and model["upsert"] is True
    assert model["update"] == {"$set": {"_id": 1, "a": [2]}}


# -- DDL generation (C5) ----------------------------------------------------

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("name", T.StringType()),
        T.StructField("bal", T.DoubleType()),
        T.StructField("tags", T.ArrayType(T.StringType())),
    ]
)


def test_mysql_ddl():
    sql = ddl.mysql_create_table("t", SCHEMA, ["id"])
    assert sql.startswith("CREATE TABLE IF NOT EXISTS `t`")
    assert "`id` BIGINT NOT NULL" in sql
    assert "`tags` JSON" in sql
    assert "PRIMARY KEY (`id`)" in sql


def test_postgres_ddl():
    sql = ddl.postgres_create_table("t", SCHEMA, ["id"])
    assert '"bal" DOUBLE PRECISION' in sql
    assert '"tags" TEXT[]' in sql


def test_mysql_string_pk_gets_length():
    schema = T.StructType([T.StructField("k", T.StringType())])
    assert "VARCHAR(255)" in ddl.mysql_create_table("t", schema, ["k"])


# -- checkpoint store (R5-R7) -----------------------------------------------


def test_checkpoint_roundtrip(tmp_path):
    store = CheckpointStore(str(tmp_path), engine="mysql")
    assert store.load("t") is None
    store.save("t", Checkpoint(last_key={"id": "123"}))
    ckpt = store.load("t")
    assert ckpt.last_key == {"id": "123"}
    assert ckpt.last_updated  # stamped
    assert not store.is_complete("t")
    store.mark_complete("t")
    assert store.is_complete("t")
    assert store.watermark("t", "id") == "123"


def test_checkpoint_file_matches_reference(tmp_path):
    """File name and body must match the reference exactly so checkpoints
    interoperate: <engine>_<table>.checkpoint (mysql.go:550), JSON keys
    last_key/last_updated/complete with last_key keyed by the PK column
    (mysql.go:539)."""
    store = CheckpointStore(str(tmp_path), engine="mysql")
    store.save("users", Checkpoint(last_key={"id": "9"}))
    data = json.loads((tmp_path / "mysql_users.checkpoint").read_text())
    assert set(data) == {"last_key", "last_updated", "complete"}
    assert data["last_key"] == {"id": "9"}
    # a checkpoint the reference wrote is found and resumed from
    (tmp_path / "mysql_orders.checkpoint").write_text(
        '{"last_key": {"order_id": "500"}, '
        '"last_updated": "2025-03-04T00:00:00Z", "complete": false}'
    )
    assert store.watermark("orders", "order_id") == "500"
    assert not store.is_complete("orders")


def test_checkpoint_corrupt_file_is_fresh_start(tmp_path):
    store = CheckpointStore(str(tmp_path), engine="mysql")
    (tmp_path / "mysql_t.checkpoint").write_text("{not json")
    assert store.load("t") is None


def test_concurrent_checkpoint_saves_use_their_own_temp_files(tmp_path, monkeypatch):
    """Two saves of one table, both between their temp write and their
    rename: with a shared temp file the second rename finds it gone."""
    from dbtransfer_spark import checkpoint

    store = CheckpointStore(str(tmp_path), engine="parquet")
    both_written = threading.Barrier(2, timeout=30)
    real_dump = json.dump

    def dump(obj, fh, **kw):
        real_dump(obj, fh, **kw)
        both_written.wait()

    monkeypatch.setattr(checkpoint.json, "dump", dump)
    errors = []

    def save(value):
        try:
            store.save("t", Checkpoint(last_key={"id": value}))
        except Exception as e:  # collected for the assert below
            errors.append(e)

    threads = [threading.Thread(target=save, args=(v,)) for v in ("1", "2")]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
    assert store.watermark("t", "id") in {"1", "2"}
    assert os.listdir(tmp_path) == ["parquet_t.checkpoint"]


# -- rate limiter (R3) ------------------------------------------------------


def test_rate_limiter_paces():
    lim = RateLimiter(rows_per_sec=10_000, window_s=10)
    slept = lim.acquire(5_000)  # half the budget of second 1
    assert slept >= 0
    # Pushing far past the rate must force a sleep.
    assert lim.acquire(20_000) > 0


def test_rate_limiter_thread_safe():
    lim = RateLimiter(rows_per_sec=1_000_000)
    errs = []

    def hammer():
        try:
            for _ in range(200):
                lim.acquire(100)
        except Exception as exc:  # pragma: no cover
            errs.append(exc)

    threads = [threading.Thread(target=hammer) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs


# -- config (R11) -----------------------------------------------------------


def test_config_defaults_parity(tmp_path):
    """SetDefaults semantics from config.go:49-89."""
    p = tmp_path / "c.yaml"
    p.write_text("source:\n  type: parquet\n  database: /x\n")
    cfg = load_config(str(p))
    m = cfg.migration
    assert (m.batch_size, m.workers, m.rate_limit, m.timeout) == (1000, 4, 10000, 30)
    assert m.checkpoint_dir == "./data/checkpoints"
    assert (m.checkpoint_row_threshold, m.checkpoint_interval, m.checkpoint_delay) == (1000, 1, 5)
    assert cfg.destination.hosts == ["localhost:27017"]
    assert cfg.destination.auth_db == "admin"


def test_config_tables_and_transforms(tmp_path):
    p = tmp_path / "c.yaml"
    p.write_text(
        """
source:
  type: parquet
  database: /x
  tables:
    - name: users
      target_name: users_new
      primary_key: id
      column_transformations:
        - source_column: name
          expression: "UPPER(name)"
"""
    )
    cfg = load_config(str(p))
    t = cfg.source.tables[0]
    assert t.effective_target == "users_new"
    assert t.transform_map() == {"name": "UPPER(name)"}


def test_autodetect_by_port():
    # main.go:349-362
    assert autodetect_type(["h:27017"]) == "mongodb"
    assert autodetect_type(["h:9042"]) == "cassandra"
    assert autodetect_type(["h:5432"]) == "postgresql"
    assert autodetect_type(["h:3306"]) == "mysql"
    assert autodetect_type([]) == "mysql"


def test_config_unknown_type_rejected(spark):
    from dbtransfer_spark.config import DBConfig
    from dbtransfer_spark.sources.base import get_source

    with pytest.raises(ValueError, match="unknown source type"):
        get_source(spark, DBConfig(type="nosuchdb"))


def test_cassandra_ttl_projection():
    """S5: TTL read beside every non-key scalar column (cassandra.go:531-575)."""
    from dbtransfer_spark.sources.cassandra import ttl_projection

    proj = ttl_projection(["id", "a", "b"], ["id"])
    assert proj == ["id", "a", "b", "ttl(a) AS ttl_a", "ttl(b) AS ttl_b"]


class FakeCQLSession:
    """In-memory stand-in for a cassandra-driver Session: canned result
    rows per system_schema table, and a log of executed DDL."""

    def __init__(self, results: dict[str, list[dict]] | None = None):
        self.results = results or {}
        self.executed: list[str] = []

    def execute(self, statement: str, parameters: tuple = ()):
        for key, rows in self.results.items():
            if key in statement:
                return rows
        self.executed.append(statement)
        return []


def test_cassandra_udt_udf_migration_end_to_end():
    """C6/C7 (cassandra.go:293-443): discovery → emission, exercised
    end-to-end against an injectable fake session. Asserts: non-basic
    column types (frozen<> unwrapped) select which UDTs migrate; index
    expressions select which UDFs migrate (builtins excluded); types are
    created strictly before functions; unused definitions are skipped;
    statements use IF NOT EXISTS / OR REPLACE."""
    from dbtransfer_spark.sources.cassandra import migrate_dependencies

    source = FakeCQLSession(
        {
            "system_schema.columns": [
                {"table_name": "t", "column_name": "id", "type": "bigint"},
                {"table_name": "t", "column_name": "addr", "type": "frozen<address>"},
                {"table_name": "t", "column_name": "tags", "type": "list<text>"},
            ],
            "system_schema.indexes": [
                {"options": {"expression": "my_func(col) AND token(pk)"}},
                {"options": None},
            ],
            "system_schema.types": [
                {"type_name": "address", "field_names": ["street", "zip"],
                 "field_types": ["text", "int"]},
                {"type_name": "unused_type", "field_names": ["x"],
                 "field_types": ["int"]},
            ],
            "system_schema.functions": [
                {"function_name": "my_func", "argument_types": ["text"],
                 "return_type": "int", "language": "java",
                 "body": "return 1;", "called_on_null_input": True},
                {"function_name": "unused_func", "argument_types": [],
                 "return_type": "int", "language": "java",
                 "body": "return 0;", "called_on_null_input": False},
            ],
        }
    )
    dest = FakeCQLSession()
    executed = migrate_dependencies(source, dest, "src_ks", "dst_ks")
    assert executed == dest.executed
    assert executed == [
        "CREATE TYPE IF NOT EXISTS dst_ks.address (street text, zip int)",
        "CREATE OR REPLACE FUNCTION dst_ks.my_func (text) RETURNS int "
        "LANGUAGE java RETURNS NULL ON NULL INPUT AS $$return 1;$$",
    ]


def test_transform_pushdown_subquery():
    """P1 pushdown mode: source-dialect expressions embedded in the JDBC
    subquery (mysql.go:599-618 SELECT-list shape), a derived table the P4
    keyset resume predicate can filter; dangerous expressions rejected."""
    import sqlite3

    from dbtransfer_spark.sources.jdbc import transform_pushdown_subquery
    from dbtransfer_spark.transforms import TransformError

    sub = transform_pushdown_subquery(
        "users",
        ["id", "name", "bal"],
        {"name": "UPPER(name)", "bal": "bal * 100"},
    )
    assert sub == "(SELECT id, UPPER(name) AS name, bal * 100 AS bal FROM users) AS t"

    # The emitted text is a valid derived table: run it on a real engine.
    with sqlite3.connect(":memory:") as conn:
        conn.execute("CREATE TABLE users (id int, name text, bal real)")
        conn.executemany(
            "INSERT INTO users VALUES (?, ?, ?)",
            [(i, f"n{i}", i * 1.0) for i in range(1, 11)],
        )
        rows = conn.execute(f"SELECT * FROM {sub} WHERE id > 5 ORDER BY id").fetchall()
    assert rows[0] == (6, "N6", 600.0)
    assert len(rows) == 5

    with pytest.raises(TransformError):
        transform_pushdown_subquery("t", ["a"], {"a": "1; DROP TABLE t"})


def test_parse_bytes_short_and_long_suffixes():
    """Spark accepts both '10mb' and '10m' forms for byte-size confs;
    broadcast_if_small must not crash on either (or on garbage)."""
    from dbtransfer_spark.queries import _parse_bytes

    assert _parse_bytes("10MB") == 10 * 1024 * 1024
    assert _parse_bytes("10m") == 10 * 1024 * 1024
    assert _parse_bytes("1g") == 1 << 30
    assert _parse_bytes("512k") == 512 * 1024
    assert _parse_bytes("-1") == -1
    with pytest.raises(ValueError):
        _parse_bytes("nonsense")


def test_postgres_pk_sql_orders_by_index_position():
    """Composite PKs must come back in index key order, not attnum order
    (partition/watermark column = leading key column)."""
    from dbtransfer_spark.sources.jdbc import POSTGRES_PK_SQL

    assert "array_position(i.indkey, a.attnum)" in POSTGRES_PK_SQL


def test_generate_template_per_engine(tmp_path):
    """Engine-specific templates carry the reference's per-engine
    throughput defaults (main.go:86-89, 152-155, 184-188) and parse back
    through load_config."""
    from dbtransfer_spark.config import generate_template, load_config

    expectations = {
        "mysql": (1000, 4, 10000),
        "mongodb": (500, 4, 2000),
        "cassandra": (1000, 8, 5000),
    }
    for engine, (batch, workers, rate) in expectations.items():
        p = str(tmp_path / f"{engine}.yaml")
        generate_template(p, engine)
        cfg = load_config(p)
        assert cfg.source.type == engine
        assert (
            cfg.migration.batch_size,
            cfg.migration.workers,
            cfg.migration.rate_limit,
        ) == (batch, workers, rate)

    with pytest.raises(ValueError):
        generate_template(str(tmp_path / "x.yaml"), "oracle")


def test_hll_sketch_merge_equals_direct(spark):
    """Mergeable HLL sketches — the 100 TB distinct-count rollup pattern:
    per-day sketches unioned into a month must estimate EXACTLY what a
    direct sketch over the whole month estimates (sketch union is
    lossless over HLL registers), so daily sketches can be stored and
    history never rescanned. Same merge-don't-recompute discipline the
    incremental_daily_rollup query proves for sums/counts."""
    from pyspark.sql import functions as F

    from dbtransfer_spark.catalog import load_table
    from tests.conftest import SF_SMOKE

    events = load_table(spark, SF_SMOKE, "events")
    daily = events.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = (
        daily.groupBy(F.date_trunc("month", "day").alias("month"))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
        .orderBy("month")
        .collect()
    )
    direct = (
        events.groupBy(F.date_trunc("month", "ts").alias("month"))
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est"))
        .orderBy("month")
        .collect()
    )
    assert [r["month"] for r in merged] == [r["month"] for r in direct]
    assert [r["est"] for r in merged] == [r["est"] for r in direct]
    exact = (
        events.groupBy(F.date_trunc("month", "ts").alias("month"))
        .agg(F.countDistinct("user_id").alias("n"))
        .orderBy("month")
        .collect()
    )
    # and the estimate honors HLL's documented error envelope (rsd ~2%
    # at default lgConfigK=12; allow 5% slack)
    for m, e in zip(merged, exact):
        assert abs(m["est"] - e["n"]) <= max(5, 0.05 * e["n"])


def test_compact_small_files_preserves_data(spark, tmp_path):
    from dbtransfer_spark.catalog import compact_small_files

    p = str(tmp_path / "frag.parquet")
    df = spark.range(0, 10000).withColumnRenamed("id", "k")
    df.repartition(40).write.parquet(p)
    import os

    before = len([f for f in os.listdir(p) if f.startswith("part-")])
    assert before >= 40
    nb, na = compact_small_files(spark, p, target_file_bytes=64 << 20)
    assert nb == before and na < before
    back = spark.read.parquet(p)
    assert back.count() == 10000
    assert back.agg({"k": "sum"}).first()[0] == sum(range(10000))
    # idempotent: already compact → no rewrite
    nb2, na2 = compact_small_files(spark, p, target_file_bytes=64 << 20)
    assert nb2 == na2 == na


def test_plan_audit_counts_detail_headers_only():
    """audit_one must count each node once (formatted explain repeats
    every node in the tree rendering AND the detail section)."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from tools.plan_audit import audit_one

    plan = """
== Physical Plan ==
* HashAggregate (3)
+- Exchange (2)
   +- Scan parquet  (1)

(1) Scan parquet
Output: [a]
PushedFilters: [IsNotNull(a)]

(2) Exchange
Input: [a]

(3) HashAggregate [codegen id : 1]
Input: [a]
"""
    r = audit_one(plan)
    assert r["scans"] == 1
    assert r["exchanges"] == 1
    assert r["bnlj"] == 0 and r["cartesian"] == 0
    assert r["pushed_filters"] is True
    assert r["codegen_spans"] == 1


def test_expectations_engine_counts_and_drilldown(spark):
    from dbtransfer_spark import expectations as X

    df = spark.createDataFrame(
        [(1, 10.0, "A"), (2, -5.0, "B"), (2, 50.0, None), (None, 200.0, "Z")],
        "id long, amount double, code string",
    )
    parent = spark.createDataFrame([(1,), (2,)], "pid long")
    suite = [
        X.not_null("id"),
        X.in_range("amount", 0.0, 100.0),
        X.in_set("code", ["A", "B"]),
        X.unique("id"),
        X.foreign_key("id", parent, "pid"),
    ]
    out = {r["constraint_name"]: r for r in X.evaluate(df, suite).collect()}
    assert out["not_null(id)"]["violations"] == 1
    assert out["in_range(amount,0.0,100.0)"]["violations"] == 2  # -5 and 200
    assert out["in_set(code)"]["violations"] == 2                # None and Z
    assert out["unique(id)"]["violations"] == 1                  # id=2 twice
    assert out["foreign_key(id->pid)"]["violations"] == 0        # nulls skipped
    assert all(r["total"] == 4 for r in out.values())
    assert not out["not_null(id)"]["passed"]


def test_expectations_row_level_suite_is_single_scan(spark, tmp_path):
    """The engine's cost contract: any number of row-level expectations
    share ONE scan + ONE aggregate."""
    import contextlib
    import io
    import re

    from dbtransfer_spark import expectations as X

    p = str(tmp_path / "t")
    spark.range(100).selectExpr("id", "id * 2.0 AS v").write.parquet(p)
    df = spark.read.parquet(p)
    suite = [X.not_null("id"), X.in_range("v", 0.0, 500.0), X.not_null("v")]
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        X.evaluate(df, suite).explain("formatted")
    plan = buf.getvalue()
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1


def test_expectations_empty_suite_returns_empty_frame(spark):
    from dbtransfer_spark import expectations as X

    out = X.evaluate(spark.range(3), [])
    assert out.columns == [
        "constraint_name", "kind", "violations", "total", "passed",
    ]
    assert out.count() == 0


def test_expectations_evaluate_is_lazy(spark, monkeypatch):
    """Building the suite result must trigger NO action — the r6 ADVICE
    regression was an eager df.count() per foreign_key expectation."""
    from pyspark.sql import DataFrame

    from dbtransfer_spark import expectations as X

    def boom(self):
        raise AssertionError("evaluate() triggered an eager count()")

    monkeypatch.setattr(DataFrame, "count", boom)
    df = spark.createDataFrame([(1,), (2,), (None,)], "k long")
    parent = spark.createDataFrame([(1,)], "pk long")
    suite = [X.not_null("k"), X.unique("k"), X.foreign_key("k", parent, "pk")]
    out = X.evaluate(df, suite)  # must not raise
    monkeypatch.undo()
    rows = {r["constraint_name"]: r for r in out.collect()}
    assert rows["foreign_key(k->pk)"]["violations"] == 1
    assert rows["foreign_key(k->pk)"]["total"] == 3


def test_audio_chunks_empty_payload_yields_no_rows(spark, tmp_path):
    """sequence(0, -1, hop) would throw on a zero-byte payload; the
    oracle's range(0, 0, hop) emits no rows — the guard keeps parity."""
    from dbtransfer_spark.operators.multimodal import multimodal_audio_chunks

    p = str(tmp_path / "sf")
    # doc_id % 3 == 1 -> media_type 'audio'; one empty, one tiny payload
    spark.createDataFrame(
        [(1, "", "en", "web", 0), (4, "abcd", "en", "web", 4)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(p + "/documents.parquet")
    out = multimodal_audio_chunks(spark, p).collect()
    assert {r["doc_id"] for r in out} == {4}
    assert all(r["chunk_len"] > 0 for r in out)


def test_try_cast_guard_matches_ansi_trim(spark):
    """The try_functions regex guard must accept exactly what Spark's
    ANSI cast-to-bigint accepts: UTF8String.trimAll strips ALL control
    chars <= 0x20 (NUL, \\x1f, ...), not just Java \\s (r11 ADVICE — a
    '\\x00123' input must parse as 123, not flip to NULL)."""
    rows = [
        ("\x00123",), (" 42 ",), ("\t-7\n",), ("\x1f\x0b8\x00",),
        ("12a",), ("",), ("+9",), (" 5",),  # NBSP is NOT trimmed
        ("99999999999999999999",),  # overflow -> NULL via try_cast
    ]
    df = spark.createDataFrame(rows, "event_type string")
    from pyspark.sql import functions as F

    out = df.select(
        F.expr(
            r"CASE WHEN event_type RLIKE '^[\\x00-\\x20]*[+-]?[0-9]+[\\x00-\\x20]*$'"
            " THEN TRY_CAST(event_type AS BIGINT) END"
        ).alias("guarded"),
        F.expr("TRY_CAST(event_type AS BIGINT)").alias("plain"),
    ).collect()
    for r, (s,) in zip(out, rows):
        assert r.guarded == r.plain, (repr(s), r.guarded, r.plain)


def test_fast_normalize_equals_negated_class_regex(spark):
    """textutil's positive-class builders must be byte-identical to the
    negated-class regexp_replace forms they replace (which hit a ~100x
    slow path in this Spark build) — over the real corpus plus
    NULL/empty/junk edges."""
    from pyspark.sql import functions as F

    from dbtransfer_spark.catalog import load_table
    from dbtransfer_spark.textutil import alnum, alnum_lower, normalized_text

    docs = load_table(spark, "/root/testdata/sf0.01", "documents").select("text")
    edges = spark.createDataFrame(
        [(None,), ("",), ("   ",), ("...",), ("A.b!C  9 ",), ("\tx\n",),
         ("ünïcödé çhars £",), ("a" * 5000,)],
        "text string",
    )
    df = docs.unionByName(edges)
    old_norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""), " +", " "
        )
    )
    old_alnum_lower = F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]", "")
    old_alnum = F.regexp_replace(F.col("text"), "[^A-Za-z0-9]", "")
    c = F.col("text")
    mism = df.select(
        (
            ~(normalized_text(c).eqNullSafe(old_norm))
            | ~(alnum_lower(c).eqNullSafe(old_alnum_lower))
            | ~(alnum(c).eqNullSafe(old_alnum))
        ).cast("int").alias("bad")
    ).agg(F.sum("bad")).collect()[0][0]
    assert mism == 0


def test_canary_calm_adjudication_and_qtime_parse(monkeypatch):
    """r13 VERDICT #2: the sweep tools' canary module must adjudicate
    brackets against the calm threshold and parse qtime's bracketed
    output line — the committed sweep artifacts carry the bracket so
    steal-vs-regression never needs git archaeology again."""
    import re
    import sys

    sys.path.insert(0, "/root/repo/tools")
    import canary

    assert canary.is_calm([0.07, 0.08])
    assert canary.is_calm([])  # no evidence -> not flagged degraded
    assert not canary.is_calm([0.07, 0.25])
    assert not canary.is_calm([0.52, 0.08])

    # the exact parse the fresh-JVM re-queue applies to qtime.py output
    line = "q12_priority_by_returnflag: median=1.037 runs=[1.1, 1.0, 0.9] canary=[0.258,0.188]"
    name = "q12_priority_by_returnflag"
    m = re.search(
        rf"{re.escape(name)}: median=([\d.]+).*?canary=\[([\d.]+),\s*([\d.]+)\]",
        line,
    )
    assert m and float(m.group(1)) == 1.037
    assert [float(m.group(2)), float(m.group(3))] == [0.258, 0.188]


def test_unique_together_expectation_counts_composite_duplicates(spark):
    from dbtransfer_spark import expectations as X

    df = spark.createDataFrame(
        [(1, "a"), (1, "a"), (1, "b"), (2, "a"), (2, "a"), (2, "a")],
        "k long, t string",
    )
    out = {
        r["constraint_name"]: r
        for r in X.evaluate(df, [X.unique_together(("k", "t"))]).collect()
    }
    row = out["unique_together(k,t)"]
    assert row["violations"] == 3  # one extra (1,a) + two extra (2,a)
    assert row["total"] == 6 and not row["passed"]


def test_rewrite_input_contracts_hold_on_fixtures(spark):
    """r14 VERDICT #8: the data-dependent plan rewrites' preconditions —
    gap_fill's non-null values + unique event ids, as-of's duplicate-free
    (user_id, ts) — hold on the smoke fixture, checked by the operators'
    own expectation suites."""
    from dbtransfer_spark.operators.asof import (
        asof_single_scan_input_expectations,
    )
    from dbtransfer_spark.operators.windows import (
        gap_fill_forward_input_expectations,
    )
    from tests.conftest import SF_SMOKE

    for suite in (
        gap_fill_forward_input_expectations(spark, SF_SMOKE),
        asof_single_scan_input_expectations(spark, SF_SMOKE),
    ):
        rows = suite.collect()
        assert rows and all(r["passed"] for r in rows), rows
