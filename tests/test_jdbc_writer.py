"""Integration test of the JDBC sink's DB-API upsert writer against a real
database (SQLite — stdlib, no server): connection-per-partition, multi-row
batched upsert statements, idempotent replay, update-on-conflict. This is
the same code path the MySQL/PostgreSQL sinks run (W1/W2 semantics,
SURVEY.md §2.5); only the statement dialect differs."""

from __future__ import annotations

import sqlite3

import pytest

from dbtransfer_spark.config import DBConfig, TableMapping
from dbtransfer_spark.sources.jdbc import JDBCSink, JDBCSource, sqlite_upsert_sql


def _connect_factory(path: str):
    def connect():
        conn = sqlite3.connect(path, timeout=30)
        conn.execute("PRAGMA journal_mode=WAL")
        conn.execute("PRAGMA busy_timeout=30000")
        return conn

    return connect


def _setup(path: str):
    with sqlite3.connect(path) as conn:
        # Switch to WAL once here: the delete->WAL conversion needs an
        # exclusive lock, and doing it lazily from concurrent partition
        # connections can race to "database is locked" under load. Once
        # the database is WAL (a persistent property), the per-connection
        # pragma is a lock-free read.
        conn.execute("PRAGMA journal_mode=WAL")
        conn.execute('CREATE TABLE "t" ("id" INTEGER PRIMARY KEY, "name" TEXT, "bal" REAL)')


def test_sqlite_upsert_sql_shape():
    sql = sqlite_upsert_sql("t", ["id", "name"], ["id"], 2)
    assert sql == (
        'INSERT INTO "t" ("id", "name") VALUES (?, ?), (?, ?) '
        'ON CONFLICT ("id") DO UPDATE SET "name"=excluded."name"'
    )


def test_upsert_writer_end_to_end(spark, tmp_path):
    db = str(tmp_path / "w.db")
    _setup(db)
    df = spark.createDataFrame(
        [(i, f"n{i}", float(i)) for i in range(500)], "id int, name string, bal double"
    ).coalesce(2)
    table = TableMapping(name="t")

    sink = JDBCSink(spark, DBConfig(type="sqlite"), connect=_connect_factory(db), batch_size=64)
    # R8/mysql.go:319-322: rows written are counted from the write tasks
    # themselves (no second job), so stats/rate governance can engage.
    assert sink.upsert(df, table, ["id"]) == 500

    with sqlite3.connect(db) as conn:
        assert conn.execute('SELECT count(*), sum("bal") FROM "t"').fetchone() == (
            500,
            sum(range(500)),
        )

    # Replay the identical frame (task-retry analog): no duplicates.
    assert sink.upsert(df, table, ["id"]) == 500
    # Conflicting update batch: values replaced, count unchanged.
    updates = spark.createDataFrame(
        [(i, "upd", -1.0) for i in range(0, 500, 5)], "id int, name string, bal double"
    ).coalesce(1)
    sink.batch_size = 32
    assert sink.upsert(updates, table, ["id"]) == 100
    with sqlite3.connect(db) as conn:
        n, n_upd = conn.execute(
            "SELECT count(*), sum(CASE WHEN \"name\"='upd' THEN 1 ELSE 0 END) FROM \"t\""
        ).fetchone()
    assert (n, n_upd) == (500, 100)


def test_detect_primary_key_raises_on_catalog_error(spark):
    """An unreadable catalog (here: no MySQL driver jar, and nothing on
    port 1) is an error, not "no primary key" — a keyless run would have
    no resume watermark."""
    cfg = DBConfig(type="mysql", hosts=["localhost:1"], database="db", username="u")
    with pytest.raises(Exception):
        JDBCSource(spark, cfg).detect_primary_key(TableMapping(name="t"))


def test_table_exists_raises_on_catalog_error(spark, tmp_path):
    """The existence probe reads the catalog too, so an unreadable one is
    an error, not "no such table": an engine run reports why the catalog
    could not be read."""
    from dbtransfer_spark.config import Config, MigrationConfig
    from dbtransfer_spark.engine import TransferEngine

    cfg = DBConfig(type="mysql", hosts=["localhost:1"], database="db", username="u")
    with pytest.raises(Exception):
        JDBCSource(spark, cfg).table_exists(TableMapping(name="t"))
    cfg.tables = [TableMapping(name="t")]
    run = Config(
        source=cfg,
        destination=DBConfig(type="parquet", database=str(tmp_path / "out")),
        migration=MigrationConfig(checkpoint_dir=str(tmp_path / "ckpt")),
    )
    run.set_defaults()
    error = TransferEngine(spark, run).run()["t"]["error"]
    assert "does not exist" not in error
    assert "mysql" in error.lower()  # the driver's or the connection's error


# ---------------------------------------------------------------------------
# MySQL writer path e2e (r4 VERDICT #7): the W1 statement path — dialect
# "mysql", %s placeholders, ON DUPLICATE KEY UPDATE — driven end-to-end
# through the MySQL JDBCSink against a real database. A fake
# cursor ASSERTS the exact MySQL statement shape the writer emits (the
# part a live server would parse), then replays the batch onto SQLite so
# the end state is verified too — the same fake-cursor treatment the PG
# catalog path got in r4. Mirrors mysql.go:417-445.
# ---------------------------------------------------------------------------

_MYSQL_E2E_COLS = ["id", "name", "bal"]
_MYSQL_E2E_KEYS = ["id"]


def _mysql_adapter_factory(db: str):
    """Build a connect() whose adapter class is defined INSIDE the closure
    so cloudpickle ships it by value to executors (a module-level class
    would be pickled by reference to the unimportable test module)."""
    cols, keys = _MYSQL_E2E_COLS, _MYSQL_E2E_KEYS

    def connect():
        import sqlite3 as _sq

        class Adapter:
            def __init__(self):
                self.real = _sq.connect(db, timeout=30)

            def cursor(self):
                outer = self

                class Cur:
                    def execute(self, sql, params=None):
                        from dbtransfer_spark.sources.jdbc import (
                            mysql_upsert_sql,
                            sqlite_upsert_sql,
                        )

                        params = params or []
                        n_rows = len(params) // len(cols)
                        # the writer must emit EXACTLY the W1 statement
                        assert sql == mysql_upsert_sql("t", cols, n_rows)
                        assert sql.count("%s") == len(params)
                        assert "ON DUPLICATE KEY UPDATE" in sql
                        assert "`name`=VALUES(`name`)" in sql
                        return outer.real.execute(
                            sqlite_upsert_sql("t", cols, keys, n_rows), params
                        )

                return Cur()

            def commit(self):
                self.real.commit()

            def rollback(self):
                self.real.rollback()

            def close(self):
                self.real.close()

        return Adapter()

    return connect


def test_mysql_writer_statement_path_end_to_end(spark, tmp_path):
    db = str(tmp_path / "m.db")
    _setup(db)
    sink = JDBCSink(
        spark, DBConfig(type="mysql"), connect=_mysql_adapter_factory(db), batch_size=128
    )
    table = TableMapping(name="t")

    df = spark.createDataFrame(
        [(i, f"n{i}", float(i)) for i in range(300)],
        "id int, name string, bal double",
    ).coalesce(1)
    assert sink.upsert(df, table, _MYSQL_E2E_KEYS) == 300

    with sqlite3.connect(db) as conn:
        assert conn.execute('SELECT count(*) FROM "t"').fetchone() == (300,)

    # idempotent replay (task-retry analog) + conflicting update batch
    sink.upsert(df, table, _MYSQL_E2E_KEYS)
    upd = spark.createDataFrame(
        [(7, "upd", -1.0)], "id int, name string, bal double"
    ).coalesce(1)
    sink.batch_size = 8
    sink.upsert(upd, table, _MYSQL_E2E_KEYS)
    with sqlite3.connect(db) as conn:
        n, name7 = conn.execute(
            'SELECT count(*), (SELECT "name" FROM "t" WHERE "id"=7) FROM "t"'
        ).fetchone()
    assert (n, name7) == (300, "upd")


# ---------------------------------------------------------------------------
# JDBC DDL-apply e2e (r4 VERDICT #7): Sink.ensure_schema generates the
# dialect CREATE TABLE from the DataFrame's StructType and applies it over
# a real DB-API connection; IF NOT EXISTS makes a second apply a no-op
# instead of an error (mysql.go:266-274 tolerance). SQLite parses both the
# backtick-quoted MySQL DDL and the double-quoted PG DDL, so both dialect
# branches run for real.
# ---------------------------------------------------------------------------


def test_jdbc_sink_ddl_apply_both_dialects(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", 1.5, True)], "id int, name string, bal double, act boolean"
    )
    for dialect, quote in (("mysql", "`"), ("postgresql", '"')):
        db = str(tmp_path / f"ddl_{dialect}.db")
        cfg = DBConfig(type=dialect)
        sink = JDBCSink(spark, cfg, connect=_connect_factory(db))
        table = TableMapping(name="src", target_name="dst", primary_key="id")
        sink.ensure_schema(df, table)
        sink.ensure_schema(df, table)  # second apply: tolerated, not an error
        with sqlite3.connect(db) as conn:
            cols = conn.execute('PRAGMA table_info("dst")').fetchall()
            names = [c[1] for c in cols]
            assert names == ["id", "name", "bal", "act"]
            # PK landed: id is part of the primary key
            assert [c[1] for c in cols if c[5] > 0] == ["id"]
