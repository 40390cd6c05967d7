"""Dialect-level e2e for the MySQL/PostgreSQL sink paths (r6 VERDICT #6):
`ensure_schema` create-then-recreate and the batched upsert writer run
against a syntax-VALIDATING in-memory DB-API fake — every statement the
sink emits is parsed for the dialect's quoting style, type names,
placeholder style, and IF NOT EXISTS semantics before it mutates the
store (reference tolerance mysql.go:266-274). Complements
test_jdbc_writer.py (SQLite executes the same writer machinery for real)
and the Cassandra create-then-recreate e2e in test_runtime_paths.py —
with this, all four dialects have a create/recreate lifecycle test.
"""

from __future__ import annotations

import re

import pytest

from dbtransfer_spark.config import DBConfig, TableMapping
from dbtransfer_spark.sources.jdbc import JDBCSink

# dialect grammar: identifier quote, allowed column types, placeholder
_DIALECTS = {
    "mysql": {
        "quote": "`",
        "types": (
            r"TINYINT(\(1\))?|SMALLINT|INT|BIGINT|FLOAT|DOUBLE|DATE|"
            r"DATETIME\(6\)|BLOB|TEXT|VARCHAR\(255\)|DECIMAL\(\d+,\d+\)|JSON"
        ),
        "placeholder": re.compile(r"%s"),
    },
    "postgresql": {
        "quote": '"',
        "types": (
            r"SMALLINT|INTEGER|BIGINT|REAL|DOUBLE PRECISION|BOOLEAN|DATE|"
            r"TIMESTAMP|BYTEA|TEXT|NUMERIC\(\d+,\d+\)|JSONB|"
            r"(SMALLINT|INTEGER|BIGINT|REAL|DOUBLE PRECISION|BOOLEAN|TEXT)\[\]"
        ),
        "placeholder": re.compile(r"%s"),  # psycopg2's paramstyle
    },
}


class DialectValidationError(AssertionError):
    pass


class DialectDB:
    """In-memory 'server' for one JDBC dialect. execute() validates the
    statement's syntax against the dialect grammar, then applies
    CREATE TABLE / upsert semantics to a key-indexed store."""

    def __init__(self, dialect: str):
        self.d = _DIALECTS[dialect]
        self.dialect = dialect
        self.tables: dict[str, dict] = {}
        self.statements: list[str] = []

    # -- DB-API surface ---------------------------------------------------
    def connect(self):
        return _Conn(self)

    # -- statement handling ----------------------------------------------
    def _ident(self, raw: str) -> str:
        q = self.d["quote"]
        bad = "`" if q == '"' else '"'
        if bad in raw:
            raise DialectValidationError(
                f"{self.dialect}: wrong identifier quote in {raw!r}"
            )
        if not (raw.startswith(q) and raw.endswith(q)):
            raise DialectValidationError(
                f"{self.dialect}: unquoted identifier {raw!r}"
            )
        return raw[1:-1]

    def execute(self, sql: str, params=()):
        self.statements.append(sql)
        sql = sql.strip()
        if sql.upper().startswith("CREATE TABLE"):
            return self._create(sql)
        if sql.upper().startswith("INSERT INTO"):
            return self._upsert(sql, params)
        raise DialectValidationError(f"unexpected statement: {sql[:60]}")

    def _create(self, sql: str):
        q = re.escape(self.d["quote"])
        m = re.match(
            rf"CREATE TABLE (IF NOT EXISTS )?({q}[^{q}]+{q}) \(\n(.*)\n\)$",
            sql,
            re.S,
        )
        if not m:
            raise DialectValidationError(f"malformed CREATE: {sql[:80]}")
        tolerant, name = bool(m.group(1)), self._ident(m.group(2))
        cols, pk = {}, []
        for line in m.group(3).split(",\n"):
            line = line.strip()
            pkm = re.match(r"PRIMARY KEY \((.*)\)$", line)
            if pkm:
                pk = [self._ident(c.strip()) for c in pkm.group(1).split(",")]
                continue
            cm = re.match(
                rf"({q}[^{q}]+{q}) ({self.d['types']})( NOT NULL)?$", line
            )
            if not cm:
                raise DialectValidationError(
                    f"{self.dialect}: bad column def {line!r}"
                )
            cols[self._ident(cm.group(1))] = cm.group(2)
        for k in pk:
            if k not in cols:
                raise DialectValidationError(f"PK column {k!r} not defined")
        if name in self.tables:
            if not tolerant:
                raise DialectValidationError(f"table {name!r} already exists")
            return  # IF NOT EXISTS: tolerated no-op, schema unchanged
        self.tables[name] = {"columns": cols, "pk": pk, "rows": {}}

    def _upsert(self, sql: str, params):
        q = re.escape(self.d["quote"])
        m = re.match(
            rf"INSERT INTO ({q}[^{q}]+{q}) \((.*?)\) VALUES (.*?) "
            rf"ON (DUPLICATE KEY UPDATE|CONFLICT) ",
            sql,
            re.S,
        )
        if not m:
            raise DialectValidationError(f"malformed upsert: {sql[:80]}")
        name = self._ident(m.group(1))
        if name not in self.tables:
            raise DialectValidationError(f"upsert into missing table {name!r}")
        t = self.tables[name]
        cols = [self._ident(c.strip()) for c in m.group(2).split(",")]
        for c in cols:
            if c not in t["columns"]:
                raise DialectValidationError(f"unknown column {c!r}")
        n_ph = len(self.d["placeholder"].findall(m.group(3)))
        if n_ph != len(params):
            raise DialectValidationError(
                f"{n_ph} placeholders vs {len(params)} params"
            )
        if len(params) % len(cols):
            raise DialectValidationError("params not a multiple of columns")
        pk = t["pk"] or cols[:1]
        for i in range(0, len(params), len(cols)):
            row = dict(zip(cols, params[i : i + len(cols)]))
            t["rows"][tuple(row[k] for k in pk)] = row


class _Cursor:
    def __init__(self, db: DialectDB):
        self.db = db

    def execute(self, sql, params=()):
        self.db.execute(sql, params)

    def close(self):
        pass


class _Conn:
    def __init__(self, db: DialectDB):
        self.db = db

    def cursor(self):
        return _Cursor(self.db)

    def commit(self):
        pass

    def rollback(self):
        pass

    def close(self):
        pass


def _wide_df(spark):
    from pyspark.sql import functions as F

    return spark.range(6).select(
        F.col("id").alias("k"),
        F.concat(F.lit("name-"), F.col("id")).alias("label"),
        (F.col("id") * 1.5).alias("score"),
        F.col("id").cast("decimal(12,2)").alias("amount"),
        (F.col("id") % 2 == 0).alias("flag"),
        F.to_date(F.lit("2024-01-01")).alias("day"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("ts"),
        F.array(F.col("id"), F.col("id") + 1).alias("tags"),
        F.encode(F.concat(F.lit("b"), F.col("id")), "utf-8").alias("payload"),
    )


@pytest.mark.parametrize("dialect", ["mysql", "postgresql"])
def test_ensure_schema_create_then_recreate(spark, dialect):
    db = DialectDB(dialect)
    cfg = DBConfig(type=dialect, database="d", username="u", password="p")
    sink = JDBCSink(spark, cfg, connect=db.connect)
    tm = TableMapping(name="acct", primary_key="k,label")
    df = _wide_df(spark)

    sink.ensure_schema(df, tm)
    assert "acct" in db.tables
    first = dict(db.tables["acct"]["columns"])
    assert db.tables["acct"]["pk"] == ["k", "label"]
    # string PK column got a length-bounded type on MySQL (TEXT can't key)
    if dialect == "mysql":
        assert first["label"] == "VARCHAR(255)"
        assert first["tags"] == "JSON"
    else:
        assert first["tags"] == "BIGINT[]"
        assert first["amount"] == "NUMERIC(12,2)"

    # recreate against a populated destination: tolerated no-op
    db.tables["acct"]["rows"][(0, "name-0")] = {"k": 0}
    sink.ensure_schema(df, tm)
    assert db.tables["acct"]["columns"] == first
    assert len(db.tables["acct"]["rows"]) == 1
    creates = [s for s in db.statements if s.startswith("CREATE")]
    assert len(creates) == 2 and all("IF NOT EXISTS" in s for s in creates)


@pytest.mark.parametrize("dialect", ["mysql", "postgresql"])
def test_upsert_statements_validate_and_apply(spark, dialect):
    """The sink's real multi-row upsert SQL parses under the dialect
    grammar (placeholder style included) and replay is idempotent."""
    from dbtransfer_spark.sources.jdbc import mysql_upsert_sql, postgres_upsert_sql

    db = DialectDB(dialect)
    cfg = DBConfig(type=dialect, database="d")
    sink = JDBCSink(spark, cfg, connect=db.connect)
    tm = TableMapping(name="t", primary_key="k")
    df = _wide_df(spark).select("k", "label", "score")
    sink.ensure_schema(df, tm)

    # drive the dialect statements directly (the Spark-side writer path is
    # SQLite-integration-tested; here the point is statement validation)
    rows = [(r["k"], r["label"], r["score"]) for r in df.collect()]
    flat = [v for row in rows for v in row]
    sql = (
        mysql_upsert_sql("t", ["k", "label", "score"], len(rows))
        if dialect == "mysql"
        else postgres_upsert_sql("t", ["k", "label", "score"], ["k"], len(rows))
    )
    conn = db.connect()
    conn.cursor().execute(sql, flat)
    conn.cursor().execute(sql, flat)  # replay: same keys, same rows
    assert len(db.tables["t"]["rows"]) == len(rows)
    assert db.tables["t"]["rows"][(0,)]["label"] == "name-0"

    # conflicting update replaces values, never duplicates keys
    sql1 = (
        mysql_upsert_sql("t", ["k", "label", "score"], 1)
        if dialect == "mysql"
        else postgres_upsert_sql("t", ["k", "label", "score"], ["k"], 1)
    )
    conn.cursor().execute(sql1, [0, "updated", -1.0])
    assert len(db.tables["t"]["rows"]) == len(rows)
    assert db.tables["t"]["rows"][(0,)]["label"] == "updated"

    # and the sink's batch writer emits the same validated dialect
    write_batch = sink.batch_writer(df, tm, ["k"])
    rows = df.collect()
    for i in range(0, len(rows), 4):
        write_batch(conn, rows[i : i + 4])
    assert len(db.tables["t"]["rows"]) == len(rows)
    assert db.tables["t"]["rows"][(0,)]["label"] == "name-0"


@pytest.mark.parametrize("dialect", ["mysql", "postgresql"])
def test_wrong_dialect_statement_rejected(dialect):
    """The validator itself has teeth: the OTHER dialect's quoting or a
    bogus type fails, so passing tests mean the generated DDL really
    conforms."""
    db = DialectDB(dialect)
    wrong_q = '"' if dialect == "mysql" else "`"
    with pytest.raises(DialectValidationError):
        db.execute(
            f"CREATE TABLE IF NOT EXISTS {wrong_q}t{wrong_q} (\n"
            f"  {wrong_q}a{wrong_q} BIGINT\n)"
        )
    q = "`" if dialect == "mysql" else '"'
    with pytest.raises(DialectValidationError):
        db.execute(
            f"CREATE TABLE IF NOT EXISTS {q}t{q} (\n  {q}a{q} FROBNITZ\n)"
        )
    # non-tolerant CREATE on an existing table must error
    db.execute(f"CREATE TABLE IF NOT EXISTS {q}t2{q} (\n  {q}a{q} BIGINT\n)")
    with pytest.raises(DialectValidationError):
        db.execute(f"CREATE TABLE {q}t2{q} (\n  {q}a{q} BIGINT\n)")
