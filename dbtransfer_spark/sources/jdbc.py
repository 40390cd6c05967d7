"""JDBC source/sink: MySQL + PostgreSQL, partitioned reads + upsert writes.

Reads
-----
The reference paginates serially with keyset queries
(``WHERE pk > ? ORDER BY pk LIMIT ?`` — /root/reference/internal/migration/
mysql/mysql.go:617-631, postgresql.go:376-380). Spark's JDBC partitioned
read replaces the loop: ``partitionColumn/lowerBound/upperBound/
numPartitions`` issues N concurrent range scans — the same index-backed
access path, minus the per-batch round trip, scaling with executors instead
of being single-connection-bound. Resume is the same watermark predicate
(``pk > last``) pushed down by Catalyst (P4, mysql.go:617-627).

Writes
------
No native Spark MERGE to JDBC (SURVEY.md §7 hard-part #1). ``JDBCSink`` is
a ``BatchSink``: the shared partition writer runs the reference's exact
upsert statements — MySQL multi-row ``INSERT ... ON DUPLICATE KEY UPDATE``
(W1, mysql.go:417-445) and PostgreSQL ``INSERT ... ON CONFLICT (pk) DO
UPDATE`` (W2, postgresql.go:725-777) — one statement and one commit per
``batch_size`` rows, rolled back before a retry (R2, mysql.go:448-498).
Statements are idempotent, so Spark task retries are safe (at-least-once ×
idempotent = exactly-once effect). The DB-API driver (PyMySQL, psycopg2)
is imported when the sink first connects.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, Row

from dbtransfer_spark.config import DBConfig, TableMapping
from dbtransfer_spark.sources import ddl
from dbtransfer_spark.sources.base import BatchSink, Source, import_driver

# ---------------------------------------------------------------------------
# Catalog SQL (C1/C2): driver-side PK detection, same queries as reference.
# ---------------------------------------------------------------------------

MYSQL_PK_SQL = "SHOW KEYS FROM `{table}` WHERE Key_name = 'PRIMARY'"  # mysql.go:683

# postgresql.go:674-686, plus ORDER BY the column's position in the index
# key (indkey array) — without it composite PKs come back in attnum order
# (declaration order), not key order, and callers would partition/watermark
# on a non-leading key column.
POSTGRES_PK_SQL = """\
SELECT a.attname
FROM pg_index i
JOIN pg_attribute a ON a.attrelid = i.indrelid AND a.attnum = ANY(i.indkey)
WHERE i.indrelid = '{table}'::regclass AND i.indisprimary
ORDER BY array_position(i.indkey, a.attnum)
"""


# S7 existence probe, scoped like the PK queries above: MySQL's current
# database, PostgreSQL's search path.
MYSQL_TABLE_SQL = """\
SELECT 1 FROM information_schema.tables
WHERE table_schema = DATABASE() AND table_name = '{table}'
"""

POSTGRES_TABLE_SQL = """\
SELECT 1 FROM information_schema.tables
WHERE table_schema = ANY(current_schemas(false)) AND table_name = '{table}'
"""


def jdbc_url(cfg: DBConfig) -> str:
    host = cfg.hosts[0] if cfg.hosts else "localhost"
    t = (cfg.type or "mysql").lower()
    if t == "mysql":
        return f"jdbc:mysql://{host}/{cfg.database}"
    return f"jdbc:postgresql://{host}/{cfg.database}"


def jdbc_driver(cfg: DBConfig) -> str:
    t = (cfg.type or "mysql").lower()
    return "com.mysql.cj.jdbc.Driver" if t == "mysql" else "org.postgresql.Driver"


def read_options(
    cfg: DBConfig,
    table: TableMapping,
    pk: str | None,
    lower: int | None,
    upper: int | None,
    num_partitions: int,
    fetch_size: int = 10_000,
) -> dict[str, str]:
    """Build the partitioned-read option dict (pure; unit-testable). The
    engine's ``pk > watermark`` resume filter reaches the range scans
    through Catalyst's pushdown (P4)."""
    opts = {
        "url": jdbc_url(cfg),
        "dbtable": f"{cfg.schema}.{table.name}" if cfg.schema else table.name,
        "user": cfg.username,
        "password": cfg.password,
        "driver": jdbc_driver(cfg),
        "fetchsize": str(fetch_size),
    }
    if pk and lower is not None and upper is not None and upper > lower:
        opts.update(
            partitionColumn=pk,
            lowerBound=str(lower),
            upperBound=str(upper),
            numPartitions=str(num_partitions),
        )
    return opts


def transform_pushdown_subquery(
    table: str,
    columns: list[str],
    transforms: dict[str, str],
) -> str:
    """P1 true-pushdown mode: embed the configured transform expressions —
    written in the *source* dialect, exactly as the reference forwards them
    (mysql.go:599-618: ``SELECT <expr> AS col, ...``) — into a JDBC
    subquery, so the source database evaluates them and only transformed
    rows cross the wire. The default engine path instead translates to
    Spark SQL and lets Catalyst evaluate (portable); this builder is the
    opt-in parity/efficiency mode for sources where reducing transfer
    width matters more than dialect portability. Composes with the keyset
    resume predicate (P4)."""
    from dbtransfer_spark.transforms import validate_expression

    parts = []
    for col in columns:
        expr = transforms.get(col)
        if expr is None:
            parts.append(col)
        else:
            validate_expression(expr)
            parts.append(f"{expr} AS {col}")
    return f"(SELECT {', '.join(parts)} FROM {table}) AS t"


# ---------------------------------------------------------------------------
# Upsert statement generation (pure functions; W1/W2 parity).
# ---------------------------------------------------------------------------


def mysql_upsert_sql(table: str, columns: list[str], n_rows: int) -> str:
    """Multi-row INSERT ... ON DUPLICATE KEY UPDATE (mysql.go:417-445)."""
    col_list = ", ".join(f"`{c}`" for c in columns)
    row = "(" + ", ".join(["%s"] * len(columns)) + ")"
    values = ", ".join([row] * n_rows)
    updates = ", ".join(f"`{c}`=VALUES(`{c}`)" for c in columns)
    return (
        f"INSERT INTO `{table}` ({col_list}) VALUES {values} "
        f"ON DUPLICATE KEY UPDATE {updates}"
    )


def postgres_upsert_sql(table: str, columns: list[str], key_columns: list[str], n_rows: int) -> str:
    """INSERT ... ON CONFLICT (pk) DO UPDATE SET col=EXCLUDED.col
    (postgresql.go:725-777, buildUpdateClause 585-593), with psycopg2's
    ``%s`` placeholders (the reference's pgx driver numbers them ``$n``)."""
    col_list = ", ".join(f'"{c}"' for c in columns)
    row = "(" + ", ".join(["%s"] * len(columns)) + ")"
    values = ", ".join([row] * n_rows)
    conflict = ", ".join(f'"{c}"' for c in key_columns)
    updates = ", ".join(f'"{c}"=EXCLUDED."{c}"' for c in columns if c not in key_columns)
    action = f"DO UPDATE SET {updates}" if updates else "DO NOTHING"
    return (
        f'INSERT INTO "{table}" ({col_list}) VALUES {values} '
        f"ON CONFLICT ({conflict}) {action}"
    )


def sqlite_upsert_sql(table: str, columns: list[str], key_columns: list[str], n_rows: int) -> str:
    """SQLite ON CONFLICT upsert — same W2 shape with ? placeholders.
    Exists so the shared partition writer (connection-per-partition,
    batching, retry, pacing) can be integration-tested against
    a real DB-API database without external servers."""
    col_list = ", ".join(f'"{c}"' for c in columns)
    row = "(" + ", ".join(["?"] * len(columns)) + ")"
    values = ", ".join([row] * n_rows)
    conflict = ", ".join(f'"{c}"' for c in key_columns)
    updates = ", ".join(f'"{c}"=excluded."{c}"' for c in columns if c not in key_columns)
    action = f"DO UPDATE SET {updates}" if updates else "DO NOTHING"
    return f'INSERT INTO "{table}" ({col_list}) VALUES {values} ON CONFLICT ({conflict}) {action}'


def client_factory(cfg: DBConfig) -> Callable[[], Any]:
    """The DB-API connection factory for ``cfg``'s server: PyMySQL for
    MySQL, psycopg2 for PostgreSQL, imported at the first connect."""
    host, _, port = (cfg.hosts[0] if cfg.hosts else "localhost").partition(":")

    def connect() -> Any:
        if (cfg.type or "mysql").lower() == "mysql":
            return import_driver("pymysql", "PyMySQL").connect(
                host=host, port=int(port or 3306), user=cfg.username,
                password=cfg.password, database=cfg.database,
            )
        return import_driver("psycopg2", "psycopg2").connect(
            host=host, port=int(port or 5432), user=cfg.username,
            password=cfg.password, dbname=cfg.database,
        )

    return connect


class JDBCSource(Source):
    def __init__(self, spark, cfg, pushdown_transforms: bool = False):
        super().__init__(spark, cfg)
        # P1 parity mode: evaluate transforms inside the source database
        # (reference behavior) instead of in Catalyst. The engine skips its
        # own apply_transforms for tables read this way.
        self.pushdown_transforms = pushdown_transforms

    def read(self, table: TableMapping) -> DataFrame:
        pk_cols = self.detect_primary_key(table)
        pk = pk_cols[0] if pk_cols else None
        lower = upper = None
        if pk:
            # One cheap bounds probe replaces the reference's per-batch
            # MAX tracking (mysql.go:659-661).
            bounds_q = f"(SELECT MIN({pk}) AS lo, MAX({pk}) AS hi FROM {table.name}) AS b"
            probe = (
                self.spark.read.format("jdbc")
                .options(
                    url=jdbc_url(self.cfg),
                    dbtable=bounds_q,
                    user=self.cfg.username,
                    password=self.cfg.password,
                    driver=jdbc_driver(self.cfg),
                )
                .load()
                .collect()
            )
            if probe and probe[0]["lo"] is not None:
                lower, upper = int(probe[0]["lo"]), int(probe[0]["hi"]) + 1
        opts = read_options(
            self.cfg,
            table,
            pk,
            lower,
            upper,
            num_partitions=int(self.spark.conf.get("spark.sql.shuffle.partitions", "32")),
        )
        transforms = table.transform_map()
        if self.pushdown_transforms and transforms:
            df_probe = (
                self.spark.read.format("jdbc")
                .options(**{**opts, "dbtable": table.name})
                .load()
            )
            opts["dbtable"] = transform_pushdown_subquery(
                table.name, df_probe.columns, transforms
            )
        return self.spark.read.format("jdbc").options(**opts).load()

    def _catalog(self, query: str) -> list[Row]:
        """Rows of a catalog query. A catalog error (no driver, no server)
        raises: an empty answer would read as "no such table" or "no
        primary key"."""
        return (
            self.spark.read.format("jdbc")
            .options(
                url=jdbc_url(self.cfg),
                query=query,
                user=self.cfg.username,
                password=self.cfg.password,
                driver=jdbc_driver(self.cfg),
            )
            .load()
            .collect()
        )

    def _is_mysql(self) -> bool:
        return (self.cfg.type or "mysql").lower() == "mysql"

    def table_exists(self, table: TableMapping) -> bool:
        sql = MYSQL_TABLE_SQL if self._is_mysql() else POSTGRES_TABLE_SQL
        return bool(self._catalog(sql.format(table=table.name)))

    def detect_primary_key(self, table: TableMapping) -> list[str]:
        if table.primary_key:
            return [c.strip() for c in table.primary_key.split(",")]
        if self._is_mysql():
            rows = self._catalog(MYSQL_PK_SQL.format(table=table.name))
            return [r["Column_name"] for r in rows]
        return [r[0] for r in self._catalog(POSTGRES_PK_SQL.format(table=table.name))]


class JDBCSink(BatchSink):
    def __init__(self, spark, cfg, connect: Callable[[], Any] | None = None, **batching):
        super().__init__(spark, cfg, connect or client_factory(cfg), **batching)

    def ensure_schema(self, df: DataFrame, table: TableMapping, source=None) -> None:
        t = (self.cfg.type or "mysql").lower()
        key_cols = [c.strip() for c in table.primary_key.split(",")] if table.primary_key else []
        stmt = (
            ddl.mysql_create_table(table.effective_target, df.schema, key_cols)
            if t == "mysql"
            else ddl.postgres_create_table(table.effective_target, df.schema, key_cols)
        )
        conn = self.connect()
        try:
            cur = conn.cursor()
            cur.execute(stmt)
            conn.commit()
        finally:
            conn.close()

    def batch_writer(self, df: DataFrame, table: TableMapping, key_columns: list[str]):
        # sqlite rides through as its own dialect (?-placeholders, ON
        # CONFLICT upsert) so the sink is drivable end-to-end without a
        # server — everything else MySQL-vs-PG
        t = (self.cfg.type or "mysql").lower()
        target, columns = table.effective_target, df.columns

        def write_batch(conn, batch: list[Row]) -> None:
            if t == "mysql":
                sql = mysql_upsert_sql(target, columns, len(batch))
            elif t == "sqlite":
                sql = sqlite_upsert_sql(target, columns, key_columns, len(batch))
            else:
                sql = postgres_upsert_sql(target, columns, key_columns, len(batch))
            try:
                conn.cursor().execute(sql, [v for row in batch for v in row])
                conn.commit()
            except Exception:
                conn.rollback()
                raise

        return write_batch
