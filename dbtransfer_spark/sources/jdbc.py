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
No native Spark MERGE to JDBC (SURVEY.md §7 hard-part #1). The sink runs
the reference's exact upsert statements from ``foreachPartition`` workers:
MySQL multi-row ``INSERT ... ON DUPLICATE KEY UPDATE`` (W1,
mysql.go:417-445) and PostgreSQL ``INSERT ... ON CONFLICT (pk) DO UPDATE``
(W2, postgresql.go:725-777), batched ``batch_size`` rows per statement with
retry-with-backoff (R2, mysql.go:448-498). Statements are idempotent, so
Spark task retries are safe (at-least-once × idempotent = exactly-once
effect). DB-API drivers are import-gated: statement generation is pure and
unit-tested; execution requires a driver + server at runtime.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator
from typing import Any

from pyspark.sql import DataFrame, Row

from dbtransfer_spark.config import DBConfig, TableMapping
from dbtransfer_spark.sources import ddl
from dbtransfer_spark.sources.base import Sink, Source

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
    watermark: int | None = None,
) -> dict[str, str]:
    """Build the partitioned-read option dict (pure; unit-testable).

    ``watermark`` embeds the resume predicate into a pushdown subquery so
    the source scans only ``pk > watermark`` — keyset resume (P4) at
    partition granularity.
    """
    qualified = f"{cfg.schema}.{table.name}" if cfg.schema else table.name
    dbtable = qualified
    if watermark is not None and pk:
        dbtable = f"(SELECT * FROM {qualified} WHERE {pk} > {watermark}) AS t"
    opts = {
        "url": jdbc_url(cfg),
        "dbtable": dbtable,
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
    watermark_pk: str | None = None,
    watermark: int | None = None,
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
    q = f"SELECT {', '.join(parts)} FROM {table}"
    if watermark_pk and watermark is not None:
        q += f" WHERE {watermark_pk} > {watermark}"
    return f"({q}) AS t"


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
    (postgresql.go:725-777, buildUpdateClause 585-593)."""
    col_list = ", ".join(f'"{c}"' for c in columns)
    placeholders = []
    i = 1
    for _ in range(n_rows):
        placeholders.append("(" + ", ".join(f"${j}" for j in range(i, i + len(columns))) + ")")
        i += len(columns)
    conflict = ", ".join(f'"{c}"' for c in key_columns)
    updates = ", ".join(f'"{c}"=EXCLUDED."{c}"' for c in columns if c not in key_columns)
    action = f"DO UPDATE SET {updates}" if updates else "DO NOTHING"
    return (
        f'INSERT INTO "{table}" ({col_list}) VALUES {", ".join(placeholders)} '
        f"ON CONFLICT ({conflict}) {action}"
    )


def sqlite_upsert_sql(table: str, columns: list[str], key_columns: list[str], n_rows: int) -> str:
    """SQLite ON CONFLICT upsert — same W2 shape with ? placeholders.
    Exists so the foreachPartition writer machinery (connection-per-
    partition, batching, retry, pacing) can be integration-tested against
    a real DB-API database without external servers."""
    col_list = ", ".join(f'"{c}"' for c in columns)
    row = "(" + ", ".join(["?"] * len(columns)) + ")"
    values = ", ".join([row] * n_rows)
    conflict = ", ".join(f'"{c}"' for c in key_columns)
    updates = ", ".join(f'"{c}"=excluded."{c}"' for c in columns if c not in key_columns)
    action = f"DO UPDATE SET {updates}" if updates else "DO NOTHING"
    return f'INSERT INTO "{table}" ({col_list}) VALUES {values} ON CONFLICT ({conflict}) {action}'


def make_upsert_partition_writer(
    dialect: str,
    table: str,
    columns: list[str],
    key_columns: list[str],
    connect: Callable[[], Any],
    batch_size: int = 1000,
    max_retries: int = 3,
    retry_delay: float = 5.0,
    rows_per_sec: int | None = None,
    row_counter: Any | None = None,
) -> Callable[[Iterator[Row]], None]:
    """Build the ``foreachPartition`` upsert function.

    Each executor partition opens one connection, writes ``batch_size``-row
    idempotent upsert statements with R2 retry semantics
    (mysql.go:448-498: max 3 retries, fixed delay), and paces itself to
    ``rows_per_sec`` — the distributed approximation of the reference's
    global limiter (R3, migration.go:211-268): global cap ≈ per-partition
    cap × numPartitions, sized by the caller. ``row_counter`` (a Spark
    accumulator) receives per-partition written-row counts so the driver
    can report totals without a second job (mysql.go:319-322 always counts).
    """

    def write_partition(rows: Iterator[Row]) -> None:
        conn = connect()
        written = 0
        try:
            cur = conn.cursor()
            batch: list[tuple] = []
            window_start = time.monotonic()
            window_rows = 0

            def flush() -> None:
                nonlocal written
                if not batch:
                    return
                if dialect == "mysql":
                    sql = mysql_upsert_sql(table, columns, len(batch))
                elif dialect == "sqlite":
                    sql = sqlite_upsert_sql(table, columns, key_columns, len(batch))
                else:
                    sql = postgres_upsert_sql(table, columns, key_columns, len(batch))
                flat = [v for row in batch for v in row]
                attempt = 0
                while True:
                    try:
                        cur.execute(sql, flat)
                        conn.commit()
                        written += len(batch)
                        return
                    except Exception:
                        attempt += 1
                        if attempt > max_retries:
                            raise
                        conn.rollback()
                        time.sleep(retry_delay)

            for row in rows:
                batch.append(tuple(row[c] for c in columns))
                if len(batch) >= batch_size:
                    flush()
                    window_rows += len(batch)
                    batch.clear()
                    if rows_per_sec:
                        elapsed = time.monotonic() - window_start
                        expected = window_rows / rows_per_sec
                        if expected > elapsed:
                            time.sleep(expected - elapsed)
            flush()
        finally:
            conn.close()
            if row_counter is not None:
                row_counter.add(written)

    return write_partition


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

    def count_rows(
        self, table_df: DataFrame, table: TableMapping, pk: str | None, watermark: int | None
    ) -> int:
        """S6 server-side COUNT(*) (mysql.go:243-249) — counting the Spark
        DataFrame would re-execute the whole partitioned read just for a
        denominator; one scalar query on the source does it for free."""
        qualified = f"{self.cfg.schema}.{table.name}" if self.cfg.schema else table.name
        where = ""
        if pk and watermark is not None:
            # Only numeric watermarks are interpolated (keyset PKs are
            # integral here); anything else falls back to counting the
            # already-filtered DataFrame — never splice a raw string into
            # SQL (invalid for varchar/timestamp PKs, and an injection
            # vector for crafted checkpoint contents).
            try:
                where = f" WHERE {pk} > {int(str(watermark))}"
            except ValueError:
                return table_df.count()
        probe = (
            self.spark.read.format("jdbc")
            .options(
                url=jdbc_url(self.cfg),
                query=f"SELECT COUNT(*) AS n FROM {qualified}{where}",
                user=self.cfg.username,
                password=self.cfg.password,
                driver=jdbc_driver(self.cfg),
            )
            .load()
            .collect()
        )
        return int(probe[0]["n"]) if probe else 0

    def detect_primary_key(self, table: TableMapping) -> list[str]:
        if table.primary_key:
            return [c.strip() for c in table.primary_key.split(",")]
        t = (self.cfg.type or "mysql").lower()
        query = (
            MYSQL_PK_SQL.format(table=table.name)
            if t == "mysql"
            else POSTGRES_PK_SQL.format(table=table.name)
        )
        try:
            rows = (
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
            if t == "mysql":
                return [r["Column_name"] for r in rows]
            return [r[0] for r in rows]
        except Exception:
            return []


class JDBCSink(Sink):
    def __init__(self, spark, cfg, connect: Callable[[], Any] | None = None, batch_size: int = 1000, rows_per_sec: int | None = None):
        super().__init__(spark, cfg)
        self.connect = connect
        self.batch_size = batch_size
        self.rows_per_sec = rows_per_sec

    def ensure_schema(self, df: DataFrame, table: TableMapping) -> None:
        if self.connect is None:
            raise RuntimeError("JDBC sink requires a DB-API connection factory")
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

    def upsert(self, df: DataFrame, table: TableMapping, key_columns: list[str]) -> int:
        if self.connect is None:
            raise RuntimeError("JDBC sink requires a DB-API connection factory")
        t = (self.cfg.type or "mysql").lower()
        # sqlite rides through as its own dialect (?-placeholders, ON
        # CONFLICT upsert) so the sink is drivable end-to-end without a
        # server — everything else MySQL-vs-PG as before
        dialect = t if t in ("mysql", "sqlite") else "postgresql"
        n_parts = df.rdd.getNumPartitions() or 1
        per_part_rate = (
            max(1, self.rows_per_sec // n_parts) if self.rows_per_sec else None
        )
        # Rows written are counted by an accumulator filled from the write
        # tasks themselves — no extra COUNT(*) job, and the engine's
        # stats/rate governance engage in single-shot mode
        # (mysql.go:319-322 always counts rows).
        acc = self.spark.sparkContext.accumulator(0)
        writer = make_upsert_partition_writer(
            dialect,
            table.effective_target,
            df.columns,
            key_columns,
            self.connect,
            batch_size=self.batch_size,
            rows_per_sec=per_part_rate,
            row_counter=acc,
        )
        df.foreachPartition(writer)
        return int(acc.value)
