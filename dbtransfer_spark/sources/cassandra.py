"""Cassandra/ScyllaDB source and sink on the transfer engine.

Reference behavior re-expressed (SURVEY.md §2/§2.7):
- S4 paged scan (cassandra.go:576-592, 726-844): the source is a Python
  data source with one input partition per table, the reference's one
  paged session (cassandra.go:645). Key columns cross Spark as typed
  columns, because the engine's watermark, chunk bounds and upsert key
  read them; the rest of the projected row crosses as one opaque column.
- Resume is per table, by an idempotent re-run: CQL INSERT is an upsert.
- S5 TTL projection (``TTL(col)`` per non-key scalar column,
  cassandra.go:531-575) is read beside the values; the sink writes one
  TTL per row, the first eligible column's, as the reference does
  (cassandra.go:677-691).
- W4 (cassandra.go:648-700): the sink writes UNLOGGED batches of
  ``INSERT ... [USING TTL ?]`` at QUORUM (cassandra.go:1170) through the
  shared partition writer.
- C3/C5/C6/C7 (cassandra.go:236-443, 493-528, 900-980): key detection,
  the DDL clone and the UDT/UDF dependency migration read the source
  catalog; ``CassandraSink.ensure_schema`` applies them on the
  destination.

cassandra-driver is imported when a transfer first connects.
"""

from __future__ import annotations

import pickle
import re
import uuid
from collections.abc import Callable
from contextlib import closing
from typing import Any, Protocol

from pyspark.sql import DataFrame, Row
from pyspark.sql import types as T
from pyspark.sql.datasource import DataSource, DataSourceReader

from dbtransfer_spark.config import DBConfig, TableMapping
from dbtransfer_spark.sources.base import BatchSink, Source, import_driver

# §2.7 write-session contract (cassandra.go:1170-1174 sets QUORUM on the
# native session; 648-698 flushes UNLOGGED batches). ``DriverSession``
# applies both; the write-wire transcript
# (tests/fixtures/cassandra_orders_write_wire.json) asserts them.
CONSISTENCY = "QUORUM"
BATCH_TYPE = "UNLOGGED"


class CQLSession(Protocol):
    """The session surface the engine uses — ``execute`` returns rows as
    dicts, ``execute_batch`` writes bound ``(statement, params)`` pairs as
    one batch — injectable so the engine runs without a server."""

    def execute(self, statement: str, parameters: tuple = ()) -> Any: ...

    def execute_batch(self, statements: list[tuple[str, tuple]]) -> Any: ...

    def close(self) -> None: ...


class DriverSession:
    """``CQLSession`` over cassandra-driver: dict rows, QUORUM reads and
    writes, UNLOGGED batches of prepared statements."""

    def __init__(self, cfg: DBConfig):
        cluster = import_driver("cassandra.cluster", "cassandra-driver")
        query = import_driver("cassandra.query", "cassandra-driver")
        driver = import_driver("cassandra", "cassandra-driver")
        auth = import_driver("cassandra.auth", "cassandra-driver")
        hosts = cfg.hosts or ["localhost:9042"]
        self._consistency = getattr(driver.ConsistencyLevel, CONSISTENCY)
        self._batch_type = getattr(query.BatchType, BATCH_TYPE)
        self._batch = query.BatchStatement
        self._cluster = cluster.Cluster(
            [h.split(":")[0] for h in hosts],
            port=int(hosts[0].partition(":")[2] or 9042),
            auth_provider=(
                auth.PlainTextAuthProvider(cfg.username, cfg.password)
                if cfg.username
                else None
            ),
        )
        self._session = self._cluster.connect()
        self._session.row_factory = query.dict_factory
        self._session.default_consistency_level = self._consistency
        self._prepared: dict[str, Any] = {}

    def execute(self, statement: str, parameters: tuple = ()) -> Any:
        return self._session.execute(statement, parameters or None)

    def execute_batch(self, statements: list[tuple[str, tuple]]) -> None:
        batch = self._batch(batch_type=self._batch_type, consistency_level=self._consistency)
        for stmt, params in statements:
            if stmt not in self._prepared:
                self._prepared[stmt] = self._session.prepare(stmt)
            batch.add(self._prepared[stmt], params)
        self._session.execute(batch)

    def close(self) -> None:
        self._cluster.shutdown()


def client_factory(cfg: DBConfig) -> Callable[[], CQLSession]:
    return lambda: DriverSession(cfg)


# ---------------------------------------------------------------------------
# C3/C5: catalog reads (cassandra.go:493-528, 900-980)
# ---------------------------------------------------------------------------


def _columns(session: CQLSession, keyspace: str, table: str) -> list[dict]:
    """The table's ``system_schema.columns`` rows, in catalog order."""
    return list(
        session.execute(
            "SELECT column_name, type, kind, position FROM system_schema.columns "
            "WHERE keyspace_name = %s AND table_name = %s",
            (keyspace, table),
        )
    )


def _keys(columns: list[dict]) -> tuple[list[str], list[str]]:
    """``(partition_keys, clustering_keys)``, each sorted by position."""
    kinds: dict[str, list[tuple[int, str]]] = {"partition_key": [], "clustering": []}
    for d in columns:
        if d["kind"] in kinds:
            kinds[d["kind"]].append((d["position"], d["column_name"]))
    return [c for _, c in sorted(kinds["partition_key"])], [
        c for _, c in sorted(kinds["clustering"])
    ]


def detect_keys(session: CQLSession, keyspace: str, table: str) -> tuple[list[str], list[str]]:
    """C3 (cassandra.go:493-528 + 1093-1111): read system_schema.columns
    kinds and return ``(partition_keys, clustering_keys)``, each sorted by
    position. Raises if the table declares no keys, like the reference."""
    partition, clustering = _keys(_columns(session, keyspace, table))
    if not partition and not clustering:
        raise RuntimeError(f"table {table} has no primary key")
    return partition, clustering


def get_table_schema(session: CQLSession, keyspace: str, table: str) -> str:
    """Reconstruct ``CREATE TABLE IF NOT EXISTS`` from system_schema —
    columns with source CQL types, ``PRIMARY KEY ((partition...),
    clustering...)``, and ``default_time_to_live`` when set
    (cassandra.go:900-980). Key columns are position-sorted (the reference
    relies on catalog row order, which is alphabetical — position is the
    actual declared key order)."""
    rows = _columns(session, keyspace, table)
    if not rows:
        raise RuntimeError(f"no table schema found for table {table}")
    partition, clustering = _keys(rows)

    default_ttl = 0
    for d in session.execute(
        "SELECT default_time_to_live FROM system_schema.tables "
        "WHERE keyspace_name = %s AND table_name = %s",
        (keyspace, table),
    ):
        default_ttl = d.get("default_time_to_live") or 0

    body = ",\n    ".join(f"{d['column_name']} {d['type']}" for d in rows)
    if partition:
        cl = ", ".join(clustering)
        body += f",\n    PRIMARY KEY (({', '.join(partition)}){', ' + cl if cl else ''})"
    ttl = f" WITH default_time_to_live = {default_ttl}" if default_ttl > 0 else ""
    return f"CREATE TABLE IF NOT EXISTS {table} (\n    {body}\n){ttl}"


def table_exists(session: CQLSession, keyspace: str, table: str) -> bool:
    """S7 existence probe (cassandra.go:246-262)."""
    rows = session.execute(
        "SELECT table_name FROM system_schema.tables "
        "WHERE keyspace_name = %s AND table_name = %s",
        (keyspace, table),
    )
    return bool(list(rows))


# ---------------------------------------------------------------------------
# C6/C7: UDT + UDF dependency migration (cassandra.go:293-443)
# ---------------------------------------------------------------------------

# cassandra.go:1222-1229
_BUILTIN_FUNCTIONS = frozenset(("token", "now", "uuid", "ttl"))

_FUNC_CALL_RE = re.compile(r"(\w+)\s*\(")  # cassandra.go:1207


def _split_type_args(inner: str) -> list[str]:
    """Split ``map<k, v>``-style parameter lists at top-level commas."""
    parts, cur, depth = [], "", 0
    for ch in inner:
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append(cur)
            cur = ""
        else:
            cur += ch
    parts.append(cur)
    return parts


def referenced_udts(cql_type: str, known_types: set[str]) -> set[str]:
    """All UDT names a CQL type expression references, through any nesting
    of ``frozen<>`` / ``list<>`` / ``set<>`` / ``map<>`` / ``tuple<>``.
    (The reference unwraps only one frozen<> level and skips collections
    entirely, cassandra.go:311 + 1234-1266 — which misses
    ``list<frozen<udt>>`` columns; chasing the full structure is a strict
    improvement.)"""
    t = cql_type.strip()
    if t.startswith("frozen<") and t.endswith(">"):
        return referenced_udts(t[7:-1], known_types)
    for prefix in ("list<", "set<", "map<", "tuple<"):
        if t.startswith(prefix) and t.endswith(">"):
            out: set[str] = set()
            for arg in _split_type_args(t[len(prefix) : -1]):
                out |= referenced_udts(arg, known_types)
            return out
    return {t} if t in known_types else set()


def extract_function_names(expr: str, out: set[str]) -> None:
    """cassandra.go:1205-1219: every identifier followed by '(' that is not
    a builtin is treated as a UDF reference."""
    for m in _FUNC_CALL_RE.finditer(expr):
        name = m.group(1).lower()
        if name not in _BUILTIN_FUNCTIONS:
            out.add(name)


def migrate_dependencies(
    source: CQLSession,
    dest: CQLSession,
    source_keyspace: str,
    dest_keyspace: str,
) -> list[str]:
    """C6/C7 (cassandra.go:293-443): discover UDTs used by columns —
    chasing nesting (``list<frozen<udt>>``) and UDT-within-UDT fields
    transitively — and UDFs referenced by index expressions, then emit
    ``CREATE TYPE IF NOT EXISTS`` / ``CREATE OR REPLACE FUNCTION`` on the
    destination. Types are created in dependency order (a UDT's field
    types strictly before it), types strictly before functions, each at
    most once, unused definitions skipped. Returns the executed CQL
    statements in order (for logging/tests)."""
    used_functions: set[str] = set()

    # All type definitions first: needed both to recognize UDT names
    # inside nested type expressions and to chase UDT→UDT field edges.
    type_defs: dict[str, tuple[list[str], list[str]]] = {}
    for d in source.execute(
        "SELECT type_name, field_names, field_types FROM system_schema.types "
        "WHERE keyspace_name = %s",
        (source_keyspace,),
    ):
        type_defs[d["type_name"]] = (list(d["field_names"]), list(d["field_types"]))
    known = set(type_defs)

    used_types: set[str] = set()
    for d in source.execute(
        "SELECT table_name, column_name, type FROM system_schema.columns "
        "WHERE keyspace_name = %s",
        (source_keyspace,),
    ):
        used_types |= referenced_udts(d["type"], known)

    # Transitive closure over UDT fields (a used UDT whose field is
    # another UDT pulls that one in too — the reference misses these and
    # its CREATE TYPE fails with 'Unknown type').
    frontier = list(used_types)
    while frontier:
        name = frontier.pop()
        for ftype in type_defs[name][1]:
            for dep in referenced_udts(ftype, known):
                if dep not in used_types:
                    used_types.add(dep)
                    frontier.append(dep)

    for d in source.execute(
        "SELECT options FROM system_schema.indexes WHERE keyspace_name = %s",
        (source_keyspace,),
    ):
        expr = (d["options"] or {}).get("expression")
        if expr:
            extract_function_names(expr, used_functions)

    executed: list[str] = []
    created: set[str] = set()

    def create_type(name: str) -> None:
        """DFS postorder: field-type dependencies created first."""
        if name in created:
            return
        created.add(name)
        field_names, field_types = type_defs[name]
        for ftype in field_types:
            for dep in referenced_udts(ftype, known):
                create_type(dep)
        fields = ", ".join(f"{n} {t}" for n, t in zip(field_names, field_types))
        stmt = f"CREATE TYPE IF NOT EXISTS {dest_keyspace}.{name} ({fields})"
        dest.execute(stmt)
        executed.append(stmt)

    # Deterministic outer order (sorted), dependency order within.
    for name in sorted(used_types):
        create_type(name)

    created_funcs: set[str] = set()
    for d in source.execute(
        "SELECT function_name, argument_types, return_type, language, body, "
        "called_on_null_input FROM system_schema.functions "
        "WHERE keyspace_name = %s",
        (source_keyspace,),
    ):
        name = d["function_name"]
        if name not in used_functions or name in created_funcs:
            continue
        null_input = (
            "RETURNS NULL ON NULL INPUT"
            if d["called_on_null_input"]
            else "CALLED ON NULL INPUT"
        )
        stmt = (
            f"CREATE OR REPLACE FUNCTION {dest_keyspace}.{name} "
            f"({', '.join(d['argument_types'])}) "
            f"RETURNS {d['return_type']} "
            f"LANGUAGE {d['language']} "
            f"{null_input} "
            f"AS $${d['body']}$$"
        )
        dest.execute(stmt)
        executed.append(stmt)
        created_funcs.add(name)

    return executed


# ---------------------------------------------------------------------------
# S4/S5: the scan
# ---------------------------------------------------------------------------


def _is_collection(cql_type: str) -> bool:
    # cassandra.go:629-633 collection detection.
    return any(t in cql_type for t in ("list<", "map<", "set<"))


def ttl_projection(
    columns: list[str],
    key_columns: list[str],
    column_types: dict[str, str] | None = None,
) -> list[str]:
    """S5: select list preserving per-cell TTLs beside values
    (cassandra.go:531-575) — TTL readable only for non-key, non-collection
    cells (collections have per-element TTLs CQL won't surface)."""
    types = column_types or {}
    proj = list(columns)
    proj.extend(
        f"ttl({c}) AS ttl_{c}"
        for c in columns
        if c not in key_columns and not _is_collection(types.get(c, ""))
    )
    return proj


# Spark types of key columns; any other CQL type crosses as its string form.
_KEY_TYPES = {
    "bigint": T.LongType(),
    "counter": T.LongType(),
    "int": T.IntegerType(),
    "smallint": T.ShortType(),
    "tinyint": T.ByteType(),
    "boolean": T.BooleanType(),
    "double": T.DoubleType(),
    "float": T.FloatType(),
    "blob": T.BinaryType(),
    "timestamp": T.TimestampType(),
}


def _register(spark, connect: Callable[[], CQLSession]) -> str:
    """Register a Python data source running one CQL ``SELECT`` through
    ``connect``; return its format name."""
    fmt = f"dbtransfer_cassandra_{uuid.uuid4().hex}"

    class Reader(DataSourceReader):
        def __init__(self, query: str, keys: list[tuple[str, bool]]):
            self.query = query
            self.keys = keys  # (column, crosses as its string form)

        def read(self, partition):
            with closing(connect()) as session:
                for row in session.execute(self.query):
                    keys = [
                        str(row[k]) if as_str and row[k] is not None else row[k]
                        for k, as_str in self.keys
                    ]
                    yield (*keys, pickle.dumps(row))

    class CassandraDataSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return fmt

        def reader(self, schema):
            keys = [
                (f.name, isinstance(f.dataType, T.StringType)) for f in schema.fields[:-1]
            ]
            return Reader(self.options["query"], keys)

    spark.dataSource.register(CassandraDataSource)
    return fmt


class CassandraSource(Source):
    # A stored last_key here is a position in token order: the reference,
    # and earlier versions of this package, scanned by token(pk). It is no
    # value-order watermark, so a table resumes by an idempotent re-run.
    resumes_by_key = False

    def __init__(self, spark, cfg, connect: Callable[[], CQLSession] | None = None):
        super().__init__(spark, cfg)
        self.connect = connect or client_factory(cfg)
        self.format = _register(spark, self.connect)

    def table_exists(self, table: TableMapping) -> bool:
        with closing(self.connect()) as session:
            return table_exists(session, self.cfg.keyspace, table.name)

    def detect_primary_key(self, table: TableMapping) -> list[str]:
        if table.primary_key:
            return [c.strip() for c in table.primary_key.split(",")]
        with closing(self.connect()) as session:
            partition, clustering = detect_keys(session, self.cfg.keyspace, table.name)
        return partition + clustering

    def read(self, table: TableMapping) -> DataFrame:
        """The key columns, typed, and ``row``: the projected row (values
        and ``ttl_*``) pickled. ``row``'s field metadata names the columns
        and the TTL column the sink's INSERT takes."""
        with closing(self.connect()) as session:
            columns = _columns(session, self.cfg.keyspace, table.name)
        partition, clustering = _keys(columns)
        keys = partition + clustering
        types = {d["column_name"]: d["type"] for d in columns}
        names = list(types)
        ttl_columns = [c for c in names if c not in keys and not _is_collection(types[c])]
        query = (
            f"SELECT {', '.join(ttl_projection(names, keys, types))} "
            f"FROM {self.cfg.keyspace}.{table.name}"
        )
        meta = {"columns": names, "ttl_column": ttl_columns[0] if ttl_columns else None}
        schema = T.StructType(
            [T.StructField(k, _KEY_TYPES.get(types[k], T.StringType())) for k in keys]
            + [T.StructField("row", T.BinaryType(), metadata=meta)]
        )
        return self.spark.read.format(self.format).schema(schema).option("query", query).load()


class CassandraSink(BatchSink):
    def __init__(self, spark, cfg, connect: Callable[[], CQLSession] | None = None, **batching):
        super().__init__(spark, cfg, connect or client_factory(cfg), **batching)

    def _target(self, table: TableMapping) -> str:
        # Qualified with the destination keyspace, where the dependencies
        # are created: an unqualified name would resolve against the
        # session's default keyspace, if any, and could land elsewhere.
        ks = self.cfg.keyspace
        return f"{ks}.{table.effective_target}" if ks else table.effective_target

    def ensure_schema(self, df: DataFrame, table: TableMapping, source=None) -> None:
        """migrateTable's schema steps (cassandra.go:264-291): the UDT/UDF
        dependencies, then the source's DDL with the target name swapped in
        (cassandra.go:276)."""
        with closing(source.connect()) as src, closing(self.connect()) as dest:
            migrate_dependencies(src, dest, source.cfg.keyspace, self.cfg.keyspace)
            ddl = get_table_schema(src, source.cfg.keyspace, table.name)
            dest.execute(ddl.replace(table.name, self._target(table), 1))

    def batch_writer(self, df: DataFrame, table: TableMapping, key_columns: list[str]):
        meta = df.schema["row"].metadata
        names, ttl_column = meta["columns"], meta["ttl_column"]
        insert = (
            f"INSERT INTO {self._target(table)} ({', '.join(names)}) "
            f"VALUES ({', '.join('?' for _ in names)})"
        )
        if ttl_column:
            insert += " USING TTL ?"

        def write_batch(session, batch: list[Row]) -> None:
            statements = []
            for r in batch:
                row = pickle.loads(r["row"])
                params = [row[c] for c in names]
                if ttl_column:
                    # cassandra.go:691: one TTL per row — the first eligible
                    # column's remaining TTL (0/None → no expiry).
                    params.append(row.get(f"ttl_{ttl_column}") or 0)
                statements.append((insert, tuple(params)))
            session.execute_batch(statements)

        return write_batch
