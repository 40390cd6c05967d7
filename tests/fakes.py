"""File-backed MongoDB, Cassandra and SQLite clients for the engine tests.

The transfer engine reads and writes in Spark's Python worker processes, so
a fake that kept its state in memory would never see a write. These fakes
keep everything in one directory, which every process can open:

- ``<name>.jsonl``: a collection's documents or a table's rows, one
  extended-JSON object a line (``$date`` datetimes, ``$binary`` bytes), in
  natural (insertion) order;
- ``calls.jsonl``: every wire call in order, for the tests to assert on;
- ``<name>.fail``: the schedule of the next writes to ``<name>``, one
  boolean each (true fails it);
- ``answers.json`` (Cassandra): ``[statement prefix, rows]`` pairs.

An ``fcntl`` lock serializes concurrent partitions. The module ships to the
workers by value, so they never import ``tests``.
"""

from __future__ import annotations

import datetime
import fcntl
import json
import os
import re
import sqlite3
import sys
from contextlib import contextmanager

from pyspark import cloudpickle


def decode(v):
    """Extended JSON (v2) to Python: $numberLong/$numberInt (→ int),
    $numberDouble (→ float), $date (→ datetime), $oid (→ hex string),
    $binary (→ bytes)."""
    if isinstance(v, dict):
        if len(v) == 1:
            ((k, inner),) = v.items()
            if k in ("$numberLong", "$numberInt"):
                return int(inner)
            if k == "$numberDouble":
                return float(inner)
            if k == "$date":
                return datetime.datetime.fromisoformat(inner.replace("Z", "+00:00"))
            if k == "$oid":
                return str(inner)
            if k == "$binary":
                return bytes.fromhex(inner)
        return {k: decode(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [decode(x) for x in v]
    return v


def encode(v):
    if isinstance(v, datetime.datetime):
        return {"$date": v.isoformat()}
    if isinstance(v, (bytes, bytearray)):
        return {"$binary": bytes(v).hex()}
    if isinstance(v, dict):
        return {k: encode(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [encode(x) for x in v]
    return v


class FileState:
    def __init__(self, root: str):
        self.root = str(root)
        os.makedirs(self.root, exist_ok=True)

    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    @contextmanager
    def locked(self):
        with open(self._path(".lock"), "a") as fh:
            fcntl.flock(fh, fcntl.LOCK_EX)
            try:
                yield
            finally:
                fcntl.flock(fh, fcntl.LOCK_UN)

    def _read_lines(self, name: str) -> list:
        try:
            with open(self._path(name)) as fh:
                return [decode(json.loads(line)) for line in fh if line.strip()]
        except FileNotFoundError:
            return []

    def rows(self, name: str) -> list:
        return self._read_lines(f"{name}.jsonl")

    def put_rows(self, name: str, rows: list) -> None:
        with open(self._path(f"{name}.jsonl"), "w") as fh:
            for r in rows:
                fh.write(json.dumps(encode(r)) + "\n")

    def tables(self) -> list[str]:
        return sorted(
            f[: -len(".jsonl")]
            for f in os.listdir(self.root)
            if f.endswith(".jsonl") and f != "calls.jsonl"
        )

    def log(self, **call) -> None:
        with self.locked(), open(self._path("calls.jsonl"), "a") as fh:
            fh.write(json.dumps(encode(call)) + "\n")

    def calls(self, op: str | None = None) -> list[dict]:
        return [c for c in self._read_lines("calls.jsonl") if op is None or c["op"] == op]

    def fail_next(self, name: str, times: int, after: int = 0) -> None:
        """The next ``after`` writes to ``name`` succeed, then ``times`` fail."""
        with open(self._path(f"{name}.fail"), "w") as fh:
            json.dump([False] * after + [True] * times, fh)

    def take_failure(self, name: str) -> bool:
        """Pop the next write's entry of ``name``'s schedule (the caller
        holds the lock)."""
        try:
            with open(self._path(f"{name}.fail")) as fh:
                schedule = json.load(fh)
        except FileNotFoundError:
            return False
        if not schedule:
            return False
        with open(self._path(f"{name}.fail"), "w") as fh:
            json.dump(schedule[1:], fh)
        return schedule[0]


# ---------------------------------------------------------------------------
# MongoDB
# ---------------------------------------------------------------------------

_MONGO_OPS = {
    "$gt": lambda a, b: a > b,
    "$gte": lambda a, b: a >= b,
    "$lt": lambda a, b: a < b,
    "$lte": lambda a, b: a <= b,
}


def _bson_order(value) -> tuple:
    """Mongo's order across types, as far as the tests need it: numbers
    before strings."""
    numeric = isinstance(value, (int, float)) and not isinstance(value, bool)
    return (0, value) if numeric else (1, str(value))


def _compare(op: str, a, b) -> bool:
    """A comparison matches only values of one type bracket, as in Mongo."""
    a, b = _bson_order(a), _bson_order(b)
    return a[0] == b[0] and _MONGO_OPS[op](a, b)


class FakeMongo:
    """A MongoClient over one directory: every database name maps to it."""

    def __init__(self, root: str):
        self.state = FileState(root)

    def __getitem__(self, database: str) -> FakeMongoDatabase:
        return FakeMongoDatabase(self.state)

    def close(self) -> None:
        pass


class FakeMongoDatabase:
    def __init__(self, state: FileState):
        self.state = state

    def __getitem__(self, collection: str) -> FakeMongoCollection:
        return FakeMongoCollection(self.state, collection)

    def list_collection_names(self) -> list[str]:
        return self.state.tables()


class FakeMongoCollection:
    def __init__(self, state: FileState, name: str):
        self.state = state
        self.name = name

    def _match(self, filter: dict) -> list[dict]:
        docs = self.state.rows(self.name)
        for field, cond in (filter or {}).items():
            for op, value in cond.items():
                docs = [d for d in docs if _compare(op, d[field], value)]
        return docs

    def find(self, filter, batch_size=101, no_cursor_timeout=False, sort=None):
        self.state.log(
            op="find", collection=self.name, filter=filter, batch_size=batch_size,
            no_cursor_timeout=no_cursor_timeout, sort=sort,
        )
        docs = self._match(filter)
        for key, direction in reversed(sort or []):
            docs.sort(key=lambda d: _bson_order(d[key]), reverse=direction < 0)
        return iter(docs)

    def find_one(self, filter=None, sort=None):
        docs = self._match(filter)
        for key, direction in reversed(sort or []):
            docs.sort(key=lambda d: _bson_order(d[key]), reverse=direction < 0)
        return docs[0] if docs else None

    def bulk_write(self, models: list, ordered: bool = True):
        """Unordered upserting UpdateOne models (their dict form), applied
        under the lock: a replaced document keeps its place."""
        with self.state.locked():
            if self.state.take_failure(self.name):
                raise RuntimeError("transient failure")
            docs = self.state.rows(self.name)
            at = {d["_id"]: i for i, d in enumerate(docs)}
            for m in models:
                assert m["upsert"] is True
                doc = dict(m["update"]["$set"])
                if m["filter"]["_id"] in at:
                    docs[at[m["filter"]["_id"]]] = doc
                else:
                    at[doc["_id"]] = len(docs)
                    docs.append(doc)
            self.state.put_rows(self.name, docs)
        self.state.log(op="bulk_write", collection=self.name, ordered=ordered, models=models)


# ---------------------------------------------------------------------------
# Cassandra
# ---------------------------------------------------------------------------

_CREATE_RE = re.compile(r"CREATE (?:TYPE|TABLE|OR REPLACE FUNCTION) (?:IF NOT EXISTS )?(\S+)")
_PK_RE = re.compile(r"PRIMARY KEY \(\((.*?)\)(?:, ([^)]*))?\)")
_INSERT_RE = re.compile(r"INSERT INTO (\S+) \((.*?)\)")


class FakeCQL:
    """A CQL session over one directory. ``execute`` answers a statement
    with the rows of the first ``answers.json`` prefix it starts with
    (an unanswered SELECT is an unrecorded wire statement and raises) and
    applies CREATEs as a server would: an existing name raises unless the
    statement says IF NOT EXISTS or OR REPLACE. ``execute_batch`` applies
    INSERTs keyed on the table's created PRIMARY KEY."""

    def __init__(self, root: str):
        self.state = FileState(root)

    def set_answers(self, answers: list[tuple[str, list[dict]]]) -> None:
        with open(self.state._path("answers.json"), "w") as fh:
            json.dump(encode(answers), fh)

    def execute(self, statement: str, parameters: tuple = ()):
        self.state.log(op="execute", statement=statement, parameters=list(parameters))
        if statement.startswith("CREATE"):
            return self._create(statement)
        with open(self.state._path("answers.json")) as fh:
            for prefix, rows in decode(json.load(fh)):
                if statement.startswith(prefix):
                    return [dict(r) for r in rows]
        raise AssertionError(f"unrecorded wire statement: {statement!r}")

    def _create(self, statement: str) -> list:
        name = _CREATE_RE.match(statement).group(1)
        with self.state.locked():
            created = {c["name"]: c for c in self.state.rows("_created")}
            if name in created:
                if "IF NOT EXISTS" in statement or "OR REPLACE" in statement:
                    return []
                raise RuntimeError(f"AlreadyExists: {name}")
            keys = _PK_RE.search(statement)
            created[name] = {
                "name": name,
                "keys": (
                    [k.strip() for part in keys.groups() if part for k in part.split(",")]
                    if keys
                    else []
                ),
            }
            self.state.put_rows("_created", list(created.values()))
        return []

    def created(self) -> dict[str, list[str]]:
        return {c["name"]: c["keys"] for c in self.state.rows("_created")}

    def execute_batch(self, statements: list[tuple[str, tuple]]):
        table = _INSERT_RE.match(statements[0][0]).group(1)
        with self.state.locked():
            if self.state.take_failure(table):
                raise RuntimeError("transient failure")
            keys = self.created()[table]
            rows = {tuple(r[k] for k in keys): r for r in self.state.rows(table)}
            for stmt, params in statements:
                columns = [c.strip() for c in _INSERT_RE.match(stmt).group(2).split(",")]
                row = dict(zip(columns, params))
                if "USING TTL ?" in stmt:
                    row["_ttl"] = params[-1]
                rows[tuple(row[k] for k in keys)] = row
            self.state.put_rows(table, list(rows.values()))
        self.state.log(op="batch", statements=[[s, list(p)] for s, p in statements])

    def close(self) -> None:
        pass


# ---------------------------------------------------------------------------
# SQLite, with scheduled failures
# ---------------------------------------------------------------------------


class FlakySQLite:
    """A DB-API connection to a SQLite file whose statements fail as the
    ``<table>.fail`` schedule in ``root`` says."""

    def __init__(self, db: str, root: str, table: str):
        self.conn = sqlite3.connect(db, timeout=30)
        self.conn.execute("PRAGMA busy_timeout=30000")
        self.state = FileState(root)
        self.table = table

    def cursor(self):
        return self

    def execute(self, sql, params=()):
        with self.state.locked():
            if self.state.take_failure(self.table):
                raise RuntimeError("transient failure")
        return self.conn.execute(sql, params)

    def commit(self):
        self.conn.commit()

    def rollback(self):
        self.conn.rollback()

    def close(self):
        self.conn.close()


cloudpickle.register_pickle_by_value(sys.modules[__name__])
