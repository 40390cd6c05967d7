"""End-to-end tests of the MongoDB and Cassandra transfers on the one
runtime, ``TransferEngine`` (S3/P5/W3 mongodb.go:221-431; S4/S5/W4
cassandra.go:236-898), and of the batch writer every database sink shares.

The engine reads and writes in Spark's Python workers, so the clients are
the file-backed fakes of ``tests/fakes.py``: the ``fakes`` fixture makes
every Mongo or Cassandra client the engine opens a fake over the directory
its config names as host. The full lifecycle (checkpoint skip, resume
predicate, batched scan, retrying bulk upsert, complete marker) runs for
real; only the wire protocol is faked.
"""

from __future__ import annotations

import sqlite3
import time

import pytest
from pyspark.sql import functions as F

from dbtransfer_spark.checkpoint import Checkpoint
from dbtransfer_spark.config import Config, DBConfig, MigrationConfig, TableMapping
from dbtransfer_spark.engine import TransferEngine
from dbtransfer_spark.sources import cassandra, mongodb
from dbtransfer_spark.sources.cassandra import ttl_projection
from dbtransfer_spark.sources.jdbc import JDBCSink
from dbtransfer_spark.sources.mongodb import upsert_models
from tests.fakes import FakeCQL, FileState, FlakySQLite


def make_config(tmp_path, engine: str, tables, keyspaces=("src", "dst"), **migration):
    """A same-engine transfer from ``tmp_path/src`` to ``tmp_path/dst``
    (their fake clients' directories); returns (config, source state,
    destination state)."""
    src, dst = tmp_path / "src", tmp_path / "dst"
    cfg = Config(
        source=DBConfig(
            type=engine, hosts=[str(src)], database="shop", keyspace=keyspaces[0],
            tables=[TableMapping(name=t) if isinstance(t, str) else t for t in tables],
        ),
        destination=DBConfig(
            type=engine, hosts=[str(dst)], database="shop", keyspace=keyspaces[1]
        ),
        migration=MigrationConfig(
            checkpoint_dir=str(tmp_path / "ckpt"), retry_delay=0.0, **migration
        ),
    )
    cfg.set_defaults()
    return cfg, FileState(src), FileState(dst)


def cql_answers(keyspace: str, table: str, columns, rows, default_ttl: int = 0):
    """The source catalog of one table without UDTs, UDFs or indexes, plus
    its TTL-projected data SELECT. ``columns``: (name, type, kind, position)."""
    names = [c[0] for c in columns]
    keys = [c[0] for c in sorted(columns, key=lambda c: (c[2] != "partition_key", c[3]))
            if c[2] != "regular"]
    types = {c[0]: c[1] for c in columns}
    select = f"SELECT {', '.join(ttl_projection(names, keys, types))} FROM {keyspace}.{table}"
    return [
        ("SELECT table_name FROM system_schema.tables", [{"table_name": table}]),
        ("SELECT default_time_to_live FROM system_schema.tables",
         [{"default_time_to_live": default_ttl}]),
        ("SELECT column_name, type, kind, position FROM system_schema.columns",
         [dict(zip(("column_name", "type", "kind", "position"), c)) for c in columns]),
        ("SELECT table_name, column_name, type FROM system_schema.columns",
         [{"table_name": table, "column_name": c[0], "type": c[1]} for c in columns]),
        ("SELECT type_name", []),
        ("SELECT options", []),
        ("SELECT function_name", []),
        (select, rows),
    ]


# ---------------------------------------------------------------------------
# MongoDB
# ---------------------------------------------------------------------------


def _mongo_docs(n: int) -> list[dict]:
    return [{"_id": i, "name": f"doc{i}", "v": i * 10} for i in range(1, n + 1)]


def test_mongo_migrate_full_then_skip(spark, tmp_path, fakes):
    cfg, src, dst = make_config(tmp_path, "mongodb", ["users"], batch_size=1000)
    src.put_rows("users", list(reversed(_mongo_docs(2500))))  # natural order ≠ _id order
    engine = TransferEngine(spark, cfg)

    assert engine.run() == {"users": {"rows": 2500, "resumed_from": None}}
    assert dst.rows("users") == _mongo_docs(2500)  # the _id-sorted cursor
    # 2500 docs / batch 1000 → 3 bulk writes (mongodb.go:338-343 + 363-368).
    assert len(dst.calls("bulk_write")) == 3
    assert engine.store.is_complete("users")
    snap = engine.stats.snapshot()["users"]
    assert (snap["processed"], snap["total"]) == (2500, 2500)

    # Idempotent rerun: skip-complete (mongodb.go:239-242).
    assert TransferEngine(spark, cfg).run() == {
        "users": {"skipped": True, "reason": "checkpoint complete"}
    }


def test_mongo_migrate_resume_rebases_progress(spark, tmp_path, fakes):
    cfg, src, dst = make_config(tmp_path, "mongodb", ["users"], batch_size=200)
    src.put_rows("users", _mongo_docs(2000))
    engine = TransferEngine(spark, cfg)
    # Interrupted previous run checkpointed at _id=1500, not complete.
    engine.store.save("users", Checkpoint(last_key={"_id": "1500"}, complete=False))

    assert engine.run() == {"users": {"rows": 500, "resumed_from": "1500"}}
    # P5: resume filter {_id: {$gt: parsed}} on the wire (mongodb.go:264-269).
    assert [c["filter"] for c in src.calls("find")] == [{"_id": {"$gt": 1500}}]
    assert [d["_id"] for d in dst.rows("users")] == list(range(1501, 2001))
    # R9 (mongodb.go:286-291): denominator rebased to remaining docs.
    assert engine.stats.snapshot()["users"]["total"] == 500
    assert engine.store.is_complete("users")


def test_mongo_bulk_retry_and_upsert_overwrite(spark, tmp_path, fakes):
    cfg, src, dst = make_config(tmp_path, "mongodb", ["users"], batch_size=1000)
    src.put_rows("users", _mongo_docs(10))
    # Dest already holds a stale version of doc 3 and fails twice.
    dst.put_rows("users", [{"_id": 3, "name": "stale", "v": -1}])
    dst.fail_next("users", 2)

    assert TransferEngine(spark, cfg).run() == {"users": {"rows": 10, "resumed_from": None}}
    assert not dst.take_failure("users")  # both failed attempts were made
    assert len(dst.calls("bulk_write")) == 1  # then one success
    assert sorted(dst.rows("users"), key=lambda d: d["_id"]) == _mongo_docs(10)


def test_mongo_bulk_retry_exhaustion_raises(spark, tmp_path, fakes):
    cfg, src, dst = make_config(tmp_path, "mongodb", ["users"], max_retries=3)
    src.put_rows("users", _mongo_docs(5))
    table = TableMapping(name="users")
    df = mongodb.MongoSource(spark, cfg.source).read(table)
    sink = mongodb.MongoSink(spark, cfg.destination, max_retries=3, retry_delay=0.0)

    dst.fail_next("users", 4)
    with pytest.raises(Exception, match="transient failure"):
        sink.upsert(df, table, ["_id"])
    assert not dst.take_failure("users")  # 1 + max_retries attempts
    assert dst.rows("users") == []

    # Through the engine: the error is collected and the collection is
    # not marked complete, so the next run resumes instead of skipping.
    dst.fail_next("users", 10)
    engine = TransferEngine(spark, cfg)
    assert "transient failure" in engine.run()["users"]["error"]
    assert not engine.store.is_complete("users")


def test_mongo_upsert_models_shape():
    models = upsert_models([{"_id": 7, "a": 1}])
    assert models == [
        {"filter": {"_id": 7}, "update": {"$set": {"_id": 7, "a": 1}}, "upsert": True}
    ]


def test_mongo_run_migration_pool_and_error_isolation(spark, tmp_path, fakes):
    """Run() parity (mongodb.go:156-202): concurrent collections, one
    failing collection doesn't abort the rest, its error is collected, and
    it stays resumable."""
    cfg, src, dst = make_config(
        tmp_path, "mongodb", ["good", "bad"], workers=2, batch_size=100,
        rate_limit=1_000_000, max_retries=1,
    )
    src.put_rows("good", _mongo_docs(300))
    src.put_rows("bad", _mongo_docs(50))
    dst.fail_next("bad", 99)
    engine = TransferEngine(spark, cfg)

    out = engine.run()
    assert out["good"] == {"rows": 300, "resumed_from": None}
    assert dst.rows("good") == src.rows("good")
    assert "transient failure" in out["bad"]["error"]
    assert engine.store.is_complete("good") and not engine.store.is_complete("bad")
    assert engine.stats.snapshot()["good"]["processed"] == 300


def test_mongo_schema_drift_normalization(spark, tmp_path, fakes):
    """SURVEY §7 hard-part 6: batches with divergent field sets — here
    batch 1 has an unknown 'email', batch 2 lacks 'v' and adds 'age' and
    'tags' — cross Spark under ONE schema (``_id``, ``doc``), so no batch
    can make the frame drift, and land exactly as they were."""
    docs = [
        {"_id": 1, "name": "a", "v": 10, "email": "a@x"},
        {"_id": 2, "name": "b", "v": 20},
        {"_id": 3, "name": "c", "age": 9, "tags": ["x", "y"]},
    ]
    cfg, src, dst = make_config(tmp_path, "mongodb", ["users"], batch_size=2)
    src.put_rows("users", docs)
    engine = TransferEngine(spark, cfg)
    assert engine.source.read(cfg.source.tables[0]).dtypes == [("_id", "bigint"), ("doc", "binary")]

    assert engine.run() == {"users": {"rows": 3, "resumed_from": None}}
    assert dst.rows("users") == docs
    assert [len(c["models"]) for c in dst.calls("bulk_write")] == [2, 1]


def test_mongo_repeated_id_bound_keeps_the_tighter(spark, tmp_path, fakes):
    """Two pushed filters with one operator: the wire filter keeps the
    tighter bound, since Spark does not apply a pushed filter again."""
    cfg, src, _ = make_config(tmp_path, "mongodb", ["users"])
    src.put_rows("users", _mongo_docs(20))
    df = mongodb.MongoSource(spark, cfg.source).read(cfg.source.tables[0])
    out = df.filter((F.col("_id") > 10) & (F.col("_id") > 5) & (F.col("_id") <= 18)
                    & (F.col("_id") <= 15)).collect()

    assert [r["_id"] for r in out] == list(range(11, 16))
    assert [c["filter"] for c in src.calls("find")] == [{"_id": {"$gt": 10, "$lte": 15}}]


def test_mongo_mixed_id_types_copy_exactly(spark, tmp_path, fakes):
    """Mongo orders numbers before strings, so a collection whose smallest
    ``_id`` is integral can still hold string ids: ``_id`` crosses Spark
    as a string then, and every document lands as it was."""
    docs = [{"_id": 1, "v": "a"}, {"_id": 2, "v": "b"}, {"_id": "k3", "v": "c"}]
    cfg, src, dst = make_config(tmp_path, "mongodb", ["users"])
    src.put_rows("users", docs)
    engine = TransferEngine(spark, cfg)
    df = engine.source.read(cfg.source.tables[0])
    assert df.dtypes == [("_id", "string"), ("doc", "binary")]
    assert [r["_id"] for r in df.collect()] == ["1", "2", "k3"]

    assert engine.run() == {"users": {"rows": 3, "resumed_from": None}}
    assert dst.rows("users") == docs


def test_mongo_and_cassandra_copy_only_to_their_own_type(spark, tmp_path, fakes):
    """Like the reference, a Mongo or Cassandra transfer is same-type only:
    their frames carry whole documents or rows in one opaque column."""
    for src_type, dst_type in (("mongodb", "parquet"), ("cassandra", "mongo"), ("csv", "scylladb")):
        cfg, _, _ = make_config(tmp_path, src_type, ["t"])
        cfg.destination.type = dst_type
        with pytest.raises(ValueError, match="copy only to their own type"):
            TransferEngine(spark, cfg)
    cfg, _, _ = make_config(tmp_path, "mongo", ["t"])
    cfg.destination.type = "mongodb"
    TransferEngine(spark, cfg)


def test_client_package_is_imported_when_a_transfer_starts(spark, tmp_path, monkeypatch):
    """A database engine builds without its client package and names the
    missing package when the transfer first connects; a JDBC sink built by
    the engine connects through its default DB-API driver."""
    import sys

    from tests.conftest import SF_SMOKE

    for module in ("pymongo", "cassandra", "pymysql", "psycopg2"):
        monkeypatch.setitem(sys.modules, module, None)  # not importable
    for engine, package in (("mongodb", "pymongo"), ("cassandra", "cassandra-driver")):
        cfg, _, _ = make_config(tmp_path / engine, engine, ["t"])
        result = TransferEngine(spark, cfg).run()["t"]
        assert f"needs the '{package}' package" in result["error"]

    cfg = Config(
        source=DBConfig(type="parquet", database=SF_SMOKE, tables=[TableMapping(name="region")]),
        destination=DBConfig(type="mysql", hosts=["localhost:1"], database="d"),
        migration=MigrationConfig(checkpoint_dir=str(tmp_path / "ckpt")),
    )
    cfg.set_defaults()
    result = TransferEngine(spark, cfg).run()["region"]
    assert "needs the 'PyMySQL' package" in result["error"]
    with pytest.raises(RuntimeError, match="needs the 'psycopg2' package"):
        JDBCSink(spark, DBConfig(type="postgresql")).connect()


# ---------------------------------------------------------------------------
# Cassandra
# ---------------------------------------------------------------------------

_CASS_COLUMNS = [
    ("id", "bigint", "partition_key", 0),
    ("name", "text", "regular", -1),
    ("tags", "list<text>", "regular", -1),
]


def _cass_rows(n: int) -> list[dict]:
    return [
        {"id": i, "name": f"n{i}", "tags": [f"t{i}"], "ttl_name": 100 + i}
        for i in range(1, n + 1)
    ]


def _cass_transfer(tmp_path, table: str, rows, **migration):
    cfg, src, dst = make_config(tmp_path, "cassandra", [table], **migration)
    FakeCQL(src.root).set_answers(cql_answers("src", table, _CASS_COLUMNS, rows))
    return cfg, src, dst


def test_cassandra_copy_full_with_ttl(spark, tmp_path, fakes):
    cfg, src, dst = _cass_transfer(tmp_path, "t", _cass_rows(250), batch_size=100)
    engine = TransferEngine(spark, cfg)

    assert engine.run() == {"t": {"rows": 250, "resumed_from": None}}
    # S5: TTL projected for non-key scalars only (collections excluded).
    selects = [c["statement"] for c in src.calls("execute") if " FROM src.t" in c["statement"]]
    assert selects == ["SELECT id, name, tags, ttl(name) AS ttl_name FROM src.t"]
    batches = dst.calls("batch")
    assert [len(b["statements"]) for b in batches] == [100, 100, 50]
    stmt, params = batches[0]["statements"][0]
    # W4: INSERT-as-upsert with the reference's single-row TTL
    # approximation (cassandra.go:678-691) from the first eligible column.
    assert stmt == "INSERT INTO dst.t (id, name, tags) VALUES (?, ?, ?) USING TTL ?"
    assert params == [1, "n1", ["t1"], 101]
    assert len(dst.rows("dst.t")) == 250
    assert engine.store.is_complete("t")
    assert engine.stats.snapshot()["t"]["processed"] == 250


def test_cassandra_copy_skip_complete_and_retry(spark, tmp_path, fakes):
    cfg, src, dst = _cass_transfer(tmp_path, "t", [])
    engine = TransferEngine(spark, cfg)
    engine.store.mark_complete("t")
    assert engine.run() == {"t": {"skipped": True, "reason": "checkpoint complete"}}

    # Retry path (cassandra.go:887-898): transient failures absorbed.
    cfg, src, dst = _cass_transfer(tmp_path / "u", "u", _cass_rows(5))
    dst.fail_next("dst.u", 2)
    assert TransferEngine(spark, cfg).run() == {"u": {"rows": 5, "resumed_from": None}}
    assert len(dst.calls("batch")) == 1 and len(dst.rows("dst.u")) == 5

    # Exhaustion raises and leaves the table resumable.
    cfg, src, dst = _cass_transfer(tmp_path / "v", "v", _cass_rows(5), max_retries=2)
    dst.fail_next("dst.v", 99)
    engine = TransferEngine(spark, cfg)
    assert "transient failure" in engine.run()["v"]["error"]
    assert not engine.store.is_complete("v")


def test_cassandra_resume_reruns_the_table_whole(spark, tmp_path, fakes):
    """A mid-table checkpoint holds a position in token order (the
    reference's scan, and this package's before it), not a value-order
    watermark on the key: the table is re-run whole, an idempotent upsert."""
    cfg, src, dst = _cass_transfer(tmp_path, "t", _cass_rows(250))
    engine = TransferEngine(spark, cfg, chunk_rows=100)
    engine.store.save("t", Checkpoint(last_key={"id": "151"}, complete=False))

    assert engine.run() == {"t": {"rows": 250, "resumed_from": None}}
    assert sorted(r["id"] for r in dst.rows("dst.t")) == list(range(1, 251))
    assert engine.store.is_complete("t")


def test_ttl_projection_excludes_collections():
    proj = ttl_projection(
        ["id", "name", "tags"],
        ["id"],
        {"id": "bigint", "name": "text", "tags": "list<text>"},
    )
    assert proj == ["id", "name", "tags", "ttl(name) AS ttl_name"]


def test_cassandra_detect_keys_sorted_by_position():
    """C3 (cassandra.go:493-528): partition/clustering keys from
    system_schema kinds, each position-sorted; keyless tables error."""
    from dbtransfer_spark.sources.cassandra import detect_keys

    session = FakeCQLSourceRows(
        [
            {"column_name": "c2", "kind": "clustering", "position": 1},
            {"column_name": "p2", "kind": "partition_key", "position": 1},
            {"column_name": "p1", "kind": "partition_key", "position": 0},
            {"column_name": "c1", "kind": "clustering", "position": 0},
            {"column_name": "v", "kind": "regular", "position": -1},
        ]
    )
    assert detect_keys(session, "ks", "t") == (["p1", "p2"], ["c1", "c2"])

    with pytest.raises(RuntimeError):
        detect_keys(
            FakeCQLSourceRows([{"column_name": "v", "kind": "regular", "position": -1}]),
            "ks", "t",
        )


class FakeCQLSourceRows:
    def __init__(self, rows):
        self.rows = rows

    def execute(self, statement: str, parameters: tuple = ()):
        return list(self.rows)


# migrate_table's catalog (cassandra.go:236-291): a UDT column, a
# clustering key and a default TTL.
_UDT_TABLE_CATALOG = [
    ("SELECT table_name FROM system_schema.tables", [{"table_name": "src_t"}]),
    # keyspace-wide scan used by migrate_dependencies
    ("SELECT table_name, column_name, type FROM system_schema.columns", [
        {"table_name": "src_t", "column_name": "id", "type": "bigint"},
        {"table_name": "src_t", "column_name": "addr", "type": "frozen<address>"},
    ]),
    # per-table scan: schema reconstruction, column list, key kinds
    ("SELECT column_name, type, kind, position FROM system_schema.columns", [
        {"column_name": "id", "type": "bigint", "kind": "partition_key", "position": 0},
        {"column_name": "seq", "type": "int", "kind": "clustering", "position": 0},
        {"column_name": "addr", "type": "frozen<address>", "kind": "regular", "position": -1},
    ]),
    ("SELECT options FROM system_schema.indexes", []),
    ("SELECT type_name, field_names, field_types FROM system_schema.types", [
        {"type_name": "address", "field_names": ["street"], "field_types": ["text"]},
    ]),
    ("SELECT function_name", []),
]


def _udt_table_transfer(tmp_path, default_ttl: int, rows):
    cfg, src, dst = make_config(
        tmp_path, "cassandra", [TableMapping(name="src_t", target_name="dst_t")],
        keyspaces=("src_ks", "dst_ks"), batch_size=2,
    )
    FakeCQL(src.root).set_answers(_UDT_TABLE_CATALOG + [
        ("SELECT default_time_to_live FROM system_schema.tables",
         [{"default_time_to_live": default_ttl}]),
        ("SELECT id, seq, addr, ttl(addr) AS ttl_addr FROM src_ks.src_t", rows),
    ])
    return cfg, dst


def test_cassandra_migrate_table_end_to_end(spark, tmp_path, fakes):
    """migrateTable orchestration (cassandra.go:236-291) on the engine:
    existence probe → dependency migration (UDT referenced by a column) →
    DDL clone with the target name, reconstructed PRIMARY KEY and default
    TTL → full copy."""
    data = [
        {"id": i, "seq": 1, "addr": {"street": f"s{i}"}, "ttl_addr": 50 + i}
        for i in range(1, 6)
    ]
    cfg, dst = _udt_table_transfer(tmp_path, 86400, data)
    engine = TransferEngine(spark, cfg)

    assert engine.run() == {"src_t": {"rows": 5, "resumed_from": None}}
    ddl = [c["statement"] for c in dst.calls("execute")]
    # Dependencies strictly before DDL; DDL carries target name, key
    # structure, and the default TTL (cassandra.go:270-288 + 900-980).
    assert ddl[0] == "CREATE TYPE IF NOT EXISTS dst_ks.address (street text)"
    # DDL and data writes target the destination keyspace explicitly —
    # same keyspace the UDTs were created in.
    assert ddl[1] == (
        "CREATE TABLE IF NOT EXISTS dst_ks.dst_t (\n"
        "    id bigint,\n    seq int,\n    addr frozen<address>,\n"
        "    PRIMARY KEY ((id), seq)\n"
        ") WITH default_time_to_live = 86400"
    )
    # Copy: TTL projected for the regular scalar-ish column only (addr is
    # frozen<>, not a collection → TTL-eligible like the reference).
    batches = dst.calls("batch")
    stmt, params = batches[0]["statements"][0]
    assert stmt == "INSERT INTO dst_ks.dst_t (id, seq, addr) VALUES (?, ?, ?) USING TTL ?"
    assert params == [1, 1, {"street": "s1"}, 51]
    assert len(batches) == 3  # 2+2+1
    assert engine.store.is_complete("src_t")


def test_cassandra_nested_udt_dependency_order():
    """A column of list<frozen<address>> whose UDT has a UDT field (geo)
    must pull in geo transitively and create it BEFORE address — the
    reference misses both (unknown-type failures on real schemas)."""
    from dbtransfer_spark.sources.cassandra import migrate_dependencies
    from tests.test_units import FakeCQLSession

    source = FakeCQLSession(
        {
            "system_schema.columns": [
                {"table_name": "t", "column_name": "id", "type": "bigint"},
                {"table_name": "t", "column_name": "addrs",
                 "type": "list<frozen<address>>"},
            ],
            "system_schema.indexes": [],
            "system_schema.types": [
                {"type_name": "address", "field_names": ["street", "loc"],
                 "field_types": ["text", "frozen<geo>"]},
                {"type_name": "geo", "field_names": ["lat", "lon"],
                 "field_types": ["double", "double"]},
                {"type_name": "unused", "field_names": ["x"], "field_types": ["int"]},
            ],
            "system_schema.functions": [],
        }
    )
    dest = FakeCQLSession()
    executed = migrate_dependencies(source, dest, "src", "dst")
    assert executed == [
        "CREATE TYPE IF NOT EXISTS dst.geo (lat double, lon double)",
        "CREATE TYPE IF NOT EXISTS dst.address (street text, loc frozen<geo>)",
    ]


def test_referenced_udts_chases_tuple_nesting():
    from dbtransfer_spark.sources.cassandra import referenced_udts

    known = {"geo", "address"}
    assert referenced_udts("tuple<int, frozen<geo>>", known) == {"geo"}
    assert referenced_udts(
        "map<text, frozen<tuple<address, list<geo>>>>", known
    ) == {"geo", "address"}


def test_cassandra_migrate_recreate_tolerated(spark, tmp_path, fakes):
    """r5 VERDICT #8: DDL apply on an already-populated destination must
    be a no-op, not an error — re-running the whole migration against
    the same dest (fresh checkpoint) succeeds and re-upserts. The fake
    destination raises AlreadyExists on a CREATE of an existing name
    unless it says IF NOT EXISTS (cassandra.go:286-288, 370-377)."""
    data = [{"id": i, "seq": 1, "addr": {"street": f"s{i}"}, "ttl_addr": None} for i in range(3)]
    cfg, dst = _udt_table_transfer(tmp_path, 0, data)

    for attempt in range(2):
        # fresh checkpoint dir per attempt: the second run is a true
        # re-migration onto a dest where type+table already exist
        cfg.migration.checkpoint_dir = str(tmp_path / f"ckpt{attempt}")
        assert TransferEngine(spark, cfg).run() == {"src_t": {"rows": 3, "resumed_from": None}}
    # both runs attempted the DDL; the dest created each object exactly
    # once and the replayed creates were tolerated no-ops, not errors
    creates = [c["statement"] for c in dst.calls("execute") if c["statement"].startswith("CREATE")]
    assert len(creates) == 4 and len(FakeCQL(dst.root).created()) == 2
    assert all("IF NOT EXISTS" in s for s in creates)
    assert len(dst.rows("dst_ks.dst_t")) == 3


# ---------------------------------------------------------------------------
# The batch writer every database sink shares (R2/R3)
# ---------------------------------------------------------------------------

_MAX_RETRIES = 2
_BATCHING = dict(batch_size=4, max_retries=_MAX_RETRIES, retry_delay=0.0)


def _sqlite_case(spark, tmp_path):
    from tests.test_jdbc_writer import _setup

    db, root = str(tmp_path / "w.db"), str(tmp_path / "flaky")
    _setup(db)
    with sqlite3.connect(db) as conn:
        conn.execute('INSERT INTO "t" VALUES (3, \'stale\', -1.0)')
    rows = [(i, f"n{i}", float(i)) for i in range(10)]
    df = spark.createDataFrame(rows, "id int, name string, bal double").coalesce(1)
    sink = JDBCSink(
        spark, DBConfig(type="sqlite"), connect=lambda: FlakySQLite(db, root, "t"), **_BATCHING
    )

    def state():
        with sqlite3.connect(db) as conn:
            return conn.execute('SELECT * FROM "t" ORDER BY "id"').fetchall()

    return sink, df, TableMapping(name="t"), ["id"], state, rows, FileState(root), "t"


def _mongo_case(spark, tmp_path):
    src, dst = FileState(tmp_path / "src"), FileState(tmp_path / "dst")
    docs = [{"_id": i, "name": f"n{i}", "tags": list(range(i % 3))} for i in range(10)]
    src.put_rows("c", docs)
    dst.put_rows("c", [{"_id": 3, "name": "stale"}])
    source = mongodb.MongoSource(spark, DBConfig(type="mongodb", hosts=[src.root]))
    sink = mongodb.MongoSink(spark, DBConfig(type="mongodb", hosts=[dst.root]), **_BATCHING)
    table = TableMapping(name="c")
    return (sink, source.read(table), table, ["_id"],
            lambda: sorted(dst.rows("c"), key=lambda d: d["_id"]), docs, dst, "c")


def _cassandra_case(spark, tmp_path):
    src, dst = FileState(tmp_path / "src"), FileState(tmp_path / "dst")
    rows = _cass_rows(10)
    FakeCQL(src.root).set_answers(cql_answers("src", "t", _CASS_COLUMNS, rows))
    source = cassandra.CassandraSource(
        spark, DBConfig(type="cassandra", hosts=[src.root], keyspace="src")
    )
    sink = cassandra.CassandraSink(
        spark, DBConfig(type="cassandra", hosts=[dst.root], keyspace="dst"), **_BATCHING
    )
    table = TableMapping(name="t")
    df = source.read(table)
    sink.ensure_schema(df, table, source)
    FakeCQL(dst.root).execute_batch(
        [("INSERT INTO dst.t (id, name, tags) VALUES (?, ?, ?)", (3, "stale", []))]
    )
    expected = [
        {"id": r["id"], "name": r["name"], "tags": r["tags"], "_ttl": r["ttl_name"]}
        for r in rows
    ]
    return (sink, df, table, ["id"],
            lambda: sorted(dst.rows("dst.t"), key=lambda r: r["id"]), expected, dst, "dst.t")


@pytest.mark.parametrize("case", [_sqlite_case, _mongo_case, _cassandra_case],
                         ids=["sqlite", "mongodb", "cassandra"])
def test_database_sink_contract(spark, tmp_path, fakes, case):
    """JDBC, Mongo and Cassandra sinks share one partition writer: upsert
    returns exactly the rows written and overwrites a stale row; a replay
    leaves the destination unchanged (idempotence); one transient batch
    failure is retried; 1 + max_retries failures raise, after exactly
    that many attempts."""
    sink, df, table, keys, state, expected, faults, name = case(spark, tmp_path)

    assert sink.upsert(df, table, keys) == len(expected)
    assert state() == expected
    assert sink.upsert(df, table, keys) == len(expected)
    assert state() == expected

    faults.fail_next(name, 1)
    assert sink.upsert(df, table, keys) == len(expected)
    assert state() == expected
    assert not faults.take_failure(name)

    faults.fail_next(name, 1 + _MAX_RETRIES, after=1)
    with pytest.raises(Exception, match="transient failure"):
        sink.upsert(df, table, keys)
    assert not faults.take_failure(name)  # every scheduled attempt was made
    assert state() == expected


def test_database_sinks_pace_once_within_the_global_rate(spark, tmp_path, fakes):
    """R3 holds once: two tables writing at once share ``rate_limit``,
    each paced while it writes, and the engine's limiter adds no second
    wait after a database sink's write."""
    cfg, src, dst = make_config(tmp_path, "mongodb", ["a", "b"], workers=2, rate_limit=200)
    for name in ("a", "b"):
        src.put_rows(name, _mongo_docs(200))
    engine = TransferEngine(spark, cfg)
    assert engine.sink.rows_per_sec == 100
    waits = []
    engine.limiter.acquire = waits.append

    start = time.monotonic()
    assert engine.run() == {t: {"rows": 200, "resumed_from": None} for t in ("a", "b")}
    assert time.monotonic() - start >= 1.9  # 400 rows at 200 rows/s
    assert waits == []
