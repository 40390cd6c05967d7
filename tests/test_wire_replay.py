"""Recorded-wire-format replay for the Mongo and Cassandra transfers
(r7 VERDICT #6): ``TransferEngine`` runs against transcripts of the actual
wire shapes — Mongo extended-JSON cursor documents with schema drift, a
CQL statement→rows transcript with the TTL projection recorded verbatim —
so the scan, the watermark pushdown and the writes are verified against
what a live server would really send and receive, without containers.

The replay is STRICT: a SELECT the engine emits that is not in the
recording fails the transfer, and the write transcripts must be matched
call for call. True live-service verification remains environment-gated
(no containers in this sandbox).
"""

from __future__ import annotations

import json
import os
import sys

from dbtransfer_spark.checkpoint import Checkpoint
from dbtransfer_spark.config import TableMapping
from dbtransfer_spark.engine import TransferEngine
from dbtransfer_spark.sources import cassandra as cass
from dbtransfer_spark.sources.mongodb import connection_uri
from tests.fakes import FakeCQL, decode
from tests.test_runtime_paths import make_config

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")


# ---------------------------------------------------------------------------
# Mongo: extended-JSON cursor capture
# ---------------------------------------------------------------------------


def _load_mongo_recording() -> list[dict]:
    with open(os.path.join(FIXTURES, "mongo_orders_wire.jsonl")) as f:
        return [decode(json.loads(line)) for line in f if line.strip()]


def _mongo_transfer(tmp_path, **migration):
    """The capture as the source collection, in its RECORDED order —
    deliberately not _id order (the capture interleaves inserts), so resume
    correctness depends on the cursor requesting the _id sort."""
    cfg, src, dst = make_config(tmp_path, "mongodb", ["orders"], **migration)
    src.put_rows("orders", _load_mongo_recording())
    return cfg, src, dst


def test_mongo_wire_replay_full_migration_normalizes_drift(spark, tmp_path, fakes):
    """Full S3 lifecycle over the recorded cursor. The capture drifts
    (coupon/shipping/note/session appear on some docs only, coupon is null
    on one); the drift is normalized at the Spark boundary — every document
    crosses as one (``_id``, ``doc``) row — and all 10 documents land
    exactly, drifted fields as they are. The cursor ran with the
    reference's options (batched, no timeout) plus the _id sort."""
    docs = _load_mongo_recording()
    cfg, src, dst = _mongo_transfer(tmp_path, batch_size=4)
    engine = TransferEngine(spark, cfg)

    assert engine.run() == {"orders": {"rows": 10, "resumed_from": None}}
    assert engine.store.is_complete("orders")
    # 10 docs / batch 4 → 3 bulk writes
    assert len(dst.calls("bulk_write")) == 3
    # cursor options pinned (mongodb.go:313-320 + the _id-sort fix)
    (call,) = src.calls("find")
    assert call["filter"] == {}
    assert call["batch_size"] == 4
    assert call["no_cursor_timeout"] is True
    assert call["sort"] == [["_id", 1]]

    written = {d["_id"]: d for d in dst.rows("orders")}
    assert written == {d["_id"]: d for d in docs}
    assert written[1001]["coupon"] == "WINTER10"
    assert written[1006]["shipping"] == {"carrier": "dhl", "express": True, "weight_g": 1200}
    assert "coupon" in written[1010] and written[1010]["coupon"] is None
    assert "coupon" not in written[1002]


def test_mongo_wire_replay_watermark_pushdown(spark, tmp_path, fakes):
    """R9/P5 resume: with a checkpoint watermark, the $gt filter must be
    pushed INTO the wire find (not applied client-side) and only the tail
    documents transfer."""
    cfg, src, dst = _mongo_transfer(tmp_path, batch_size=4)
    engine = TransferEngine(spark, cfg)
    engine.store.save("orders", Checkpoint(last_key={"_id": "1005"}, complete=False))

    assert engine.run() == {"orders": {"rows": 5, "resumed_from": "1005"}}
    # the filter reached the wire, typed as the integral _id (not "1005")
    assert [c["filter"] for c in src.calls("find")] == [{"_id": {"$gt": 1005}}]
    assert sorted(d["_id"] for d in dst.rows("orders")) == [1006, 1007, 1008, 1009, 1010]


def test_mongo_wire_replay_spark_schema_is_drift_free(spark, tmp_path, fakes):
    """Schema parity: the source frame has ONE Spark schema no matter
    which prefix of the capture the collection holds — no sampling-based
    inference to drift — and its rows carry the documents exactly."""
    import pickle

    docs = _load_mongo_recording()
    cfg, src, _ = _mongo_transfer(tmp_path)
    engine = TransferEngine(spark, cfg)
    table = TableMapping(name="orders")
    full = engine.source.read(table)
    src.put_rows("orders", docs[:3])
    head = engine.source.read(table)
    assert head.schema == full.schema
    assert full.dtypes == [("_id", "bigint"), ("doc", "binary")]
    assert head.count() == 3
    src.put_rows("orders", docs)
    assert sorted((pickle.loads(r["doc"]) for r in full.collect()), key=lambda d: d["_id"]) == (
        sorted(docs, key=lambda d: d["_id"])
    )


def test_mongo_connector_read_options_pinned(spark, tmp_path, fakes):
    """The read contract a live server receives from a default-config
    transfer: the connection URI, and a cursor of 1000-document batches
    (the reference's batch_size default, mongodb.go:314-316), without a
    cursor timeout, sorted by _id."""
    cfg, src, _ = _mongo_transfer(tmp_path)
    cfg.source.username, cfg.source.password = "app", "pw"
    assert connection_uri(cfg.source) == f"mongodb://app:pw@{src.root}/?authSource=admin"
    TransferEngine(spark, cfg).run()
    assert src.calls("find") == [{
        "op": "find", "collection": "orders", "filter": {}, "batch_size": 1000,
        "no_cursor_timeout": True, "sort": [["_id", 1]],
    }]


# ---------------------------------------------------------------------------
# Cassandra: CQL transcript replay
# ---------------------------------------------------------------------------


def _load_cql_transcript() -> dict:
    with open(os.path.join(FIXTURES, "cassandra_orders_wire.json")) as f:
        return json.load(f)


def _cql_transfer(tmp_path, **migration):
    """The transcript as the source session: each recorded catalog table
    answers its statements, each recorded page its exact SELECT; the
    destination keyspace is unset, as in the recorded writes."""
    t = _load_cql_transcript()
    cfg, src, dst = make_config(
        tmp_path, "cassandra", [TableMapping(name=t["table"], target_name="orders_v2")],
        keyspaces=(t["keyspace"], ""), **migration,
    )
    columns = t["system_schema.columns"]
    FakeCQL(src.root).set_answers([
        ("SELECT table_name FROM system_schema.tables", t["system_schema.tables"]),
        ("SELECT default_time_to_live FROM system_schema.tables", t["system_schema.tables"]),
        ("SELECT column_name, type, kind, position FROM system_schema.columns", columns),
        ("SELECT table_name, column_name, type FROM system_schema.columns",
         [{"table_name": t["table"], **c} for c in columns]),
        ("SELECT type_name", t["system_schema.types"]),
        ("SELECT options", t["system_schema.indexes"]),
        ("SELECT function_name", t["system_schema.functions"]),
        *t["pages"].items(),
    ])
    return t, cfg, src, dst


def test_cassandra_wire_replay_detect_keys_and_full_copy(spark, tmp_path, fakes):
    """C3 + S4/S5 against the recorded transcript: key detection from the
    recorded system_schema rows, then a full copy whose SELECT — TTL
    projection included — must be byte-identical to the recorded wire
    statement; every catalog read names the recorded keyspace and table."""
    t, cfg, src, dst = _cql_transfer(tmp_path, batch_size=3)
    assert cass.detect_keys(FakeCQL(src.root), t["keyspace"], t["table"]) == (
        ["order_id"], ["line_no"]
    )

    engine = TransferEngine(spark, cfg)
    assert engine.run() == {"orders": {"rows": 8, "resumed_from": None}}
    assert engine.store.is_complete(t["table"])
    statements = [c["statement"] for c in src.calls("execute")]
    assert statements[-1] == next(iter(t["pages"]))
    for c in src.calls("execute")[:-1]:
        assert c["parameters"] in ([t["keyspace"], t["table"]], [t["keyspace"]])
    batches = [b["statements"] for b in dst.calls("batch")]
    # 8 rows / batch 3 → 3 batches
    assert [len(b) for b in batches] == [3, 3, 2]
    # INSERT carries every column + USING TTL (text cols eligible,
    # set<text> excluded from the TTL projection)
    assert batches[0][0][0] == (
        "INSERT INTO orders_v2 (order_id, line_no, user, total, tags) "
        "VALUES (?, ?, ?, ?, ?) USING TTL ?"
    )
    # row TTL = first eligible column's recorded remaining TTL; NULL → 0
    assert batches[0][0][1][-1] == 86400
    bob = next(p for b in batches for s, p in b if p[2] == "bob")
    assert bob[-1] == 0


def test_cassandra_wire_replay_write_transcript_and_idempotence(spark, tmp_path, fakes):
    """W4 write wire (cassandra.go:648-698): the full copy must apply the
    recorded DDL clone and flush EXACTLY the recorded batches — `INSERT
    ... USING TTL ?` statements byte-identical, parameter tuples (TTL
    included) value-equal, 3/3/2 grouping — under the recorded session
    contract (QUORUM consistency, UNLOGGED batch type,
    cassandra.go:1170-1174), and replaying the transfer must leave the
    destination state unchanged."""
    with open(os.path.join(FIXTURES, "cassandra_orders_write_wire.json")) as f:
        wt = json.load(f)
    assert wt["session"] == {"consistency": cass.CONSISTENCY, "batch_type": cass.BATCH_TYPE}
    t, cfg, src, dst = _cql_transfer(tmp_path, batch_size=3)

    assert TransferEngine(spark, cfg).run() == {"orders": {"rows": 8, "resumed_from": None}}
    assert [c["statement"] for c in dst.calls("execute")] == wt["ddl"]
    assert [b["statements"] for b in dst.calls("batch")] == wt["batches"]
    state_after_first = dst.rows(wt["table"])
    assert len(state_after_first) == 8

    # idempotent replay (the property the batch retry relies on)
    cfg.migration.checkpoint_dir = str(tmp_path / "ckpt2")
    assert TransferEngine(spark, cfg).run() == {"orders": {"rows": 8, "resumed_from": None}}
    assert [b["statements"] for b in dst.calls("batch")] == wt["batches"] * 2
    assert dst.rows(wt["table"]) == state_after_first


def test_cassandra_connector_options_pinned(monkeypatch):
    """The options the engine hands cassandra-driver (S4/W4), against
    stand-in driver modules: contact points and port from the config
    hosts, password auth, dict rows, QUORUM reads and writes
    (cassandra.go:1170), UNLOGGED batches (cassandra.go:648-700) of
    prepared statements, each statement prepared once."""
    import types

    made: dict = {"sessions": [], "batches": []}

    class Session:
        def __init__(self):
            self.executed, self.prepared = [], []
            made["sessions"].append(self)

        def execute(self, statement, parameters=None):
            self.executed.append((statement, parameters))

        def prepare(self, statement):
            self.prepared.append(statement)
            return ("prepared", statement)

    class Cluster:
        def __init__(self, contact_points, port, auth_provider):
            made["cluster"] = (contact_points, port, auth_provider)

        def connect(self):
            return Session()

        def shutdown(self):
            made["shutdown"] = True

    class BatchStatement:
        def __init__(self, batch_type, consistency_level):
            self.options, self.added = (batch_type, consistency_level), []
            made["batches"].append(self)

        def add(self, statement, parameters):
            self.added.append((statement, parameters))

    modules = {
        "cassandra": types.SimpleNamespace(ConsistencyLevel=types.SimpleNamespace(QUORUM="Q")),
        "cassandra.cluster": types.SimpleNamespace(Cluster=Cluster),
        "cassandra.auth": types.SimpleNamespace(PlainTextAuthProvider=lambda u, p: ("auth", u, p)),
        "cassandra.query": types.SimpleNamespace(
            BatchType=types.SimpleNamespace(UNLOGGED="U"), BatchStatement=BatchStatement,
            dict_factory="dict_factory",
        ),
    }
    for name, module in modules.items():
        monkeypatch.setitem(sys.modules, name, module)

    from dbtransfer_spark.config import DBConfig

    cfg = DBConfig(
        type="cassandra", hosts=["cass1:9142", "cass2:9142"], keyspace="shop",
        username="app", password="pw",
    )
    session = cass.client_factory(cfg)()
    assert made["cluster"] == (["cass1", "cass2"], 9142, ("auth", "app", "pw"))
    (native,) = made["sessions"]
    assert (native.row_factory, native.default_consistency_level) == ("dict_factory", "Q")
    session.execute("SELECT 1 FROM t WHERE k = %s", ("shop",))
    session.execute("SELECT 1 FROM t")
    assert native.executed == [("SELECT 1 FROM t WHERE k = %s", ("shop",)), ("SELECT 1 FROM t", None)]

    insert = "INSERT INTO t (k) VALUES (?)"
    session.execute_batch([(insert, (1,)), (insert, (2,))])
    session.execute_batch([(insert, (3,))])
    assert native.prepared == [insert]
    assert [b.options for b in made["batches"]] == [("U", "Q"), ("U", "Q")]
    assert made["batches"][0].added == [(("prepared", insert), (1,)), (("prepared", insert), (2,))]
    assert native.executed[-2:] == [(made["batches"][0], None), (made["batches"][1], None)]
    session.close()
    assert made["shutdown"] is True


def test_mongo_wire_replay_write_transcript_and_idempotence(spark, tmp_path, fakes):
    """W3 write wire: the full migration must emit EXACTLY the recorded
    bulk_write sequence (3 unordered calls of upserting UpdateOne models,
    _id filter, whole-document $set), and replaying the transfer must
    leave the destination state unchanged (upsert idempotence — what makes
    retry-after-partial-flush safe)."""
    with open(os.path.join(FIXTURES, "mongo_orders_write_wire.json")) as f:
        wt = decode(json.load(f))
    cfg, src, dst = _mongo_transfer(tmp_path, batch_size=4)

    assert TransferEngine(spark, cfg).run() == {"orders": {"rows": 10, "resumed_from": None}}
    calls = dst.calls("bulk_write")
    assert [c["models"] for c in calls] == wt["bulk_writes"]
    assert len(calls) == 3 and all(c["ordered"] is False for c in calls)
    state_after_first = dst.rows("orders")
    assert sorted(d["_id"] for d in state_after_first) == [1001 + i for i in range(10)]

    # idempotent replay: same transfer against the already-written state
    cfg.migration.checkpoint_dir = str(tmp_path / "ckpt2")
    assert TransferEngine(spark, cfg).run() == {"orders": {"rows": 10, "resumed_from": None}}
    assert [c["models"] for c in dst.calls("bulk_write")] == wt["bulk_writes"] * 2
    assert dst.rows("orders") == state_after_first
