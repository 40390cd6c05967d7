"""MongoDB source and sink on the transfer engine.

Reference behavior re-expressed (SURVEY.md §2):
- S3 cursor scan (mongodb.go:313-320): the source is a Python data source
  with one input partition per collection, running the reference's single
  cursor, ``find(filter, batch_size=, no_cursor_timeout=True)``, sorted by
  ``_id`` so that the engine's watermark is a correct resume point.
  Concurrency comes from the engine's ``workers``, across collections.
- P5 resume (mongodb.go:264-269): pushed integral ``_id`` comparisons
  become the wire filter, so the engine's ``_id > watermark`` resume and
  its chunked ``_id`` ranges run on the server.
- Dynamic schema (bson.M, mongodb.go:326-335): each document crosses Spark
  as ``_id`` plus the whole document pickled into one binary column, so a
  Mongo→Mongo copy is exact whatever fields each document carries, with no
  schema inference.
- W3 bulk upsert (mongodb.go:390-431): the sink writes unordered
  ``bulk_write`` batches of upserting ``UpdateOne`` models through the
  shared partition writer.

pymongo is imported when a transfer first connects.
"""

from __future__ import annotations

import pickle
import uuid
from collections.abc import Callable
from contextlib import closing
from typing import Any

from pyspark.sql import DataFrame, Row
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    GreaterThan,
    GreaterThanOrEqual,
    LessThan,
    LessThanOrEqual,
)
from pyspark.sql.types import StringType

from dbtransfer_spark.config import DBConfig, TableMapping
from dbtransfer_spark.sources.base import BatchSink, Source, import_driver

# Spark filters on `_id` that the wire filter can carry.
_WIRE_OPS = {
    GreaterThan: "$gt",
    GreaterThanOrEqual: "$gte",
    LessThan: "$lt",
    LessThanOrEqual: "$lte",
}


def connection_uri(cfg: DBConfig) -> str:
    host = cfg.hosts[0] if cfg.hosts else "localhost:27017"
    auth = f"{cfg.username}:{cfg.password}@" if cfg.username else ""
    auth_db = cfg.auth_db or "admin"
    return f"mongodb://{auth}{host}/?authSource={auth_db}"


def client_factory(cfg: DBConfig) -> Callable[[], Any]:
    def connect() -> Any:
        return import_driver("pymongo", "pymongo").MongoClient(connection_uri(cfg))

    return connect


try:
    from pymongo import UpdateOne as _UpdateOne  # type: ignore[import-not-found]
except ImportError:  # failed imports aren't cached — probe once, not per batch
    _UpdateOne = None


def upsert_models(batch: list[dict]) -> list:
    """W3 (mongodb.go:398-412): one upserting UpdateOne model per doc,
    filtered on ``_id``, ``$set``-ing the whole document. Real pymongo
    requires ``UpdateOne`` instances; the dict form (same fields) is the
    fallback for injected fakes when pymongo isn't importable."""
    if _UpdateOne is not None:
        return [
            _UpdateOne({"_id": doc["_id"]}, {"$set": doc}, upsert=True)
            for doc in batch
        ]
    return [
        {"filter": {"_id": doc["_id"]}, "update": {"$set": doc}, "upsert": True}
        for doc in batch
    ]


def _id_value(value: Any) -> Any:
    """``_id`` as Spark sees it: a long when integral, else its string
    form — what the checkpoint stores (mongodb.go:334)."""
    return value if isinstance(value, int) and not isinstance(value, bool) else str(value)


def _register(spark, connect: Callable[[], Any], database: str) -> str:
    """Register a Python data source reading ``database`` through
    ``connect``; return its format name."""
    fmt = f"dbtransfer_mongodb_{uuid.uuid4().hex}"

    class Reader(DataSourceReader):
        def __init__(self, collection: str, batch_size: int, string_id: bool):
            self.collection = collection
            self.batch_size = batch_size
            self.string_id = string_id
            self.filter: dict = {}

        def pushFilters(self, filters):
            for f in filters:
                op = _WIRE_OPS.get(type(f))
                # only integral ids compare on the server as in Spark: an
                # ObjectId never matches its hex string
                if op and f.attribute == ("_id",) and isinstance(f.value, int):
                    # a repeated operator keeps its tighter bound
                    bounds = self.filter.setdefault("_id", {})
                    tighter = max if op in ("$gt", "$gte") else min
                    bounds[op] = tighter(bounds.get(op, f.value), f.value)
                else:
                    yield f

        def read(self, partition):
            with closing(connect()) as client:
                cursor = client[database][self.collection].find(
                    self.filter,
                    batch_size=self.batch_size,
                    no_cursor_timeout=True,
                    sort=[("_id", 1)],
                )
                for doc in cursor:
                    _id = _id_value(doc["_id"])
                    yield str(_id) if self.string_id else _id, pickle.dumps(doc)

    class MongoDataSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return fmt

        def reader(self, schema):
            return Reader(
                self.options["collection"],
                int(self.options["batch_size"]),
                isinstance(schema["_id"].dataType, StringType),
            )

    spark.dataSource.register(MongoDataSource)
    return fmt


class MongoSource(Source):
    def __init__(self, spark, cfg, connect: Callable[[], Any] | None = None, batch_size: int = 1000):
        super().__init__(spark, cfg)
        self.connect = connect or client_factory(cfg)
        self.batch_size = batch_size
        self.format = _register(spark, self.connect, cfg.database)

    def table_exists(self, table: TableMapping) -> bool:  # S7
        with closing(self.connect()) as client:
            return table.name in client[self.cfg.database].list_collection_names()

    def detect_primary_key(self, table: TableMapping) -> list[str]:
        return ["_id"]  # mongodb.go:254-257

    def read(self, table: TableMapping) -> DataFrame:
        """``_id`` is a long column when the smallest and the largest
        ``_id`` are integral — Mongo sorts all numbers together, so every
        ``_id`` between them is a number — else a string column."""
        with closing(self.connect()) as client:
            collection = client[self.cfg.database][table.name]
            ends = [collection.find_one(sort=[("_id", d)]) for d in (1, -1)]
        integral = all(doc is None or isinstance(_id_value(doc["_id"]), int) for doc in ends)
        return (
            self.spark.read.format(self.format)
            .schema(f"_id {'long' if integral else 'string'}, doc binary")
            .options(collection=table.name, batch_size=str(self.batch_size))
            .load()
        )


class MongoSink(BatchSink):
    def __init__(self, spark, cfg, connect: Callable[[], Any] | None = None, **batching):
        super().__init__(spark, cfg, connect or client_factory(cfg), **batching)

    def batch_writer(self, df: DataFrame, table: TableMapping, key_columns: list[str]):
        database, collection = self.cfg.database, table.effective_target

        def write_batch(client, batch: list[Row]) -> None:
            docs = [pickle.loads(row["doc"]) for row in batch]
            client[database][collection].bulk_write(upsert_models(docs), ordered=False)

        return write_batch
