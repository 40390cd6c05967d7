"""The query registry: every declared query and its DuckDB oracle SQL.

Query modules declare each query with ``@register(name, oracle)``;
``__spark_entry__`` imports the modules and reads ``QUERIES`` and
``ORACLE``. A name is declared once: a second ``register`` of it raises
instead of silently shadowing the first.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"query {name!r} is registered twice")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco
