"""SQL surface: the engine's second query API (SURVEY.md §7 M2).

``SQLEngine`` registers every catalog table as a temp view and hands raw
Spark SQL to Catalyst — same planner, same plans as the DataFrame surface.
A handful of inventory queries are written against this surface (see the
``sql_*`` entries below) to pin its behavior: subqueries (EXISTS, IN,
scalar), grouping sets, and CTEs — categories the reference lacks entirely
(§2.9) and Spark gives whole.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from dbtransfer_spark.catalog import TABLES, register_views
from dbtransfer_spark.registry import register


class SQLEngine:
    """Thin SQL entry point over the registered catalog."""

    def __init__(self, spark: SparkSession, sf_dir: str, tables=TABLES):
        self.spark = spark
        register_views(spark, sf_dir, tables)

    def sql(self, query: str) -> DataFrame:
        return self.spark.sql(query)


def _run(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    return SQLEngine(spark, sf_dir).sql(query)


_EXISTS_SQL = """
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey AND o_totalprice > 300000
)
"""


@register("sql_exists_subquery", _EXISTS_SQL)
def sql_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS → Catalyst rewrites to a left-semi join (same plan
    as the DataFrame left_semi surface)."""
    return _run(spark, sf_dir, _EXISTS_SQL)


_SCALAR_SQL = """
SELECT o_orderkey, o_totalprice
FROM orders
WHERE o_totalprice > 1.8 * (SELECT avg(o_totalprice) FROM orders)
"""


@register("sql_scalar_subquery", _SCALAR_SQL)
def sql_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery: computed once, broadcast as a literal
    into the filter. (avg over ints-in-double at this precision is
    cross-engine safe; threshold comparison is strict.)"""
    return _run(spark, sf_dir, _SCALAR_SQL)


_IN_SQL = """
SELECT p_partkey, p_brand FROM part
WHERE p_partkey IN (
  SELECT l_partkey FROM lineitem WHERE l_quantity >= 49
)
"""


@register("sql_in_subquery", _IN_SQL)
def sql_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run(spark, sf_dir, _IN_SQL)


_GROUPING_SETS_SQL = """
SELECT l_returnflag, l_linestatus, count(*) AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""


@register("sql_grouping_sets", _GROUPING_SETS_SQL)
def sql_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run(spark, sf_dir, _GROUPING_SETS_SQL)


_CTE_SQL = """
WITH seg AS (
  SELECT c_custkey, c_mktsegment FROM customer WHERE c_acctbal > 0
), cnt AS (
  SELECT c_mktsegment, count(*) AS n_customers FROM seg GROUP BY c_mktsegment
)
SELECT c_mktsegment, n_customers FROM cnt WHERE n_customers > 10
"""


@register("sql_cte_pipeline", _CTE_SQL)
def sql_cte_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run(spark, sf_dir, _CTE_SQL)


_LATERAL_SQL = """
SELECT n.n_name, t.c_name, t.c_acctbal
FROM nation n,
LATERAL (
  SELECT c_name, c_acctbal FROM customer
  WHERE c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_custkey
  LIMIT 3
) t
ORDER BY n.n_name, t.c_acctbal DESC, t.c_name
"""


@register("sql_lateral_topk", _LATERAL_SQL)
def sql_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery (per-nation top-3 customers by
    balance) — the SQL-surface twin of the window-function
    top_n_per_group: Spark decorrelates the LATERAL LIMIT into a
    rank-limited join (DomainJoin → window rank ≤ 3), so the plan is the
    same partitioned rank pushdown, not a per-row re-execution; identical
    SQL runs on DuckDB as the oracle."""
    return _run(spark, sf_dir, _LATERAL_SQL)


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_PIVOT_ORACLE = "SELECT user_id, " + ", ".join(
    f"CAST(count(*) FILTER (event_type = '{t}') AS BIGINT) AS n_{t}"
    for t in _EVENT_TYPES
) + " FROM events GROUP BY user_id"


@register("events_type_pivot", _PIVOT_ORACLE)
def events_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: one row per user, one count column per event type. The
    value list is EXPLICIT — without it Spark runs a distinct-values
    pre-pass over the full table AND the output schema becomes
    data-dependent (a poison pill for downstream contracts at 100 TB;
    with the list it is one partial-aggregated shuffle on user_id, and
    absent combinations are filled to 0 so the frame is dense).
    Oracle: the FILTER-aggregate expansion, which is exactly the plan
    Spark lowers the pivot to."""
    from dbtransfer_spark.catalog import load_table
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .count()
        .na.fill(0, [t for t in _EVENT_TYPES])
    )
    return out.select(
        "user_id", *[F.col(t).alias(f"n_{t}") for t in _EVENT_TYPES]
    )


_UNPIVOT_ORACLE = """
WITH p AS (""" + _PIVOT_ORACLE + """)
SELECT user_id, kv.k AS event_type, kv.v AS n_events
FROM p, UNNEST([""" + ", ".join(
    f"{{'k': '{t}', 'v': n_{t}}}" for t in _EVENT_TYPES
) + """]) AS u(kv)
"""


@register("events_type_unpivot", _UNPIVOT_ORACLE)
def events_type_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): widen-then-lengthen round trip of the pivot
    above — (user_id, event_type, n_events) with explicit zeros for
    absent combinations, the dense long form feature pipelines join
    against. Spark's native ``unpivot`` is a narrow per-row expansion
    (no shuffle beyond the pivot's own aggregate); the oracle replays
    it as an UNNEST over the same struct list."""
    from pyspark.sql import functions as F

    wide = events_type_pivot(spark, sf_dir)
    return wide.unpivot(
        "user_id",
        [f"n_{t}" for t in _EVENT_TYPES],
        "event_type",
        "n_events",
    ).select(
        "user_id",
        F.expr("substring(event_type, 3)").alias("event_type"),
        "n_events",
    )


# Recursive CTE (Spark 4 WITH RECURSIVE — SQL-surface parity with the
# modern warehouses; DuckDB runs the IDENTICAL text): generate the full
# month calendar between the first and last order month RECURSIVELY,
# then left-join the per-month order counts — the gap-free time spine as
# pure SQL (the DataFrame twin is gap_fill_forward's sequence() explode).
# The recursion depth is the month span — DOMAIN-bounded, never row-bound.
# the recursion carries the upper bound as a COLUMN (computed once in
# the anchor) — a correlated scalar subquery in the recursive branch
# would rescan orders every iteration (measured 36 s vs 9 s for the
# 80-month span).
_RECURSIVE_SQL = """
WITH RECURSIVE bounds(m, mx) AS (
  SELECT CAST(min(date_trunc('month', o_orderdate)) AS TIMESTAMP),
         CAST(max(date_trunc('month', o_orderdate)) AS TIMESTAMP)
  FROM orders
  UNION ALL
  SELECT m + INTERVAL '1' MONTH, mx FROM bounds WHERE m < mx
), months(m) AS (
  SELECT m FROM bounds
), per_month AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS m,
         count(*) AS n
  FROM orders GROUP BY m
)
SELECT months.m AS month,
       CAST(coalesce(per_month.n, 0) AS BIGINT) AS n_orders,
       (per_month.m IS NULL) AS is_gap
FROM months LEFT JOIN per_month ON per_month.m = months.m
ORDER BY month
"""


@register("sql_recursive_month_series", _RECURSIVE_SQL)
def sql_recursive_month_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run(spark, sf_dir, _RECURSIVE_SQL)
