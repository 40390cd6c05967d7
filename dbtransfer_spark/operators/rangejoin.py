"""Binned range join — the no-equi-key interval join, made shuffle-joinable.

A point-in-interval join (``point BETWEEN lo AND hi``) has no equality
key, so Catalyst can only plan it as BroadcastNestedLoopJoin (fine when
one side is tiny, quadratic when both sides scale — the classic 100 TB
trap; the reference has no joins at all, SURVEY.md §2.9). The standard
scale technique — what Databricks' range-join hints and DuckDB's IEJoin
buy natively — is binning: quantize time into fixed-width bins at least
as wide as the longest interval, explode each interval onto the (≤2)
bins it overlaps, tag each point with its single containing bin, and
equi-join on the bin before applying the exact BETWEEN. Candidate pairs
are then bounded by "pairs within one bin width of each other" —
output-proportional instead of |points|×|intervals|.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dbtransfer_spark.catalog import load_table
from dbtransfer_spark.registry import register


# Interval span is 60 days inclusive; bin width 61 guarantees every
# interval overlaps at most two bins.
_SPAN_DAYS = 60
_BIN_DAYS = 61


def _epoch_day(colname: str):
    """Whole days since epoch for a TIMESTAMP_NTZ column — timezone-free
    (same rationale as windows.epoch_micros)."""
    return F.expr(
        f"timestampdiff(DAY, TIMESTAMP_NTZ '1970-01-01 00:00:00', `{colname}`)"
    )


def binned_range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_day: str,
    lo_day: str,
    hi_day: str,
    bin_days: int = _BIN_DAYS,
) -> DataFrame:
    """Generic binned point-in-interval join on day-granularity columns.

    ``intervals`` must satisfy ``hi_day - lo_day < bin_days`` (the caller
    picks ``bin_days`` ≥ its longest interval). Each point belongs to
    exactly one bin, so no post-join dedup is needed: a (point, interval)
    pair can only meet in the point's own bin."""
    iv = intervals.withColumn(
        "__bin",
        F.explode(
            F.expr(f"sequence(`{lo_day}` div {bin_days}, `{hi_day}` div {bin_days})")
        ),
    )
    pt = points.withColumn("__bin", F.expr(f"`{point_day}` div {bin_days}"))
    return pt.join(
        iv,
        (pt["__bin"] == iv["__bin"])
        & (pt[point_day] >= iv[lo_day])
        & (pt[point_day] <= iv[hi_day]),
    ).drop("__bin")


@register(
    "range_join_binned",
    """
    WITH win AS (
      SELECT o_custkey AS cust,
             min(o_orderdate) AS win_start,
             min(o_orderdate) + INTERVAL 60 DAY AS win_end
      FROM orders GROUP BY o_custkey
    )
    SELECT cust AS o_custkey, count(*) AS n_orders_in_window
    FROM win JOIN orders
      ON o_orderdate >= win_start AND o_orderdate <= win_end
    GROUP BY cust
    ORDER BY o_custkey
    """,
)
def range_join_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each customer's first-purchase window ([first order, +60d]),
    count how many orders from the WHOLE market landed inside it — a
    cohort-overlap measure whose join has no equality key (any order can
    fall in any customer's window).

    Scale: |intervals| = |customers| and |points| = |orders| both grow
    with SF, so neither side broadcasts and the naive plan is a
    nested-loop cartesian. Two techniques compose here:
    (1) **reduce the point side to the predicate's granularity before
    pairing** — the BETWEEN tests whole days, so orders collapse to a
    (day, count) table first: bounded by the DATE DOMAIN, not SF. The
    matched pair count drops from 57M (sf0.1 — first orders cluster, so
    windows overlap heavily and raw pairs grow ~quadratically with SF)
    to |customers|×61 ≈ 0.9M, and stays linear in SF;
    (2) the **binned equi-join** (one shuffle each side on the bin key)
    replaces the nested loop. The global plan sweep asserts no
    CartesianProduct/NestedLoop appears."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate"
    )
    days = orders.withColumn("pday", _epoch_day("o_orderdate"))
    daily = days.groupBy("pday").agg(F.count(F.lit(1)).alias("n_day"))
    win = (
        days.groupBy(F.col("o_custkey").alias("cust"))
        .agg(F.min("pday").alias("lo_day"))
        .withColumn("hi_day", F.col("lo_day") + _SPAN_DAYS)
    )
    joined = binned_range_join(daily, win, "pday", "lo_day", "hi_day")
    return (
        joined.groupBy("cust")
        .agg(F.sum("n_day").alias("n_orders_in_window"))
        .select(F.col("cust").alias("o_custkey"), "n_orders_in_window")
        .orderBy("o_custkey")
    )


# FIFO bin width: l_quantity <= 50, so every cumulative-axis interval
# spans at most two 64-unit bins.
_FIFO_BIN = 64


@register(
    "fifo_cost_allocation",
    """
    WITH lines AS (
      SELECT l_partkey AS part, l_returnflag <> 'R' AS is_receipt,
             CAST(l_quantity AS BIGINT) AS qty,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
             l_shipdate, l_orderkey, l_linenumber
      FROM lineitem
    ), receipts AS (
      SELECT part, qty, price_cents,
             sum(qty) OVER (PARTITION BY part
                            ORDER BY l_shipdate, l_orderkey, l_linenumber
                            ROWS UNBOUNDED PRECEDING) AS hi
      FROM lines WHERE is_receipt
    ), issues AS (
      SELECT part, qty,
             sum(qty) OVER (PARTITION BY part
                            ORDER BY l_shipdate, l_orderkey, l_linenumber
                            ROWS UNBOUNDED PRECEDING) AS hi
      FROM lines WHERE NOT is_receipt
    ), matches AS (
      SELECT r.part,
             least(r.hi, i.hi) - greatest(r.hi - r.qty, i.hi - i.qty)
               AS m_qty,
             (least(r.hi, i.hi) - greatest(r.hi - r.qty, i.hi - i.qty))
               * r.price_cents // r.qty AS m_cents
      FROM receipts r JOIN issues i
        ON r.part = i.part
       AND r.hi - r.qty < i.hi AND i.hi - i.qty < r.hi
    ), magg AS (
      SELECT part, CAST(count(*) AS BIGINT) AS n_matches,
             CAST(sum(m_qty) AS BIGINT) AS matched_qty,
             CAST(sum(m_cents) AS BIGINT) AS alloc_cost_cents
      FROM matches GROUP BY part
    ), totals AS (
      SELECT part,
             CAST(sum(CASE WHEN is_receipt THEN qty ELSE 0 END) AS BIGINT)
               AS received_qty,
             CAST(sum(CASE WHEN NOT is_receipt THEN qty ELSE 0 END) AS BIGINT)
               AS issued_qty
      FROM lines GROUP BY part
    )
    SELECT t.part AS partkey, t.received_qty, t.issued_qty,
           coalesce(m.n_matches, 0) AS n_matches,
           coalesce(m.matched_qty, 0) AS matched_qty,
           coalesce(m.alloc_cost_cents, 0) AS alloc_cost_cents,
           t.issued_qty - coalesce(m.matched_qty, 0) AS short_qty
    FROM totals t LEFT JOIN magg m ON t.part = m.part
    ORDER BY partkey
    """,
)
def fifo_cost_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIFO inventory cost allocation — the classically-hard SQL shape
    (matching each issue against the oldest unconsumed receipts) solved
    as INTERVAL INTERSECTION on the cumulative-quantity axis: receipts
    and issues each get [cum−qty, cum) spans from a per-part running
    sum, and a receipt funds an issue exactly where their spans overlap
    — overlap length × receipt unit cost is the allocation, floor-exact
    in integer cents. No procedural loop, no recursive CTE: FIFO's
    sequential semantics are fully encoded by the two monotone axes.

    Scale: the overlap join has no equality key beyond part, so the
    plan bins the cumulative axis ({bin}-unit bins ≥ the max line
    quantity: every span touches ≤2 bins) with a meet-once rule (a
    pair is emitted only in the bin of its later start) — candidate
    volume is output-proportional, the same discipline as
    binned_range_join, and FIFO pair count is Θ(receipts + issues) per
    part by monotonicity. r14 (guide §2.3/§3): BOTH per-side running
    sums come from ONE window pass as conditional cumulative sums over
    the interleaved lines (at a receipt row the issue term adds 0 and
    vice versa, so each side's cumsum is bit-identical to the old
    per-side filtered window — one lineitem scan and one part-keyed
    window exchange instead of two of each), and the (part, bin)
    receipt×issue pairing is JOIN-FREE: binned spans group once by
    (part, bin) into per-side arrays and the meet-once overlap match
    runs in-array (the item_cf lambda-pair trick) — the old plan
    broadcast the ENTIRE exploded issue side, a build relation that
    grows with the fact table (the 100 TB cliff this rewrite removes).
    The oracle uses DuckDB's native IEJoin on the raw inequality — an
    independent implementation of the same semantics. Windows order by
    (shipdate, orderkey, linenumber) — row-unique, so the running sums
    are deterministic (round-5 trap)."""
    li = load_table(spark, sf_dir, "lineitem")
    lines = li.select(
        F.col("l_partkey").alias("part"),
        (F.col("l_returnflag") != "R").alias("is_receipt"),
        F.col("l_quantity").cast("bigint").alias("qty"),
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("price_cents"),
        "l_shipdate", "l_orderkey", "l_linenumber",
    )
    w = (
        Window.partitionBy("part")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = lines.select(
        "part",
        "is_receipt",
        "qty",
        "price_cents",
        F.sum(F.when(F.col("is_receipt"), F.col("qty")).otherwise(F.lit(0)))
        .over(w)
        .alias("hi_r"),
        F.sum(F.when(~F.col("is_receipt"), F.col("qty")).otherwise(F.lit(0)))
        .over(w)
        .alias("hi_i"),
    )
    spans = cum.select(
        "part",
        "is_receipt",
        "qty",
        "price_cents",
        F.when(F.col("is_receipt"), F.col("hi_r")).otherwise(F.col("hi_i")).alias("hi"),
    ).withColumn("lo", F.col("hi") - F.col("qty"))
    b = _FIFO_BIN
    binned = spans.withColumn(
        "bin", F.explode(F.expr(f"sequence(lo div {b}, (hi - 1) div {b})"))
    )
    grp = binned.groupBy("part", "bin").agg(
        F.collect_list(
            F.when(
                F.col("is_receipt"),
                F.struct("lo", "hi", "qty", "price_cents"),
            )
        ).alias("rs"),
        F.collect_list(
            F.when(
                ~F.col("is_receipt"),
                F.struct(F.col("lo").alias("i_lo"), F.col("hi").alias("i_hi")),
            )
        ).alias("iss"),
    )
    matches = grp.select(
        "part",
        F.explode(
            F.expr(
                f"flatten(transform(rs, r -> transform("
                f"filter(iss, i -> r.lo < i.i_hi AND i.i_lo < r.hi"
                f" AND bin = greatest(r.lo div {b}, i.i_lo div {b})), "
                f"i -> struct("
                f"least(r.hi, i.i_hi) - greatest(r.lo, i.i_lo) AS m_qty, "
                f"(least(r.hi, i.i_hi) - greatest(r.lo, i.i_lo))"
                f" * r.price_cents div r.qty AS m_cents))))"
            )
        ).alias("m"),
    ).select("part", "m.m_qty", "m.m_cents")
    magg = matches.groupBy("part").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_matches"),
        F.sum("m_qty").cast("bigint").alias("matched_qty"),
        F.sum("m_cents").cast("bigint").alias("alloc_cost_cents"),
    )
    totals = lines.groupBy("part").agg(
        F.sum(F.when(F.col("is_receipt"), F.col("qty")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("received_qty"),
        F.sum(F.when(~F.col("is_receipt"), F.col("qty")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("issued_qty"),
    )
    out = totals.join(magg, "part", "left").select(
        F.col("part").alias("partkey"),
        "received_qty",
        "issued_qty",
        F.coalesce("n_matches", F.lit(0)).cast("bigint").alias("n_matches"),
        F.coalesce("matched_qty", F.lit(0)).cast("bigint").alias("matched_qty"),
        F.coalesce("alloc_cost_cents", F.lit(0)).cast("bigint").alias("alloc_cost_cents"),
        (F.col("issued_qty") - F.coalesce("matched_qty", F.lit(0)))
        .cast("bigint")
        .alias("short_qty"),
    )
    return out.orderBy("partkey")


fifo_cost_allocation.__doc__ = fifo_cost_allocation.__doc__.format(bin=_FIFO_BIN)
