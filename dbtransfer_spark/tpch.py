"""Extended TPC-H-derived query suite (SURVEY.md §2.9 breadth).

The reference engine has no query surface at all (SURVEY.md §2.9 — verified
absent); these queries define the analytics surface a reference user gains
by switching. Shapes are the canonical TPC-H plans (Q4/Q7/Q10/Q13/Q14/Q18/
Q19/Q22) adapted to the fixture schema, which omits l_commitdate,
l_receiptdate, l_shipmode, p_container, o_comment and c_phone — each
adaptation keeps the query's *plan shape* (the thing that matters at
100 TB) and swaps the predicate onto columns that exist.

Scale ground rules applied throughout (see SCALE.md):
- broadcast hints only on fixed-size dims (nation/region) or behind
  ``broadcast_if_small``'s Catalyst-stats gate;
- large⋈large joins are left to sort-merge + AQE;
- aggregates that feed the cross-engine hash gate go through ``dsum``
  (exact DECIMAL(30,10) accumulation) so shuffle order can never flip a
  digit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dbtransfer_spark.catalog import load_table
from dbtransfer_spark.queries import broadcast_if_small, dsum
from dbtransfer_spark.registry import register


@register(
    "q4_order_priority",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS → left-semi join → tiny aggregate.
    (Fixture has no l_commitdate/l_receiptdate; 'late' is shipped >60 days
    after order date — same correlated-predicate semi-join plan.)

    Scale: the quarter filter prunes orders at the scan; the semi join
    carries the *extra* non-equi predicate inside the join condition, so
    lineitem rows are dropped during the probe rather than in a
    post-join filter, and each order emits at most once. Aggregate output
    is 5 rows."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    lineitem = load_table(spark, sf_dir, "lineitem")
    late = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    return (
        orders.join(lineitem, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "q7_nation_volume",
    """
    SELECT supp_nation, cust_nation, l_year,
           CAST(round(sum(CAST(volume AS DECIMAL(30,10))), 2) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS BIGINT) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_8')
          OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_7'))
        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    )
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations by year.

    Scale: the nation pair predicate is *pre-split* — each nation copy is
    filtered to the 2 relevant rows BEFORE joining (then the cross-pair
    disjunction drops the 2 same-nation combinations after), so supplier
    and customer are each reduced to ~2/25 of their rows by a broadcast
    hash join against a 2-row dim before the big lineitem⋈orders
    sort-merge. Filtering only after a 25-nation join would carry 12×
    more rows through the expensive joins."""
    pair = ("NATION_7", "NATION_8")
    nation = load_table(spark, sf_dir, "nation").filter(F.col("n_name").isin(*pair))
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    lineitem = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    supplier = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key")
    )
    customer = load_table(spark, sf_dir, "customer").join(
        F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key")
    )
    orders = load_table(spark, sf_dir, "orders")
    return (
        lineitem.join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(customer, F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .withColumn("l_year", F.year("l_shipdate").cast("bigint"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "q10_returned_items",
    """
    SELECT c_custkey, c_name,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10))), 2) AS DOUBLE) AS revenue,
           c_acctbal, n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by returned-item revenue in a
    quarter.

    Scale: returnflag prunes lineitem ~2/3 and the quarter prunes orders
    ~12× at the scan (both in PushedFilters); the surviving fact⋈fact is
    sort-merge on orderkey, the customer join shuffles on custkey, nation
    broadcasts (25 rows, fixed). Top-20 is TakeOrdered — no global
    sort."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    lineitem = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "q13_customer_distribution",
    """
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: order-count distribution over ALL customers —
    left outer join so zero-order customers land in the c_count=0 bucket
    (an inner join would silently drop them; the fixture has ~9%).

    Scale: one shuffle for the outer join on custkey, one partial-agg
    shuffle per count level (≤ ~tens of distinct counts). count(o_orderkey)
    counts non-null matches only — the standard outer-join-count idiom."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        customer.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@register(
    "q14_promo_revenue",
    """
    SELECT
      CAST(round(sum(CAST(CASE WHEN p_type = 'PROMO'
                     THEN l_extendedprice * (1 - l_discount) ELSE 0 END
                AS DECIMAL(30,10))), 2) AS DOUBLE) AS promo_revenue,
      CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10))), 2) AS DOUBLE) AS total_revenue,
      round(100.0 * CAST(round(sum(CAST(CASE WHEN p_type = 'PROMO'
                     THEN l_extendedprice * (1 - l_discount) ELSE 0 END
                AS DECIMAL(30,10))), 2) AS DOUBLE)
            / CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10))), 2) AS DOUBLE),
            4) AS promo_pct
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promotion revenue share for one month — a
    conditional-sum ratio over a fact⋈dim join.

    Scale: the month filter reduces lineitem ~84× at the scan; part grows
    with SF so its broadcast is stats-gated, falling back to shuffle join
    (AQE re-broadcasts at runtime if the filtered side fits). The ratio
    divides the two already-rounded decimal sums as doubles — IEEE
    division is exactly rounded, so both engines see bit-identical
    inputs and outputs."""
    part = load_table(spark, sf_dir, "part")
    lineitem = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    agg = lineitem.join(
        broadcast_if_small(part), F.col("l_partkey") == F.col("p_partkey")
    ).agg(
        dsum(F.when(F.col("p_type") == "PROMO", disc).otherwise(F.lit(0.0))).alias(
            "promo_revenue"
        ),
        dsum(disc).alias("total_revenue"),
    )
    return agg.select(
        "promo_revenue",
        "total_revenue",
        F.round(
            100.0 * F.col("promo_revenue") / F.col("total_revenue"), 4
        ).alias("promo_pct"),
    )


@register(
    "q18_large_volume_customers",
    """
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           sum(l_quantity) AS sum_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey HAVING sum(l_quantity) > 300
    )
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
    LIMIT 100
    """,
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity exceeds a threshold —
    aggregate-then-join back to the dimensions.

    Scale: the reference SQL's HAVING subquery and its outer
    ``sum(l_quantity)`` compute the SAME per-order sum, so the plan keeps
    the aggregate's value as ``sum_qty`` instead of semi-joining and then
    re-scanning + re-aggregating lineitem (the naive two-scan plan also
    tempts AQE into broadcasting the full fact — measured 33 MiB / 3.2 s
    at sf0.1). One lineitem scan, one orderkey shuffle; the filtered
    aggregate (a few hundred rows at any SF — qty>300 is the extreme
    tail) is materialized by its shuffle stage, so AQE's runtime stats
    convert the orders join to broadcast exactly when it is truly small.
    Quantities are integral doubles, so plain double sums are exact
    (< 2^53) — no decimal detour needed for the cross-engine hash."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 300)
    )
    return (
        orders.join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty"
        )
        .orderBy(F.desc("o_totalprice"), "o_orderdate", "o_orderkey")
        .limit(100)
    )


@register(
    "q19_disjunctive_revenue",
    """
    SELECT CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10))), 2) AS DOUBLE) AS revenue,
           count(*) AS n_items
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 16 AND 30
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#24' AND p_size BETWEEN 31 AND 50
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of conjunct groups across both join
    sides (fixture has no p_container/l_shipmode; brand×size×quantity
    keeps the cross-side OR structure).

    Scale: Catalyst factors side-local implications out of the OR —
    part gets `p_brand IN (...) AND p_size BETWEEN 1 AND 50`, lineitem
    gets `l_quantity BETWEEN 1 AND 30` — pushed into both scans, so the
    join probes only candidate rows and the full disjunction re-checks
    pairs post-join. Writing the OR *after* the join and letting the
    optimizer derive the pushdowns is the declarative win: the same
    query hand-split into three UNIONs would scan lineitem three
    times."""
    part = load_table(spark, sf_dir, "part")
    lineitem = load_table(spark, sf_dir, "lineitem")
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(16, 30)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#24")
            & F.col("p_size").between(31, 50)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        lineitem.join(
            broadcast_if_small(part), F.col("l_partkey") == F.col("p_partkey")
        )
        .filter(cond)
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "q22_dormant_customers",
    """
    SELECT c_nationkey AS cntrycode, count(*) AS numcust,
           CAST(round(sum(CAST(c_acctbal AS DECIMAL(30,10))), 2) AS DOUBLE) AS totacctbal
    FROM customer
    WHERE c_nationkey IN (3, 7, 13, 17, 23)
      AND c_acctbal > (
        SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(30,10))) AS DOUBLE) / count(*)
        FROM customer
        WHERE c_acctbal > 0.0 AND c_nationkey IN (3, 7, 13, 17, 23)
      )
      AND NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey
          AND o_orderdate >= TIMESTAMP '2000-08-01 00:00:00'
      )
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
)
def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers with no recent
    orders, bucketed by country (fixture has no c_phone — nationkey plays
    the country-code role — and every fixture customer has ordered at
    least once, so dormancy is 'no order in the final year' rather than
    'never ordered'; the anti-join shape is identical).

    Scale: the scalar average is a one-row aggregate cross-joined in
    (broadcast of 1 row — fixed size, always safe); never-ordered is a
    left-anti join against orders on custkey. The average divides an
    exact decimal sum (cast to double) by an exact count — IEEE division
    makes the threshold bit-identical across engines, so the filter
    selects identical rows with no rounding epsilon."""
    nations = (3, 7, 13, 17, 23)
    customer = load_table(spark, sf_dir, "customer").filter(
        F.col("c_nationkey").isin(*nations)
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-08-01").cast("timestamp")
    )
    avg_bal = (
        customer.filter(F.col("c_acctbal") > 0.0)
        .agg(
            (
                F.sum(F.col("c_acctbal").cast("decimal(30,10)")).cast("double")
                / F.count(F.lit(1))
            ).alias("__avg_bal")
        )
    )
    return (
        customer.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("__avg_bal"))
        .join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum(F.col("c_acctbal")).alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


@register(
    "q8_market_share",
    """
    SELECT o_year,
           CAST(round(sum(CAST(CASE WHEN supp_nation = 'NATION_2'
                          THEN volume ELSE 0 END AS DECIMAL(30,10))), 2) AS DOUBLE)
             AS nation_volume,
           CAST(round(sum(CAST(volume AS DECIMAL(30,10))), 2) AS DOUBLE) AS total_volume,
           round(CAST(round(sum(CAST(CASE WHEN supp_nation = 'NATION_2'
                          THEN volume ELSE 0 END AS DECIMAL(30,10))), 2) AS DOUBLE)
                 / CAST(round(sum(CAST(volume AS DECIMAL(30,10))), 2) AS DOUBLE), 6)
             AS mkt_share
    FROM (
      SELECT CAST(year(o_orderdate) AS INT) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n2.n_name AS supp_nation
      FROM lineitem
      JOIN part     ON p_partkey = l_partkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON n1.n_nationkey = c_nationkey
      JOIN region   ON r_regionkey = n1.n_regionkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation n2 ON n2.n_nationkey = s_nationkey
      WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
        AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    )
    GROUP BY o_year ORDER BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one supplier nation's share of a region's yearly
    revenue for one part type — the widest join tree in the suite
    (lineitem ⋈ part ⋈ orders ⋈ customer ⋈ nation ⋈ region ⋈ supplier
    ⋈ nation again), ending in a per-year conditional-sum ratio.

    Scale: nation/region are fixed-size → unconditional broadcast; the
    region restriction reaches customers as a broadcast semi-filter on
    nationkey, so no customer⋈nation shuffle exists. part (p_type prunes
    5/6) and supplier grow with SF → stats-gated broadcast, sort-merge +
    AQE otherwise. The two-year date filter prunes orders at the scan.
    Both ratio operands are exact decimal sums rounded while decimal;
    their IEEE double division is exactly rounded, so mkt_share is
    bit-identical across engines."""
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    region_nations = nation.join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    ).select(F.col("n_nationkey").alias("__c_nkey"))
    supp_nation = nation.select(
        F.col("n_nationkey").alias("__s_nkey"), F.col("n_name").alias("supp_nation")
    )
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    lineitem = load_table(spark, sf_dir, "lineitem")
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        lineitem.join(
            broadcast_if_small(part), F.col("l_partkey") == F.col("p_partkey")
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            broadcast_if_small(customer), F.col("o_custkey") == F.col("c_custkey")
        )
        .join(F.broadcast(region_nations), F.col("c_nationkey") == F.col("__c_nkey"))
        .join(
            broadcast_if_small(supplier), F.col("l_suppkey") == F.col("s_suppkey")
        )
        .join(F.broadcast(supp_nation), F.col("s_nationkey") == F.col("__s_nkey"))
    )
    agg = joined.groupBy(
        F.year("o_orderdate").cast("int").alias("o_year")
    ).agg(
        dsum(
            F.when(F.col("supp_nation") == "NATION_2", volume).otherwise(F.lit(0.0))
        ).alias("nation_volume"),
        dsum(volume).alias("total_volume"),
    )
    return agg.select(
        "o_year",
        "nation_volume",
        "total_volume",
        F.round(F.col("nation_volume") / F.col("total_volume"), 6).alias("mkt_share"),
    ).orderBy("o_year")


@register(
    "q15_top_supplier",
    """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                                 AS DECIMAL(30,10))), 2) AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the revenue view (per-supplier quarter revenue)
    self-referenced through a scalar MAX subquery — suppliers tied at the
    maximum all qualify.

    Scale: the quarter filter prunes lineitem at the scan; the per-supplier
    aggregate is one shuffle on l_suppkey. The scalar max is a one-row
    aggregate of the *already-aggregated* view (|suppliers| rows), cross-
    joined back as a broadcast of exactly one row — never a global sort.
    Equality against the max compares two copies of the same rounded
    decimal-sum double, so tie detection is exact on both engines."""
    lineitem = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    revenue = lineitem.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "total_revenue"
        )
    )
    top = revenue.agg(F.max("total_revenue").alias("__max_rev"))
    supplier = load_table(spark, sf_dir, "supplier")
    return (
        revenue.crossJoin(F.broadcast(top))
        .filter(F.col("total_revenue") == F.col("__max_rev"))
        .join(
            broadcast_if_small(supplier),
            F.col("supplier_no") == F.col("s_suppkey"),
        )
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@register(
    "q17_small_quantity_revenue",
    """
    WITH lp AS (
      SELECT l_partkey, l_quantity, l_extendedprice
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_brand = 'Brand#13' AND p_size <= 15
    ),
    th AS (
      SELECT l_partkey,
             sum(CAST(l_quantity AS DECIMAL(30,10))) AS qty_sum,
             count(*) AS cnt
      FROM lp GROUP BY l_partkey
    )
    SELECT
      CAST(round(sum(CAST(l_extendedprice AS DECIMAL(30,10))), 2) AS DOUBLE)
        AS total_rev,
      round(CAST(round(sum(CAST(l_extendedprice AS DECIMAL(30,10))), 2) AS DOUBLE)
            / 7.0, 2) AS avg_yearly
    FROM lp JOIN th USING (l_partkey)
    WHERE CAST(l_quantity AS DECIMAL(30,10)) * 5 * cnt < qty_sum
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue lost to small-quantity orders — a
    correlated scalar AVG subquery (l_quantity < 0.2 * avg per part),
    decorrelated into a per-part aggregate joined back to the fact rows.
    (Fixture has no p_container; brand + size bounds the part set the
    same way.)

    Scale: the brand/size filter reduces part ~40× before it ever meets
    lineitem (stats-gated broadcast), so both the threshold aggregate and
    the re-join run on the pruned fact subset; the per-part threshold is
    tiny and broadcasts back. The 20%-of-average comparison is
    cross-multiplied (5 * qty * cnt < qty_sum) in exact decimal/integer
    arithmetic — no double division anywhere near the predicate, so both
    engines select identical rows."""
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#13") & (F.col("p_size") <= 15)
    )
    lineitem = load_table(spark, sf_dir, "lineitem")
    lp = lineitem.join(
        broadcast_if_small(part), F.col("l_partkey") == F.col("p_partkey")
    ).select("l_partkey", "l_quantity", "l_extendedprice")
    th = lp.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(30,10)")).alias("qty_sum"),
        F.count(F.lit(1)).alias("cnt"),
    )
    small = lp.join(broadcast_if_small(th), "l_partkey").filter(
        F.col("l_quantity").cast("decimal(30,10)") * 5 * F.col("cnt")
        < F.col("qty_sum")
    )
    total = dsum(F.col("l_extendedprice")).alias("total_rev")
    agg = small.agg(total)
    return agg.select(
        "total_rev", F.round(F.col("total_rev") / 7.0, 2).alias("avg_yearly")
    )


@register(
    "q12_priority_by_returnflag",
    """
    SELECT l_returnflag,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_returnflag IN ('A', 'R')
      AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q12_priority_by_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: fact⋈fact join + conditional (CASE) aggregation
    into a priority-class breakdown. (Fixture has no l_shipmode /
    l_commitdate / l_receiptdate; the two-value mode filter maps onto
    l_returnflag IN ('A','R') and the date window onto l_shipdate — the
    join + pivot-style conditional count plan is unchanged.)

    Scale: both filters sit on lineitem's scan (pushed to parquet), so the
    orders⋈lineitem sort-merge carries only the ~2/3 × 1-year slice;
    aggregation output is 2 rows. No broadcast hint — orders scales with
    SF, AQE may still pick broadcast when the filtered side fits."""
    lineitem = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin("A", "R")
        & (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        orders.join(lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "q21_suppliers_kept_waiting",
    """
    SELECT s_name, numwait FROM (
      SELECT s_name, count(*) AS numwait,
             row_number() OVER (ORDER BY count(*) DESC, s_name) AS rn
      FROM supplier
      JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
      JOIN orders ON o_orderkey = l1.l_orderkey
      WHERE o_orderstatus = 'F'
        AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
        AND EXISTS (
          SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey <> l1.l_suppkey
        )
        AND NOT EXISTS (
          SELECT 1 FROM lineitem l3
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY
        )
      GROUP BY s_name
    ) WHERE rn <= 10
    """,
)
def q21_suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: the sole-blame-supplier query — EXISTS +
    NOT EXISTS double correlation on the same fact table, then a top-10.
    ('Late' is l_shipdate > o_orderdate + 60 days — the fixture has no
    l_commitdate/l_receiptdate; both correlated subqueries keep their
    semi/anti join plan.)

    Scale: the per-order supplier profile (num suppliers, num late
    suppliers) is computed ONCE as an aggregate keyed on l_orderkey
    instead of running two correlated probes per lineitem row — the
    standard decorrelation: one extra shuffle over the filtered fact
    replaces two semi/anti joins that would each re-shuffle the same
    table. Orders filtered to 'F' at the scan; final top-10 is a
    WindowGroupLimit (no global sort materializes)."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    li = lineitem.join(
        orders, F.col("l_orderkey") == F.col("o_orderkey")
    ).withColumn(
        "is_late",
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .cast("int"),
    )
    # Per-(order, supplier) profile, then per-order supplier/late counts:
    # EXISTS(other supplier) ⇔ n_supp > 1; NOT EXISTS(other late supplier)
    # ⇔ this supplier is late and n_late_supp = 1.
    per_supp = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("is_late").alias("supp_late"),
        # Q21's count(*) unit is the qualifying l1 LINEITEM ROW, not the
        # (order, supplier) pair — a supplier can ship several late lines
        # in one order and each counts (reference semantics; TPC-H spec).
        F.sum("is_late").alias("n_late_rows"),
    )
    per_order = per_supp.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum("supp_late").alias("n_late_supp"),
    )
    blamed = (
        per_supp.filter(F.col("supp_late") == 1)
        .join(per_order, "l_orderkey")
        .filter((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
    )
    counts = (
        blamed.join(broadcast_if_small(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.sum("n_late_rows").alias("numwait"))
    )
    # Top-10 via orderBy+limit → TakeOrderedAndProject: a distributed
    # per-partition top-k + driver merge, not a single-partition
    # row_number window (which would funnel every supplier through one
    # task at scale). Tie-break on s_name matches the oracle's
    # row_number ordering deterministically.
    return counts.orderBy(F.desc("numwait"), "s_name").limit(10).select(
        "s_name", "numwait"
    )


@register(
    "q2_min_cost_supplier",
    """
    WITH cost AS (
      SELECT l_partkey AS partkey, l_suppkey AS suppkey,
             min(l_extendedprice / l_quantity) AS cost
      FROM lineitem GROUP BY 1, 2
    )
    SELECT s_acctbal, s_name, n_name, p_partkey, cost
    FROM part, supplier, cost, nation, region
    WHERE p_partkey = partkey AND s_suppkey = suppkey
      AND p_size = 15
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'EUROPE'
      AND cost = (
        SELECT min(c2.cost)
        FROM cost c2, supplier s2, nation n2, region r2
        WHERE c2.partkey = p_partkey AND s2.s_suppkey = c2.suppkey
          AND s2.s_nationkey = n2.n_nationkey
          AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'EUROPE')
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: the min-cost-supplier query — a correlated scalar
    MIN subquery over the same derived table, decorrelated into a
    per-part minimum joined back on equality. (Fixture has no partsupp;
    unit cost is min(l_extendedprice/l_quantity) per (part, supplier)
    observed in lineitem — double division is IEEE-exact-rounded, so both
    engines derive bit-identical costs and the equality filter selects
    identical rows.)

    Scale: the size filter prunes part before anything joins (stats-gated
    broadcast); region→nation→supplier is a fixed-size broadcast chain;
    the per-(part,supplier) cost aggregate is one shuffle over lineitem;
    the per-part MIN is an aggregate over the already-pruned cost rows
    and broadcasts back. The ordering has a unique tie-break key
    (s_name, p_partkey) — deterministic without a limit."""
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    nation = load_table(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    )
    supplier = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    )
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") == 15)
    lineitem = load_table(spark, sf_dir, "lineitem")
    cost = (
        lineitem.join(
            broadcast_if_small(part.select("p_partkey")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("cost"))
    )
    eur_cost = cost.join(
        broadcast_if_small(
            supplier.select("s_suppkey", "s_name", "s_acctbal", "n_name")
        ),
        F.col("l_suppkey") == F.col("s_suppkey"),
    )
    min_cost = eur_cost.groupBy(F.col("l_partkey").alias("mk")).agg(
        F.min("cost").alias("min_cost")
    )
    return (
        eur_cost.join(
            broadcast_if_small(min_cost),
            (F.col("l_partkey") == F.col("mk"))
            & (F.col("cost") == F.col("min_cost")),
        )
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            F.col("l_partkey").alias("p_partkey"),
            "cost",
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
    )


@register(
    "q11_important_part_value",
    """
    WITH li_n AS (
      SELECT l_partkey, l_extendedprice * (1 - l_discount) AS val
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation   ON n_nationkey = s_nationkey
      WHERE n_name = 'NATION_7'
    )
    SELECT l_partkey,
           CAST(round(sum(CAST(val AS DECIMAL(30,10))), 2) AS DOUBLE)
             AS part_value
    FROM li_n
    GROUP BY l_partkey
    HAVING CAST(round(sum(CAST(val AS DECIMAL(30,10))), 2) AS DOUBLE) > (
      SELECT CAST(round(sum(CAST(val AS DECIMAL(30,10))), 2) AS DOUBLE) * 0.001
      FROM li_n
    )
    ORDER BY part_value DESC, l_partkey
    """,
)
def q11_important_part_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts representing a significant share of one
    nation's traded value — a scalar subquery inside HAVING, decorrelated
    into a one-row total broadcast against the per-part aggregate.
    (Fixture has no partsupp; 'value' is discounted revenue from that
    nation's suppliers.)

    Scale: nation filter reduces supplier via a fixed-size broadcast
    chain, then lineitem is semi-reduced by the ~|suppliers|/25 set
    before its one aggregation shuffle; the HAVING threshold is a 1-row
    crossJoin broadcast (fixed size at any SF). Both sides of the
    comparison are exact-decimal sums rounded then cast — identical
    doubles in both engines, so the > never straddles an epsilon."""
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_7"
    )
    supplier = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    )
    lineitem = load_table(spark, sf_dir, "lineitem")
    val = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    li_n = lineitem.join(
        broadcast_if_small(supplier.select("s_suppkey")),
        F.col("l_suppkey") == F.col("s_suppkey"),
    ).select("l_partkey", val.alias("val"))
    per_part = li_n.groupBy("l_partkey").agg(dsum(F.col("val")).alias("part_value"))
    total = li_n.agg((dsum(F.col("val")) * 0.001).alias("__threshold"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("part_value") > F.col("__threshold"))
        .select("l_partkey", "part_value")
        .orderBy(F.desc("part_value"), "l_partkey")
    )


@register(
    "q16_supplier_part_counts",
    """
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#13' AND p_type <> 'PROMO'
      AND p_size IN (5, 15, 25, 35, 45)
      AND l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: how many suppliers can serve each (brand, type,
    size) bucket, excluding a deny-list via NOT IN — an anti join plus a
    COUNT(DISTINCT) aggregate. (Fixture has no ps_suppkey/p_container;
    'can serve' is evidenced by lineitem shipments, and the complaint
    deny-list is suppliers with negative balance. s_suppkey is
    non-nullable, so NOT IN ≡ left-anti join with no tri-valued-logic
    hazard.)

    Scale: part predicates prune at the scan and the pruned dim
    broadcasts; the deny-list is a tiny broadcast anti join evaluated
    during the fact scan; COUNT(DISTINCT suppkey) plans as the standard
    two-phase expand/aggregate — one shuffle keyed on the group, no
    global distinct."""
    part_f = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#13")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(5, 15, 25, 35, 45)
    )
    complaints = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.join(
            broadcast_if_small(part_f), F.col("l_partkey") == F.col("p_partkey")
        )
        .join(
            broadcast_if_small(complaints),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@register(
    "q20_heavy_share_suppliers",
    """
    SELECT s_name, s_acctbal
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON r_regionkey = n_regionkey
    WHERE r_name = 'ASIA'
      AND s_suppkey IN (
        SELECT l_suppkey FROM lineitem
        WHERE l_partkey IN (
          SELECT p_partkey FROM part WHERE p_name LIKE '%bolt%')
        GROUP BY l_partkey, l_suppkey
        HAVING sum(CAST(l_quantity AS DECIMAL(30,10))) * 5 > (
          SELECT sum(CAST(l2.l_quantity AS DECIMAL(30,10)))
          FROM lineitem l2 WHERE l2.l_partkey = lineitem.l_partkey))
    ORDER BY s_name
    """,
)
def q20_heavy_share_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers holding an outsized share of a part
    family's flow — nested IN subqueries with a correlated scalar
    aggregate in HAVING. (Fixture has no partsupp/availqty; 'outsized'
    is shipping >20% of a bolt-part's total quantity.) Decorrelation:
    the per-(part, supplier) and per-part quantity aggregates come from
    ONE shuffle each over the name-pruned fact slice, the share test is
    cross-multiplied in exact decimal (×5, no division), and the
    qualifying supplier set semi-joins into the region-filtered dim.

    Scale: part prunes by name before the fact join; per-part totals are
    |parts| rows and broadcast back; the final semi join keys on
    s_suppkey. No correlated per-row probes anywhere — each subquery
    level became one partial-aggregated shuffle."""
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    )
    supplier = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    )
    bolt_parts = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").contains("bolt"))
        .select("p_partkey")
    )
    lineitem = load_table(spark, sf_dir, "lineitem")
    li_bolt = lineitem.join(
        broadcast_if_small(bolt_parts), F.col("l_partkey") == F.col("p_partkey")
    )
    per_ps = li_bolt.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(30,10)")).alias("supp_qty")
    )
    per_p = per_ps.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum("supp_qty").alias("total_qty")
    )
    heavy = (
        per_ps.join(broadcast_if_small(per_p), F.col("l_partkey") == F.col("pk"))
        .filter(F.col("supp_qty") * 5 > F.col("total_qty"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        supplier.join(heavy, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


@register(
    "q9_product_profit",
    """
    SELECT nation, o_year,
           CAST(round(sum(CAST(amount AS DECIMAL(30,10))), 2) AS DOUBLE)
             AS sum_profit
    FROM (
      SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
             l_extendedprice * (1 - l_discount)
               - p_retailprice * 0.1 * l_quantity AS amount
      FROM lineitem
      JOIN part     ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%red%'
    )
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: product-line profit by supplier nation and order
    year — the 5-way star join. (Fixture has no partsupp: supply cost is
    modeled as 10% of p_retailprice, keeping the
    revenue-minus-cost-per-line expression and the join tree.)

    Scale: the p_name filter prunes part BEFORE the fact join
    (stats-gated broadcast); nation broadcasts (fixed 25 rows); supplier
    joins AFTER lineitem is already part-pruned. lineitem⋈orders stays
    sort-merge — both scale with SF. Aggregate output is
    |nations × years| rows."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").contains("red"))
    nation = load_table(spark, sf_dir, "nation")
    supplier = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "p_retailprice"
    ) * 0.1 * F.col("l_quantity")
    return (
        lineitem.join(broadcast_if_small(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(broadcast_if_small(supplier), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(dsum(F.col("amount")).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


@register(
    "supplier_lead_time_p95",
    """
    WITH lat AS (
      SELECT l_suppkey,
             CAST(date_diff('day', o_orderdate, l_shipdate) AS BIGINT) AS lead_days
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    ranked AS (
      SELECT l_suppkey, lead_days,
             row_number() OVER (PARTITION BY l_suppkey
                                ORDER BY lead_days, l_suppkey) AS rn,
             count(*) OVER (PARTITION BY l_suppkey) AS n
      FROM lat
    ),
    p95 AS (
      SELECT l_suppkey,
             CAST(max(n) AS BIGINT) AS n_shipments,
             CAST(max(CASE WHEN rn = (n * 95 + 99) // 100 THEN lead_days END)
                  AS BIGINT) AS p95_lead_days
      FROM ranked GROUP BY l_suppkey
    )
    SELECT l_suppkey, n_shipments, p95_lead_days FROM (
      SELECT *, row_number() OVER (ORDER BY p95_lead_days DESC, l_suppkey) AS r
      FROM p95
    ) WHERE r <= 20
    ORDER BY p95_lead_days DESC, l_suppkey
    """,
)
def supplier_lead_time_p95(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 20 slowest suppliers by p95 order-to-ship lead time (exact
    positional percentile in whole days) — the supplier-SLA twin of
    order_priority_sla, keyed per supplier instead of per priority.

    Scale: latencies shuffle once on the supplier key; the positional
    p95 runs inside each supplier's partition (high-cardinality key →
    full parallelism, unlike the bounded-dimension medians), and only
    the |suppliers|-row p95 table feeds the TakeOrdered top-20."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    lat = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
        "l_suppkey",
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
        .cast("bigint")
        .alias("lead_days"),
    )
    w = Window.partitionBy("l_suppkey").orderBy("lead_days", "l_suppkey")
    wn = Window.partitionBy("l_suppkey")
    p95 = (
        lat.select(
            "l_suppkey",
            "lead_days",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(wn).alias("n"),
        )
        .groupBy("l_suppkey")
        .agg(
            F.max("n").cast("bigint").alias("n_shipments"),
            F.max(
                F.when(F.col("rn") == F.expr("(n * 95 + 99) div 100"), F.col("lead_days"))
            )
            .cast("bigint")
            .alias("p95_lead_days"),
        )
    )
    return (
        p95.orderBy(F.desc("p95_lead_days"), "l_suppkey")
        .limit(20)
        .orderBy(F.desc("p95_lead_days"), "l_suppkey")
    )
