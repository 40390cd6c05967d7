"""Relational query surface — the engine's named operators over the catalog.

The reference's only dataflow is scan → pushdown transform → upsert
(SURVEY.md §0); every relational operator beyond that (§2.9: joins,
aggregations, windows, set ops, sorts, limits) comes from Catalyst and is
exposed here as a named query, each paired with an ANSI-SQL oracle string
(``registry.ORACLE``) so the driver can hash-compare against DuckDB.

Conventions:
- Every computed column is aliased identically in the DataFrame code and
  the oracle SQL (driver compares by sorted column name).
- Float aggregates are rounded (2–4 dp) on BOTH sides so engine-order
  summation noise cannot flip the value hash.
- Every ordered/limited query has a total order (unique tie-break key).

Scale notes are inline per query: which side broadcasts, where the
shuffles are, and why the plan survives 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dbtransfer_spark.catalog import load_table
from dbtransfer_spark.registry import register


def _parse_bytes(s: str) -> int:
    """Spark byte-size strings: both long ('10mb') and short ('10m')
    suffixes are accepted by Spark's own parser, so both must work here."""
    s = s.strip().lower()
    for suffix, mult in (("tb", 1 << 40), ("gb", 1 << 30), ("mb", 1 << 20),
                         ("kb", 1 << 10), ("t", 1 << 40), ("g", 1 << 30),
                         ("m", 1 << 20), ("k", 1 << 10), ("b", 1)):
        if s.endswith(suffix):
            return int(float(s[: -len(suffix)])) * mult
    return int(s)


def broadcast_if_small(df: DataFrame, threshold: int | None = None) -> DataFrame:
    """Broadcast-hint ``df`` only when Catalyst's own size estimate for its
    optimized plan fits under the auto-broadcast threshold.

    An unconditional ``F.broadcast`` on an input that grows with the data
    (an update batch, a filtered fact) is correct at test scale and an OOM
    at 100×: the hint overrides Spark's size checks. Gating on the plan
    statistics keeps the fast plan when the side is genuinely small and
    degrades to shuffle join (or AQE's runtime broadcast) when it isn't."""
    if threshold is None:
        conf = df.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
        try:
            threshold = _parse_bytes(conf)
        except ValueError:
            return df  # unrecognized size string → degrade to no hint
        if threshold < 0:  # -1 disables auto-broadcast → never hint
            return df
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return df
    return F.broadcast(df) if size <= threshold else df



def dsum(col, scale: int = 2):
    """Order-independent sum of doubles: exact DECIMAL(30,10) accumulation
    (each per-row term is rounded to 10 dp deterministically, the sum is
    exact integer arithmetic), rounded **while still decimal** (both DuckDB
    and Spark round decimals half-away-from-zero exactly), then cast to
    double. Shuffle order and double-rounding quirks can no longer flip a
    digit — required for cross-engine hash-stable aggregates."""
    return F.round(F.sum(col.cast("decimal(30,10)")), scale).cast("double")


def exact_histogram_percentiles(
    hist: DataFrame, key: str, value: str, cnt: str, ps: dict[str, float]
) -> DataFrame:
    """Exact percentile(s) over a count-weighted value HISTOGRAM,
    replaying Spark's Percentile.scala interpolation bit-for-bit — the
    scale-safe substitute for the typed-imperative ``percentile()``
    aggregate (r12 VERDICT #1; the recipe proven on winsorize_prices,
    spearman_rank_corr and weighted_median_by_flag in r13, factored out
    here for reuse). ``percentile()`` collects each group's full value
    multiset into one reducer task — a per-group memory cliff at 100 TB;
    this form's only window runs over |distinct values| per key
    (domain-bounded, never fact-table-sized) and every aggregate is
    partial-first HashAggregate.

    Input: one row per (key, value) with its row count. Output: one row
    per key with one double column per ``ps`` entry (column name → p).
    Percentile.scala semantics replicated exactly: 0-indexed position
    pos = (n−1)·p in doubles; the value at rank k is the first distinct
    value whose cumulative count exceeds k (binarySearchCount); an
    exact-integer position or equal bracketing values return the lower
    value WITHOUT the interpolation arithmetic (the algebraic identity
    is not an IEEE identity); otherwise (khi−pos)·lower + (pos−klo)·
    higher. Hash-verified identical to ``percentile()`` on every
    converted query."""
    w_cum = (
        Window.partitionBy(key)
        .orderBy(value)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(key)
    cdf = hist.select(
        key,
        F.col(value).alias("__v"),
        F.sum(cnt).over(w_cum).alias("__cum"),
        F.sum(cnt).over(w_all).alias("__n"),
    )
    cdf = cdf.select(
        key,
        "__v",
        "__cum",
        *[
            ((F.col("__n") - F.lit(1)) * F.lit(p)).alias(f"__pos_{name}")
            for name, p in ps.items()
        ],
    )
    aggs = []
    for name in ps:
        pos = F.col(f"__pos_{name}")
        aggs.append(F.min(pos).alias(f"__pos_{name}"))
        # value at 0-indexed rank k = first distinct value whose
        # cumulative count exceeds k (binarySearchCount semantics)
        aggs.append(
            F.min(F.when(F.col("__cum") > F.floor(pos), F.col("__v"))).alias(
                f"__lo_{name}"
            )
        )
        aggs.append(
            F.min(F.when(F.col("__cum") > F.ceil(pos), F.col("__v"))).alias(
                f"__hi_{name}"
            )
        )
    bracketed = cdf.groupBy(key).agg(*aggs)

    def _interp(pos, lo, hi):
        klo, khi = F.floor(pos), F.ceil(pos)
        return (
            F.when(khi == klo, lo.cast("double"))
            .when(hi == lo, lo.cast("double"))
            .otherwise(
                (khi.cast("double") - pos) * lo.cast("double")
                + (pos - klo.cast("double")) * hi.cast("double")
            )
        )

    return bracketed.select(
        key,
        *[
            _interp(
                F.col(f"__pos_{name}"),
                F.col(f"__lo_{name}"),
                F.col(f"__hi_{name}"),
            ).alias(name)
            for name in ps
        ],
    )


def _split_double_sql(expr: str) -> str:
    """Exact-integer → double conversion as an explicit 2^42 hi/lo split,
    bit-identical across engines (r11): a moment sum can exceed 2^64
    (Σp² ≈ 2.2·10^19 already at sf0.1), where DuckDB's two-limb
    int128→double conversion double-rounds while Spark's BigDecimal
    cast rounds once — a last-ulp divergence diffcheck caught at sf0.1.
    Both engines instead compute double(hi)·2^42 + double(lo): hi and
    lo are exact integer decimal ops, hi < 2^53 for values < 2^95
    (≈ 4·10^28, comfortably past 100-TB moment sums), the power-of-two
    scale is an exact exponent shift, and the single final add is the
    one correctly-rounded step — identical IEEE ops ⇒ identical bits.
    Positive sums only (cents of nonnegative measures). DuckDB's ``//``
    on DECIMAL promotes to DOUBLE (inexact!), so the split runs on
    HUGEINT, where ``//`` and ``%`` are exact int128 ops."""
    s = "4398046511104"  # 2^42
    return (
        f"(CAST(CAST(({expr}) AS HUGEINT) // {s} AS DOUBLE) * {s}e0"
        f" + CAST(CAST(({expr}) AS HUGEINT) % {s} AS DOUBLE))"
    )


# ---------------------------------------------------------------------------
# Reference-parity queries (SURVEY.md §2.1/§2.3/§2.4/§2.5)
# ---------------------------------------------------------------------------


@register(
    "transfer_transform",
    """
    SELECT l_orderkey, l_linenumber,
           upper(l_returnflag) AS l_returnflag,
           round(l_extendedprice * 100, 2) AS l_extendedprice,
           strftime(l_shipdate, '%Y-%m-%d') AS ship_day,
           concat('Status: ', l_linestatus) AS status_note
    FROM lineitem
    """,
)
def transfer_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 pushdown column transforms (mysql.go:599-618) using the shipped
    config's exact expression shapes (configs/config.yaml:11-21): UPPER,
    arithmetic, DATE_FORMAT, CONCAT. Narrow ops — no shuffle at any scale;
    Catalyst collapses them into the parquet scan's project."""
    from dbtransfer_spark.transforms import apply_transforms

    df = load_table(spark, sf_dir, "lineitem")
    df = apply_transforms(
        df,
        {
            "l_returnflag": "UPPER(l_returnflag)",
            "l_extendedprice": "round(l_extendedprice * 100, 2)",
        },
    )
    return df.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        "l_extendedprice",
        F.expr("DATE_FORMAT(l_shipdate, 'yyyy-MM-dd')").alias("ship_day"),
        F.expr("CONCAT('Status: ', l_linestatus)").alias("status_note"),
    )


@register(
    "scan_resume_predicate",
    """
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem WHERE l_orderkey > 30000
    """,
)
def scan_resume_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 keyset-resume watermark (mysql.go:617-627): ``pk > last``.
    Catalyst pushes the filter into the scan (parquet min/max pruning; JDBC
    WHERE pushdown) — resume cost is proportional to the remainder, which
    is the whole point of keyset resume at 100 TB."""
    df = load_table(spark, sf_dir, "lineitem")
    return df.filter(F.col("l_orderkey") > 30000).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )


@register(
    "keyset_page",
    """
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem WHERE l_orderkey > 10000
    ORDER BY l_orderkey, l_linenumber LIMIT 1000
    """,
)
def keyset_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 keyset pagination page (``WHERE pk > ? ORDER BY pk LIMIT ?``,
    mysql.go:617-631). Spark executes ORDER BY+LIMIT as a TakeOrdered
    (per-partition top-k + driver merge) — no global sort shuffle."""
    df = load_table(spark, sf_dir, "lineitem")
    return (
        df.filter(F.col("l_orderkey") > 10000)
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
        .limit(1000)
    )


@register(
    "count_rows",
    """
    SELECT 'lineitem' AS tbl, count(*) AS cnt FROM lineitem
    UNION ALL SELECT 'orders' AS tbl, count(*) AS cnt FROM orders
    UNION ALL SELECT 'customer' AS tbl, count(*) AS cnt FROM customer
    """,
)
def count_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 row-count pre-scan (progress denominators, mysql.go:244-249).
    Parquet count() is metadata-only — no data read."""
    parts = []
    for t in ("lineitem", "orders", "customer"):
        parts.append(
            load_table(spark, sf_dir, t).agg(
                F.lit(t).alias("tbl"), F.count(F.lit(1)).alias("cnt")
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


@register(
    "watermark_bounds",
    """
    SELECT min(l_orderkey) AS lo, max(l_orderkey) AS hi, count(*) AS n
    FROM lineitem
    """,
)
def watermark_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-bounds probe (engine._run_chunked): one aggregate replaces the
    reference's per-batch running MAX (mysql.go:659-661)."""
    return load_table(spark, sf_dir, "lineitem").agg(
        F.min("l_orderkey").alias("lo"),
        F.max("l_orderkey").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "upsert_merge",
    """
    SELECT c_custkey, c_name, c_nationkey,
           round(CASE WHEN c_custkey % 10 = 0 THEN c_acctbal * 2 ELSE c_acctbal END, 2)
             AS c_acctbal,
           c_mktsegment
    FROM customer
    """,
)
def upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/W2 upsert semantics as a dataflow: an update batch (every 10th
    customer, balance doubled) merged into the base table — new rows win on
    key clash, others pass through (ON DUPLICATE KEY UPDATE,
    mysql.go:437-441). Implemented exactly like ParquetSink.upsert:
    anti-join + union. The update-key side is broadcast only when
    Catalyst's size estimate says it fits (broadcast_if_small): an update
    batch scales with the table, so pinning the hint would OOM executors
    at 100× — gated, MERGE degrades gracefully to a shuffled anti-join."""
    base = load_table(spark, sf_dir, "customer").withColumn(
        "c_acctbal", F.round("c_acctbal", 2)
    )
    updates = (
        base.filter(F.col("c_custkey") % 10 == 0)
        .withColumn("c_acctbal", F.round(F.col("c_acctbal") * 2, 2))
    )
    kept = base.join(
        broadcast_if_small(updates.select("c_custkey")), "c_custkey", "left_anti"
    )
    return kept.unionByName(updates)


# ---------------------------------------------------------------------------
# Relational operators (§2.9 — absent in reference, built-in via Catalyst)
# ---------------------------------------------------------------------------


def _split_double_spark(expr: str) -> str:
    """Spark twin of _split_double_sql (defined with correlation_matrix):
    exact-integer → double via the 2^42 hi/lo split, identical IEEE ops
    on both engines. Spark's DIV on decimal returns BIGINT (hi < 2^53
    for values < 2^95); % stays exact decimal. Positive values only."""
    s = "4398046511104"  # 2^42
    return (
        f"(CAST(({expr}) DIV {s} AS DOUBLE) * {s}e0"
        f" + CAST(({expr}) % {s} AS DOUBLE))"
    )


def _q1_oracle() -> str:
    d = _split_double_sql  # exact int → double, engine-identical
    return f"""
    WITH c AS (
      SELECT l_returnflag, l_linestatus,
             CAST(round(l_quantity * 100) AS BIGINT) AS q,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS p,
             CAST(round(l_discount * 100) AS BIGINT) AS d,
             CAST(round(l_tax * 100) AS BIGINT) AS t
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    ), s AS (
      SELECT l_returnflag, l_linestatus, count(*) AS n,
             sum(q) AS rq, sum(p) AS rp, sum(d) AS rd,
             sum(p*(100-d)) AS rdp, sum(p*(100-d)*(100+t)) AS rch
      FROM c GROUP BY l_returnflag, l_linestatus
    )
    SELECT l_returnflag, l_linestatus,
           {d('rq')} / 100e0 AS sum_qty,
           {d('rp')} / 100e0 AS sum_base_price,
           {d('(rdp + 50) // 100')} / 100e0 AS sum_disc_price,
           {d('(rch + 5000) // 10000')} / 100e0 AS sum_charge,
           round({d('rq')} / 100e0 / n, 4) AS avg_qty,
           round({d('rp')} / 100e0 / n, 4) AS avg_price,
           round({d('rd')} / 100e0 / n, 4) AS avg_disc,
           n AS count_order
    FROM s ORDER BY l_returnflag, l_linestatus
    """


@register("q1_pricing_summary", _q1_oracle())
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy single aggregation. Partial (map-side)
    aggregation means the shuffle carries only |groups|×partitions rows —
    the plan is scan-bound at any scale. Filter + 7-column projection push
    into the parquet scan.

    r11: the five DECIMAL(30,10) sums were ~80% of q1's sf1 wall time
    (the scalar-band decimal tax — see _cents_power_sums); the money
    columns are exact 2-decimal values, so the moments now accumulate as
    integer-cents longs with block-bounded partials and only descale at
    the end. disc_price/charge become the EXACT products
    p·(100−d)·(100+t) in integer basis points instead of 10-dp captures
    of per-row double products — TPC-H defines these columns as exact
    decimals, and the oracle computes the identical integer form, so
    cross-engine equality is by construction (half-up rounding to cents
    done in integer space, the final double produced by the 2^42 split —
    one correctly-rounded division per column on both engines).

    r12 (ADVICE): the half-up quotients (rdp+50)/100 and (rch+5000)/10000
    are computed by DECIMAL floor-division, not BIGINT DIV — the raw
    basis-point sums are DECIMAL(38,0) and a BIGINT quotient of the
    charge sum would overflow 2^63 past ~140 TB while the DuckDB twin
    stays exact in HUGEINT; the decimal floor keeps the Spark side exact
    to the split's own 2^95 bound. Values are bit-identical at every
    non-overflowing scale (same integers, same split)."""
    df = load_table(spark, sf_dir, "lineitem")
    raw = _cents_power_sums(
        df.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")),
        ["l_returnflag", "l_linestatus"],
        {"q": "l_quantity", "p": "l_extendedprice",
         "d": "l_discount", "t": "l_tax"},
        {
            "rq": ("q", None),
            "rp": ("p", None),
            "rd": ("d", None),
            "rdp": "p*(100-d)",
            "rch": "p*(100-d)*(100+t)",
        },
    )
    d = _split_double_spark
    return raw.selectExpr(
        "l_returnflag",
        "l_linestatus",
        f"{d('rq')} / 100e0 AS sum_qty",
        f"{d('rp')} / 100e0 AS sum_base_price",
        f"{d('CAST(floor((rdp + 50) / 100) AS DECIMAL(38,0))')} / 100e0"
        " AS sum_disc_price",
        f"{d('CAST(floor((rch + 5000) / 10000) AS DECIMAL(38,0))')} / 100e0"
        " AS sum_charge",
        f"round({d('rq')} / 100e0 / n, 4) AS avg_qty",
        f"round({d('rp')} / 100e0 / n, 4) AS avg_price",
        f"round({d('rd')} / 100e0 / n, 4) AS avg_disc",
        "n AS count_order",
    ).orderBy("l_returnflag", "l_linestatus")


@register(
    "q3_shipping_priority",
    """
    SELECT l_orderkey,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10))), 2) AS DOUBLE) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → fact join → top-k.
    The filtered customer dim (1/5 of customers) broadcasts only while
    Catalyst's size estimate says it fits — customer still grows with SF,
    so even this side is gated, not pinned; orders⋈customer is left to the
    optimizer. The date filter keeps ~97% of orders, so pinning a
    broadcast on orders⋈customer would push billions of rows to every
    executor at 100 TB — AQE converts lineitem⋈orders to broadcast at
    runtime when (and only when) the joined side actually fits. The top-10
    is TakeOrdered, not a global sort."""
    customer = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    lineitem = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    return (
        lineitem.join(
            orders.join(
                broadcast_if_small(customer), orders.o_custkey == customer.c_custkey
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@register(
    "q6_forecast_revenue",
    """
    SELECT CAST(round(sum(CAST(l_extendedprice * l_discount AS DECIMAL(30,10))), 2) AS DOUBLE) AS revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: fully filter-pushed scan + single global aggregate —
    zero joins, zero group keys; every predicate lands in PushedFilters so
    at 100 TB the scan reads only matching row groups of 4 columns, and
    the 'shuffle' is a one-row partial-aggregate gather."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.03, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "q5_region_revenue",
    """
    SELECT n_name, CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10))), 2) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name ORDER BY revenue DESC, n_name
    """,
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way star join. Only the fixed-size dims
    (region: 5 rows, nation: 25 rows) carry broadcast hints — supplier and
    customer grow linearly with SF, so their joins are left to the
    optimizer (AQE broadcasts them at runtime while they fit, sort-merge
    beyond that). lineitem⋈orders is the one guaranteed large-large join:
    sort-merge on the shared key. Group-by on 25 nations is a trivial
    shuffle."""
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            customer,
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "n_name")
    )


@register(
    "top_n_per_group",
    """
    SELECT p_brand, p_partkey, p_name, p_retailprice
    FROM (
      SELECT p_brand, p_partkey, p_name, p_retailprice,
             row_number() OVER (PARTITION BY p_brand
                                ORDER BY p_retailprice DESC, p_partkey) AS rn
      FROM part
    ) WHERE rn <= 3
    """,
)
def top_n_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window top-k per group. Spark inserts a partial WindowGroupLimit
    before the shuffle (rank-limit pushdown), so each partition forwards at
    most k rows per group — the classic scalable top-k."""
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), "p_partkey")
    return (
        load_table(spark, sf_dir, "part")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("p_brand", "p_partkey", "p_name", "p_retailprice")
    )


@register(
    "running_total",
    """
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,10))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS running_spend
    FROM orders
    """,
)
def running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running aggregate window (ROWS frame, unique (date,key) order).
    One hash-partition shuffle by customer; frame evaluation is streaming
    within each partition — no buffering beyond the frame."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.round(F.sum(F.col("o_totalprice").cast("decimal(30,10)")).over(w), 2)
        .cast("double")
        .alias("running_spend"),
    )


@register(
    "rollup_aggregate",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(round(sum(CAST(l_quantity AS DECIMAL(30,10))), 2) AS DOUBLE) AS sum_qty, count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (absent in reference §2.9; Catalyst Expand +
    single aggregation — one shuffle for all grouping levels)."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity")).alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "cube_aggregate",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,10))), 2) AS DOUBLE) AS total, count(*) AS n
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            dsum(F.col("o_totalprice")).alias("total"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "set_operations",
    """
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
    INTERSECT
    SELECT c_custkey FROM customer WHERE c_acctbal > 1000
    UNION
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
    EXCEPT
    SELECT c_custkey FROM customer WHERE c_acctbal < 0
    """,
)
def set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT/UNION/EXCEPT with SQL's left-associative precedence.
    Spark plans set ops as joins/aggregates — they inherit broadcast and
    AQE treatment like any join."""
    customer = load_table(spark, sf_dir, "customer")
    auto = customer.filter(F.col("c_mktsegment") == "AUTOMOBILE").select("c_custkey")
    rich = customer.filter(F.col("c_acctbal") > 1000).select("c_custkey")
    mach = customer.filter(F.col("c_mktsegment") == "MACHINERY").select("c_custkey")
    neg = customer.filter(F.col("c_acctbal") < 0).select("c_custkey")
    return auto.intersect(rich).union(mach).distinct().exceptAll(neg.distinct())


@register(
    "anti_join_no_orders",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey
        AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
    )
    """,
)
def anti_join_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS as left_anti join (customers with no *recent* orders);
    builds a hash table of distinct recent-order customers (broadcast if
    small, else shuffled)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    return customer.join(orders, customer.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "semi_join_with_orders",
    """
    SELECT c_custkey, c_mktsegment FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def semi_join_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return customer.join(orders, customer.c_custkey == orders.o_custkey, "left_semi").select(
        "c_custkey", "c_mktsegment"
    )


@register(
    "pivot_order_status",
    """
    SELECT o_orderpriority,
           CAST(round(coalesce(sum(CAST(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END AS DECIMAL(30,10))), 0), 2) AS DOUBLE) AS status_O,
           CAST(round(coalesce(sum(CAST(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END AS DECIMAL(30,10))), 0), 2) AS DOUBLE) AS status_F,
           CAST(round(coalesce(sum(CAST(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END AS DECIMAL(30,10))), 0), 2) AS DOUBLE) AS status_P
    FROM orders GROUP BY o_orderpriority
    """,
)
def pivot_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with explicit value list (one aggregation pass; listing values
    avoids the extra distinct-scan Spark needs to discover them)."""
    out = (
        load_table(spark, sf_dir, "orders")
        .withColumn("o_totalprice_dec", F.col("o_totalprice").cast("decimal(30,10)"))
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .sum("o_totalprice_dec")
    )
    return out.select(
        "o_orderpriority",
        F.round(F.coalesce(F.col("O"), F.lit(0).cast("decimal(30,10)")), 2)
        .cast("double")
        .alias("status_O"),
        F.round(F.coalesce(F.col("F"), F.lit(0).cast("decimal(30,10)")), 2)
        .cast("double")
        .alias("status_F"),
        F.round(F.coalesce(F.col("P"), F.lit(0).cast("decimal(30,10)")), 2)
        .cast("double")
        .alias("status_P"),
    )


@register(
    "order_priority_distribution",
    """
    SELECT o_orderpriority, count(*) AS n_orders,
           round(100.0 * count(*) / sum(count(*)) OVER (), 4) AS pct
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def order_priority_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate + global window (share-of-total): the OVER () total is
    computed from the 5 aggregated rows, not the base table."""
    agg = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    w = Window.partitionBy()
    return agg.select(
        "o_orderpriority",
        "n_orders",
        F.round(100.0 * F.col("n_orders") / F.sum("n_orders").over(w), 4).alias("pct"),
    ).orderBy("o_orderpriority")


@register(
    "unpivot_lineitem_metrics",
    """
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
           l_quantity AS metric_value FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
    """,
)
def unpivot_lineitem_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (melt) of the lineitem measures — the reshape
    every feature store / metrics pipeline needs.

    Scale: Spark plans unpivot as a single-scan Expand (each input row
    emitted k times) — a narrow op with NO shuffle and ONE pass over the
    table, where the naive UNION ALL formulation (what the oracle runs)
    scans the table k times. Values pass through unchanged, so no
    decimal detour is needed for the cross-engine hash."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "metric",
        "metric_value",
    )


@register(
    "acctbal_deciles",
    """
    SELECT decile,
           count(*) AS n_customers,
           CAST(round(sum(CAST(c_acctbal AS DECIMAL(30,10))), 2) AS DOUBLE) AS total_bal,
           round(min(c_acctbal), 2) AS min_bal,
           round(max(c_acctbal), 2) AS max_bal
    FROM (
      SELECT c_acctbal, ntile(10) OVER (ORDER BY c_acctbal, c_custkey) AS decile
      FROM customer
    )
    GROUP BY decile ORDER BY decile
    """,
)
def acctbal_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-population decile bucketing of customer balances with
    per-bucket stats — the feature-binning primitive, reproducing
    ntile(10) OVER (ORDER BY c_acctbal, c_custkey) EXACTLY without ever
    sorting the table through one partition.

    Distributed ntile: each row's global rank decomposes as
    (count of rows with smaller value) + (row_number among its ties by
    c_custkey). The first term comes from a cumulative value histogram —
    |distinct balances| rows, bounded by the VALUE DOMAIN (~1.1M for a
    2-decimal balance range), not by SF — broadcast to the scan; the
    second is a window PARTITIONED by balance (scale-safe). The bucket
    is then pure arithmetic on the rank: with n rows, r0 = n mod 10
    buckets of size q+1 = n div 10 + 1 come first, the rest size q —
    identical to ntile's definition, so hashes match the ntile oracle.

    Scale: one domain-bounded histogram shuffle + one partitioned
    window + a broadcast join evaluated in the scan stage. The customer
    table itself is never globally sorted (the old plan pushed the whole
    dim through a single ntile task — 15M rows through one task at
    sf100)."""
    cust = load_table(spark, sf_dir, "customer")
    vals = cust.groupBy(F.col("c_acctbal").alias("v")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # Running count over the (value, count) histogram: input is bounded
    # by the balance domain, the same accepted shape as
    # quantity_quartile_bins' cutpoint derivation.
    w_run = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    hist = vals.select(
        "v",
        (F.sum("cnt").over(w_run) - F.col("cnt")).alias("prior"),
        F.sum("cnt").over(Window.partitionBy()).alias("n"),
    )
    w_tie = Window.partitionBy("c_acctbal").orderBy("c_custkey")
    # Stats-gated broadcast (not an unconditional hint): the histogram is
    # domain-bounded in the expected case, but a wide/continuous balance
    # domain approaches |customers| rows — degrade to a shuffle join then
    # (r4 ADVICE low, queries.py:720).
    ranked = (
        cust.join(broadcast_if_small(hist), cust["c_acctbal"] == hist["v"])
        .withColumn("r", F.col("prior") + F.row_number().over(w_tie))
        .withColumn("qq", F.expr("n div 10"))
        .withColumn("r0", F.expr("n % 10"))
        .withColumn(
            "decile",
            F.expr(
                "CASE WHEN r <= r0 * (qq + 1) THEN (r + qq) div (qq + 1) "
                "ELSE r0 + (r - r0 * (qq + 1) + qq - 1) div qq END"
            ).cast("int"),
        )
    )
    return (
        ranked.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum(F.col("c_acctbal")).alias("total_bal"),
            F.round(F.min("c_acctbal"), 2).alias("min_bal"),
            F.round(F.max("c_acctbal"), 2).alias("max_bal"),
        )
        .orderBy("decile")
    )


@register(
    "customer_percentile_features",
    """
    SELECT c_custkey, c_nationkey,
           percent_rank() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal)
             AS bal_pctl,
           cume_dist() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal)
             AS bal_cume
    FROM customer
    """,
)
def customer_percentile_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-group percentile features (percent_rank + cume_dist of each
    customer's balance inside its nation) — the normalized-rank feature
    transform. Values are left unrounded on purpose: both functions are
    defined as exact integer ratios ((rank-1)/(n-1), rank/n) whose IEEE
    division is exactly rounded, so the doubles are bit-identical across
    engines — whereas rounding them COULD diverge (a ratio like 7/128 is
    a dyadic with an exact '5' at the rounding digit, where Spark rounds
    half-up and DuckDB half-even).

    Scale: one shuffle on c_nationkey; percentiles within a partition are
    computed in a single pass of the sorted run — no global ordering
    anywhere."""
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal")
    return cust.select(
        "c_custkey",
        "c_nationkey",
        F.percent_rank().over(w).alias("bal_pctl"),
        F.cume_dist().over(w).alias("bal_cume"),
    )


def _cents_power_sums(
    df: DataFrame,
    group_cols: list[str],
    cents: dict[str, str],
    terms: dict[str, tuple[str, str | None] | str],
    block: int = 32768,
) -> DataFrame:
    """Exact fixed-point power sums at long-sum speed (r11, from the sf1
    sweep's 15-18 s scalar band: a DECIMAL(30,10) sum runs ~20× slower
    than a long sum at sf1 — 14.1 s vs 0.6 s for six lineitem moments —
    because high-precision decimal aggregation leaves whole-stage
    codegen's primitive path; the values themselves are 2-decimal money,
    so all the precision bought nothing).

    Shape: per-row integer cents (``CAST(round(src*100) AS BIGINT)``,
    exact for 2-decimal inputs below ~$10^16), products and partial sums
    in LONG per (group, 32768-row block), then a tiny DECIMAL(38,0)
    merge per group. The block key ``floor(monotonically_increasing_id()
    / block)`` is ``pid·2^18 + offset/2^15`` — unique per partition and
    a HARD ≤32768-rows-per-group bound at any data scale, so the long
    partials can never overflow: 32768 rows × (1.05·10^7 cents)^2
    ≤ 3.7·10^18 < 2^63, independent of total row count (a plain
    single-level long sum would wrap around sf30). The merge input is
    ≤ rows/32768 rows — the map-side partial aggregation collapses it
    before the shuffle, so this costs the same one exchange as the
    single-level decimal form. Measured 14.1 s → 2.7 s at sf1.

    Returns one row per group: ``n`` (long) plus each ``terms`` alias as
    an exact DECIMAL(38,0) RAW SCALED integer — ×100 for single columns,
    ×10^4 for products; callers descale with exact decimal division
    (``raw / 100`` keeps scale ≥ 6 under Spark's division typing, and
    the true values carry ≤4 decimals, so nothing ever rounds).

    A term may also be a SQL expression STRING over the cents aliases
    (e.g. ``"p*(100-d)*(100+t)"`` for TPC-H charge, scale 10^6) — the
    caller owns the overflow bound: 32768 × max|term| must stay < 2^63
    (q1's worst term is 1.05e7·100·108 ≈ 1.1e11/row → 3.7e15/block)."""
    c = df.select(
        *group_cols,
        *[
            F.expr(f"CAST(round({src} * 100) AS BIGINT)").alias(a)
            for a, src in cents.items()
        ],
        F.floor(F.monotonically_increasing_id() / block).alias("__blk"),
    )

    def term_col(t):
        if isinstance(t, str):
            return F.expr(t)
        a, b = t
        return F.col(a) if b is None else F.col(a) * F.col(b)

    partial = c.groupBy(*group_cols, "__blk").agg(
        F.count(F.lit(1)).alias("__n"),
        *[F.sum(term_col(t)).alias(s) for s, t in terms.items()],
    )
    return partial.groupBy(*group_cols).agg(
        F.sum("__n").alias("n"),
        *[F.sum(F.col(s).cast("decimal(38,0)")).alias(s) for s in terms],
    )


@register(
    "moment_stats",
    """
    WITH m AS (
      SELECT l_returnflag,
             count(*) AS n,
             CAST(round(sum(CAST(l_quantity AS DECIMAL(30,10))), 4) AS DOUBLE) AS sx,
             CAST(round(sum(CAST(l_extendedprice AS DECIMAL(30,10))), 4) AS DOUBLE) AS sy,
             CAST(round(sum(CAST(l_quantity * l_quantity AS DECIMAL(30,10))), 4) AS DOUBLE) AS sxx,
             CAST(round(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(30,10))), 4) AS DOUBLE) AS syy,
             CAST(round(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(30,10))), 4) AS DOUBLE) AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           round((CAST(n AS DOUBLE) * sxx - sx * sx)
                 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)), 6) AS var_qty,
           round(sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
                 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))), 6) AS stddev_qty,
           round((CAST(n AS DOUBLE) * sxy - sx * sy)
                 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)), 6) AS covar_qty_price,
           round((CAST(n AS DOUBLE) * sxy - sx * sy)
                 / (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)
                    * sqrt(CAST(n AS DOUBLE) * syy - sy * sy)), 6) AS corr_qty_price
    FROM m ORDER BY l_returnflag
    """,
)
def moment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed second-moment statistics (sample variance/stddev,
    covariance, Pearson correlation) per return flag, computed from exact
    decimal power sums (n, Σx, Σy, Σx², Σy², Σxy) rather than Spark's
    built-in one-pass estimators: the built-ins use Welford-style updates
    whose float result depends on merge order (and differs from DuckDB's
    implementation in the last ulps), while power sums are
    order-independent exact integers in decimal — both engines then
    evaluate the identical closed-form double expression, giving
    bit-equal statistics. (In a pipeline that doesn't need cross-engine
    bit-equality, `F.stddev_samp`/`F.corr` are the one-pass built-ins.)

    Scale: one partial-aggregated shuffle carrying six sums per group —
    the same cost as any groupBy; no second pass, no centering pass.
    r11: the sums run through _cents_power_sums (exact integer-cents
    longs + block-bounded partials) instead of per-row DECIMAL(30,10) —
    identical exact values (inputs are 2-decimal money, so the decimal
    precision was unused), 15.5 s → ~3 s at sf1."""
    li = load_table(spark, sf_dir, "lineitem")
    raw = _cents_power_sums(
        li,
        ["l_returnflag"],
        {"q": "l_quantity", "p": "l_extendedprice"},
        {
            "rsx": ("q", None),
            "rsy": ("p", None),
            "rsxx": ("q", "q"),
            "rsyy": ("p", "p"),
            "rsxy": ("q", "p"),
        },
    )

    def descale(raw_col: str, factor: int):
        # Exact decimal division (scale ≥ 6 > the ≤4 true decimals), then
        # the same round(·,4)-while-decimal + double cast as before.
        return F.round(F.col(raw_col) / F.lit(factor), 4).cast("double")

    m = raw.select(
        "l_returnflag",
        "n",
        descale("rsx", 100).alias("sx"),
        descale("rsy", 100).alias("sy"),
        descale("rsxx", 10000).alias("sxx"),
        descale("rsyy", 10000).alias("syy"),
        descale("rsxy", 10000).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    var_q = (nd * F.col("sxx") - F.col("sx") * F.col("sx")) / (nd * (nd - 1.0))
    covar = (nd * F.col("sxy") - F.col("sx") * F.col("sy")) / (nd * (nd - 1.0))
    corr = (nd * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(nd * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(nd * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return m.select(
        "l_returnflag",
        "n",
        F.round(var_q, 6).alias("var_qty"),
        F.round(F.sqrt(var_q), 6).alias("stddev_qty"),
        F.round(covar, 6).alias("covar_qty_price"),
        F.round(corr, 6).alias("corr_qty_price"),
    ).orderBy("l_returnflag")


@register(
    "quantity_quartile_bins",
    """
    WITH vals AS (
      SELECT l_quantity AS v, count(*) AS cnt FROM lineitem GROUP BY l_quantity
    ),
    cum AS (
      SELECT v, cnt,
             sum(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS c,
             sum(cnt) OVER () AS n
      FROM vals
    ),
    cuts AS (
      SELECT min(CASE WHEN c >= ceil(0.25 * n) THEN v END) AS q1,
             min(CASE WHEN c >= ceil(0.50 * n) THEN v END) AS q2,
             min(CASE WHEN c >= ceil(0.75 * n) THEN v END) AS q3
      FROM cum
    )
    SELECT bin, count(*) AS n_rows,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(30,10))), 2) AS DOUBLE)
             AS total_price,
           min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
    FROM (
      SELECT l_quantity, l_extendedprice,
             CASE WHEN l_quantity <= q1 THEN 1
                  WHEN l_quantity <= q2 THEN 2
                  WHEN l_quantity <= q3 THEN 3
                  ELSE 4 END AS bin
      FROM lineitem CROSS JOIN cuts
    )
    GROUP BY bin ORDER BY bin
    """,
)
def quantity_quartile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-scale quantile binning — the scale path acctbal_deciles points
    at: instead of an ntile window over the whole fact table (a global
    sort), derive exact quartile cutpoints from the tiny (value, count)
    aggregate — first value whose running count reaches ceil(p·n) — and
    bin the facts with a broadcast one-row comparison. The cutpoint rule
    is spelled out in integer arithmetic rather than percentile_disc/
    percentile because the two engines interpolate differently.

    Scale: one partial-aggregated shuffle to build the value histogram
    (|distinct values| rows — for a discrete measure this is tiny
    regardless of SF), windows over that aggregate only, then a
    scan-stage CASE per fact row. The fact table is never sorted and
    never shuffled for the binning itself."""
    li = load_table(spark, sf_dir, "lineitem")
    vals = li.groupBy(F.col("l_quantity").alias("v")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w_run = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy()
    cum = vals.select(
        "v",
        F.sum("cnt").over(w_run).alias("c"),
        F.sum("cnt").over(w_all).alias("n"),
    )
    def cut(p, name):
        return F.min(
            F.when(F.col("c") >= F.ceil(F.lit(p) * F.col("n")), F.col("v"))
        ).alias(name)
    cuts = cum.agg(cut(0.25, "q1"), cut(0.50, "q2"), cut(0.75, "q3"))
    binned = li.crossJoin(F.broadcast(cuts)).select(
        "l_quantity",
        "l_extendedprice",
        F.when(F.col("l_quantity") <= F.col("q1"), 1)
        .when(F.col("l_quantity") <= F.col("q2"), 2)
        .when(F.col("l_quantity") <= F.col("q3"), 3)
        .otherwise(4)
        .alias("bin"),
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("l_extendedprice")).alias("total_price"),
            F.min("l_quantity").alias("min_qty"),
            F.max("l_quantity").alias("max_qty"),
        )
        .orderBy("bin")
    )


@register(
    "full_outer_reconciliation",
    """
    WITH a AS (SELECT DISTINCT o_custkey FROM orders
               WHERE year(o_orderdate) = 1997),
         b AS (SELECT DISTINCT o_custkey FROM orders
               WHERE year(o_orderdate) = 1998)
    SELECT coalesce(a.o_custkey, b.o_custkey) AS custkey,
           a.o_custkey IS NOT NULL AS in_1997,
           b.o_custkey IS NOT NULL AS in_1998,
           CASE WHEN a.o_custkey IS NULL THEN 'added'
                WHEN b.o_custkey IS NULL THEN 'churned'
                ELSE 'retained' END AS status
    FROM a FULL OUTER JOIN b ON a.o_custkey = b.o_custkey
    ORDER BY custkey
    """,
)
def full_outer_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation via FULL OUTER join — the CDC/diff
    primitive (which keys appeared, disappeared, persisted between two
    dataset versions), here over the 1997-vs-1998 active-customer sets.
    Completes the §2.9 join-type surface (inner/left/semi/anti/asof/
    salted are covered elsewhere; this is the full-outer case with both
    null sides exercised).

    Scale: each year's distinct-key set is one partial-aggregated
    shuffle over the pruned year slice; the full outer join shuffles on
    the SAME key, so AQE coalesces; classification is a scan-stage CASE
    over null flags. No side is assumed small — full outer cannot
    broadcast, and none is hinted."""
    orders = load_table(spark, sf_dir, "orders")

    def year_keys(y: int, alias: str) -> DataFrame:
        return (
            orders.filter(F.year("o_orderdate") == y)
            .select(F.col("o_custkey").alias(alias))
            .distinct()
        )

    a, b = year_keys(1997, "ka"), year_keys(1998, "kb")
    return (
        a.join(b, F.col("ka") == F.col("kb"), "full_outer")
        .select(
            F.coalesce("ka", "kb").alias("custkey"),
            F.col("ka").isNotNull().alias("in_1997"),
            F.col("kb").isNotNull().alias("in_1998"),
            F.when(F.col("ka").isNull(), "added")
            .when(F.col("kb").isNull(), "churned")
            .otherwise("retained")
            .alias("status"),
        )
        .orderBy("custkey")
    )


@register(
    "scd2_merge",
    """
    WITH updates AS (
      SELECT c_custkey, round(c_acctbal + 100.0, 2) AS new_bal
      FROM customer WHERE c_custkey % 7 = 0
    )
    SELECT c_custkey, c_acctbal, version, is_current FROM (
      SELECT c.c_custkey, c.c_acctbal, 1 AS version, FALSE AS is_current
      FROM customer c JOIN updates u ON c.c_custkey = u.c_custkey
      UNION ALL
      SELECT c.c_custkey, u.new_bal AS c_acctbal, 2 AS version,
             TRUE AS is_current
      FROM customer c JOIN updates u ON c.c_custkey = u.c_custkey
      UNION ALL
      SELECT c.c_custkey, c.c_acctbal, 1 AS version, TRUE AS is_current
      FROM customer c ANTI JOIN updates u ON c.c_custkey = u.c_custkey
    )
    ORDER BY c_custkey, version
    """,
)
def scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 merge: apply an update batch to a
    dimension while KEEPING history — updated keys close their old row
    (is_current=false) and append a new version; untouched keys pass
    through. The historized counterpart of the reference's
    overwrite-upsert (W1/W2: mysql.go:417-445, postgresql.go:725-777),
    which this engine already mirrors in `upsert_merge`. The update
    batch is derived deterministically (keys ≡ 0 mod 7, balance +100)
    so the oracle replays it.

    Scale: three equi joins on the dimension key (semi/inner/anti), all
    sharing one shuffle partitioning that AQE reuses; no windows, no
    global sorts (the ORDER BY is presentation-only and the driver sorts
    rows before hashing anyway). The update side is `broadcast_if_small`
    — a real CDC batch is small; a backfill degrades to shuffle join."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    updates = (
        cust.filter(F.col("c_custkey") % 7 == 0)
        .select(
            F.col("c_custkey").alias("u_key"),
            F.round(F.col("c_acctbal") + 100.0, 2).alias("new_bal"),
        )
    )
    u = broadcast_if_small(updates)
    closed = (
        cust.join(u, F.col("c_custkey") == F.col("u_key"), "left_semi")
        .select(
            "c_custkey",
            "c_acctbal",
            F.lit(1).alias("version"),
            F.lit(False).alias("is_current"),
        )
    )
    fresh = cust.join(u, F.col("c_custkey") == F.col("u_key")).select(
        "c_custkey",
        F.col("new_bal").alias("c_acctbal"),
        F.lit(2).alias("version"),
        F.lit(True).alias("is_current"),
    )
    untouched = cust.join(
        u, F.col("c_custkey") == F.col("u_key"), "left_anti"
    ).select(
        "c_custkey",
        "c_acctbal",
        F.lit(1).alias("version"),
        F.lit(True).alias("is_current"),
    )
    return closed.unionAll(fresh).unionAll(untouched).orderBy(
        "c_custkey", "version"
    )


@register(
    "value_histogram",
    """
    SELECT CASE WHEN l_extendedprice < 0.0 THEN 0
                WHEN l_extendedprice >= 120000.0 THEN 25
                ELSE CAST(floor(l_extendedprice / 5000.0) AS BIGINT) + 1
           END AS bucket,
           count(*) AS n_rows,
           round(min(l_extendedprice), 2) AS lo,
           round(max(l_extendedprice), 2) AS hi
    FROM lineitem
    GROUP BY bucket ORDER BY bucket
    """,
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of a fact measure via width_bucket — the
    distribution-profiling pass every ingest/QA pipeline runs. DuckDB
    has no width_bucket, so the oracle replays it as floor arithmetic
    with the same edges (width 5000 over [0, 120000], 0/25 under/over-
    flow); cent-valued prices sit ≥2e-6 bucket-widths from any edge, so
    IEEE rounding can never flip an assignment between the two forms.

    Scale: single scan + one partial-aggregated shuffle carrying ≤26
    bucket rows (24 + under/overflow); the fact table is never sorted.
    This is the cheap profiling pass whose output sizes the cutpoint
    strategies (quantity_quartile_bins, acctbal_deciles) at 100 TB."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            F.width_bucket(
                F.col("l_extendedprice"), F.lit(0.0), F.lit(120000.0), F.lit(24)
            ).alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.min("l_extendedprice"), 2).alias("lo"),
            F.round(F.max("l_extendedprice"), 2).alias("hi"),
        )
        .orderBy("bucket")
    )


@register(
    "winsorize_prices",
    """
    WITH cuts AS (
      SELECT l_returnflag AS flag,
             quantile_cont(CAST(round(l_extendedprice * 100) AS BIGINT), 0.05)
               AS p05c,
             quantile_cont(CAST(round(l_extendedprice * 100) AS BIGINT), 0.95)
               AS p95c
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           count(*) AS n_rows,
           CAST(sum(CASE WHEN l_extendedprice * 100 < p05c THEN 1 ELSE 0 END)
             AS BIGINT) AS n_clipped_lo,
           CAST(sum(CASE WHEN l_extendedprice * 100 > p95c THEN 1 ELSE 0 END)
             AS BIGINT) AS n_clipped_hi,
           CAST(round(sum(CAST(
             greatest(least(l_extendedprice * 100, p95c), p05c) / 100.0
             AS DECIMAL(30,10))), 2) AS DOUBLE) AS winsorized_total
    FROM lineitem JOIN cuts ON l_returnflag = flag
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def winsorize_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization (clip to per-group p05/p95) — the outlier-taming
    feature transform. Percentiles are computed over integer CENTS
    (exact interpolation arithmetic on integers — the same
    half-cent-exact trick as approx_sketches), so cutpoints and clip
    decisions replay identically in both engines; the clipped sum goes
    through exact decimal.

    Cutpoints come from an exact HISTOGRAM percentile, not Spark's
    `percentile()` aggregate (r12 VERDICT #1): the typed-imperative
    Percentile collects each group's FULL value multiset into one
    reducer task — a per-group memory cliff at 100 TB. Instead:
    groupBy(flag, cents) partial-aggregates the value histogram (the
    cents domain is bounded, so the frame is |distinct values|-sized,
    never fact-table-sized), one per-flag cumulative-count window over
    those distinct values, then a conditional-min aggregate picks the
    bracketing values and replays Percentile.scala's exact double
    interpolation `(higher−pos)·lower + (pos−klo)·higher` with its two
    no-interpolation guards — bit-identical cutpoints by construction
    (hash-verified unchanged vs the pre-rewrite ledger).

    The whole query is ONE fact scan: the histogram keys on the RAW
    double ``l_extendedprice*100`` (same cardinality class as cents —
    prices have two decimals), the cents percentile re-aggregates it,
    and the final clip stats are count-weighted sums over the
    |distinct values| histogram — per distinct value the clip decision
    and the 10-dp decimal rounding of ``wins`` are functions of the
    value alone, so ``cnt · round10(wins)`` is exactly the per-row sum
    (decimal widths sized so every product stays inside precision 38;
    no precision-loss rounding anywhere).

    Scale: every aggregate is partial-first; the only window runs over
    |distinct cents| rows per flag (domain-bounded, NOT SF-bound),
    broadcast of the tiny cutpoint table onto the histogram
    (stats-gated). The fact table is scanned once, never globally
    sorted, and no task ever holds a group's value multiset."""
    li = load_table(spark, sf_dir, "lineitem")
    # explicit isnotnull mirrors what the inner join on flag infers for
    # the stats branch — with it on BOTH branches the scan + partial
    # aggregate are canonically identical and ReuseExchange collapses
    # the query to one physical fact scan
    li = li.filter(F.col("l_returnflag").isNotNull())
    histd = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        (F.col("l_extendedprice") * 100).alias("c100"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    # cents histogram for the percentile: identical expression to
    # CAST(round(l_extendedprice * 100) AS BIGINT) per row, re-aggregated
    # from the double histogram. Contract: l_extendedprice is NOT NULL
    # (TPC-H schema) — a NULL-bearing column would need an isnotnull
    # filter here to match percentile()'s ignore-NULL semantics, but that
    # filter pushes into only this branch's scan and defeats the
    # ReuseExchange that makes the whole query one fact scan.
    hist = (
        histd.select(
            "flag",
            F.expr("CAST(round(c100) AS BIGINT)").alias("c"),
            "cnt",
        )
        .groupBy("flag", "c")
        .agg(F.sum("cnt").alias("cnt"))
    )
    # r14: the cumulative-window + bracket + Percentile.scala-interp block
    # that lived inline here is now the shared exact_histogram_percentiles
    # helper (reused by approx_sketches) — identical expressions, hash
    # re-verified against the committed ledger after the extraction.
    cuts = exact_histogram_percentiles(
        hist, "flag", "c", "cnt", {"p05c": 0.05, "p95c": 0.95}
    ).select(F.col("flag").alias("cflag"), "p05c", "p95c")
    clipped = histd.join(
        broadcast_if_small(cuts), F.col("flag") == F.col("cflag")
    ).withColumn(
        "wins",
        F.greatest(F.least(F.col("c100"), F.col("p95c")), F.col("p05c"))
        / 100.0,
    )
    # weighted dsum: round10 happens per DISTINCT value (exactly what the
    # per-row cast did, cnt identical copies at a time); decimal(20,10) ×
    # decimal(12,0) → decimal(33,10), exact — no precision-loss rounding
    wsum = F.round(
        F.sum(
            F.col("cnt").cast("decimal(12,0)")
            * F.col("wins").cast("decimal(20,10)")
        ),
        2,
    ).cast("double")
    return (
        clipped.groupBy(F.col("flag").alias("l_returnflag"))
        .agg(
            F.sum("cnt").cast("bigint").alias("n_rows"),
            F.sum(
                F.when(F.col("c100") < F.col("p05c"), F.col("cnt")).otherwise(
                    F.lit(0)
                )
            ).alias("n_clipped_lo"),
            F.sum(
                F.when(F.col("c100") > F.col("p95c"), F.col("cnt")).otherwise(
                    F.lit(0)
                )
            ).alias("n_clipped_hi"),
            wsum.alias("winsorized_total"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "fk_integrity_audit",
    """
    SELECT 'lineitem->orders' AS relation,
           (SELECT count(*) FROM lineitem) AS n_child,
           (SELECT count(*) FROM lineitem l ANTI JOIN orders o
             ON l.l_orderkey = o.o_orderkey) AS n_orphans
    UNION ALL
    SELECT 'lineitem->part',
           (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem l ANTI JOIN part p
             ON l.l_partkey = p.p_partkey)
    UNION ALL
    SELECT 'lineitem->supplier',
           (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem l ANTI JOIN supplier s
             ON l.l_suppkey = s.s_suppkey)
    UNION ALL
    SELECT 'orders->customer',
           (SELECT count(*) FROM orders),
           (SELECT count(*) FROM orders o ANTI JOIN customer c
             ON o.o_custkey = c.c_custkey)
    UNION ALL
    SELECT 'customer->nation',
           (SELECT count(*) FROM customer),
           (SELECT count(*) FROM customer c ANTI JOIN nation n
             ON c.c_nationkey = n.n_nationkey)
    UNION ALL
    SELECT 'supplier->nation',
           (SELECT count(*) FROM supplier),
           (SELECT count(*) FROM supplier s ANTI JOIN nation n
             ON s.s_nationkey = n.n_nationkey)
    UNION ALL
    SELECT 'nation->region',
           (SELECT count(*) FROM nation),
           (SELECT count(*) FROM nation n ANTI JOIN region r
             ON n.n_regionkey = r.r_regionkey)
    ORDER BY relation
    """,
)
def fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across every foreign-key edge of the
    star schema: child row count + orphan count (children whose parent
    key is missing) per relation — the post-transfer validation a
    migration tool should ship (the reference only counts rows,
    mysql.go:244-249; this extends S6 to cross-table invariants, e.g.
    catching a partially-loaded parent table after a resume).

    Scale: each relation is one anti join on its key — dimension parents
    broadcast via the stats gate, fact⋈fact (lineitem→orders) goes
    sort-merge; counts are metadata-cheap aggregates. Output is 7 rows
    regardless of SF."""
    tables = {
        t: load_table(spark, sf_dir, t)
        for t in (
            "lineitem", "orders", "part", "supplier",
            "customer", "nation", "region",
        )
    }
    edges = [
        ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        ("supplier->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
        ("nation->region", "nation", "n_regionkey", "region", "r_regionkey"),
    ]
    parts = []
    for name, child, ck, parent, pk in edges:
        c, p = tables[child], tables[parent]
        orphans = c.join(
            broadcast_if_small(p.select(pk)), F.col(ck) == F.col(pk), "left_anti"
        )
        parts.append(
            c.agg(F.count(F.lit(1)).alias("n_child")).crossJoin(
                orphans.agg(F.count(F.lit(1)).alias("n_orphans"))
            ).select(
                F.lit(name).alias("relation"), "n_child", "n_orphans"
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("relation")


@register(
    "rfm_segmentation",
    """
    WITH per_cust AS (
      SELECT o_custkey,
             CAST(date_diff('day', TIMESTAMP '1970-01-01 00:00:00',
                            max(o_orderdate)) AS BIGINT) AS recency_day,
             count(*) AS frequency,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS monetary_cents
      FROM orders GROUP BY o_custkey
    ),
    cuts AS (
      SELECT quantile_cont(recency_day, 1.0/3) AS r1,
             quantile_cont(recency_day, 2.0/3) AS r2,
             quantile_cont(frequency, 1.0/3) AS f1,
             quantile_cont(frequency, 2.0/3) AS f2,
             quantile_cont(monetary_cents, 1.0/3) AS m1,
             quantile_cont(monetary_cents, 2.0/3) AS m2
      FROM per_cust
    )
    SELECT r_score, f_score, m_score,
           count(*) AS n_customers,
           CAST(sum(monetary_cents) AS BIGINT) AS segment_cents
    FROM (
      SELECT monetary_cents,
             CASE WHEN recency_day > r2 THEN 3
                  WHEN recency_day > r1 THEN 2 ELSE 1 END AS r_score,
             CASE WHEN frequency > f2 THEN 3
                  WHEN frequency > f1 THEN 2 ELSE 1 END AS f_score,
             CASE WHEN monetary_cents > m2 THEN 3
                  WHEN monetary_cents > m1 THEN 2 ELSE 1 END AS m_score
      FROM per_cust CROSS JOIN cuts
    )
    GROUP BY r_score, f_score, m_score
    ORDER BY r_score, f_score, m_score
    """,
)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation — the
    marketing-analytics staple: tercile scores per dimension from
    population cutpoints, rolled up into segment sizes and value. All
    three metrics are exact integers (epoch days, order counts, cents),
    so the interpolated tercile cutpoints are identical doubles in both
    engines and the strict > comparisons (integer vs cutpoint) can
    never straddle rounding.

    Scale: one per-customer aggregate shuffle; the six cutpoints are a
    one-row broadcast (fixed size at any SF) applied in the scan stage
    of the second pass; segment rollup outputs ≤27 rows."""
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.expr(
            "timestampdiff(DAY, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
            " max(o_orderdate))"
        ).alias("recency_day"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")).alias(
            "monetary_cents"
        ),
    )
    cuts = per_cust.agg(
        F.expr("percentile(recency_day, 1.0/3)").alias("r1"),
        F.expr("percentile(recency_day, 2.0/3)").alias("r2"),
        F.expr("percentile(frequency, 1.0/3)").alias("f1"),
        F.expr("percentile(frequency, 2.0/3)").alias("f2"),
        F.expr("percentile(monetary_cents, 1.0/3)").alias("m1"),
        F.expr("percentile(monetary_cents, 2.0/3)").alias("m2"),
    )
    def score(metric, c1, c2):
        return (
            F.when(F.col(metric) > F.col(c2), 3)
            .when(F.col(metric) > F.col(c1), 2)
            .otherwise(1)
        )
    scored = per_cust.crossJoin(F.broadcast(cuts)).select(
        "monetary_cents",
        score("recency_day", "r1", "r2").alias("r_score"),
        score("frequency", "f1", "f2").alias("f_score"),
        score("monetary_cents", "m1", "m2").alias("m_score"),
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("monetary_cents").cast("bigint").alias("segment_cents"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


@register(
    "market_basket_pairs",
    """
    WITH basket AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n_orders AS (SELECT count(DISTINCT l_orderkey) AS n FROM basket),
    part_count AS (
      SELECT l_partkey, count(*) AS cnt FROM basket GROUP BY l_partkey
    ),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             count(*) AS together
      FROM basket a JOIN basket b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
    )
    SELECT part_a, part_b, together,
           ca.cnt AS count_a, cb.cnt AS count_b,
           CAST(together AS DOUBLE) * n / (ca.cnt * cb.cnt) AS lift
    FROM pairs
    JOIN part_count ca ON part_a = ca.l_partkey
    JOIN part_count cb ON part_b = cb.l_partkey
    CROSS JOIN n_orders
    WHERE together >= 3
    ORDER BY together DESC, part_a, part_b
    """,
)
def market_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: part pairs bought in the same order,
    with support counts and lift — the association-rule primitive.
    Lift is one IEEE division of exact integers (together × N /
    (cnt_a × cnt_b)) — identical doubles cross-engine, no rounding.

    Scale: pair support comes from the session-shared co-purchase edge
    frame (r12 — shared_frames.copurchase_edges; its ``together``
    column is exactly this query's distinct-basket self-join count, and
    the build is one basket shuffle + in-array explode instead of the
    old self-join that shuffled the distinct basket twice). Candidate
    pairs are quadratic only in the BASKET size (a handful of lines per
    order), never in the table; the marginals are plain partial-
    aggregated distinct counts over the fact scan — no query-local
    persist (r12 ADVICE: per-query caches with no unpersist accumulate
    executor storage across a family session; only shared_frames owns
    never-unpersist frames); part marginals broadcast via the stats
    gate; the support floor prunes the long tail before the final
    sort."""
    from dbtransfer_spark.operators.shared_frames import copurchase_edges

    li = load_table(spark, sf_dir, "lineitem")
    n_orders = li.agg(F.countDistinct("l_orderkey").alias("n"))
    part_count = li.groupBy("l_partkey").agg(
        F.countDistinct("l_orderkey").alias("cnt")
    )
    pairs = (
        copurchase_edges(spark, sf_dir)
        .select(
            F.col("u").alias("part_a"),
            F.col("v").alias("part_b"),
            "together",
        )
        .filter(F.col("together") >= 3)
    )
    ca = part_count.select(
        F.col("l_partkey").alias("ka"), F.col("cnt").alias("count_a")
    )
    cb = part_count.select(
        F.col("l_partkey").alias("kb"), F.col("cnt").alias("count_b")
    )
    return (
        pairs.join(broadcast_if_small(ca), F.col("part_a") == F.col("ka"))
        .join(broadcast_if_small(cb), F.col("part_b") == F.col("kb"))
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "together",
            "count_a",
            "count_b",
            (
                F.col("together").cast("double")
                * F.col("n")
                / (F.col("count_a") * F.col("count_b"))
            ).alias("lift"),
        )
        .orderBy(F.desc("together"), "part_a", "part_b")
    )


@register(
    "events_anomaly_daily",
    """
    WITH daily AS (
      SELECT event_type,
             CAST(date_diff('day', TIMESTAMP '1970-01-01 00:00:00', ts)
                  AS BIGINT) AS day,
             count(*) AS x
      FROM events GROUP BY event_type, day
    ),
    stats AS (
      SELECT event_type, day, x,
             count(*) OVER w AS n,
             sum(x) OVER w AS s,
             sum(x * x) OVER w AS q
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, day, x, n AS n_baseline,
           (n >= 3 AND (n - 1) * (n * x - s) * (n * x - s)
                       > 9 * n * (n * q - s * s)
                   AND n * x > s) AS is_spike
    FROM stats
    ORDER BY event_type, day
    """,
)
def events_anomaly_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event-count spike detection: each (type, day) count is
    compared against its trailing-7-day baseline with a z > 3 rule —
    the streaming-telemetry anomaly primitive, run as a batch.

    The z-test is cross-multiplied into PURE INTEGER arithmetic:
    z² > 9 with sample variance (nq - s²)/(n(n-1)) becomes
    (n-1)(nx - s)² > 9n(nq - s²), plus a sign guard (nx > s) for
    spike-only — no division, no sqrt, no doubles anywhere, so both
    engines flag the exact same days.

    Scale: the daily aggregate is one partial-aggregated shuffle; the
    trailing window is PARTITIONED by event_type (bounded rows per
    partition = |days|, domain-bounded) — never a global window."""
    events = load_table(spark, sf_dir, "events")
    from dbtransfer_spark.operators.windows import epoch_micros

    daily = (
        events.select(
            "event_type", epoch_micros(events, "ts").alias("micros")
        )
        .select("event_type", F.expr("micros div 86400000000").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-7, -1)
    )
    stats = daily.select(
        "event_type",
        "day",
        "x",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).alias("s"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("q"),
    )
    nx_s = F.col("n") * F.col("x") - F.col("s")
    spike = (
        (F.col("n") >= 3)
        & ((F.col("n") - 1) * nx_s * nx_s > 9 * F.col("n") * (F.col("n") * F.col("q") - F.col("s") * F.col("s")))
        & (F.col("n") * F.col("x") > F.col("s"))
    )
    return stats.select(
        "event_type",
        "day",
        "x",
        F.col("n").alias("n_baseline"),
        spike.alias("is_spike"),
    ).orderBy("event_type", "day")


@register(
    "cdc_apply_compacted",
    """
    WITH log AS (
      SELECT o_custkey AS k, o_orderkey AS seq,
             CASE WHEN o_orderkey % 5 = 0 THEN 'D' ELSE 'U' END AS op,
             o_totalprice AS new_bal
      FROM orders
    ),
    latest AS (
      SELECT k, op, new_bal FROM (
        SELECT *, row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
        FROM log
      ) WHERE rn = 1
    )
    SELECT c_custkey,
           CASE WHEN op = 'U' THEN new_bal ELSE c_acctbal END AS acctbal,
           coalesce(op, 'K') AS last_op
    FROM customer LEFT JOIN latest ON c_custkey = k
    WHERE op IS NULL OR op <> 'D'
    ORDER BY c_custkey
    """,
)
def cdc_apply_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC log compaction + apply — the change-data-capture batch
    primitive: a keyed op log (update/delete events, here derived
    deterministically from orders so the oracle replays it) is
    compacted to the LATEST op per key by sequence number, then applied
    to the base table: deletes drop, updates overwrite, untouched keys
    pass through. Completes the upsert family: `upsert_merge` (type-1
    upsert), `scd2_merge` (type-2 history), this (latest-wins with
    deletes) — the batch core of every replication sink.

    Scale: compaction is a row_number window PARTITIONED by key (the
    WindowGroupLimit top-1 shape, scale-safe); the apply is one left
    join on the key with a scan-stage CASE — values pass through with
    no arithmetic, so no rounding is needed anywhere."""
    orders = load_table(spark, sf_dir, "orders")
    log = orders.select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderkey").alias("seq"),
        F.when(F.col("o_orderkey") % 5 == 0, "D").otherwise("U").alias("op"),
        F.col("o_totalprice").alias("new_bal"),
    )
    w = Window.partitionBy("k").orderBy(F.desc("seq"))
    latest = (
        log.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("k", "op", "new_bal")
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    return (
        cust.join(latest, F.col("c_custkey") == F.col("k"), "left")
        .filter(F.col("op").isNull() | (F.col("op") != "D"))
        .select(
            "c_custkey",
            F.when(F.col("op") == "U", F.col("new_bal"))
            .otherwise(F.col("c_acctbal"))
            .alias("acctbal"),
            F.coalesce(F.col("op"), F.lit("K")).alias("last_op"),
        )
        .orderBy("c_custkey")
    )


def distributed_prefix_sum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    n_partitions: int = 32,
    return_total: bool = False,
) -> DataFrame:
    """Exact global running sum of ``value_col`` in the total order given
    by ``order_cols`` (ascending) WITHOUT a single-partition window —
    the prefix-sum generalization of corpus_qa.global_ordinal:
    range-repartition on the order key (partition order == key order),
    cumulative-sum within each partition, and add per-partition offsets
    from a |partitions|-row aggregate (driver-side scalar probe). The
    full input is never funneled through one task. Adds column ``__cum``.

    The pid-stamped repartitioned frame is ``persist()``ed across the
    offsets collect and the consuming plan: repartitionByRange picks its
    boundaries by SAMPLING, so two independent materializations could
    (at scale, under non-deterministic input order) place a row in
    different partitions than the offsets assume — pinning ONE
    materialization makes the offsets provably consistent and also
    halves the scan cost (r4 VERDICT #6 / ADVICE medium).

    ``return_total=True`` additionally returns the exact global sum of
    ``value_col`` as a Python int — the per-partition sums are already
    collected for the offsets, so their total is free driver-side
    knowledge (r15, guide §2.4: supplier_pareto re-ran its whole fact
    aggregate just to recompute this one number)."""
    parts = df.repartitionByRange(
        n_partitions, *[F.col(c) for c in order_cols]
    ).sortWithinPartitions(*order_cols)
    withpid = parts.withColumn("__pid", F.spark_partition_id()).persist()
    sums = sorted(
        (r["__pid"], r["s"] or 0)
        for r in withpid.groupBy("__pid").agg(F.sum(value_col).alias("s")).collect()
    )
    offsets, acc = [], 0
    for pid, s in sums:
        offsets.append((pid, acc))
        acc += s
    offset_df = df.sparkSession.createDataFrame(
        offsets, "__pid int, __poffset long"
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        withpid.join(F.broadcast(offset_df), "__pid")
        .withColumn("__cum", F.sum(value_col).over(w) + F.col("__poffset"))
        .drop("__pid", "__poffset")
    )
    if return_total:
        return out, acc
    return out


@register(
    "supplier_pareto",
    """
    WITH rev AS (
      SELECT l_suppkey,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM lineitem GROUP BY l_suppkey
    ),
    tot AS (SELECT CAST(sum(cents) AS BIGINT) AS total FROM rev),
    c AS (
      SELECT l_suppkey, cents,
             CAST(sum(cents) OVER (ORDER BY cents DESC, l_suppkey
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS BIGINT) AS cum
      FROM rev
    )
    SELECT l_suppkey, cents AS revenue_cents, cum AS cum_cents,
           CAST(cum AS DOUBLE) / total AS cum_share,
           5 * (cum - cents) < 4 * total AS in_top80
    FROM c CROSS JOIN tot
    ORDER BY cum
    """,
)
def supplier_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / concentration analysis: suppliers ranked by revenue with
    an EXACT global cumulative share and an 80%-head flag — the
    contribution-curve primitive (who makes up the top 80% of value).

    The running sum uses ``distributed_prefix_sum`` — range-repartition
    on (-revenue, key) + per-partition offsets — NOT a global
    single-partition window, so the supplier dim can grow with SF
    freely (the same machinery as global_ordinal; acctbal_deciles'
    verdict item taught this lesson). Revenue is exact integer cents;
    the head flag is cross-multiplied integer arithmetic (5·cum_before
    < 4·total) and the share one IEEE division — nothing to round.

    Scale: one fact aggregate shuffle, one range shuffle of the
    |suppliers| aggregate, a |partitions|-row offset broadcast, and a
    one-row total broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).alias("cents")
    )
    ordered = rev.withColumn("__neg", -F.col("cents"))
    # r15 (guide §2.4 — remove shuffles outright): the grand total is the
    # sum of the per-partition sums distributed_prefix_sum already
    # collects for its offsets, so the old second lineitem scan + fact
    # aggregate + 1-row crossJoin that recomputed it are gone (2 scans →
    # 1). Exact same BIGINT sum, now a literal.
    cum, total = distributed_prefix_sum(
        ordered, ["__neg", "l_suppkey"], "cents", return_total=True
    )
    cum = cum.drop("__neg")
    total_lit = F.lit(total).cast("bigint")
    return (
        cum.select(
            "l_suppkey",
            F.col("cents").alias("revenue_cents"),
            F.col("__cum").alias("cum_cents"),
            (F.col("__cum").cast("double") / total_lit).alias("cum_share"),
            (5 * (F.col("__cum") - F.col("cents")) < 4 * total_lit).alias(
                "in_top80"
            ),
        )
        .orderBy("cum_cents")
    )


@register(
    "orders_seasonality",
    """
    WITH monthly AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY month
    ),
    ma AS (
      SELECT month, cents,
             sum(cents) OVER w AS wsum,
             count(*) OVER w AS wn
      FROM monthly
      WINDOW w AS (ORDER BY month ROWS BETWEEN 5 PRECEDING AND 6 FOLLOWING)
    )
    SELECT month, cents AS revenue_cents,
           CAST(wsum AS DOUBLE) / wn AS trend_cents,
           CAST(cents * wn AS DOUBLE) / wsum AS seasonal_ratio
    FROM ma ORDER BY month
    """,
)
def orders_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical time-series decomposition step: monthly revenue, a
    centered 12-month moving-average trend, and the seasonal ratio
    (actual / trend) — the seasonality-index primitive. All inputs are
    exact integer cents; trend and ratio are each ONE IEEE division of
    exact integers (the ratio is cross-multiplied to avoid a
    double-of-double division), so no rounding is needed anywhere.

    Scale: the monthly aggregate is one partial-aggregated shuffle; the
    moving window runs over the |months| aggregate — DOMAIN-bounded
    (grows with calendar time, not row count), the same accepted shape
    as every share-of-total window here."""
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month")
    ).agg(
        F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")).alias("cents")
    )
    w = Window.orderBy("month").rowsBetween(-5, 6)
    ma = monthly.select(
        "month",
        "cents",
        F.sum("cents").over(w).alias("wsum"),
        F.count(F.lit(1)).over(w).alias("wn"),
    )
    return ma.select(
        "month",
        F.col("cents").alias("revenue_cents"),
        (F.col("wsum").cast("double") / F.col("wn")).alias("trend_cents"),
        ((F.col("cents") * F.col("wn")).cast("double") / F.col("wsum")).alias(
            "seasonal_ratio"
        ),
    ).orderBy("month")


@register(
    "orders_backlog_daily",
    """
    WITH deltas AS (
      SELECT CAST(date_diff('day', TIMESTAMP '1970-01-01 00:00:00',
                            o_orderdate) AS BIGINT) AS day,
             count(*) AS delta
      FROM orders GROUP BY day
      UNION ALL
      SELECT CAST(date_diff('day', TIMESTAMP '1970-01-01 00:00:00',
                            o_orderdate) AS BIGINT) + 30 AS day,
             -count(*) AS delta
      FROM orders GROUP BY day
    ),
    daily AS (
      SELECT day, sum(delta) AS net FROM deltas GROUP BY day
    )
    SELECT day,
           CAST(sum(net) OVER (ORDER BY day
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS BIGINT) AS open_orders
    FROM daily ORDER BY day
    """,
)
def orders_backlog_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent-interval counting — how many orders are open on each
    day (open = within 30 days of placement), via the classic sweep:
    +1 at start, −1 past end, running sum over the day axis. The
    operations-analytics primitive for backlog/occupancy/concurrency.

    Scale: the ±1 deltas collapse to per-day aggregates BEFORE the
    running sum (two partial-aggregated shuffles over the facts), so
    the cumulative window runs over |days| rows — DOMAIN-bounded, the
    accepted histogram-window shape. Never a per-order window, never a
    range join against the day axis. All integers."""
    orders = load_table(spark, sf_dir, "orders")
    day = F.expr(
        "timestampdiff(DAY, TIMESTAMP_NTZ '1970-01-01 00:00:00', o_orderdate)"
    )
    starts = orders.groupBy(day.alias("day")).agg(
        F.count(F.lit(1)).alias("delta")
    )
    ends = orders.groupBy((day + 30).alias("day")).agg(
        (-F.count(F.lit(1))).alias("delta")
    )
    daily = (
        starts.unionAll(ends).groupBy("day").agg(F.sum("delta").alias("net"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        "day", F.sum("net").over(w).cast("bigint").alias("open_orders")
    ).orderBy("day")


@register(
    "revenue_forecast_backtest",
    """
    WITH monthly AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY month
    ),
    j AS (
      SELECT month, cents,
             lag(cents, 12) OVER (ORDER BY month) AS forecast
      FROM monthly
    )
    SELECT month, cents AS actual_cents, forecast AS forecast_cents,
           abs(cents - forecast) AS abs_err_cents,
           CAST(abs(cents - forecast) AS DOUBLE) / forecast AS rel_err
    FROM j WHERE forecast IS NOT NULL
    ORDER BY month
    """,
)
def revenue_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest: predict each month's revenue as
    the same month last year (lag 12) and report the absolute and
    relative error — the baseline every forecasting pipeline must beat,
    and the backtest-join pattern for evaluating any model. Errors are
    exact integer cents; the relative error is one IEEE division.

    Scale: one partial-aggregated monthly shuffle, then a lag window
    over the |months| aggregate (domain-bounded — the accepted
    post-aggregate window shape)."""
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month")
    ).agg(
        F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")).alias("cents")
    )
    w = Window.orderBy("month")
    j = monthly.select(
        "month", "cents", F.lag("cents", 12).over(w).alias("forecast")
    ).filter(F.col("forecast").isNotNull())
    err = F.abs(F.col("cents") - F.col("forecast"))
    return j.select(
        "month",
        F.col("cents").alias("actual_cents"),
        F.col("forecast").alias("forecast_cents"),
        err.alias("abs_err_cents"),
        (err.cast("double") / F.col("forecast")).alias("rel_err"),
    ).orderBy("month")


@register(
    "events_hourly_heatmap",
    """
    WITH t AS (
      SELECT (CAST(date_diff('day', TIMESTAMP '1970-01-01 00:00:00', ts)
                   AS BIGINT) + 4) % 7 AS weekday,
             CAST(date_diff('hour', date_trunc('day', ts), ts) AS BIGINT)
               AS hour
      FROM events
    )
    SELECT weekday, hour, count(*) AS n_events
    FROM t GROUP BY weekday, hour
    ORDER BY weekday, hour
    """,
)
def events_hourly_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday × hour activity heatmap — the usage-pattern profile.
    Weekday comes from PURE epoch-day arithmetic ((day + 4) mod 7,
    1970-01-01 being a Thursday): Spark's dayofweek numbers Sunday=1
    while DuckDB's dow numbers Sunday=0, so calendar functions are a
    cross-engine trap this formulation sidesteps entirely.

    Scale: scan-stage integer expressions + one partial-aggregated
    shuffle of ≤168 output rows."""
    events = load_table(spark, sf_dir, "events")
    from dbtransfer_spark.operators.windows import epoch_micros

    t = (
        events.select(epoch_micros(events, "ts").alias("micros"))
        .select(
            (F.expr("micros div 86400000000") + 4).alias("d"),
            F.expr("micros div 3600000000").alias("h"),
        )
        .select(
            (F.col("d") % 7).alias("weekday"), (F.col("h") % 24).alias("hour")
        )
    )
    return (
        t.groupBy("weekday", "hour")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("weekday", "hour")
    )


@register(
    "table_profile_orders",
    """
    SELECT 'o_custkey' AS col,
           count(*) AS n_rows,
           CAST(count(*) - count(o_custkey) AS BIGINT) AS n_null,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
           CAST(min(o_custkey) AS DOUBLE) AS min_val,
           CAST(max(o_custkey) AS DOUBLE) AS max_val
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', count(*),
           CAST(count(*) - count(o_totalprice) AS BIGINT),
           CAST(count(DISTINCT o_totalprice) AS BIGINT),
           round(min(o_totalprice), 2), round(max(o_totalprice), 2)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', count(*),
           CAST(count(*) - count(o_orderstatus) AS BIGINT),
           CAST(count(DISTINCT o_orderstatus) AS BIGINT),
           NULL, NULL
    FROM orders
    ORDER BY col
    """,
)
def table_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level data profile (row count, null count, exact distinct
    count, min/max) — the pre-migration assessment the reference's
    row-count pre-scan (S6) grows up into, and the stats feed for the
    broadcast/skew decisions this engine gates on. One row per profiled
    column, numeric bounds as DOUBLE (status strings profile NULL
    bounds, matching information_schema-style profilers).

    Scale: Spark compiles the three per-column profiles into ONE scan
    with multiple distinct aggregates (expand + two-phase agg — the
    planner's standard rewrite); no per-column rescans. Distinct counts
    are exact (the migration-assessment requirement); the approximate
    twin for interactive profiling is approx_sketches."""
    orders = load_table(spark, sf_dir, "orders")
    prof = orders.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.count("o_custkey")).alias("null_ck"),
        F.count_distinct("o_custkey").alias("nd_ck"),
        F.min("o_custkey").cast("double").alias("min_ck"),
        F.max("o_custkey").cast("double").alias("max_ck"),
        (F.count(F.lit(1)) - F.count("o_totalprice")).alias("null_tp"),
        F.count_distinct("o_totalprice").alias("nd_tp"),
        F.round(F.min("o_totalprice"), 2).alias("min_tp"),
        F.round(F.max("o_totalprice"), 2).alias("max_tp"),
        (F.count(F.lit(1)) - F.count("o_orderstatus")).alias("null_st"),
        F.count_distinct("o_orderstatus").alias("nd_st"),
    )
    rows = prof.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("o_custkey").alias("col"),
                    F.col("n_rows").alias("n_rows"),
                    F.col("null_ck").alias("n_null"),
                    F.col("nd_ck").alias("n_distinct"),
                    F.col("min_ck").alias("min_val"),
                    F.col("max_ck").alias("max_val"),
                ),
                F.struct(
                    F.lit("o_totalprice").alias("col"),
                    F.col("n_rows").alias("n_rows"),
                    F.col("null_tp").alias("n_null"),
                    F.col("nd_tp").alias("n_distinct"),
                    F.col("min_tp").alias("min_val"),
                    F.col("max_tp").alias("max_val"),
                ),
                F.struct(
                    F.lit("o_orderstatus").alias("col"),
                    F.col("n_rows").alias("n_rows"),
                    F.col("null_st").alias("n_null"),
                    F.col("nd_st").alias("n_distinct"),
                    F.lit(None).cast("double").alias("min_val"),
                    F.lit(None).cast("double").alias("max_val"),
                ),
            )
        ).alias("p")
    ).select("p.*")
    return rows.orderBy("col")


def _corr_matrix_oracle() -> str:
    sums = []
    for a in "qpdt":
        sums.append(f"{_split_double_sql(f'sum({a})')} AS s{a}")
    for i, a in enumerate("qpdt"):
        for b in "qpdt"[i:]:
            sums.append(f"{_split_double_sql(f'sum({a}*{b})')} AS s{a}{b}")
    return (
        """
    WITH c AS (
      SELECT CAST(round(l_quantity * 100) AS DECIMAL(18,0)) AS q,
             CAST(round(l_extendedprice * 100) AS DECIMAL(18,0)) AS p,
             CAST(round(l_discount * 100) AS DECIMAL(18,0)) AS d,
             CAST(round(l_tax * 100) AS DECIMAL(18,0)) AS t
      FROM lineitem
    ),
    s AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             """
        + ",\n             ".join(sums)
        + """
      FROM c
    )"""
    )


@register(
    "correlation_matrix",
    _corr_matrix_oracle()
    + """
    SELECT col_x, col_y, corr FROM (
      SELECT 'quantity' AS col_x, 'extendedprice' AS col_y,
             (n*sqp - sq*sp) / (sqrt(n*sqq - sq*sq) * sqrt(n*spp - sp*sp)) AS corr FROM s
      UNION ALL SELECT 'quantity', 'discount',
             (n*sqd - sq*sd) / (sqrt(n*sqq - sq*sq) * sqrt(n*sdd - sd*sd)) FROM s
      UNION ALL SELECT 'quantity', 'tax',
             (n*sqt - sq*st) / (sqrt(n*sqq - sq*sq) * sqrt(n*stt - st*st)) FROM s
      UNION ALL SELECT 'extendedprice', 'discount',
             (n*spd - sp*sd) / (sqrt(n*spp - sp*sp) * sqrt(n*sdd - sd*sd)) FROM s
      UNION ALL SELECT 'extendedprice', 'tax',
             (n*spt - sp*st) / (sqrt(n*spp - sp*sp) * sqrt(n*stt - st*st)) FROM s
      UNION ALL SELECT 'discount', 'tax',
             (n*sdt - sd*st) / (sqrt(n*sdd - sd*sd) * sqrt(n*stt - st*st)) FROM s
    ) ORDER BY col_x, col_y
    """,
)
def correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation of the four lineitem measures, the
    feature-engineering profiling primitive, computed from EXACT
    fixed-point sums: each measure becomes integer cents/basis-points
    cast to DECIMAL(18,0), the 14 moment sums (sum x, sum x², sum x·y)
    accumulate exactly in DECIMAL (Spark widens to DECIMAL(38,0) — no
    int64 overflow even at 100 TB where sum(p²) ≈ 1e24), and only the
    FINAL closed-form corr = (n·Sxy − SxSy)/(σx·σy) drops to IEEE
    doubles — every double op (cast of an exact decimal, ×, −, /, sqrt)
    is correctly rounded, so the result is bit-identical cross-engine
    with no rounding step.

    Scale: ONE partial-aggregated pass over the fact table (map-side
    combine reduces each partition to a 14-value row), then a 1-row
    projection fanned to 6 pair rows. No window, no join, no second
    scan — this is the textbook one-pass moment-sketch shape. r11: the
    14 sums accumulate as LONGs per 32768-row block and merge in
    DECIMAL(38,0) (_cents_power_sums — same exact integers, but the
    per-row path stays in codegen longs instead of decimal), 11.4 s →
    ~3 s at sf1."""
    li = load_table(spark, sf_dir, "lineitem")
    terms: dict[str, tuple[str, str | None]] = {}
    for a in "qpdt":
        terms[f"s{a}"] = (a, None)
    for i, a in enumerate("qpdt"):
        for b in "qpdt"[i:]:
            terms[f"s{a}{b}"] = (a, b)
    raw = _cents_power_sums(
        li,
        [],
        {"q": "l_quantity", "p": "l_extendedprice",
         "d": "l_discount", "t": "l_tax"},
        terms,
    )
    # Exact-split decimal→double (see _split_double_sql): Σp² passes 2^64
    # already at sf0.1, where the engines' native big-decimal→double
    # casts round differently in the last ulp. Spark's DIV on decimal
    # returns BIGINT (hi < 2^53 here), % stays exact decimal.
    spark_split = (
        lambda k: f"(CAST({k} DIV 4398046511104 AS DOUBLE) * 4398046511104e0"
        f" + CAST({k} % 4398046511104 AS DOUBLE))"
    )
    s = raw.selectExpr(
        "CAST(n AS DOUBLE) AS n",
        *[f"{spark_split(k)} AS {k}" for k in terms],
    )
    names = {"q": "quantity", "p": "extendedprice", "d": "discount", "t": "tax"}
    pairs = [("q", "p"), ("q", "d"), ("q", "t"), ("p", "d"), ("p", "t"), ("d", "t")]
    stack_args = []
    for a, b in pairs:
        corr = (
            f"(n*s{a}{b} - s{a}*s{b}) / "
            f"(sqrt(n*s{a}{a} - s{a}*s{a}) * sqrt(n*s{b}{b} - s{b}*s{b}))"
        )
        stack_args.append(f"'{names[a]}', '{names[b]}', {corr}")
    out = s.select(
        F.expr(
            f"stack({len(pairs)}, {', '.join(stack_args)}) AS (col_x, col_y, corr)"
        )
    )
    return out.orderBy("col_x", "col_y")


_BENFORD_PPM = {1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
                6: 66947, 7: 57992, 8: 51153, 9: 45757}
_BENFORD_SQL_CASE = "CASE digit " + " ".join(
    f"WHEN {d} THEN {p}" for d, p in _BENFORD_PPM.items()
) + " END"


@register(
    "benford_first_digit",
    f"""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                              AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM orders
    ),
    counts AS (
      SELECT digit, CAST(count(*) AS BIGINT) AS n FROM digits GROUP BY digit
    )
    SELECT digit, n,
           CAST(n * 1000000 // CAST(sum(n) OVER () AS BIGINT) AS BIGINT)
             AS observed_ppm,
           CAST({_BENFORD_SQL_CASE} AS BIGINT) AS benford_ppm,
           CAST(n * 1000000 // CAST(sum(n) OVER () AS BIGINT)
                - {_BENFORD_SQL_CASE} AS BIGINT) AS deviation_ppm
    FROM counts ORDER BY digit
    """,
)
def benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit of order totals — the classic fraud/synthetic-
    data screen. First significant digit via exact integer-cents string
    prefix (no log10: libm log differs across engines by ULPs; the
    Benford expectations are inlined as literal ppm constants), shares
    as integer parts-per-million (floor division of exact BIGINTs).

    Scale: one partial-aggregated shuffle to ≤9 rows; the share window
    runs over that 9-row digit domain (domain-bounded, the accepted
    histogram-window shape)."""
    orders = load_table(spark, sf_dir, "orders")
    digits = orders.select(
        F.expr(
            "CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)"
            " AS STRING), 1, 1) AS BIGINT)"
        ).alias("digit")
    )
    counts = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    total = F.sum("n").over(Window.partitionBy())
    benford = F.expr(_BENFORD_SQL_CASE)
    return (
        counts.select(
            "digit",
            "n",
            F.expr("n * 1000000").alias("_num"),
            total.alias("_tot"),
        )
        .select(
            "digit",
            "n",
            F.expr("_num div _tot").cast("bigint").alias("observed_ppm"),
            benford.cast("bigint").alias("benford_ppm"),
            (F.expr("_num div _tot") - benford).cast("bigint").alias(
                "deviation_ppm"
            ),
        )
        .orderBy("digit")
    )


@register(
    "signup_purchase_lag",
    """
    WITH per_user AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'signup' THEN ts END) AS s,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS p
      FROM events GROUP BY user_id
    )
    SELECT CAST(date_diff('microsecond', s, p) // 86400000000 AS BIGINT)
             AS lag_days,
           CAST(count(*) AS BIGINT) AS n_users
    FROM per_user
    WHERE s IS NOT NULL AND p IS NOT NULL AND p >= s
    GROUP BY lag_days ORDER BY lag_days
    """,
)
def signup_purchase_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activation-lag histogram: days from a user's first 'signup' to
    their first 'purchase' at-or-after it (users whose first purchase
    precedes signup are excluded — they converted before the tracked
    signup). The growth-analytics companion to the funnel: same
    conditional-min trick, but binned into a cohort histogram.

    Scale: ONE partial-aggregated shuffle on user_id computes both
    conditional mins (no self-join of the events table), then a tiny
    histogram aggregate over lag_days. All time math is exact integer
    hours/days."""
    from dbtransfer_spark.operators.windows import epoch_micros

    events = load_table(spark, sf_dir, "events")
    m = epoch_micros(events, "ts")
    per_user = events.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", m)).alias("s"),
        F.min(F.when(F.col("event_type") == "purchase", m)).alias("p"),
    )
    lag_days = F.expr("(p - s) div 86400000000").cast("bigint")
    return (
        per_user.filter(
            F.col("s").isNotNull() & F.col("p").isNotNull() & (F.col("p") >= F.col("s"))
        )
        .groupBy(lag_days.alias("lag_days"))
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("lag_days")
    )


@register(
    "order_priority_sla",
    """
    WITH first_ship AS (
      SELECT l_orderkey, min(l_shipdate) AS first_ship
      FROM lineitem GROUP BY l_orderkey
    ),
    j AS (
      SELECT o_orderpriority,
             date_diff('microsecond', o_orderdate, first_ship)
               // 86400000000 AS lag_days
      FROM orders JOIN first_ship ON o_orderkey = l_orderkey
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(count(CASE WHEN lag_days <= 7 THEN 1 END) AS BIGINT)
             AS n_within_7d,
           CAST(count(CASE WHEN lag_days <= 7 THEN 1 END) * 1000000
                // count(*) AS BIGINT) AS sla_ppm
    FROM j GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def order_priority_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLA conformance by order priority: the share of orders whose FIRST
    shipment left within 7 days of order placement — the operational
    counterpart of TPC-H Q4 (which counts late lineitems; this measures
    the order-level promise). Time math is exact integer microseconds
    (never calendar date_diff, whose boundary-crossing semantics differ
    cross-engine), shares are exact BIGINT floor division.

    Scale: the min-shipdate pre-aggregate partial-combines BEFORE its
    shuffle (one row per orderkey), the orders join is key-co-partitioned
    on the same orderkey shuffle, and the final aggregate is ≤|priorities|
    rows. No window, no broadcast of a big side."""
    from dbtransfer_spark.operators.windows import epoch_micros

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    first_ship = li.groupBy("l_orderkey").agg(
        F.min(epoch_micros(li, "l_shipdate")).alias("ship_m")
    )
    om = epoch_micros(orders, "o_orderdate")
    j = orders.select("o_orderkey", "o_orderpriority", om.alias("order_m")).join(
        first_ship, F.col("o_orderkey") == F.col("l_orderkey")
    )
    lag_days = F.expr("(ship_m - order_m) div 86400000000")
    return (
        j.select("o_orderpriority", lag_days.alias("lag_days"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.count(F.when(F.col("lag_days") <= 7, 1)).alias("n_within_7d"),
        )
        .select(
            "o_orderpriority",
            "n_orders",
            "n_within_7d",
            F.expr("n_within_7d * 1000000 div n_orders").cast("bigint").alias(
                "sla_ppm"
            ),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "source_temperature_allocation",
    """
    WITH counts AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source
    ),
    w AS (
      SELECT source, n_docs,
             CAST(floor(sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT) AS isqrt
      FROM counts
    )
    SELECT source, n_docs, isqrt AS weight,
           CAST(1000000000 * isqrt //
                CAST(sum(isqrt) OVER () AS BIGINT) AS BIGINT)
             AS alloc_ppb
    FROM w ORDER BY source
    """,
)
def source_temperature_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted sampling allocation across sources
    (α = 0.5, the multilingual-mixing rule from the XLM/mT5 line of
    work): each source's share of the token budget ∝ √n rather than n,
    up-weighting small sources without letting one giant crawl dominate.
    Weights are INTEGER floor-sqrt (IEEE sqrt is correctly rounded, and
    floor of it over exact BIGINTs < 2^52 is engine-stable — no libm pow
    with fractional exponents, which is NOT correctly rounded), and the
    allocation is exact BIGINT parts-per-billion.

    Scale: one partial-aggregated count to |sources| rows; the
    normalizing window runs over that domain-bounded aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    w = counts.select(
        "source",
        "n_docs",
        F.floor(F.sqrt(F.col("n_docs").cast("double"))).cast("bigint").alias(
            "isqrt"
        ),
    )
    tot = F.sum("isqrt").over(Window.partitionBy())
    return (
        w.select(
            "source",
            "n_docs",
            F.col("isqrt").alias("weight"),
            F.expr("1000000000 * isqrt").alias("_num"),
            tot.alias("_tot"),
        )
        .select(
            "source",
            "n_docs",
            "weight",
            F.expr("_num div _tot").cast("bigint").alias("alloc_ppb"),
        )
        .orderBy("source")
    )


@register(
    "user_type_diversity",
    """
    WITH per AS (
      SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY user_id, event_type
    ),
    agg AS (
      SELECT user_id,
             CAST(sum(n) AS BIGINT) AS n_events,
             CAST(sum(n * n) AS BIGINT) AS sum_sq,
             CAST(count(*) AS BIGINT) AS n_types
      FROM per GROUP BY user_id
    )
    SELECT user_id, n_events, n_types,
           CAST((n_events * n_events - sum_sq) * 1000000
                // (n_events * n_events) AS BIGINT) AS diversity_ppm
    FROM agg ORDER BY user_id
    """,
)
def user_type_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral diversity as the Gini–Simpson index
    1 − Σpᵢ² — the probability two random events from the user differ
    in type. Cross-multiplied to pure integers ((N² − Σnᵢ²)·10⁶ // N²),
    so there is no per-user float sum at all — the engagement-breadth
    feature for segmentation, computed with zero rounding risk.

    Scale: two partial-aggregated shuffles ((user, type) then user);
    Σnᵢ² stays far under BIGINT range (nᵢ ≤ user's events; even a
    10⁹-event user squares to 10¹⁸)."""
    events = load_table(spark, sf_dir, "events")
    per = events.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    agg = per.groupBy("user_id").agg(
        F.sum("n").alias("n_events"),
        F.sum(F.col("n") * F.col("n")).alias("sum_sq"),
        F.count(F.lit(1)).alias("n_types"),
    )
    return agg.select(
        "user_id",
        "n_events",
        "n_types",
        F.expr(
            "(n_events * n_events - sum_sq) * 1000000"
            " div (n_events * n_events)"
        )
        .cast("bigint")
        .alias("diversity_ppm"),
    ).orderBy("user_id")


@register(
    "part_price_twap",
    """
    WITH seq AS (
      SELECT l_partkey,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
             date_diff('microsecond', l_shipdate,
               lead(l_shipdate) OVER (PARTITION BY l_partkey
                                      ORDER BY l_shipdate, l_orderkey,
                                               l_linenumber))
               // 86400000000 AS hold_days
      FROM lineitem
    ),
    agg AS (
      SELECT l_partkey,
             CAST(sum(CAST(cents AS DECIMAL(18,0)) * hold_days) AS DECIMAL(38,0))
               AS weighted,
             CAST(sum(hold_days) AS BIGINT) AS total_days,
             CAST(count(*) AS BIGINT) AS n_obs
      FROM seq WHERE hold_days IS NOT NULL AND hold_days > 0
      GROUP BY l_partkey
    )
    SELECT l_partkey, n_obs, total_days,
           CAST(weighted AS DOUBLE) / total_days AS twap_cents
    FROM agg WHERE total_days > 0 ORDER BY l_partkey
    """,
)
def part_price_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average price per part: each observed price is
    weighted by the exact integer days until the part's NEXT shipment
    (lead over the part's timeline, fully tie-broken) — the financial
    TWAP/holding-period primitive, immune to bursts of same-day trades
    that distort a plain mean. Weighted sums accumulate in DECIMAL
    (cents·days ≈ 1e10 per row — safe even when a part's history spans
    10⁹ rows); the final TWAP is one IEEE division.

    Scale: ONE part-partitioned window (scale-safe) and one part-keyed
    partial aggregate — both on the same key, so AQE coalesces them
    onto one exchange."""
    li = load_table(spark, sf_dir, "lineitem")
    from dbtransfer_spark.operators.windows import epoch_micros

    m = epoch_micros(li, "l_shipdate")
    w = Window.partitionBy("l_partkey").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber"
    )
    seq = li.select(
        "l_partkey",
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("cents"),
        m.alias("m"),
        F.lead(m).over(w).alias("next_m"),
    ).select(
        "l_partkey",
        "cents",
        F.expr("(next_m - m) div 86400000000").alias("hold_days"),
    )
    agg = (
        seq.filter(F.col("hold_days").isNotNull() & (F.col("hold_days") > 0))
        .groupBy("l_partkey")
        .agg(
            F.sum(
                F.col("cents").cast("decimal(18,0)") * F.col("hold_days")
            ).alias("weighted"),
            F.sum("hold_days").cast("bigint").alias("total_days"),
            F.count(F.lit(1)).alias("n_obs"),
        )
    )
    return (
        agg.filter(F.col("total_days") > 0)
        .select(
            "l_partkey",
            "n_obs",
            "total_days",
            (F.col("weighted").cast("double") / F.col("total_days")).alias(
                "twap_cents"
            ),
        )
        .orderBy("l_partkey")
    )


@register(
    "mad_outlier_brand_prices",
    """
    WITH c AS (
      SELECT p_brand, p_partkey,
             CAST(round(p_retailprice * 100) AS BIGINT) AS cents
      FROM part
    ),
    ranked AS (
      SELECT p_brand, cents,
             row_number() OVER (PARTITION BY p_brand ORDER BY cents, p_partkey) AS rn,
             count(*) OVER (PARTITION BY p_brand) AS n
      FROM c
    ),
    med AS (
      SELECT p_brand, cents AS median_cents FROM ranked WHERE rn = (n + 1) // 2
    ),
    dev AS (
      SELECT c.p_brand, c.p_partkey, c.cents,
             abs(c.cents - m.median_cents) AS adev, m.median_cents
      FROM c JOIN med m ON c.p_brand = m.p_brand
    ),
    dranked AS (
      SELECT p_brand, adev,
             row_number() OVER (PARTITION BY p_brand ORDER BY adev, p_partkey) AS rn,
             count(*) OVER (PARTITION BY p_brand) AS n
      FROM dev
    ),
    mad AS (
      SELECT p_brand, adev AS mad_cents FROM dranked WHERE rn = (n + 1) // 2
    )
    SELECT d.p_brand,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(max(d.median_cents) AS BIGINT) AS median_cents,
           CAST(max(m.mad_cents) AS BIGINT) AS mad_cents,
           CAST(sum(CASE WHEN d.adev > 3 * m.mad_cents THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers
    FROM dev d JOIN mad m ON d.p_brand = m.p_brand
    GROUP BY d.p_brand ORDER BY d.p_brand
    """,
)
def mad_outlier_brand_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/MAD) per-brand price outlier detection — the QA
    rule that survives the exact heavy tails that break mean/stddev
    z-scores. Exact lower-median by window position over integer cents
    (rank (n+1)/2), exact MAD the same way over absolute deviations,
    outlier = deviation > 3·MAD; all integer arithmetic, bit-identical
    across engines.

    Plan: two brand-partitioned sort windows over the part table plus a
    25-row broadcast join back — parallelism is bounded by |brands| here,
    which is fine for a bounded dimension; for a high-cardinality or
    skewed group key the exact positional median swaps to
    ``percentile_approx`` (one partial-aggregated pass, no sort) and the
    3·MAD rule is unchanged. Output is |brands| rows."""
    part = load_table(spark, sf_dir, "part")
    c = part.select(
        "p_brand",
        "p_partkey",
        F.expr("CAST(round(p_retailprice * 100) AS BIGINT)").alias("cents"),
    ).persist()  # consumed by the median window AND the deviation join
    w = Window.partitionBy("p_brand").orderBy("cents", "p_partkey")
    wn = Window.partitionBy("p_brand")
    med = (
        c.withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(wn))
        .filter(F.expr("rn = (n + 1) div 2"))
        .select("p_brand", F.col("cents").alias("median_cents"))
    )
    dev = c.join(F.broadcast(med), "p_brand").select(
        "p_brand",
        "p_partkey",
        "cents",
        F.abs(F.col("cents") - F.col("median_cents")).alias("adev"),
        "median_cents",
    ).persist()  # consumed by the MAD window AND the final aggregate
    dw = Window.partitionBy("p_brand").orderBy("adev", "p_partkey")
    mad = (
        dev.withColumn("rn", F.row_number().over(dw))
        .withColumn("n", F.count(F.lit(1)).over(wn))
        .filter(F.expr("rn = (n + 1) div 2"))
        .select("p_brand", F.col("adev").alias("mad_cents"))
    )
    return (
        dev.join(F.broadcast(mad), "p_brand")
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.max("median_cents").cast("bigint").alias("median_cents"),
            F.max("mad_cents").cast("bigint").alias("mad_cents"),
            F.sum(
                (F.col("adev") > 3 * F.col("mad_cents")).cast("bigint")
            ).cast("bigint").alias("n_outliers"),
        )
        .orderBy("p_brand")
    )


@register(
    "orders_multi_distinct",
    """
    SELECT strftime(o_orderdate, '%Y-%m') AS month,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities,
           CAST(count(DISTINCT CASE WHEN o_totalprice > 100000 THEN o_custkey END)
                AS BIGINT) AS n_big_spenders
    FROM orders GROUP BY month ORDER BY month
    """,
)
def orders_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple DISTINCT aggregates in one query — Spark plans this with
    an Expand (one duplicated stream per distinct set) feeding a single
    aggregation pipeline, so the fact is scanned ONCE however many
    distinct measures ride along (the naive alternative is one
    self-join per distinct column). The conditional distinct
    (big-spender custkeys) shows the filter riding inside the same
    Expand, not an extra pass.

    Scale: Expand multiplies shuffle rows by the number of distinct
    sets (3 here) — the documented, bounded cost; partial aggregation
    still collapses per (month, set, value) before the exchange."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.countDistinct("o_custkey").cast("bigint").alias("n_customers"),
            F.countDistinct("o_orderpriority").cast("bigint").alias("n_priorities"),
            F.countDistinct(
                F.when(F.col("o_totalprice") > 100000, F.col("o_custkey"))
            ).cast("bigint").alias("n_big_spenders"),
        )
        .orderBy("month")
    )


@register(
    "window_value_functions",
    """
    SELECT user_id, event_id, micros,
           first_value(event_type) OVER w AS first_type,
           last_value(event_type) OVER w AS last_type,
           nth_value(event_type, 2) OVER w AS second_type,
           lag(event_type, 1, 'none') OVER w AS prev_type,
           lead(event_type, 1, 'none') OVER w AS next_type
    FROM (
      SELECT user_id, event_id, event_type,
             epoch_us(ts) AS micros
      FROM events
    )
    WINDOW w AS (PARTITION BY user_id ORDER BY micros, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def window_value_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value window functions (first_value/last_value/nth_value/lag/lead
    with defaults) over the full-partition frame — completing the §2.9
    window surface. The explicit UNBOUNDED..UNBOUNDED frame matters:
    last_value under the default frame (UNBOUNDED..CURRENT ROW) returns
    the current row, the classic window gotcha; event_id closes the
    ordering ties so every engine ranks identically.

    Scale: one user-partitioned window, all five functions share the
    single sort — no extra shuffles per function."""
    from dbtransfer_spark.operators.windows import epoch_micros

    events = load_table(spark, sf_dir, "events")
    base = events.select(
        "user_id",
        "event_id",
        "event_type",
        epoch_micros(events, "ts").alias("micros"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("micros", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return base.select(
        "user_id",
        "event_id",
        "micros",
        F.first("event_type").over(w).alias("first_type"),
        F.last("event_type").over(w).alias("last_type"),
        F.nth_value("event_type", 2).over(w).alias("second_type"),
        F.lag("event_type", 1, "none")
        .over(Window.partitionBy("user_id").orderBy("micros", "event_id"))
        .alias("prev_type"),
        F.lead("event_type", 1, "none")
        .over(Window.partitionBy("user_id").orderBy("micros", "event_id"))
        .alias("next_type"),
    )


@register(
    "json_schema_profile",
    """
    WITH k AS (
      SELECT unnest(json_keys(props)) AS key,
             props
      FROM events WHERE props IS NOT NULL
    )
    SELECT key,
           CAST(count(*) AS BIGINT) AS n_present,
           CAST(count(DISTINCT json_extract_string(props, '$.' || key)) AS BIGINT)
             AS n_distinct_values,
           min(json_extract_string(props, '$.' || key)) AS min_value,
           max(json_extract_string(props, '$.' || key)) AS max_value
    FROM k GROUP BY key ORDER BY key
    """,
)
def json_schema_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema discovery over a semi-structured JSON column: enumerate
    every key that actually occurs (json_object_keys — no schema
    assumed), with presence counts, distinct-value cardinality, and
    value range — the pre-flight that decides which keys deserve
    promotion to real columns before a 100 TB ingest locks a schema in.

    Scale: key explosion is a narrow scan-stage expansion bounded by
    keys-per-record; one key-partitioned aggregate (distinct handled by
    partial aggregation per key/value before the exchange). Output is
    |key universe| rows.

    r14 (guide §1.2 per-task work): ONE from_json parse per record into
    map<string,string> replaces the old json_object_keys parse + a
    SECOND get_json_object re-parse of the full props string per
    exploded key — the dominant per-row cost was parsing the same JSON
    twice (K+1 times for K keys). Exact equivalence on the profiled
    column's contract (flat JSON object, scalar values — what
    events.props is at every SF): each key occurs once per record and
    from_json renders scalar tokens with the same text
    get_json_object extracts. Verified value-identical against the
    oracle at sf0.001/0.01/0.1."""
    events = load_table(spark, sf_dir, "events")
    kv = events.filter(F.col("props").isNotNull()).select(
        F.explode(F.from_json(F.col("props"), "map<string,string>")).alias(
            "key", "v"
        )
    )
    return (
        kv.groupBy("key")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_present"),
            F.countDistinct("v").cast("bigint").alias("n_distinct_values"),
            F.min("v").alias("min_value"),
            F.max("v").alias("max_value"),
        )
        .orderBy("key")
    )


@register(
    "nation_segment_share",
    """
    WITH g AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(count(*) AS BIGINT) AS n_customers
      FROM customer GROUP BY c_nationkey, c_mktsegment
    )
    SELECT c_nationkey, c_mktsegment, n_customers,
           CAST(sum(n_customers) OVER (PARTITION BY c_nationkey) AS BIGINT)
             AS nation_total,
           CAST(n_customers * 1000000
                // sum(n_customers) OVER (PARTITION BY c_nationkey) AS BIGINT)
             AS share_ppm
    FROM g ORDER BY c_nationkey, c_mktsegment
    """,
)
def nation_segment_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-parent rollup (each segment's share of its nation) — the
    OLAP shape grouping sets don't give you: the window runs over the
    ALREADY-AGGREGATED |nations|×|segments| grid (≤125 rows at any SF),
    never over the fact, so the 'total' pass costs nothing.

    Scale: one fact aggregate (partial-aggregated shuffle), then a
    nation-partitioned window on the bounded grid. Exact integer ppm."""
    customer = load_table(spark, sf_dir, "customer")
    g = customer.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers")
    )
    w = Window.partitionBy("c_nationkey")
    total = F.sum("n_customers").over(w)
    return g.select(
        "c_nationkey",
        "c_mktsegment",
        "n_customers",
        total.cast("bigint").alias("nation_total"),
        F.expr(
            "CAST(n_customers * 1000000 div sum(n_customers) "
            "OVER (PARTITION BY c_nationkey) AS BIGINT)"
        ).alias("share_ppm"),
    ).orderBy("c_nationkey", "c_mktsegment")


@register(
    "nation_supplier_hhi",
    """
    WITH rev AS (
      SELECT s_nationkey,
             l_suppkey,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY s_nationkey, l_suppkey
    ),
    tot AS (
      SELECT s_nationkey, CAST(sum(cents) AS BIGINT) AS total_cents,
             CAST(count(*) AS BIGINT) AS n_suppliers
      FROM rev GROUP BY s_nationkey
    )
    SELECT r.s_nationkey,
           max(t.n_suppliers) AS n_suppliers,
           max(t.total_cents) AS total_cents,
           CAST(sum((r.cents * 10000 // t.total_cents)
                    * (r.cents * 10000 // t.total_cents)) AS BIGINT) AS hhi
    FROM rev r JOIN tot t ON r.s_nationkey = t.s_nationkey
    GROUP BY r.s_nationkey ORDER BY r.s_nationkey
    """,
)
def nation_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman concentration index of supplier revenue per
    nation (sum of squared basis-point shares; 10000² = monopoly) — the
    concentration audit that also maps onto data-pipeline questions like
    'is one provider dominating this source mix?'. All integer: revenue
    in cents, shares floored to basis points, squares summed exactly.

    Plan: one (nation, supplier)-keyed revenue aggregate over the fact
    (partial-aggregated), a ≤|nations|-row totals aggregate joined back
    broadcast-size, and a |nations|-row output."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    rev = (
        li.join(sup, li["l_suppkey"] == sup["s_suppkey"])
        .groupBy("s_nationkey", "l_suppkey")
        .agg(
            F.sum(F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
            .cast("bigint")
            .alias("cents")
        )
        .persist()  # consumed by the totals aggregate AND the share join
    )
    tot = rev.groupBy("s_nationkey").agg(
        F.sum("cents").cast("bigint").alias("total_cents"),
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
    )
    share_bp = F.expr("cents * 10000 div total_cents")
    return (
        rev.join(broadcast_if_small(tot), "s_nationkey")
        .groupBy("s_nationkey")
        .agg(
            F.max("n_suppliers").alias("n_suppliers"),
            F.max("total_cents").alias("total_cents"),
            F.sum(share_bp * share_bp).cast("bigint").alias("hhi"),
        )
        .orderBy("s_nationkey")
    )


@register(
    "purchase_gap_percentiles",
    """
    WITH p AS (
      SELECT user_id, epoch_us(ts) AS micros
      FROM events WHERE event_type = 'purchase'
    ),
    gaps AS (
      SELECT CAST((micros - lag(micros) OVER (PARTITION BY user_id
                                              ORDER BY micros)) // 86400000000
                  AS BIGINT) AS gap_days
      FROM p
    ),
    hist AS (
      SELECT gap_days, CAST(count(*) AS BIGINT) AS n
      FROM gaps WHERE gap_days IS NOT NULL GROUP BY gap_days
    ),
    cum AS (
      SELECT gap_days, n,
             CAST(sum(n) OVER (ORDER BY gap_days) AS BIGINT) AS c,
             CAST(sum(n) OVER () AS BIGINT) AS total
      FROM hist
    )
    SELECT CAST(min(CASE WHEN c * 100 >= total * 50 THEN gap_days END) AS BIGINT)
             AS p50_days,
           CAST(min(CASE WHEN c * 100 >= total * 90 THEN gap_days END) AS BIGINT)
             AS p90_days,
           CAST(min(CASE WHEN c * 100 >= total * 99 THEN gap_days END) AS BIGINT)
             AS p99_days,
           max(total) AS n_gaps
    FROM cum
    """,
)
def purchase_gap_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global percentiles of the repeat-purchase interval (days between a
    user's consecutive purchases): p50/p90/p99 computed EXACTLY from the
    day-bucketed gap histogram — the cumulative-histogram trick
    (acctbal_deciles' shape): the only unpartitioned window runs over the
    ≤ |distinct gap days| histogram (value-domain-bounded, not
    SF-bounded), never over the raw gaps.

    Plan: user-partitioned lag window → day-bucket histogram
    (partial-aggregated) → bounded cumulative scan → 1-row report."""
    from dbtransfer_spark.operators.windows import epoch_micros

    events = load_table(spark, sf_dir, "events")
    p = events.filter(F.col("event_type") == "purchase").select(
        "user_id", epoch_micros(events, "ts").alias("micros")
    )
    w = Window.partitionBy("user_id").orderBy("micros")
    gaps = p.select(
        F.expr(
            "CAST((micros - lag(micros) OVER (PARTITION BY user_id ORDER BY micros))"
            " div 86400000000 AS BIGINT)"
        ).alias("gap_days")
    ).filter(F.col("gap_days").isNotNull())
    hist = gaps.groupBy("gap_days").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    cw = Window.orderBy("gap_days").rowsBetween(Window.unboundedPreceding, 0)
    tw = Window.partitionBy()
    cum = hist.select(
        "gap_days",
        F.sum("n").over(cw).cast("bigint").alias("c"),
        F.sum("n").over(tw).cast("bigint").alias("total"),
    )

    def pctl(q: int):
        return F.min(
            F.when(F.col("c") * 100 >= F.col("total") * q, F.col("gap_days"))
        ).cast("bigint")

    return cum.agg(
        pctl(50).alias("p50_days"),
        pctl(90).alias("p90_days"),
        pctl(99).alias("p99_days"),
        F.max("total").alias("n_gaps"),
    )


@register(
    "order_total_consistency_audit",
    """
    WITH li AS (
      SELECT l_orderkey,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
                                 * (1 + l_tax) * 100) AS BIGINT)) AS BIGINT)
               AS computed_cents,
             CAST(count(*) AS BIGINT) AS n_lines
      FROM lineitem GROUP BY l_orderkey
    ),
    j AS (
      SELECT o.o_orderkey,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS stated_cents,
             li.computed_cents, li.n_lines,
             abs(CAST(round(o.o_totalprice * 100) AS BIGINT) - li.computed_cents)
               AS diff_cents
      FROM orders o JOIN li ON o.o_orderkey = li.l_orderkey
    )
    SELECT CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CASE WHEN diff_cents = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_exact,
           CAST(sum(CASE WHEN diff_cents > 0 AND diff_cents <= n_lines THEN 1
                         ELSE 0 END) AS BIGINT) AS n_rounding_only,
           CAST(sum(CASE WHEN diff_cents > n_lines THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violations,
           CAST(max(diff_cents) AS BIGINT) AS max_diff_cents
    FROM j
    """,
)
def order_total_consistency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table invariant audit: does each order's stated total equal
    the sum of its line amounts (price·(1−disc)·(1+tax))? Classifies
    every order as exact / rounding-noise (≤1 cent per line) / genuine
    violation, with the worst deviation — the reconciliation every
    migrated or synthesized dataset should run before anyone trusts a
    revenue number (the fixture's totals are synthetic, so violations
    here are EXPECTED — the audit's job is to count them, not pass).

    Plan: one orderkey-keyed partial-aggregated pass over the fact, one
    keyed join to orders, a 1-row report. Integer cents everywhere."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    per_order = li.groupBy("l_orderkey").agg(
        F.sum(
            F.expr(
                "CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100)"
                " AS BIGINT)"
            )
        )
        .cast("bigint")
        .alias("computed_cents"),
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
    )
    j = orders.join(per_order, orders["o_orderkey"] == per_order["l_orderkey"]).select(
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("stated_cents"),
        "computed_cents",
        "n_lines",
    ).withColumn("diff_cents", F.abs(F.col("stated_cents") - F.col("computed_cents")))
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum((F.col("diff_cents") == 0).cast("bigint")).cast("bigint").alias("n_exact"),
        F.sum(
            ((F.col("diff_cents") > 0) & (F.col("diff_cents") <= F.col("n_lines"))).cast(
                "bigint"
            )
        )
        .cast("bigint")
        .alias("n_rounding_only"),
        F.sum((F.col("diff_cents") > F.col("n_lines")).cast("bigint"))
        .cast("bigint")
        .alias("n_violations"),
        F.max("diff_cents").cast("bigint").alias("max_diff_cents"),
    )


@register(
    "rank_functions",
    """
    WITH c AS (
      SELECT p_brand, p_partkey,
             CAST(round(p_retailprice * 100) AS BIGINT) AS cents
      FROM part
    )
    SELECT p_brand, p_partkey, cents,
           rank() OVER w AS price_rank,
           dense_rank() OVER w AS price_dense_rank,
           row_number() OVER (PARTITION BY p_brand
                              ORDER BY cents DESC, p_partkey) AS price_row
    FROM c
    WINDOW w AS (PARTITION BY p_brand ORDER BY cents DESC)
    ORDER BY p_brand, price_row
    """,
)
def rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-function surface: rank (gaps after ties), dense_rank (no
    gaps), row_number (arbitrary ties broken by an explicit unique key)
    over the same per-brand price ordering — the three tie semantics
    every leaderboard/top-k consumer has to choose between. rank and
    dense_rank order by cents alone (ties WANTED — that is the semantic
    under test); row_number adds the unique partkey tie-break so the
    output multiset is deterministic.

    Plan: all three functions share one brand-partitioned sort window."""
    part = load_table(spark, sf_dir, "part")
    c = part.select(
        "p_brand",
        "p_partkey",
        F.expr("CAST(round(p_retailprice * 100) AS BIGINT)").alias("cents"),
    )
    w = Window.partitionBy("p_brand").orderBy(F.desc("cents"))
    wr = Window.partitionBy("p_brand").orderBy(F.desc("cents"), "p_partkey")
    return c.select(
        "p_brand",
        "p_partkey",
        "cents",
        F.rank().over(w).alias("price_rank"),
        F.dense_rank().over(w).alias("price_dense_rank"),
        F.row_number().over(wr).alias("price_row"),
    ).orderBy("p_brand", "price_row")


@register(
    "user_recent_values",
    """
    SELECT user_id, event_id,
           array_to_string(
             list(CAST(CAST(round("value" * 1000000) AS BIGINT) AS VARCHAR))
               OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
             ',') AS last3_micro
    FROM events
    """,
)
def user_recent_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed sequence collection: each event carries its trailing-3
    value history (the feature-vector window of sequence models /
    fraud rules) as a comma-joined string of exact micro-units — arrays
    would crash the driver's canonicalization (r4 lesson), and the
    ROWS 2 PRECEDING frame bounds state to 3 cells per row at any SF.

    Plan: one user-partitioned sort window; the collected frame is
    bounded by the frame spec, not the partition size."""
    from dbtransfer_spark.operators.windows import epoch_micros

    events = load_table(spark, sf_dir, "events")
    micro = F.expr('CAST(round(value * 1000000) AS BIGINT)').cast("string")
    w = (
        Window.partitionBy("user_id")
        .orderBy(epoch_micros(events, "ts"), "event_id")
        .rowsBetween(-2, 0)
    )
    return events.select(
        "user_id",
        "event_id",
        F.array_join(F.collect_list(micro).over(w), ",").alias("last3_micro"),
    )


@register(
    "customer_order_drawdown",
    """
    WITH c AS (
      SELECT o_custkey, o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             epoch_us(o_orderdate) AS micros
      FROM orders
    )
    SELECT o_custkey, o_orderkey, cents,
           CAST(max(cents) OVER w AS BIGINT) AS running_max_cents,
           CAST(max(cents) OVER w - cents AS BIGINT) AS drawdown_cents
    FROM c
    WINDOW w AS (PARTITION BY o_custkey ORDER BY micros, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def customer_order_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running-extreme analytics: per customer in order-date order, the
    running maximum order value and each order's drawdown from that peak
    (the 'biggest order so far vs this one' trend feature; the same
    window shape computes high-water marks and retention cliffs).

    Plan: one customer-partitioned sort window; running max is O(1)
    state per row. Integer cents, unique orderkey tie-break."""
    from dbtransfer_spark.operators.windows import epoch_micros

    orders = load_table(spark, sf_dir, "orders")
    c = orders.select(
        "o_custkey",
        "o_orderkey",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
        epoch_micros(orders, "o_orderdate").alias("micros"),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("micros", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    rmax = F.max("cents").over(w)
    return c.select(
        "o_custkey",
        "o_orderkey",
        "cents",
        rmax.cast("bigint").alias("running_max_cents"),
        (rmax - F.col("cents")).cast("bigint").alias("drawdown_cents"),
    )


@register(
    "brand_pareto_front",
    """
    WITH ranked AS (
      SELECT p_brand, p_partkey, p_name, p_size,
             CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
             max(p_size) OVER (
               PARTITION BY p_brand
               ORDER BY CAST(round(p_retailprice * 100) AS BIGINT),
                        p_size DESC, p_partkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS best_size_cheaper
    FROM part
    )
    SELECT p_brand AS brand, p_partkey AS partkey, p_name AS name,
           p_size AS size, price_cents
    FROM ranked
    WHERE best_size_cheaper IS NULL OR p_size > best_size_cheaper
    """,
)
def brand_pareto_front(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand skyline (Pareto front): the parts not DOMINATED within
    their brand — no other part both costs at most as much and is
    larger (price↓ better, size↑ better). The multi-objective shortlist
    query behind "cheapest viable option at every capability level"
    (catalog pruning, offer selection).

    Algorithm: sort each brand by (price, size DESC) and keep a row iff
    its size strictly exceeds the running max size of all STRICTLY
    preceding rows (ROWS ... 1 PRECEDING): a dominator is exactly an
    earlier row with ≥ size. One window over one brand-partitioned
    shuffle — O(n log n) per brand vs the naive O(n²) NOT-EXISTS
    self-join, and it stays partitioned at 100 TB (brand count scales
    with catalog size; no global sort). Prices compare in exact integer
    cents; (price, size DESC, partkey) is a total order so the running
    max is deterministic under duplicate prices."""
    part = load_table(spark, sf_dir, "part")
    cents = F.round(F.col("p_retailprice") * 100).cast("bigint")
    ranked = part.select(
        "p_brand", "p_partkey", "p_name", "p_size", cents.alias("price_cents")
    )
    w = (
        Window.partitionBy("p_brand")
        .orderBy("price_cents", F.desc("p_size"), "p_partkey")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        ranked.withColumn("best_size_cheaper", F.max("p_size").over(w))
        .filter(
            F.col("best_size_cheaper").isNull()
            | (F.col("p_size") > F.col("best_size_cheaper"))
        )
        .select(
            F.col("p_brand").alias("brand"),
            F.col("p_partkey").alias("partkey"),
            F.col("p_name").alias("name"),
            F.col("p_size").alias("size"),
            "price_cents",
        )
    )


@register(
    "dq_expectations_orders",
    """
    WITH t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM orders),
    u AS (
      SELECT 'not_null(o_orderkey)' AS constraint_name, 'not_null' AS kind,
             CAST(count(*) FILTER (o_orderkey IS NULL) AS BIGINT) AS violations,
             (SELECT total FROM t) AS total
      FROM orders
      UNION ALL
      SELECT 'in_range(o_totalprice,0.0,400000.0)', 'in_range',
             CAST(count(*) FILTER (o_totalprice IS NULL
                                   OR o_totalprice < 0 OR o_totalprice > 400000) AS BIGINT),
             (SELECT total FROM t)
      FROM orders
      UNION ALL
      SELECT 'in_set(o_orderstatus)', 'in_set',
             CAST(count(*) FILTER (o_orderstatus IS NULL
                                   OR o_orderstatus NOT IN ('F','O','P')) AS BIGINT),
             (SELECT total FROM t)
      FROM orders
      UNION ALL
      SELECT 'matches(o_orderpriority)', 'matches',
             CAST(count(*) FILTER (o_orderpriority IS NULL
                                   OR NOT regexp_matches(o_orderpriority, '^[1-5]-')) AS BIGINT),
             (SELECT total FROM t)
      FROM orders
      UNION ALL
      SELECT 'unique(o_orderkey)', 'unique',
             CAST(count(o_orderkey) - count(DISTINCT o_orderkey) AS BIGINT),
             (SELECT total FROM t)
      FROM orders
      UNION ALL
      SELECT 'foreign_key(o_custkey->c_custkey)', 'foreign_key',
             CAST(count(*) FILTER (c.c_custkey IS NULL) AS BIGINT),
             (SELECT total FROM t)
      FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE o.o_custkey IS NOT NULL
    )
    SELECT constraint_name, kind, violations, total, violations = 0 AS passed
    FROM u
    """,
)
def dq_expectations_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality suite over ``orders`` via the
    expectations engine (dbtransfer_spark/expectations.py): five
    row-level/uniqueness checks plus referential integrity against
    ``customer``. The deliberately-tight price range reports real
    violations, exercising the failing path.

    Plan cost (the engine's contract): ONE shared aggregate pass for
    all four row-level predicates, one count-distinct for uniqueness,
    one broadcast left-anti probe for the FK — adding more row-level
    expectations costs zero extra scans, which is what makes a
    500-expectation production suite affordable at 100 TB."""
    from dbtransfer_spark import expectations as X

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    suite = [
        X.not_null("o_orderkey"),
        X.in_range("o_totalprice", 0.0, 400000.0),
        X.in_set("o_orderstatus", ["F", "O", "P"]),
        X.matches("o_orderpriority", "^[1-5]-"),
        X.unique("o_orderkey"),
        X.foreign_key("o_custkey", customer, "c_custkey"),
    ]
    return X.evaluate(orders, suite)


@register(
    "ols_price_on_quantity",
    """
    WITH m AS (
      SELECT l_returnflag,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(30,10))) AS DOUBLE) AS sx,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(30,10))) AS DOUBLE) AS sy,
             CAST(sum(CAST(l_quantity AS DECIMAL(30,10))
                      * CAST(l_quantity AS DECIMAL(30,10))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(l_quantity AS DECIMAL(30,10))
                      * CAST(l_extendedprice AS DECIMAL(30,10))) AS DOUBLE) AS sxy,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(30,10))
                      * CAST(l_extendedprice AS DECIMAL(30,10))) AS DOUBLE) AS syy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           n,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
           round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 4)
             AS intercept,
           round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
    FROM m
    """,
)
def ols_price_on_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ordinary least squares (extendedprice ~ quantity per
    return flag): slope, intercept, R² from the five moment sums — the
    closed-form regression every feature store and pricing audit
    derives without a solver.

    Float discipline: the moments accumulate in DECIMAL(30,10)
    (order-independent, bit-identical across engines — the same trick
    as correlation_matrix) and only the final closed-form arithmetic
    runs in double, as one identical expression tree on both sides.
    One partial-aggregated shuffle to ≤|flags| rows; nothing else
    scales with SF. r11: moments run through _cents_power_sums (exact
    integer-cents longs + block-bounded partials) — same exact decimal
    values, then the identical double cast; 13 s → ~3 s at sf1."""
    li = load_table(spark, sf_dir, "lineitem")
    raw = _cents_power_sums(
        li,
        ["l_returnflag"],
        {"q": "l_quantity", "p": "l_extendedprice"},
        {
            "rsx": ("q", None),
            "rsy": ("p", None),
            "rsxx": ("q", "q"),
            "rsxy": ("q", "p"),
            "rsyy": ("p", "p"),
        },
    )
    m = raw.select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("n"),
        (F.col("rsx") / 100).cast("double").alias("sx"),
        (F.col("rsy") / 100).cast("double").alias("sy"),
        (F.col("rsxx") / 10000).cast("double").alias("sxx"),
        (F.col("rsxy") / 10000).cast("double").alias("sxy"),
        (F.col("rsyy") / 10000).cast("double").alias("syy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return m.select(
        "l_returnflag",
        "n",
        F.round(slope, 6).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 4).alias("intercept"),
        F.round(
            (
                (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
                * (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            )
            / (
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
            ),
            6,
        ).alias("r2"),
    )


@register(
    "timeseries_cv_folds",
    """
    WITH base AS (
      SELECT o_orderkey,
             (year(o_orderdate) - (SELECT min(year(o_orderdate)) FROM orders))
               * 12 + month(o_orderdate)
             - (SELECT min(month(o_orderdate)) FROM orders
                WHERE year(o_orderdate) = (SELECT min(year(o_orderdate))
                                           FROM orders)) AS mi
      FROM orders
    ), tagged AS (
      SELECT f, mi FROM base, UNNEST([1, 2, 3, 4, 5]) AS t(f)
    )
    SELECT CAST(f AS BIGINT) AS fold,
           CAST(sum(CASE WHEN mi < f * 12 - 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_train,
           CAST(sum(CASE WHEN mi = f * 12 - 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_embargo,
           CAST(sum(CASE WHEN mi >= f * 12 AND mi < f * 12 + 3
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_test,
           CAST(f * 12 AS BIGINT) AS test_from_mi,
           CAST(f * 12 + 2 AS BIGINT) AS test_to_mi
    FROM tagged GROUP BY f ORDER BY f
    """,
)
def timeseries_cv_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Walk-forward cross-validation folds with an embargo gap — the
    leakage-safe splitter time-series model training needs instead of
    random K-fold (random splits leak future information backwards;
    dataset_split covers the i.i.d. case). Fold f trains on everything
    BEFORE month 12f-1, embargoes exactly the month adjoining the test
    window (so trailing-window features computed on train rows can't
    overlap test labels), and tests on the next 3 months. Expanding
    train windows, per-fold counts and test bounds emitted for audit.

    Scale: the global epoch month is a 1-row min aggregate broadcast
    onto the fact scan (never a driver-side date); fold tagging is a
    constant 5x explode; the rollup is a 5-row conditional aggregate —
    one shuffle, map-side combined. No row is materialized per-fold;
    the folds themselves stay virtual (a real trainer filters the scan
    with the emitted bounds, keeping partition pruning live)."""
    orders = load_table(spark, sf_dir, "orders")
    epoch = orders.agg(
        F.min(F.date_trunc("month", "o_orderdate")).alias("m0")
    )
    base = orders.crossJoin(F.broadcast(epoch)).select(
        F.months_between(
            F.date_trunc("month", "o_orderdate"), F.col("m0")
        ).cast("int").alias("mi")
    )
    tagged = base.select(
        "mi",
        F.explode(F.array(*[F.lit(f) for f in range(1, 6)])).alias("f"),
    )
    return (
        tagged.groupBy("f")
        .agg(
            F.sum(F.when(F.col("mi") < F.col("f") * 12 - 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_train"),
            F.sum(F.when(F.col("mi") == F.col("f") * 12 - 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_embargo"),
            F.sum(
                F.when(
                    (F.col("mi") >= F.col("f") * 12)
                    & (F.col("mi") < F.col("f") * 12 + 3),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_test"),
        )
        .select(
            F.col("f").cast("bigint").alias("fold"),
            "n_train",
            "n_embargo",
            "n_test",
            (F.col("f") * 12).cast("bigint").alias("test_from_mi"),
            (F.col("f") * 12 + 2).cast("bigint").alias("test_to_mi"),
        )
        .orderBy("fold")
    )


@register(
    "k_anonymity_audit",
    """
    WITH eq AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
             count(*) AS grp
      FROM customer
      GROUP BY c_nationkey, c_mktsegment, bal_band
    )
    SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey,
           c_mktsegment,
           bal_band,
           CAST(grp AS BIGINT) AS grp_size,
           (grp < 5) AS below_k
    FROM eq
    WHERE grp < 5
    ORDER BY c_nationkey, c_mktsegment, bal_band
    """,
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over quasi-identifiers — the privacy gate a
    training-data release runs beside PII redaction (pii_redact removes
    direct identifiers; this finds rows whose quasi-identifier
    COMBINATION is so rare it re-identifies anyway). Equivalence
    classes over (nation, market segment, coarse balance band); any
    class smaller than k=5 is a re-identification risk the release
    must suppress or generalize. Emits the violating classes with
    sizes — the suppress/generalize worklist, not just a pass/fail.

    Scale: ONE partial-aggregated groupBy on the quasi-identifier tuple
    (map-side combined; cardinality bounded by the QI domain, not row
    count) + a size filter. The banding (floor to 1000s) is integer
    arithmetic, identical in both engines."""
    cust = load_table(spark, sf_dir, "customer")
    eq = (
        cust.groupBy(
            F.col("c_nationkey").cast("bigint").alias("c_nationkey"),
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("bal_band"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("grp_size"))
    )
    return (
        eq.filter(F.col("grp_size") < 5)
        .select(
            "c_nationkey",
            "c_mktsegment",
            "bal_band",
            "grp_size",
            (F.col("grp_size") < 5).alias("below_k"),
        )
        .orderBy("c_nationkey", "c_mktsegment", "bal_band")
    )


@register(
    "bootstrap_mean_ci",
    """
    WITH hh AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))
                  AS BIGINT) AS h1,
             CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 16, 15))
                  AS BIGINT) AS h2
      FROM orders
    ), w AS (
      SELECT b,
             CASE ((CASE WHEN b < 30 THEN h1 ELSE h2 END)
                   >> (2 * (CASE WHEN b < 30 THEN b ELSE b - 30 END))) & 3
               WHEN 0 THEN 0 WHEN 3 THEN 2 ELSE 1 END AS wt,
             cents
      FROM hh, UNNEST(range(0, 32)) AS t(b)
    ), reps AS (
      SELECT b,
             CAST(sum(wt * cents) AS BIGINT) AS num,
             CAST(sum(wt) AS BIGINT) AS den
      FROM w GROUP BY b
    ), means AS (
      SELECT b, CAST(num AS DOUBLE) / den AS m,
             row_number() OVER (ORDER BY CAST(num AS DOUBLE) / den, b) AS rk
      FROM reps
    )
    SELECT CAST(count(*) AS BIGINT) AS n_replicas,
           round(min(CASE WHEN rk = 2 THEN m END), 4) AS ci_lo_cents,
           round(min(CASE WHEN rk = 31 THEN m END), 4) AS ci_hi_cents,
           round((SELECT CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                              AS DOUBLE) / count(*) FROM orders), 4)
             AS point_mean_cents
    FROM means
    """,
)
def bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed bootstrap confidence interval for a mean — the
    resampling machinery that gives error bars on any corpus statistic
    WITHOUT collecting data to a driver: 32 bootstrap replicas
    materialize as WEIGHTS (deterministic multipliers in {0,1,1,2},
    mean 1 — the fixed-seed stand-in for Poisson(1) resampling, so both
    engines draw identical 'samples'), each replica mean is one
    weighted aggregate, and the CI is an order statistic over the 32
    replica means (2nd/31st ≈ the 93% interval).

    r9 cost rewrite (VERDICT r8 #3): ONE md5 per row, not 32 — all 32
    two-bit weights are bit-slices of that single 120-bit digest
    (h1 = hex[1..15] carries replicas 0-29, h2 = hex[16..30] carries
    30-31), and the 32× row explode is gone: the 64 replica sums plus
    the point-mean sums are 66 partial-aggregated columns of ONE
    map-side-combined pass, so shuffle volume is 66 longs per
    partition regardless of row count. The sf1 sweep had this at
    51.1 s purely on the 32-md5 constant. Oracle re-derived in
    lockstep (weight stream changed ⇒ hash moved ⇒ re-queued for
    driver verification per the hash-move rule).

    Exactness: weights and weighted sums are BIGINT; each replica mean
    is ONE division of identical integers, so the doubles — and the
    order statistics over them — agree bit-for-bit across engines.

    Empty-input semantics (r9/r10 ADVICE, closed r11): df.agg always
    yields one row, so the replica explode is gated on n_rows > 0 —
    an empty orders table now returns 0 rows, exactly like the
    oracle's GROUP BY over an empty replica set."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
    md5hex = F.md5(F.col("o_orderkey").cast("string"))
    rows = orders.select(
        cents.alias("cents"),
        F.conv(F.substring(md5hex, 1, 15), 16, 10).cast("long").alias("h1"),
        F.conv(F.substring(md5hex, 16, 15), 16, 10).cast("long").alias("h2"),
    )

    def wt(b: int):
        src, shift = ("h1", 2 * b) if b < 30 else ("h2", 2 * (b - 30))
        nib = F.shiftright(F.col(src), shift).bitwiseAND(F.lit(3))
        return F.when(nib == 0, F.lit(0)).when(nib == 3, F.lit(2)).otherwise(
            F.lit(1)
        )

    aggs = []
    for b in range(32):
        w = wt(b)
        aggs.append(F.sum(w * F.col("cents")).cast("bigint").alias(f"num_{b}"))
        aggs.append(F.sum(w).cast("bigint").alias(f"den_{b}"))
    aggs.append(F.sum("cents").cast("bigint").alias("sum_cents"))
    aggs.append(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
    rep_row = rows.agg(*aggs).filter(F.col("n_rows") > 0)
    reps = rep_row.select(
        F.round(
            F.col("sum_cents").cast("double") / F.col("n_rows"), 4
        ).alias("point_mean_cents"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("b"),
                        F.col(f"num_{b}").alias("num"),
                        F.col(f"den_{b}").alias("den"),
                    )
                    for b in range(32)
                ]
            )
        ).alias("r"),
    ).select("point_mean_cents", "r.b", "r.num", "r.den")
    m = (F.col("num").cast("double") / F.col("den")).alias("m")
    means = reps.select("point_mean_cents", "b", m).withColumn(
        "rk", F.row_number().over(Window.orderBy("m", "b"))
    )
    return means.groupBy("point_mean_cents").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_replicas"),
        F.round(F.min(F.when(F.col("rk") == 2, F.col("m"))), 4).alias(
            "ci_lo_cents"
        ),
        F.round(F.min(F.when(F.col("rk") == 31, F.col("m"))), 4).alias(
            "ci_hi_cents"
        ),
    ).select("n_replicas", "ci_lo_cents", "ci_hi_cents", "point_mean_cents")


@register(
    "table_bucket_checksum",
    """
    WITH h AS (
      SELECT o_orderkey % 32 AS bucket,
             o_orderkey,
             CAST(('0x' || substr(md5(concat_ws('|',
                    CAST(o_orderkey AS VARCHAR),
                    CAST(o_custkey AS VARCHAR),
                    o_orderstatus,
                    o_orderpriority,
                    CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR),
                    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS VARCHAR))), 1, 15))
                  AS BIGINT) % 1000000007 AS rh
      FROM orders
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(rh) % 1000000007 AS BIGINT) AS checksum,
           CAST(min(o_orderkey) AS BIGINT) AS min_key,
           CAST(max(o_orderkey) AS BIGINT) AS max_key
    FROM h GROUP BY bucket ORDER BY bucket
    """,
)
def table_bucket_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent per-bucket table checksum — the transfer
    validation step the reference tool never had: after copying a table
    between engines, run this digest on BOTH sides and diff the 32-row
    outputs; a mismatched bucket localizes the divergence to 1/32 of
    the keyspace without moving any data (re-bucket the bad range to
    bisect further). The row digest is a portable md5 over a canonical
    '|'-joined rendering (BIGINTs as decimal strings, money as integer
    cents, dates as epoch days — never engine-formatted doubles), and
    the bucket checksum is a SUM mod p, so it is insensitive to row
    order and partitioning — any engine that can md5 a string
    reproduces it bit-for-bit.

    Plan: a narrow scan-stage digest expression + one 32-group
    partial-aggregated shuffle; at 100 TB the map-side combine reduces
    each partition to 32 rows before the exchange. The mod-p row hash
    keeps the bucket sum under 2^63 up to ~9e9 rows/bucket; wider
    tables just raise the bucket count (the digest is per-bucket, so
    bucket count is a free parameter)."""
    orders = load_table(spark, sf_dir, "orders")
    rh = F.pmod(
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.col("o_orderkey").cast("string"),
                        F.col("o_custkey").cast("string"),
                        F.col("o_orderstatus"),
                        F.col("o_orderpriority"),
                        F.expr("CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS STRING)"),
                        F.datediff("o_orderdate", F.lit("1970-01-01")).cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(1000000007),
    )
    return (
        orders.select(
            F.pmod("o_orderkey", F.lit(32)).cast("bigint").alias("bucket"),
            "o_orderkey",
            rh.alias("rh"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.pmod(F.sum("rh"), F.lit(1000000007)).cast("bigint").alias("checksum"),
            F.min("o_orderkey").cast("bigint").alias("min_key"),
            F.max("o_orderkey").cast("bigint").alias("max_key"),
        )
        .orderBy("bucket")
    )


@register(
    "zonemap_pruning_stats",
    """
    WITH files AS (
      SELECT event_id // 1000 AS file_id,
             min(ts) AS zmin,
             max(ts) AS zmax,
             count(*) AS n_rows,
             sum(CASE WHEN ts >= TIMESTAMP '2024-01-10 00:00:00'
                       AND ts < TIMESTAMP '2024-01-17 00:00:00'
                      THEN 1 ELSE 0 END) AS n_match
      FROM events GROUP BY 1
    ), flags AS (
      SELECT *,
             CASE WHEN zmax < TIMESTAMP '2024-01-10 00:00:00'
                    OR zmin >= TIMESTAMP '2024-01-17 00:00:00'
                  THEN 1 ELSE 0 END AS pruned
      FROM files
    )
    SELECT CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(pruned) AS BIGINT) AS n_files_pruned,
           CAST(sum(CASE WHEN pruned = 1 THEN n_rows ELSE 0 END) AS BIGINT)
             AS rows_skipped,
           CAST(sum(CASE WHEN pruned = 0 THEN n_rows ELSE 0 END) AS BIGINT)
             AS rows_scanned,
           CAST(sum(n_match) AS BIGINT) AS rows_matching
    FROM flags
    """,
)
def zonemap_pruning_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (min/max statistics) pruning simulator: model an
    ingest-ordered lake layout (1000-event files keyed by event_id,
    which tracks arrival time at corr ≈ 0.9999 but is NOT the
    timestamp), compute each "file"'s min/max zone map on ts, and
    report how many files — and how many rows — a one-week ts range
    predicate skips WITHOUT reading them. This is the planning
    arithmetic behind parquet row-group skipping: the predicate column
    correlates with (but is not equal to) the layout key, so pruning is
    partial — exactly the real-world case where a zone map earns its
    keep. The per-file match counts double as a consistency proof:
    every matching row falls in an unpruned file.

    Plan: ONE scan of events with an |n|/1000-group partial-aggregated
    shuffle (the zone-map build), then a 1-row rollup over the
    |files|-sized stats table. At 100 TB the zone-map table is ~1/10^6
    of the data — this is why engines afford to consult it before
    every scan; the rows_skipped/rows_scanned split is the exact I/O
    the predicate saves."""
    ev = load_table(spark, sf_dir, "events")
    lo = F.lit("2024-01-10 00:00:00").cast("timestamp")
    hi = F.lit("2024-01-17 00:00:00").cast("timestamp")
    files = ev.groupBy(
        F.expr("event_id div 1000").alias("file_id")
    ).agg(
        F.min("ts").alias("zmin"),
        F.max("ts").alias("zmax"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.when((F.col("ts") >= lo) & (F.col("ts") < hi), 1).otherwise(0)
        ).alias("n_match"),
    )
    pruned = F.when(
        (F.col("zmax") < lo) | (F.col("zmin") >= hi),
        1,
    ).otherwise(0)
    return files.select(pruned.alias("pruned"), "n_rows", "n_match").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_files"),
        F.sum("pruned").cast("bigint").alias("n_files_pruned"),
        F.sum(F.when(F.col("pruned") == 1, F.col("n_rows")).otherwise(0))
        .cast("bigint")
        .alias("rows_skipped"),
        F.sum(F.when(F.col("pruned") == 0, F.col("n_rows")).otherwise(0))
        .cast("bigint")
        .alias("rows_scanned"),
        F.sum("n_match").cast("bigint").alias("rows_matching"),
    )


@register(
    "feature_drift_bins",
    """
    WITH p AS (
      SELECT least(CAST(o_totalprice AS BIGINT) // 50000, 9) AS bucket,
             CASE WHEN year(o_orderdate) = 1995 THEN 1 ELSE 0 END AS in_a,
             CASE WHEN year(o_orderdate) = 1996 THEN 1 ELSE 0 END AS in_b
      FROM orders
      WHERE year(o_orderdate) IN (1995, 1996)
    ), b AS (
      SELECT bucket, sum(in_a) AS n_a, sum(in_b) AS n_b
      FROM p GROUP BY bucket
    ), t AS (
      SELECT sum(n_a) AS na_tot, sum(n_b) AS nb_tot FROM b
    ), d AS (
      SELECT bucket, n_a, n_b,
             n_a * 1000000 // na_tot AS d_a_ppm,
             n_b * 1000000 // nb_tot AS d_b_ppm
      FROM b, t
    ), c AS (
      SELECT *,
             (d_b_ppm - d_a_ppm) * (d_b_ppm - d_a_ppm)
               // greatest(d_a_ppm, 1) AS chi2_contrib_ppm
      FROM d
    ), s AS (
      SELECT sum(chi2_contrib_ppm) AS drift_ppm FROM c
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(n_a AS BIGINT) AS n_a,
           CAST(n_b AS BIGINT) AS n_b,
           CAST(d_a_ppm AS BIGINT) AS d_a_ppm,
           CAST(d_b_ppm AS BIGINT) AS d_b_ppm,
           CAST(chi2_contrib_ppm AS BIGINT) AS chi2_contrib_ppm,
           CAST(drift_ppm AS BIGINT) AS drift_ppm
    FROM c, s
    ORDER BY bucket
    """,
)
def feature_drift_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-drift audit between two periods of a numeric feature
    (o_totalprice, 1995 vs 1996): fixed 50k-wide price buckets, each
    period's bucket shares in ppm, and a chi-square-style drift score
    per bucket — (share_b - share_a)^2 / share_a — summed into one
    headline drift number. This is the PSI/chi-square monitoring gate a
    feature pipeline runs before refreshing a training set; the
    polynomial form (not log-based PSI) keeps every value an exact
    integer ppm in both engines (the repo-wide no-libm rule), and is
    monotone in the same divergence signal.

    Plan: the year predicate prunes at the scan (pushed filter), ONE
    partial-aggregated shuffle to ≤10 buckets, then pure arithmetic on
    the 10-row frame with two 1-row broadcast rollups (totals, drift
    sum) — the leakage_safe_split terminal shape. 100 TB cost is one
    pruned scan; bucket count is a free parameter."""
    orders = load_table(spark, sf_dir, "orders")
    yr = F.year("o_orderdate")
    p = orders.filter(yr.isin(1995, 1996)).select(
        F.least(F.expr("CAST(o_totalprice AS BIGINT) div 50000"), F.lit(9)).alias(
            "bucket"
        ),
        F.when(yr == 1995, 1).otherwise(0).alias("in_a"),
        F.when(yr == 1996, 1).otherwise(0).alias("in_b"),
    )
    b = p.groupBy("bucket").agg(
        F.sum("in_a").alias("n_a"), F.sum("in_b").alias("n_b")
    )
    t = b.agg(F.sum("n_a").alias("na_tot"), F.sum("n_b").alias("nb_tot"))
    d = b.crossJoin(F.broadcast(t)).select(
        "bucket",
        "n_a",
        "n_b",
        F.expr("n_a * 1000000 div na_tot").alias("d_a_ppm"),
        F.expr("n_b * 1000000 div nb_tot").alias("d_b_ppm"),
    )
    c = d.withColumn(
        "chi2_contrib_ppm",
        F.expr(
            "(d_b_ppm - d_a_ppm) * (d_b_ppm - d_a_ppm) div greatest(d_a_ppm, 1)"
        ),
    )
    s = c.agg(F.sum("chi2_contrib_ppm").alias("drift_ppm"))
    return (
        c.crossJoin(F.broadcast(s))
        .select(
            F.col("bucket").cast("bigint"),
            F.col("n_a").cast("bigint"),
            F.col("n_b").cast("bigint"),
            F.col("d_a_ppm").cast("bigint"),
            F.col("d_b_ppm").cast("bigint"),
            F.col("chi2_contrib_ppm").cast("bigint"),
            F.col("drift_ppm").cast("bigint"),
        )
        .orderBy("bucket")
    )


_COMPACT_TARGET = 20000  # target bin size in bytes
_COMPACT_SHARD = 16      # files per packing shard


@register(
    "compaction_bin_packing",
    f"""
    WITH f AS (
      SELECT event_id // 250 AS file_id,
             sum(16 + octet_length(CAST(props AS BLOB))) AS bytes
      FROM events GROUP BY 1
    ), c AS (
      SELECT file_id, bytes, file_id // {_COMPACT_SHARD} AS shard,
             sum(bytes) OVER (PARTITION BY file_id // {_COMPACT_SHARD}
                              ORDER BY file_id
                              ROWS UNBOUNDED PRECEDING) - bytes AS cum_before
      FROM f
    ), a AS (
      SELECT shard, cum_before // {_COMPACT_TARGET} AS bin, file_id, bytes
      FROM c
    )
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(bin AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(bytes) AS BIGINT) AS bytes,
           CAST(min(file_id) AS BIGINT) AS first_file,
           CAST(max(file_id) AS BIGINT) AS last_file,
           CAST(sum(bytes) * 1000000 // {_COMPACT_TARGET} AS BIGINT) AS fill_ppm
    FROM a GROUP BY shard, bin ORDER BY shard, bin
    """,
)
def compaction_bin_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner (the Iceberg/Delta binPack
    maintenance job as a query): model ingest files as 250-event groups
    with their byte sizes, then pack consecutive files into
    ~{target}-byte rewrite bins via a running-sum next-fit — bin =
    floor(bytes_before / target) within a {shard}-file shard. The output
    is the rewrite manifest: per bin, the file range to coalesce, its
    actual bytes, and the fill ratio against target.

    Plan shape: one partial-aggregated shuffle builds the file-size
    table (|events|/250 rows), ONE window partitioned by shard (never a
    global cumulative sum — packing within shards is exactly how real
    compaction planners bound coordination, and it keeps the prefix sum
    partition-local at 100 TB), then a (shard, bin) rollup. All
    integer arithmetic — exact in both engines."""
    ev = load_table(spark, sf_dir, "events")
    f = ev.groupBy(F.expr("event_id div 250").alias("file_id")).agg(
        F.sum(F.lit(16) + F.octet_length("props")).alias("bytes")
    )
    w = (
        Window.partitionBy(F.expr(f"file_id div {_COMPACT_SHARD}"))
        .orderBy("file_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = f.select(
        "file_id",
        "bytes",
        F.expr(f"file_id div {_COMPACT_SHARD}").alias("shard"),
        (F.sum("bytes").over(w) - F.col("bytes")).alias("cum_before"),
    )
    a = c.select(
        "shard",
        F.expr(f"cum_before div {_COMPACT_TARGET}").alias("bin"),
        "file_id",
        "bytes",
    )
    return (
        a.groupBy("shard", "bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_files"),
            F.sum("bytes").cast("bigint").alias("bytes"),
            F.min("file_id").cast("bigint").alias("first_file"),
            F.max("file_id").cast("bigint").alias("last_file"),
            F.expr(f"CAST(sum(bytes) * 1000000 div {_COMPACT_TARGET} AS BIGINT)").alias(
                "fill_ppm"
            ),
        )
        .select(
            F.col("shard").cast("bigint"),
            F.col("bin").cast("bigint"),
            "n_files",
            "bytes",
            "first_file",
            "last_file",
            "fill_ppm",
        )
        .orderBy("shard", "bin")
    )


compaction_bin_packing.__doc__ = compaction_bin_packing.__doc__.format(
    target=_COMPACT_TARGET, shard=_COMPACT_SHARD
)


@register(
    "categorical_chi2_association",
    """
    WITH cells AS (
      SELECT c_mktsegment AS seg, o_orderpriority AS prio,
             count(*) AS n
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1, 2
    ), m AS (
      SELECT seg, prio, n,
             sum(n) OVER (PARTITION BY seg) AS r,
             sum(n) OVER (PARTITION BY prio) AS c
      FROM cells
    ), tot AS (
      SELECT sum(n) AS big_n,
             count(DISTINCT seg) AS n_seg,
             count(DISTINCT prio) AS n_prio
      FROM cells
    ), e AS (
      SELECT seg, prio, n, r * c // big_n AS expected,
             (n - r * c // big_n) * (n - r * c // big_n) * 1000000
               // greatest(r * c // big_n, 1) AS chi2_contrib_ppm,
             big_n, n_seg, n_prio
      FROM m, tot
    ), s AS (
      SELECT sum(chi2_contrib_ppm)
               // (max(big_n) * least(max(n_seg) - 1, max(n_prio) - 1))
               AS cramer_v2_ppm
      FROM e
    )
    SELECT seg, prio,
           CAST(n AS BIGINT) AS n,
           CAST(expected AS BIGINT) AS expected,
           CAST(chi2_contrib_ppm AS BIGINT) AS chi2_contrib_ppm,
           CAST(cramer_v2_ppm AS BIGINT) AS cramer_v2_ppm
    FROM e, s
    ORDER BY seg, prio
    """,
)
def categorical_chi2_association(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square association audit between two categorical columns
    (customer market segment × order priority): the full contingency
    table with expected counts under independence, per-cell chi-square
    contributions, and a squared Cramér's V headline — the
    feature-association screen a training pipeline runs to catch
    redundant or leaking categorical features before encoding them.
    V² (not V) is reported so the value stays inside exact integer
    arithmetic — no sqrt, no libm (monotone in V, which is all a
    screen needs).

    Plan: one fact-dim equi-join (customer scales with SF, so no
    broadcast hint — AQE picks the strategy; at 100 TB this is the
    standard shuffle join on custkey), ONE partial-aggregated shuffle
    to the ≤25-cell contingency table, then pure arithmetic on that
    tiny frame: margins via two PARTITIONED window sums over the cell
    frame (no re-aggregation branches — keeps the static lineage at 8
    scans), independence expectations, and two 1-row broadcast rollups.
    Integer overflow bound: (n-e)²·1e6 ≤ N²·1e6 stays under 2^63
    through sf1000."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    cells = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderpriority").alias("prio"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    m = cells.withColumn(
        "r", F.sum("n").over(Window.partitionBy("seg"))
    ).withColumn("c", F.sum("n").over(Window.partitionBy("prio")))
    tot = cells.agg(
        F.sum("n").alias("big_n"),
        F.countDistinct("seg").alias("n_seg"),
        F.countDistinct("prio").alias("n_prio"),
    )
    e = (
        m.crossJoin(F.broadcast(tot))
        .select(
            "seg",
            "prio",
            "n",
            F.expr("r * c div big_n").alias("expected"),
            F.expr(
                "(n - r * c div big_n) * (n - r * c div big_n) * 1000000"
                " div greatest(r * c div big_n, 1)"
            ).alias("chi2_contrib_ppm"),
            "big_n",
            "n_seg",
            "n_prio",
        )
    )
    s = e.agg(
        F.expr(
            "sum(chi2_contrib_ppm)"
            " div (max(big_n) * least(max(n_seg) - 1, max(n_prio) - 1))"
        ).alias("cramer_v2_ppm")
    )
    return (
        e.crossJoin(F.broadcast(s))
        .select(
            "seg",
            "prio",
            F.col("n").cast("bigint"),
            F.col("expected").cast("bigint"),
            F.col("chi2_contrib_ppm").cast("bigint"),
            F.col("cramer_v2_ppm").cast("bigint"),
        )
        .orderBy("seg", "prio")
    )


# ---------------------------------------------------------------------------
# Z-order vs ingest-order clustering: two-dimensional zone-map pruning
# ---------------------------------------------------------------------------


def _z_interleave(div: str) -> str:
    """Morton interleave of two 8-bit values xb/yb into a 16-bit code,
    as pure integer arithmetic ((v div 2^i) % 2 bit extraction) so the
    same text works in Spark (`div`) and DuckDB (`//`)."""
    terms = []
    for i in range(8):
        terms.append(f"((xb {div} {1 << i}) % 2) * {1 << (2 * i + 1)}")
        terms.append(f"((yb {div} {1 << i}) % 2) * {1 << (2 * i)}")
    return " + ".join(terms)


_ZO_PRED = ("DATE '1996-03-01'", "DATE '1996-06-30'", 100000, 200000)


def _zo_oracle() -> str:
    lo_d, hi_d, lo_p, hi_p = _ZO_PRED
    return f"""
    WITH base AS (
      SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d,
             CAST(o_totalprice AS BIGINT) AS p,
             least(255, (CAST(o_orderdate AS DATE) - DATE '1995-01-01')
                        * 256 // 2405) AS xb,
             least(255, CAST(o_totalprice AS BIGINT) * 256 // 500001) AS yb
      FROM orders
    ), coded AS (
      SELECT o_orderkey, d, p, ({_z_interleave('//')}) AS z FROM base
    ), cells AS (
      SELECT 'zorder' AS layout, z // 256 AS file_id,
             min(d) AS dmin, max(d) AS dmax,
             min(p) AS pmin, max(p) AS pmax,
             count(*) AS n_rows,
             sum(CASE WHEN d >= {lo_d} AND d <= {hi_d}
                       AND p >= {lo_p} AND p < {hi_p} THEN 1 ELSE 0 END) AS n_match
      FROM coded GROUP BY 2
      UNION ALL
      SELECT 'ingest' AS layout, o_orderkey // 256 AS file_id,
             min(d), max(d), min(p), max(p), count(*),
             sum(CASE WHEN d >= {lo_d} AND d <= {hi_d}
                       AND p >= {lo_p} AND p < {hi_p} THEN 1 ELSE 0 END)
      FROM coded GROUP BY 2
    ), flags AS (
      SELECT layout, n_rows, n_match,
             CASE WHEN dmax < {lo_d} OR dmin > {hi_d}
                    OR pmax < {lo_p} OR pmin >= {hi_p}
                  THEN 1 ELSE 0 END AS pruned
      FROM cells
    )
    SELECT layout,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(pruned) AS BIGINT) AS n_files_pruned,
           CAST(sum(CASE WHEN pruned = 1 THEN n_rows ELSE 0 END) AS BIGINT)
             AS rows_skipped,
           CAST(sum(CASE WHEN pruned = 0 THEN n_rows ELSE 0 END) AS BIGINT)
             AS rows_scanned,
           CAST(sum(n_match) AS BIGINT) AS rows_matching
    FROM flags GROUP BY layout ORDER BY layout
    """


@register("zorder_clustering_stats", _zo_oracle())
def zorder_clustering_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering benefit, measured: lay the same orders out (a)
    in Morton-curve order on (orderdate, totalprice) — 256-code z-cells
    as "files" — and (b) in ingest order (orderkey ranges), build each
    file's two-dimensional min/max zone map, and count the files a
    combined date-range × price-band predicate skips under each layout.
    In this fixture orderkey is uncorrelated with both predicate
    columns, so the ingest layout prunes nothing (sf0.01: 0 of 59
    files) while the z-cells keep BOTH dimensions tight (248 of 256
    skipped, 97% of rows) — the exact rows_skipped delta that
    justifies an OPTIMIZE ZORDER BY rewrite, and the multi-dimensional
    completion of `zonemap_pruning_stats` (whose layout key correlates
    with its predicate column — the partial-pruning case).

    The Morton code is 16 unrolled (v div 2^i) % 2 bit-extract terms —
    pure integer arithmetic, identical text in both engines, no
    engine-local bit intrinsics. Plan: one scan computes the code in
    the scan stage, two partial-aggregated shuffles (one per layout's
    ~256-group zone-map build) under one union, then a 2-row rollup.
    At 100 TB a real rewrite would range-partition on z before writing;
    the planning arithmetic here is the same at any scale."""
    lo_d, hi_d, lo_p, hi_p = _ZO_PRED
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("d"),
        F.col("o_totalprice").cast("bigint").alias("p"),
        F.expr(
            "least(255, datediff(o_orderdate, DATE '1995-01-01') * 256 div 2405)"
        ).alias("xb"),
        F.expr("least(255, CAST(o_totalprice AS BIGINT) * 256 div 500001)").alias(
            "yb"
        ),
    )
    coded = base.select(
        "o_orderkey", "d", "p", F.expr(f"({_z_interleave('div')})").alias("z")
    )
    match = F.when(
        (F.col("d") >= F.expr(lo_d))
        & (F.col("d") <= F.expr(hi_d))
        & (F.col("p") >= lo_p)
        & (F.col("p") < hi_p),
        1,
    ).otherwise(0)

    # One scan feeds BOTH layouts: each order row explodes into its two
    # (layout, file_id) memberships and a single partial-aggregated
    # shuffle builds the ~315 zone-map cells — the old per-layout UNION
    # ran the orders scan (and the 16-term Morton projection) twice and
    # shuffled twice (guide §2.2: shuffle once, scan once).
    cells = (
        coded.select(
            "d",
            "p",
            match.alias("m"),
            F.explode(
                F.array(
                    F.struct(
                        F.lit("zorder").alias("layout"),
                        F.expr("z div 256").alias("file_id"),
                    ),
                    F.struct(
                        F.lit("ingest").alias("layout"),
                        F.expr("o_orderkey div 256").alias("file_id"),
                    ),
                )
            ).alias("lf"),
        )
        .groupBy(F.col("lf.layout").alias("layout"), F.col("lf.file_id").alias("file_id"))
        .agg(
            F.min("d").alias("dmin"),
            F.max("d").alias("dmax"),
            F.min("p").alias("pmin"),
            F.max("p").alias("pmax"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("m").alias("n_match"),
        )
    )
    pruned = F.when(
        (F.col("dmax") < F.expr(lo_d))
        | (F.col("dmin") > F.expr(hi_d))
        | (F.col("pmax") < lo_p)
        | (F.col("pmin") >= hi_p),
        1,
    ).otherwise(0)
    return (
        cells.select("layout", pruned.alias("pruned"), "n_rows", "n_match")
        .groupBy("layout")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_files"),
            F.sum("pruned").cast("bigint").alias("n_files_pruned"),
            F.sum(F.when(F.col("pruned") == 1, F.col("n_rows")).otherwise(0))
            .cast("bigint")
            .alias("rows_skipped"),
            F.sum(F.when(F.col("pruned") == 0, F.col("n_rows")).otherwise(0))
            .cast("bigint")
            .alias("rows_scanned"),
            F.sum("n_match").cast("bigint").alias("rows_matching"),
        )
        .orderBy("layout")
    )


# ---------------------------------------------------------------------------
# Declarative Bloom-filter semi-join pre-filter
# ---------------------------------------------------------------------------

_BF_M = 1024   # filter bits
_BF_K = 3      # hash probes
_BF_SEGMENT = 'BUILDING'  # dim predicate: customers of this segment


def _bf_pos(dialect: str, key: str, j: int) -> str:
    """Probe-j bit position for ``key``: md5-derived 60-bit portable
    hash mod m — identical text modulo the hex-to-int idiom."""
    s = f"concat(CAST({key} AS STRING), '#', '{j}')"
    if dialect == "duckdb":
        s = f"(CAST({key} AS VARCHAR) || '#' || '{j}')"
        return f"(CAST(('0x' || substr(md5({s}), 1, 15)) AS BIGINT) % {_BF_M})"
    return f"(CAST(conv(substring(md5({s}), 1, 15), 16, 10) AS BIGINT) % {_BF_M})"


@register(
    "bloom_join_prefilter",
    f"""
    WITH dim AS (
      SELECT c_custkey FROM customer WHERE c_mktsegment = '{_BF_SEGMENT}'
    ), pos AS (
      SELECT {_bf_pos('duckdb', 'c_custkey', 0)} AS p FROM dim
      UNION ALL SELECT {_bf_pos('duckdb', 'c_custkey', 1)} FROM dim
      UNION ALL SELECT {_bf_pos('duckdb', 'c_custkey', 2)} FROM dim
    ), words AS (
      SELECT p // 32 AS word, bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS w
      FROM pos GROUP BY 1
    ), probes AS (
      SELECT o_custkey,
             {_bf_pos('duckdb', 'o_custkey', 0)} AS p0,
             {_bf_pos('duckdb', 'o_custkey', 1)} AS p1,
             {_bf_pos('duckdb', 'o_custkey', 2)} AS p2
      FROM orders
    ), tested AS (
      SELECT o_custkey,
             CASE WHEN (coalesce(w0.w, 0) >> CAST(p0 % 32 AS INT)) % 2 = 1
                   AND (coalesce(w1.w, 0) >> CAST(p1 % 32 AS INT)) % 2 = 1
                   AND (coalesce(w2.w, 0) >> CAST(p2 % 32 AS INT)) % 2 = 1
                  THEN 1 ELSE 0 END AS bloom_pass,
             CASE WHEN d.c_custkey IS NOT NULL THEN 1 ELSE 0 END AS true_match
      FROM probes
      LEFT JOIN words w0 ON p0 // 32 = w0.word
      LEFT JOIN words w1 ON p1 // 32 = w1.word
      LEFT JOIN words w2 ON p2 // 32 = w2.word
      LEFT JOIN dim d ON o_custkey = d.c_custkey
    ), agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_fact,
             CAST(sum(bloom_pass) AS BIGINT) AS n_bloom_pass,
             CAST(sum(true_match) AS BIGINT) AS n_true_match,
             CAST(sum(bloom_pass) - sum(true_match) AS BIGINT) AS n_false_pos,
             CAST((sum(bloom_pass) - sum(true_match)) * 1000000
                  // greatest(count(*) - sum(true_match), 1) AS BIGINT) AS fpr_ppm
      FROM tested
    ), load AS (
      SELECT CAST(sum(bit_count(w)) AS BIGINT) AS n_bits_set,
             CAST(sum(bit_count(w)) * 1000000 // {_BF_M} AS BIGINT) AS load_ppm
      FROM words
    )
    SELECT * FROM agg, load
    """,
)
def bloom_join_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative Bloom-filter semi-join reduction: build a {m}-bit,
    {k}-probe Bloom filter from a selective dimension (one market segment's
    customers), test every fact row against it, and report the measured
    pass/true-match/false-positive split plus the filter's bit load.
    This is the runtime-filter optimization (Spark's
    spark.sql.optimizer.runtime.bloomFilter, which hangs this pyspark
    build — SCALE.md) expressed as first-class dataflow: at 100 TB the
    32-word filter table broadcasts to every executor and discards
    non-matching fact rows BEFORE the join shuffle, turning a full
    fact exchange into a |semi-join| exchange at the price of
    fpr_ppm false passes.

    Determinism: bit positions come from the repo's md5-derived
    portable hash (never engine-local xxhash), the filter words from an
    integer bit_or aggregate, membership tests from shift/mod
    arithmetic — every value integer-exact in both engines. Plan: the
    build side is |dim|×{k} narrow rows into a ≤32-group aggregate;
    the probe side is THREE broadcast joins of that 32-row table (word
    alignment) plus one broadcast dim join for ground truth; one final
    1-row rollup beside the 1-row bit-load rollup."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    dim = customer.filter(F.col("c_mktsegment") == _BF_SEGMENT).select("c_custkey")
    # one scan: all k probe positions exploded from a single projection
    # (a per-probe UNION would replicate the dim scan into every
    # downstream reference of the words table — 12 static scans)
    pos = dim.select(
        F.explode(
            F.array(
                *[F.expr(_bf_pos("spark", "c_custkey", j)) for j in range(_BF_K)]
            )
        ).alias("p")
    )
    words = pos.groupBy(F.expr("p div 32").alias("word")).agg(
        F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT)))").alias("w")
    )
    # The whole ≤32-row filter collapses to ONE row: a word→bits map for
    # membership tests plus the bit-load stats. The old form broadcast the
    # words table into THREE separate hash joins (one per probe, each
    # re-building words from its own customer scan) and aggregated it a
    # fourth time for the load row — 4 word-table builds, 3 join nodes.
    # Now: one 1-row broadcast beside the fact scan, membership via
    # element_at (guide §3.1: the build side that fits in one row needs
    # no join at all).
    wrow = words.agg(
        F.map_from_entries(F.collect_list(F.struct("word", "w"))).alias("wm"),
        F.sum(F.expr("bit_count(w)")).cast("bigint").alias("n_bits_set"),
        F.expr(f"CAST(sum(bit_count(w)) * 1000000 div {_BF_M} AS BIGINT)").alias(
            "load_ppm"
        ),
    )
    probes = orders.select(
        "o_custkey",
        *[
            F.expr(_bf_pos("spark", "o_custkey", j)).alias(f"p{j}")
            for j in range(_BF_K)
        ],
    )
    tested = (
        probes.crossJoin(F.broadcast(wrow.select("wm")))
        .join(F.broadcast(dim), F.col("o_custkey") == F.col("c_custkey"), "left")
        .select(
            F.expr(
                " AND ".join(
                    "(shiftright(coalesce(element_at(wm, p{j} div 32),"
                    " CAST(0 AS BIGINT)), CAST(p{j} % 32 AS INT)) % 2 = 1)".format(
                        j=j
                    )
                    for j in range(_BF_K)
                )
            )
            .cast("int")
            .alias("bloom_pass"),
            F.col("c_custkey").isNotNull().cast("int").alias("true_match"),
        )
    )
    agg = tested.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_fact"),
        F.sum("bloom_pass").cast("bigint").alias("n_bloom_pass"),
        F.sum("true_match").cast("bigint").alias("n_true_match"),
        (F.sum("bloom_pass") - F.sum("true_match"))
        .cast("bigint")
        .alias("n_false_pos"),
        F.expr(
            "CAST((sum(bloom_pass) - sum(true_match)) * 1000000"
            " div greatest(count(*) - sum(true_match), 1) AS BIGINT)"
        ).alias("fpr_ppm"),
    )
    return agg.crossJoin(F.broadcast(wrow.select("n_bits_set", "load_ppm")))


bloom_join_prefilter.__doc__ = bloom_join_prefilter.__doc__.format(
    m=_BF_M, k=_BF_K
)


@register(
    "clamped_running_balance",
    """
    WITH daily AS (
      SELECT l_suppkey AS supplier, CAST(l_shipdate AS DATE) AS d,
             CAST(sum(CASE WHEN l_returnflag = 'R'
                           THEN CAST(l_quantity AS BIGINT)
                           ELSE -CAST(l_quantity AS BIGINT) END) AS BIGINT)
               AS delta
      FROM lineitem GROUP BY 1, 2
    ), cums AS (
      SELECT supplier, d,
             sum(delta) OVER (PARTITION BY supplier ORDER BY d
                              ROWS UNBOUNDED PRECEDING) AS cum
      FROM daily
    ), runs AS (
      SELECT supplier, d, cum,
             min(cum) OVER (PARTITION BY supplier ORDER BY d
                            ROWS UNBOUNDED PRECEDING) AS runmin
      FROM cums
    ), bal AS (
      SELECT supplier, d, cum - least(0, runmin) AS balance
      FROM runs
    )
    SELECT CAST(supplier AS BIGINT) AS supplier,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(arg_max(balance, d) AS BIGINT) AS final_balance,
           CAST(max(balance) AS BIGINT) AS peak_balance,
           CAST(sum(CASE WHEN balance = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_days_floored
    FROM bal GROUP BY supplier ORDER BY supplier
    """,
)
def clamped_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Floor-at-zero running inventory balance per supplier — returns
    ('R') add stock, shipments draw it down, and the balance can never
    go negative. The naive definition is a per-row recursion
    (bal_t = max(0, bal_{t-1} + delta_t)), which SQL window functions
    cannot express directly; the CLOSED FORM
    ``bal_t = cum_t - min(0, running_min(cum_t))`` computes it with two
    stacked prefix windows — the standard trick for clamped
    accumulations (capped counters, non-negative cash registers,
    overflow-less queues) that keeps the whole computation in one
    partitioned window pipeline instead of a sequential loop.

    Plan: one partial-aggregated shuffle to (supplier, day) deltas,
    ONE hash shuffle on supplier serving both window passes (same
    partitioning — Catalyst collapses them into a single sort), then a
    supplier-keyed rollup with a deterministic arg_max/max_by final
    pick (day is unique per supplier after the pre-aggregate). All
    BIGINT, exact in both engines; per-key history length bounds the
    window memory exactly as in scd2_history."""
    li = load_table(spark, sf_dir, "lineitem")
    daily = (
        li.groupBy(
            F.col("l_suppkey").alias("supplier"),
            F.col("l_shipdate").cast("date").alias("d"),
        )
        .agg(
            F.sum(
                F.when(
                    F.col("l_returnflag") == "R",
                    F.col("l_quantity").cast("bigint"),
                ).otherwise(-F.col("l_quantity").cast("bigint"))
            )
            .cast("bigint")
            .alias("delta")
        )
    )
    w = (
        Window.partitionBy("supplier")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    runs = daily.withColumn("cum", F.sum("delta").over(w)).withColumn(
        "runmin", F.min("cum").over(w)
    )
    bal = runs.select(
        "supplier",
        "d",
        (F.col("cum") - F.least(F.lit(0), F.col("runmin"))).alias("balance"),
    )
    return (
        bal.groupBy("supplier")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.expr("max_by(balance, d)").cast("bigint").alias("final_balance"),
            F.max("balance").cast("bigint").alias("peak_balance"),
            F.sum(F.when(F.col("balance") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_days_floored"),
        )
        .select(
            F.col("supplier").cast("bigint"),
            "n_days",
            "final_balance",
            "peak_balance",
            "n_days_floored",
        )
        .orderBy("supplier")
    )


# ---------------------------------------------------------------------------
# Rendezvous (HRW) sharding vs mod-hash: resize movement, measured
# ---------------------------------------------------------------------------

_RDV_N = 8  # shard count before the resize (after: N+1)


def _rdv_w(dialect: str) -> str:
    """Portable per-(doc, shard) rendezvous weight."""
    if dialect == "duckdb":
        return ("CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#'"
                " || CAST(s AS VARCHAR)), 1, 15)) AS BIGINT)")
    return ("CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), '#',"
            " CAST(s AS STRING))), 1, 15), 16, 10) AS BIGINT)")


def _rdv_h(dialect: str) -> str:
    if dialect == "duckdb":
        return "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)"
    return "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT)"


@register(
    "rendezvous_sharding_drift",
    f"""
    WITH e AS (
      SELECT doc_id, s.s, {_rdv_w('duckdb')} AS w
      FROM documents CROSS JOIN (SELECT unnest(range(0, {_RDV_N + 1})) AS s) s
    ), wx AS (
      SELECT doc_id, s, w,
             max(CASE WHEN s < {_RDV_N} THEN w END)
               OVER (PARTITION BY doc_id) AS mx8,
             max(w) OVER (PARTITION BY doc_id) AS mx9
      FROM e
    ), rdv AS (
      SELECT doc_id,
             min(CASE WHEN s < {_RDV_N} AND w = mx8 THEN s END) AS r_before,
             min(CASE WHEN w = mx9 THEN s END) AS r_after
      FROM wx GROUP BY doc_id
    ), modh AS (
      SELECT doc_id,
             {_rdv_h('duckdb')} % {_RDV_N} AS m_before,
             {_rdv_h('duckdb')} % {_RDV_N + 1} AS m_after
      FROM documents
    )
    SELECT scheme, n_docs, n_moved, moved_ppm FROM (
      SELECT 'rendezvous' AS scheme,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN r_before <> r_after THEN 1 ELSE 0 END) AS BIGINT)
               AS n_moved,
             CAST(sum(CASE WHEN r_before <> r_after THEN 1 ELSE 0 END)
                  * 1000000 // count(*) AS BIGINT) AS moved_ppm
      FROM rdv
      UNION ALL
      SELECT 'mod' AS scheme,
             CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN m_before <> m_after THEN 1 ELSE 0 END) AS BIGINT),
             CAST(sum(CASE WHEN m_before <> m_after THEN 1 ELSE 0 END)
                  * 1000000 // count(*) AS BIGINT)
      FROM modh
    ) ORDER BY scheme
    """,
)
def rendezvous_sharding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consistent-hashing resize audit: assign every document to one of
    {n} shards by rendezvous (highest-random-weight) hashing AND by
    plain mod-hash, grow the cluster to {n1} shards, and measure how
    many documents MOVE under each scheme. Rendezvous moves only the
    ~1/{n1} of keys whose new shard wins the weight race (≈111k ppm
    here); mod-hash reshuffles ~{n}/{n1} of the corpus (≈889k ppm) —
    the measured argument for rendezvous/consistent placement in any
    sharded store or shuffle-stable cache, complementing the
    load-balance view of `shard_assignment`.

    Plan: the weight table is a {n1}× narrow scan-stage fanout; both
    argmax picks come from ONE doc-partitioned window (mx over the
    {n1}-row group, min-s tie-break — deterministic even under hash
    collisions) and collapse in the same shuffle's groupBy; the mod
    scheme is a second scan-stage projection with a 1-row rollup.
    All md5-portable integers; per-doc state is {n1} rows at any SF."""
    docs = load_table(spark, sf_dir, "documents")
    e = docs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(_RDV_N))).alias("s"),
    ).select("doc_id", "s", F.expr(_rdv_w("spark")).alias("w"))
    wd = Window.partitionBy("doc_id")
    wx = e.withColumn(
        "mx8", F.max(F.when(F.col("s") < _RDV_N, F.col("w"))).over(wd)
    ).withColumn("mx9", F.max("w").over(wd))
    rdv = wx.groupBy("doc_id").agg(
        F.min(
            F.when((F.col("s") < _RDV_N) & (F.col("w") == F.col("mx8")), F.col("s"))
        ).alias("r_before"),
        F.min(F.when(F.col("w") == F.col("mx9"), F.col("s"))).alias("r_after"),
    )
    rsum = rdv.agg(
        F.lit("rendezvous").alias("scheme"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("r_before") != F.col("r_after"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_moved"),
        F.expr(
            "CAST(sum(CASE WHEN r_before <> r_after THEN 1 ELSE 0 END)"
            " * 1000000 div count(*) AS BIGINT)"
        ).alias("moved_ppm"),
    )
    modh = docs.select(
        F.expr(f"{_rdv_h('spark')} % {_RDV_N}").alias("m_before"),
        F.expr(f"{_rdv_h('spark')} % {_RDV_N + 1}").alias("m_after"),
    )
    msum = modh.agg(
        F.lit("mod").alias("scheme"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("m_before") != F.col("m_after"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_moved"),
        F.expr(
            "CAST(sum(CASE WHEN m_before <> m_after THEN 1 ELSE 0 END)"
            " * 1000000 div count(*) AS BIGINT)"
        ).alias("moved_ppm"),
    )
    return rsum.unionByName(msum).orderBy("scheme")


rendezvous_sharding_drift.__doc__ = rendezvous_sharding_drift.__doc__.format(
    n=_RDV_N, n1=_RDV_N + 1
)


@register(
    "dictionary_encoding_stats",
    """
    WITH unp AS (
      SELECT 'p_name' AS col, p_name AS val FROM part
      UNION ALL SELECT 'p_brand', p_brand FROM part
      UNION ALL SELECT 'p_type', p_type FROM part
    ), per_val AS (
      SELECT col, val, count(*) AS cnt FROM unp GROUP BY col, val
    ), stats AS (
      SELECT col,
             CAST(sum(cnt) AS BIGINT) AS n_rows,
             CAST(count(*) AS BIGINT) AS ndv,
             CAST(sum(cnt * length(val)) AS BIGINT) AS plain_bytes,
             CAST(sum(length(val)) AS BIGINT) AS dict_payload_bytes,
             CAST(length(bin(greatest(count(*) - 1, 1))) AS BIGINT) AS code_bits
      FROM per_val GROUP BY col
    )
    SELECT col, n_rows, ndv, plain_bytes,
           CAST(dict_payload_bytes + (n_rows * code_bits + 7) // 8 AS BIGINT)
             AS dict_bytes,
           CAST((dict_payload_bytes + (n_rows * code_bits + 7) // 8)
                * 1000000 // plain_bytes AS BIGINT) AS dict_ratio_ppm
    FROM stats ORDER BY col
    """,
)
def dictionary_encoding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-encoding advisor: for each candidate string column,
    compare plain encoding (sum of value bytes) against dictionary
    encoding (distinct-value payload + ceil(log2(ndv))-bit codes per
    row) — the decision parquet writers make per column chunk, surfaced
    as a query so a pipeline can pick encodings / flag high-cardinality
    columns before a 100 TB write. On the fixture all three columns
    dictionary-compress (p_type ndv 6 → 65k ppm of plain, p_brand 25 →
    94k, p_name 64 → 113k); the advisor's value is the ORDERING and
    the crossover arithmetic — a genuinely high-cardinality column
    drives dict_payload_bytes toward plain_bytes plus pays the code
    stream, pushing dict_ratio_ppm past 1e6, the writer's fall-back-
    to-plain signal.

    Plan: one stacked scan unpivots the columns (3× narrow fanout —
    column count, not row count), one (col, val) partial-aggregated
    shuffle builds the per-column dictionary histogram, one |cols|-row
    rollup derives the byte arithmetic (bit width via length(bin(n)) —
    integer-exact in both engines)."""
    part = load_table(spark, sf_dir, "part")
    unp = None
    for c in ("p_name", "p_brand", "p_type"):
        sel = part.select(F.lit(c).alias("col"), F.col(c).alias("val"))
        unp = sel if unp is None else unp.unionByName(sel)
    per_val = unp.groupBy("col", "val").agg(F.count(F.lit(1)).alias("cnt"))
    stats = per_val.groupBy("col").agg(
        F.sum("cnt").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("ndv"),
        F.sum(F.col("cnt") * F.length("val")).cast("bigint").alias("plain_bytes"),
        F.sum(F.length("val")).cast("bigint").alias("dict_payload_bytes"),
        F.expr("CAST(length(bin(greatest(count(*) - 1, 1))) AS BIGINT)").alias(
            "code_bits"
        ),
    )
    return stats.select(
        "col",
        "n_rows",
        "ndv",
        "plain_bytes",
        F.expr(
            "CAST(dict_payload_bytes + (n_rows * code_bits + 7) div 8 AS BIGINT)"
        ).alias("dict_bytes"),
        F.expr(
            "CAST((dict_payload_bytes + (n_rows * code_bits + 7) div 8)"
            " * 1000000 div plain_bytes AS BIGINT)"
        ).alias("dict_ratio_ppm"),
    ).orderBy("col")


@register(
    "rle_encoding_stats",
    """
    WITH base AS (
      SELECT l_orderkey, l_linenumber, l_orderkey // 512 AS rg,
             l_returnflag, l_linestatus,
             strftime(l_shipdate, '%Y-%m-%d') AS ship_day
      FROM lineitem
    ), unp AS (
      SELECT rg, l_orderkey, l_linenumber,
             'l_returnflag' AS col, l_returnflag AS val FROM base
      UNION ALL SELECT rg, l_orderkey, l_linenumber,
             'l_linestatus', l_linestatus FROM base
      UNION ALL SELECT rg, l_orderkey, l_linenumber,
             'ship_day', ship_day FROM base
    ), runs AS (
      SELECT col, val,
             CASE WHEN lag(val) OVER w IS NULL OR lag(val) OVER w <> val
                  THEN 1 ELSE 0 END AS run_start
      FROM unp
      WINDOW w AS (PARTITION BY col, rg ORDER BY l_orderkey, l_linenumber, val)
    )
    SELECT col,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(run_start) AS BIGINT) AS n_runs,
           CAST(count(*) * 100 // sum(run_start) AS BIGINT)
             AS mean_run_len_centi,
           CAST(sum(length(val)) AS BIGINT) AS plain_bytes,
           CAST(sum(CASE WHEN run_start = 1 THEN length(val) + 4 ELSE 0 END)
                AS BIGINT) AS rle_bytes,
           CAST(sum(CASE WHEN run_start = 1 THEN length(val) + 4 ELSE 0 END)
                * 1000000 // sum(length(val)) AS BIGINT) AS rle_ratio_ppm
    FROM runs GROUP BY col ORDER BY col
    """,
)
def rle_encoding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length-encoding advisor — the second half of the parquet
    writer's per-column-chunk encoding decision (dictionary_encoding_stats
    covers DICT; this covers RLE, which wins on sorted/clustered layouts):
    within each 512-row "row group" of the ingest layout (l_orderkey
    clustering), count value runs per column and compare plain bytes
    against run payloads (value + 4-byte run length). Low-cardinality
    columns under a clustered layout (l_returnflag: 3 values) RLE-compress
    hard; the ship-day column, unclustered by ship date, stays near 1:1 —
    the advisor's ORDERING tells the writer (and a z-order/sort-layout
    planner, cf. zorder_clustering_stats) which columns reward a sort.

    Plan: one stacked scan (3× column fanout), one window per (col, rg)
    partition — thousands of independent partitions, no global sort —
    then a |cols|-row rollup. Runs never cross row-group boundaries,
    exactly like the real writer, so the window partitioning IS the
    parallelism at 100 TB."""
    li = load_table(spark, sf_dir, "lineitem")
    # r14 (guide §2.3 — the column_domain_overlap recipe): the three
    # profiled columns leave ONE lineitem scan as an in-array (col, val)
    # stack; the old 3-way union ran one scan per column, re-reading the
    # (orderkey, linenumber) keys three times. Same 3n stacked rows into
    # the same window exchange.
    unp = li.select(
        F.expr("l_orderkey div 512").alias("rg"),
        "l_orderkey",
        "l_linenumber",
        F.explode(
            F.array(
                F.struct(
                    F.lit("l_returnflag").alias("col"),
                    F.col("l_returnflag").alias("val"),
                ),
                F.struct(
                    F.lit("l_linestatus").alias("col"),
                    F.col("l_linestatus").alias("val"),
                ),
                F.struct(
                    F.lit("ship_day").alias("col"),
                    F.date_format("l_shipdate", "yyyy-MM-dd").alias("val"),
                ),
            )
        ).alias("cv"),
    ).select("rg", "l_orderkey", "l_linenumber", "cv.col", "cv.val")
    # (l_orderkey, l_linenumber) is NOT unique in the fixture; appending
    # val makes the order total for run counting (equal-val ties are
    # interchangeable — they can never move a run boundary). One explicit
    # lag column instead of two identical lag expressions in the
    # run_start predicate.
    w = Window.partitionBy("col", "rg").orderBy("l_orderkey", "l_linenumber", "val")
    runs = unp.withColumn("__prev", F.lag("val").over(w)).withColumn(
        "run_start",
        F.when(
            F.col("__prev").isNull() | (F.col("__prev") != F.col("val")),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    return (
        runs.groupBy("col")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("run_start").cast("bigint").alias("n_runs"),
            F.expr("CAST(count(*) * 100 div sum(run_start) AS BIGINT)").alias(
                "mean_run_len_centi"
            ),
            F.sum(F.length("val")).cast("bigint").alias("plain_bytes"),
            F.sum(
                F.when(F.col("run_start") == 1, F.length("val") + 4).otherwise(0)
            )
            .cast("bigint")
            .alias("rle_bytes"),
            F.expr(
                "CAST(sum(CASE WHEN run_start = 1 THEN length(val) + 4 ELSE 0 END)"
                " * 1000000 div sum(length(val)) AS BIGINT)"
            ).alias("rle_ratio_ppm"),
        )
        .orderBy("col")
    )


@register(
    "delta_encoding_advisor",
    """
    WITH base AS (
      SELECT o_orderkey, o_orderkey // 512 AS rg, o_custkey,
             CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
               AS order_epoch_day
      FROM orders
    ), unp AS (
      SELECT rg, o_orderkey AS k, 'o_orderkey' AS col,
             CAST(o_orderkey AS BIGINT) AS val FROM base
      UNION ALL SELECT rg, o_orderkey, 'o_custkey',
             CAST(o_custkey AS BIGINT) FROM base
      UNION ALL SELECT rg, o_orderkey, 'order_epoch_day',
             order_epoch_day FROM base
    ), d AS (
      SELECT col, rg, val,
             val - lag(val) OVER (PARTITION BY col, rg ORDER BY k) AS delta
      FROM unp
    ), blk AS (
      SELECT col, rg, CAST(count(*) AS BIGINT) AS n,
             CAST(length(bin(coalesce(greatest(max(abs(val)), 1), 1)))
                  AS BIGINT) AS vbits,
             CAST(length(bin(coalesce(greatest(max(2 * abs(delta)), 1), 1)))
                  AS BIGINT) AS dbits
      FROM d GROUP BY col, rg
    )
    SELECT col,
           CAST(sum(n) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_blocks,
           CAST(sum(n * vbits) AS BIGINT) AS packed_bits,
           CAST(sum(128 + (n - 1) * dbits) AS BIGINT) AS delta_bits,
           CAST(sum(128 + (n - 1) * dbits) * 1000000 // sum(n * vbits)
                AS BIGINT) AS delta_ratio_ppm
    FROM blk GROUP BY col ORDER BY col
    """,
)
def delta_encoding_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELTA_BINARY_PACKED advisor for integer columns — the third leg of
    the encoding-decision family (dictionary_encoding_stats: DICT,
    rle_encoding_stats: RLE): per 512-row block in key layout order,
    compare bit-packing the values (bits of max |value|) against delta
    encoding (128-bit block header + bits of max zigzag delta ≈ 2|Δ| per
    remaining value). A key laid out in insert order (o_orderkey: Δ=1 →
    2 bits/value) crushes; a foreign key with random deltas (o_custkey)
    gains nothing over packing — the ordering the writer needs. Bit
    widths come from length(bin(n)), integer-exact in both engines (the
    doclen_log2_histogram trick); zero/no-delta blocks are floored at 1
    bit via coalesce(greatest(..,1),1), identical semantics both sides.

    Plan: stacked scan (3× column fanout), per-(col, block) lag window —
    independent 512-row partitions, embarrassingly parallel — a (col, rg)
    partial-aggregated rollup, then a |cols|-row final. No global state
    at any scale."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        F.expr("o_orderkey div 512").alias("rg"),
        "o_custkey",
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01"))
        .cast("bigint")
        .alias("order_epoch_day"),
    )
    unp = None
    for c in ("o_orderkey", "o_custkey", "order_epoch_day"):
        sel = base.select(
            "rg",
            F.col("o_orderkey").alias("k"),
            F.lit(c).alias("col"),
            F.col(c).cast("bigint").alias("val"),
        )
        unp = sel if unp is None else unp.unionByName(sel)
    w = Window.partitionBy("col", "rg").orderBy("k")
    d = unp.withColumn("delta", F.col("val") - F.lag("val").over(w))
    blk = d.groupBy("col", "rg").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr(
            "CAST(length(bin(coalesce(greatest(max(abs(val)), 1), 1))) AS BIGINT)"
        ).alias("vbits"),
        F.expr(
            "CAST(length(bin(coalesce(greatest(max(2 * abs(delta)), 1), 1)))"
            " AS BIGINT)"
        ).alias("dbits"),
    )
    return (
        blk.groupBy("col")
        .agg(
            F.sum("n").cast("bigint").alias("n_rows"),
            F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
            F.sum(F.col("n") * F.col("vbits")).cast("bigint").alias("packed_bits"),
            F.sum(F.lit(128) + (F.col("n") - 1) * F.col("dbits"))
            .cast("bigint")
            .alias("delta_bits"),
            F.expr(
                "CAST(sum(128 + (n - 1) * dbits) * 1000000 div sum(n * vbits)"
                " AS BIGINT)"
            ).alias("delta_ratio_ppm"),
        )
        .orderBy("col")
    )


_SPA_TARGET = 1 << 18  # fixture-scaled partition target (256 KiB); prod: 128 MiB


@register(
    "shuffle_plan_advisor",
    f"""
    WITH keyed AS (
      SELECT user_id,
             CAST(40 + length(event_type) + length(coalesce(props, ''))
                  AS BIGINT) AS row_bytes
      FROM events
    ), per_key AS (
      SELECT user_id, CAST(sum(row_bytes) AS BIGINT) AS key_bytes,
             CAST(count(*) AS BIGINT) AS n_rows
      FROM keyed GROUP BY user_id
    ), tot AS (
      SELECT CAST(sum(n_rows) AS BIGINT) AS n_rows,
             CAST(count(*) AS BIGINT) AS n_keys,
             CAST(sum(key_bytes) AS BIGINT) AS total_bytes,
             CAST(max(key_bytes) AS BIGINT) AS max_key_bytes
      FROM per_key
    ), skew AS (
      SELECT CAST(count(*) AS BIGINT) AS skewed_keys
      FROM per_key, tot
      WHERE per_key.key_bytes * tot.n_keys > 2 * tot.total_bytes
    )
    SELECT tot.n_rows, tot.n_keys, tot.total_bytes, tot.max_key_bytes,
           CAST((tot.total_bytes + {_SPA_TARGET - 1}) // {_SPA_TARGET}
                AS BIGINT) AS recommended_partitions,
           CAST((tot.max_key_bytes + {_SPA_TARGET - 1}) // {_SPA_TARGET}
                AS BIGINT) AS max_key_salt_factor,
           CAST(tot.max_key_bytes * 1000000 // tot.total_bytes AS BIGINT)
             AS max_key_share_ppm,
           skew.skewed_keys
    FROM tot, skew
    """,
)
def shuffle_plan_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-sizing pre-flight — turns the skew DIAGNOSTICS
    (join_key_skew_profile: who is heavy; join_cardinality_preflight:
    how big is the join output) into the CONF DECISIONS a 100 TB job
    actually needs: ``spark.sql.shuffle.partitions`` (total shuffled
    bytes / target partition size, ceil), the salt factor for the
    heaviest key (its bytes / target, ceil — the replication count a
    salted-join would use), the heaviest key's corpus share, and how
    many keys exceed 2× the mean (AQE skew-split candidates). Row bytes
    are estimated from the actual payload widths (fixed fields + string
    lengths), not row counts — a key with few huge rows skews as hard
    as one with many small rows. Target is 256 KiB fixture-scaled
    (prod: 128 MiB — same arithmetic, one constant).

    Plan: one partial-aggregated shuffle keyed on user_id builds the
    per-key byte histogram; everything downstream is 1-row arithmetic
    (the totals row broadcasts into the skew count — a whitelisted
    fixed-1-row nested loop, never data-sized)."""
    events = load_table(spark, sf_dir, "events")
    per_key = (
        events.select(
            "user_id",
            (
                F.lit(40)
                + F.length("event_type")
                + F.length(F.coalesce(F.col("props"), F.lit("")))
            )
            .cast("bigint")
            .alias("row_bytes"),
        )
        .groupBy("user_id")
        .agg(
            F.sum("row_bytes").cast("bigint").alias("key_bytes"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        )
    )
    tot = per_key.agg(
        F.sum("n_rows").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum("key_bytes").cast("bigint").alias("total_bytes"),
        F.max("key_bytes").cast("bigint").alias("max_key_bytes"),
    )
    skew = (
        per_key.crossJoin(
            F.broadcast(
                tot.select(
                    F.col("n_keys").alias("__nk"),
                    F.col("total_bytes").alias("__tb"),
                )
            )
        )
        .filter(F.col("key_bytes") * F.col("__nk") > 2 * F.col("__tb"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("skewed_keys"))
    )
    t = _SPA_TARGET
    return tot.crossJoin(F.broadcast(skew)).select(
        "n_rows",
        "n_keys",
        "total_bytes",
        "max_key_bytes",
        F.expr(f"CAST((total_bytes + {t - 1}) div {t} AS BIGINT)").alias(
            "recommended_partitions"
        ),
        F.expr(f"CAST((max_key_bytes + {t - 1}) div {t} AS BIGINT)").alias(
            "max_key_salt_factor"
        ),
        F.expr("CAST(max_key_bytes * 1000000 div total_bytes AS BIGINT)").alias(
            "max_key_share_ppm"
        ),
        "skewed_keys",
    )


@register(
    "predicate_selectivity_audit",
    """
    WITH agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN l_quantity < 10 THEN 1 ELSE 0 END) AS BIGINT)
               AS na,
             CAST(sum(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT)
               AS nb,
             CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
               AS nc,
             CAST(sum(CASE WHEN l_quantity < 10 AND l_discount > 0.05
                           THEN 1 ELSE 0 END) AS BIGINT) AS nab,
             CAST(sum(CASE WHEN l_quantity < 10 AND l_returnflag = 'R'
                           THEN 1 ELSE 0 END) AS BIGINT) AS nac,
             CAST(sum(CASE WHEN l_discount > 0.05 AND l_returnflag = 'R'
                           THEN 1 ELSE 0 END) AS BIGINT) AS nbc,
             CAST(sum(CASE WHEN l_quantity < 10 AND l_discount > 0.05
                            AND l_returnflag = 'R'
                           THEN 1 ELSE 0 END) AS BIGINT) AS nabc
      FROM lineitem
    ), ppm AS (
      SELECT n, na * 1000000 // n AS pa, nb * 1000000 // n AS pb,
             nc * 1000000 // n AS pc,
             nab * 1000000 // n AS pab, nac * 1000000 // n AS pac,
             nbc * 1000000 // n AS pbc, nabc * 1000000 // n AS pabc
      FROM agg
    )
    SELECT pred_set, CAST(est_ppm AS BIGINT) AS est_ppm,
           CAST(actual_ppm AS BIGINT) AS actual_ppm,
           CAST(abs(est_ppm - actual_ppm) AS BIGINT) AS err_ppm
    FROM (
      SELECT 'qty & disc' AS pred_set, pa * pb // 1000000 AS est_ppm,
             pab AS actual_ppm FROM ppm
      UNION ALL
      SELECT 'qty & flag', pa * pc // 1000000, pac FROM ppm
      UNION ALL
      SELECT 'disc & flag', pb * pc // 1000000, pbc FROM ppm
      UNION ALL
      SELECT 'qty & disc & flag',
             pa * pb // 1000000 * pc // 1000000, pabc FROM ppm
    ) ORDER BY pred_set
    """,
)
def predicate_selectivity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-based-optimizer reality check: the independence assumption
    every CBO (and Spark's own stats-based join reorder) uses for
    conjunctive predicates — sel(A∧B) ≈ sel(A)·sel(B) — audited against
    the true conjunctive counts, per predicate pair and the triple, in
    exact ppm integer arithmetic (marginal ppms multiplied then floored,
    the same order both engines). Correlated predicates (quantity and
    discount are independent by construction; returnflag correlates with
    ship date) show up as err_ppm — the signal that a column-group
    statistic / multi-dim histogram is needed before trusting a plan at
    100 TB (the zonemap/zorder advisors tell you how to LAY OUT;
    this tells you when the OPTIMIZER's row estimates lie).

    Plan: ONE scan computes all eight conditional counts as a 1-row
    aggregate (no per-predicate passes); the 4-row report is a stack()
    over that single row. Scan-bound at any scale."""
    li = load_table(spark, sf_dir, "lineitem")
    A = "l_quantity < 10"
    B = "l_discount > 0.05"
    C = "l_returnflag = 'R'"
    agg = li.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr(f"CAST(sum(CASE WHEN {A} THEN 1 ELSE 0 END) AS BIGINT)").alias("na"),
        F.expr(f"CAST(sum(CASE WHEN {B} THEN 1 ELSE 0 END) AS BIGINT)").alias("nb"),
        F.expr(f"CAST(sum(CASE WHEN {C} THEN 1 ELSE 0 END) AS BIGINT)").alias("nc"),
        F.expr(
            f"CAST(sum(CASE WHEN {A} AND {B} THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("nab"),
        F.expr(
            f"CAST(sum(CASE WHEN {A} AND {C} THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("nac"),
        F.expr(
            f"CAST(sum(CASE WHEN {B} AND {C} THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("nbc"),
        F.expr(
            f"CAST(sum(CASE WHEN {A} AND {B} AND {C} THEN 1 ELSE 0 END)"
            " AS BIGINT)"
        ).alias("nabc"),
    )
    ppm = agg.select(
        F.expr("na * 1000000 div n").alias("pa"),
        F.expr("nb * 1000000 div n").alias("pb"),
        F.expr("nc * 1000000 div n").alias("pc"),
        F.expr("nab * 1000000 div n").alias("pab"),
        F.expr("nac * 1000000 div n").alias("pac"),
        F.expr("nbc * 1000000 div n").alias("pbc"),
        F.expr("nabc * 1000000 div n").alias("pabc"),
    )
    stacked = ppm.select(
        F.expr(
            "stack(4,"
            " 'qty & disc', pa * pb div 1000000, pab,"
            " 'qty & flag', pa * pc div 1000000, pac,"
            " 'disc & flag', pb * pc div 1000000, pbc,"
            " 'qty & disc & flag', pa * pb div 1000000 * pc div 1000000, pabc"
            ") AS (pred_set, est_raw, actual_raw)"
        )
    )
    return stacked.select(
        "pred_set",
        F.col("est_raw").cast("bigint").alias("est_ppm"),
        F.col("actual_raw").cast("bigint").alias("actual_ppm"),
        F.abs(F.col("est_raw") - F.col("actual_raw"))
        .cast("bigint")
        .alias("err_ppm"),
    ).orderBy("pred_set")


@register(
    "item_cf_cosine2_topk",
    """
    WITH basket AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), n_item AS (
      SELECT l_partkey, CAST(count(*) AS BIGINT) AS n FROM basket GROUP BY 1
    ), pair AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb,
             CAST(count(*) AS BIGINT) AS n_co
      FROM basket a
      JOIN basket b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= 2
    ), sym AS (
      SELECT pa AS item, pb AS neighbor, n_co FROM pair
      UNION ALL
      SELECT pb, pa, n_co FROM pair
    ), scored AS (
      SELECT s.item, s.neighbor, ni.n AS n_item, nn.n AS n_neighbor, s.n_co,
             CAST(s.n_co * s.n_co * 1000000 // (ni.n * nn.n) AS BIGINT)
               AS cos2_ppm
      FROM sym s
      JOIN n_item ni ON s.item = ni.l_partkey
      JOIN n_item nn ON s.neighbor = nn.l_partkey
    ), ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY item ORDER BY cos2_ppm DESC, neighbor) AS rk
      FROM scored
    )
    SELECT item, neighbor, n_item, n_neighbor, n_co, cos2_ppm,
           CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 3 ORDER BY item, rk
    """,
)
def item_cf_cosine2_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering serving table: for each part, the
    top-3 most-similar parts by co-purchase cosine — the "users who bought
    X also bought Y" primitive. Cosine over binary basket vectors is
    n_co/√(n_a·n_b); to keep libm's sqrt out of the hash we rank by
    SQUARED cosine in exact ppm (n_co²·10⁶ div n_a·n_b), monotone in
    cosine, same trick as bigram_pmi_top's linear PMI. A co-count floor
    (n_co ≥ 2) drops noise pairs, standard CF practice; complements
    market_basket_pairs (support/lift of a pair) with the per-item
    RANKED neighbor list a recommender actually serves.

    Scale (r14): the pair counts ARE the session-shared co-purchase
    edge frame's ``together`` column (r12 family design — number of
    distinct orders containing both parts ≡ the old per-basket
    collect_set pair explode's one-per-order contribution, the exact
    equivalence documented on _build_copurchase_edges), so this query
    joins the family and reads the ONE persisted build instead of
    re-running its own basket shuffle — which the r7s2 form ran TWICE,
    once each for the pair explode and the per-item counts (two
    unshared consumers of the same collect_set aggregate). The per-item
    denominator is a distinct-first fact aggregate (|distinct
    (order, part)| → per-part count). The scoring joins key on
    pre-aggregated per-item counts (dimension-sized), the per-item
    top-3 is one item-partitioned window — no global sort."""
    from dbtransfer_spark.operators.shared_frames import copurchase_edges

    li = load_table(spark, sf_dir, "lineitem")
    pair = (
        copurchase_edges(spark, sf_dir)
        .select(
            F.col("u").alias("pa"),
            F.col("v").alias("pb"),
            F.col("together").cast("bigint").alias("n_co"),
        )
        .filter(F.col("n_co") >= 2)
    )
    n_item = (
        li.select("l_orderkey", "l_partkey")
        .distinct()
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    sym = pair.select(
        F.col("pa").alias("item"), F.col("pb").alias("neighbor"), "n_co"
    ).unionByName(
        pair.select(
            F.col("pb").alias("item"), F.col("pa").alias("neighbor"), "n_co"
        )
    )
    scored = (
        sym.join(
            n_item.select(
                F.col("l_partkey").alias("item"), F.col("n").alias("n_item")
            ),
            "item",
        )
        .join(
            n_item.select(
                F.col("l_partkey").alias("neighbor"),
                F.col("n").alias("n_neighbor"),
            ),
            "neighbor",
        )
        .select(
            "item",
            "neighbor",
            "n_item",
            "n_neighbor",
            "n_co",
            F.expr(
                "CAST(n_co * n_co * 1000000 div (n_item * n_neighbor) AS BIGINT)"
            ).alias("cos2_ppm"),
        )
    )
    w = Window.partitionBy("item").orderBy(F.desc("cos2_ppm"), "neighbor")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= 3)
        .orderBy("item", "rk")
    )


@register(
    "retention_hazard_curve",
    """
    WITH peru AS (
      SELECT user_id,
             CAST(min(CAST(ts AS DATE)) - DATE '1970-01-01' AS BIGINT) AS fd,
             CAST(max(CAST(ts AS DATE)) - DATE '1970-01-01' AS BIGINT) AS ld
      FROM events GROUP BY user_id
    ), mx AS (
      SELECT max(ld) AS maxd FROM peru
    ), u AS (
      SELECT ld - fd AS span, (maxd - ld > 3) AS churned FROM peru, mx
    ), ex AS (
      SELECT CAST(k AS BIGINT) AS day_k, span, churned
      FROM u, UNNEST(range(0, least(span, 14) + 1)) AS t(k)
    )
    SELECT day_k,
           CAST(count(*) AS BIGINT) AS n_at_risk,
           CAST(sum(CASE WHEN churned AND span = day_k THEN 1 ELSE 0 END)
                AS BIGINT) AS n_churned,
           CAST(sum(CASE WHEN churned AND span = day_k THEN 1 ELSE 0 END)
                * 1000000 // count(*) AS BIGINT) AS hazard_ppm
    FROM ex GROUP BY day_k ORDER BY day_k
    """,
)
def retention_hazard_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier-style discrete hazard table for user retention — the
    survival-analysis ingredients (n at risk, events, hazard) with
    right-censoring handled correctly: a user's observed span runs from
    first to last activity day; users still active near the corpus end
    (last activity within 3 days of the global max) are CENSORED — they
    count in the at-risk denominator for every day they were observed
    but never as a churn event. Emits per day-since-first-seen k ≤ 14:
    n_at_risk = users observed ≥ k days, n_churned = churned users whose
    span ended exactly at k, hazard in exact ppm. No cumulative product
    (that's the consumer's one multiplication chain over ≤15 rows), so
    no cross-engine float drift; complements events_retention_cohorts
    (calendar-cohort matrix) with the duration-model view.

    Scale: one user-keyed aggregate (partial-aggregated), a 1-row global
    max broadcast onto it (whitelisted fixed-size nested loop), a ≤15×
    bounded explode, one day-keyed rollup. Linear in users."""
    events = load_table(spark, sf_dir, "events")
    peru = events.groupBy("user_id").agg(
        F.datediff(F.min(F.to_date("ts")), F.lit("1970-01-01"))
        .cast("bigint")
        .alias("fd"),
        F.datediff(F.max(F.to_date("ts")), F.lit("1970-01-01"))
        .cast("bigint")
        .alias("ld"),
    )
    mx = peru.agg(F.max("ld").alias("maxd"))
    u = peru.crossJoin(F.broadcast(mx)).select(
        (F.col("ld") - F.col("fd")).alias("span"),
        (F.col("maxd") - F.col("ld") > 3).alias("churned"),
    )
    ex = u.select(
        F.explode(F.expr("sequence(0, least(span, 14))")).alias("day_k"),
        "span",
        "churned",
    ).withColumn("day_k", F.col("day_k").cast("bigint"))
    return (
        ex.groupBy("day_k")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_at_risk"),
            F.sum(
                F.when(F.col("churned") & (F.col("span") == F.col("day_k")), 1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("n_churned"),
            F.expr(
                "CAST(sum(CASE WHEN churned AND span = day_k THEN 1 ELSE 0 END)"
                " * 1000000 div count(*) AS BIGINT)"
            ).alias("hazard_ppm"),
        )
        .orderBy("day_k")
    )


@register(
    "acf_lag_ingredients",
    """
    WITH daily AS (
      SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
               AS d,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 100
                  AS BIGINT) AS x
      FROM orders GROUP BY 1
    ), lagk AS (
      SELECT CAST(k AS BIGINT) AS lag_days FROM UNNEST(range(1, 8)) AS t(k)
    ), pairs AS (
      SELECT lagk.lag_days, a.x AS xa, b.x AS xb
      FROM daily a, lagk
      JOIN daily b ON b.d = a.d + lagk.lag_days
    )
    SELECT lag_days,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(xa) AS BIGINT) AS sum_x,
           CAST(sum(xb) AS BIGINT) AS sum_y,
           CAST(CAST(sum(CAST(xa AS DECIMAL(18,0)) * CAST(xb AS DECIMAL(18,0)))
                AS DECIMAL(38,0)) AS VARCHAR) AS sum_xy
    FROM pairs GROUP BY lag_days ORDER BY lag_days
    """,
)
def acf_lag_ingredients(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation sufficient statistics for the daily-revenue series,
    lags 1–7 — the exact-integer ingredients (n, Σx, Σy, Σxy per lag)
    from which ACF/PACF, the seasonality detector behind forecast
    backtests (revenue_forecast_backtest) and anomaly baselines
    (daily_volume_anomaly), is one driver-side division away. Emitting
    the ingredients instead of r keeps the division/sqrt (libm) out of
    the cross-engine hash — the same discipline as ols_price_on_quantity.
    Daily revenue is floored to whole currency units; Σxy accumulates
    in exact DECIMAL(38,0) — the r8 sf1 sweep caught the previous
    BIGINT Σxy overflowing (daily x ~1e9 at sf1 → Σ(xa·xb) ~2e21 >
    2^63; the old "safe through sf1" bound was wrong by the square). Lag pairs are calendar-day aligned —
    gaps in the date spine produce no pair, the standard treatment.

    Scale: the daily aggregate is |days| rows regardless of SF (one
    partial-aggregated shuffle); the 7-lag expansion and self-equi-join
    on (d + lag) act on that date-spine-sized frame, not the fact table.
    Scan-bound, then constant-sized."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01"))
        .cast("bigint")
        .alias("d")
    ).agg(
        F.expr(
            "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) div 100"
            " AS BIGINT)"
        ).alias("x")
    )
    a = daily.select(
        "d", F.col("x").alias("xa"),
        F.explode(F.expr("sequence(1, 7)")).alias("lag_days"),
    ).withColumn("lag_days", F.col("lag_days").cast("bigint"))
    b = daily.select(F.col("d").alias("bd"), F.col("x").alias("xb"))
    pairs = a.join(b, F.col("bd") == F.col("d") + F.col("lag_days"))
    return (
        pairs.groupBy("lag_days")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum("xa").cast("bigint").alias("sum_x"),
            F.sum("xb").cast("bigint").alias("sum_y"),
            # exact 128-bit-wide product sum, surfaced as its decimal
            # STRING: DuckDB hands DECIMAL(38,0) to pandas as float64
            # (the HUGEINT mangling), so the string form is the only
            # dtype both engines hash identically
            F.sum(
                F.col("xa").cast("decimal(18,0)") * F.col("xb").cast("decimal(18,0)")
            )
            .cast("decimal(38,0)")
            .cast("string")
            .alias("sum_xy"),
        )
        .orderBy("lag_days")
    )


@register(
    "l_diversity_audit",
    """
    WITH joined AS (
      SELECT c.c_nationkey, c.c_mktsegment,
             CAST(floor(c.c_acctbal / 1000) AS BIGINT) AS bal_band,
             c.c_custkey, o.o_orderpriority
      FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    ), eq AS (
      SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey, c_mktsegment,
             bal_band,
             CAST(count(DISTINCT c_custkey) AS BIGINT) AS grp_size,
             CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS l_distinct
      FROM joined
      GROUP BY 1, 2, 3
    )
    SELECT c_nationkey, c_mktsegment, bal_band, grp_size, l_distinct,
           (l_distinct < 3) AS below_l
    FROM eq
    WHERE l_distinct < 3
    ORDER BY c_nationkey, c_mktsegment, bal_band
    """,
)
def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — the attack k-anonymity misses: a class can
    hold ≥k customers yet leak the SENSITIVE attribute anyway if they
    all share one value (homogeneity attack). Over the same
    quasi-identifier classes as k_anonymity_audit (nation, market
    segment, coarse balance band), count the distinct sensitive values
    (order priority) observed in each class's orders; classes with
    l < 3 are the generalize/suppress worklist a release runs AFTER the
    k-anonymity pass. Classes with no orders carry no sensitive value
    and are out of scope (they cannot leak what they don't hold).

    Scale: one customer⋈orders equi-join on the customer key (fact-sized
    but key-partitioned), then one multi-DISTINCT aggregate on the QI
    tuple — Spark plans the two distincts as an expand (2× fanout) with
    partial aggregation; class cardinality is QI-domain-bounded."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    joined = cust.join(
        orders, cust["c_custkey"] == orders["o_custkey"]
    ).select(
        F.col("c_nationkey").cast("bigint").alias("c_nationkey"),
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("bal_band"),
        "c_custkey",
        "o_orderpriority",
    )
    eq = joined.groupBy("c_nationkey", "c_mktsegment", "bal_band").agg(
        F.countDistinct("c_custkey").cast("bigint").alias("grp_size"),
        F.countDistinct("o_orderpriority").cast("bigint").alias("l_distinct"),
    )
    return (
        eq.filter(F.col("l_distinct") < 3)
        .select(
            "c_nationkey",
            "c_mktsegment",
            "bal_band",
            "grp_size",
            "l_distinct",
            (F.col("l_distinct") < 3).alias("below_l"),
        )
        .orderBy("c_nationkey", "c_mktsegment", "bal_band")
    )


@register(
    "join_order_cardinality_audit",
    """
    WITH co AS (
      SELECT CAST(count(*) AS BIGINT) AS n
      FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
      WHERE c.c_mktsegment = 'BUILDING'
    ), ol AS (
      SELECT CAST(count(*) AS BIGINT) AS n
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ), fin AS (
      SELECT CAST(count(*) AS BIGINT) AS n
      FROM customer c
      JOIN orders o ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      WHERE c.c_mktsegment = 'BUILDING'
    )
    SELECT join_tree, step, rows FROM (
      SELECT '(customer x orders) x lineitem' AS join_tree,
             CAST(1 AS BIGINT) AS step, n AS rows FROM co
      UNION ALL
      SELECT '(customer x orders) x lineitem', CAST(2 AS BIGINT), n FROM fin
      UNION ALL
      SELECT '(orders x lineitem) x customer', CAST(1 AS BIGINT), n FROM ol
      UNION ALL
      SELECT '(orders x lineitem) x customer', CAST(2 AS BIGINT), n FROM fin
    ) ORDER BY join_tree, step
    """,
)
def join_order_cardinality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-order audit — the EVIDENCE behind Catalyst's (and any CBO's)
    join reordering, measured instead of estimated: for the filtered
    3-table chain σ(customer)⋈orders⋈lineitem, the exact intermediate
    cardinality of each left-deep tree's first join. Starting from the
    filtered dimension ((c⋈o): selective, filter cuts it ~5×) versus
    starting from the fact-fact pair ((o⋈l): every lineitem survives)
    differ by an order of magnitude in rows carried into the second
    join — the measurement that validates predicate_selectivity_audit's
    estimates and the join_cardinality_preflight's decision inputs.
    Both trees end at the same final count (join order never changes
    the answer — only the work).

    Scale: three independent equi-join counts (each partial-aggregated
    to ONE row before any union); no materialized intermediate exceeds
    a count's accumulator. The audit itself is the cheap way to learn
    a chain's shape before committing a 100 TB plan."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cb = cust.filter(F.col("c_mktsegment") == "BUILDING")
    co = (
        cb.join(orders, cb["c_custkey"] == orders["o_custkey"])
        .agg(F.count(F.lit(1)).cast("bigint").alias("rows"))
    )
    ol = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .agg(F.count(F.lit(1)).cast("bigint").alias("rows"))
    )
    fin = (
        cb.join(orders, cb["c_custkey"] == orders["o_custkey"])
        .join(li, orders["o_orderkey"] == li["l_orderkey"])
        .agg(F.count(F.lit(1)).cast("bigint").alias("rows"))
    )
    t1 = "(customer x orders) x lineitem"
    t2 = "(orders x lineitem) x customer"
    # Both trees share the identical final count; emit both step-2 rows by
    # exploding the single fin row (one execution of the 3-join count, not
    # one per union branch).
    fin2 = fin.select(
        F.explode(F.array(F.lit(t1), F.lit(t2))).alias("join_tree"),
        F.lit(2).cast("bigint").alias("step"),
        "rows",
    )
    return (
        co.select(F.lit(t1).alias("join_tree"), F.lit(1).cast("bigint").alias("step"), "rows")
        .unionByName(
            ol.select(F.lit(t2).alias("join_tree"), F.lit(1).cast("bigint").alias("step"), "rows")
        )
        .unionByName(fin2)
        .orderBy("join_tree", "step")
    )


@register(
    "weighted_median_by_flag",
    """
    WITH w AS (
      SELECT l_returnflag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
             CAST(l_quantity AS BIGINT) AS wt
      FROM lineitem
    ), cum AS (
      SELECT l_returnflag, cents, wt,
             sum(wt) OVER (PARTITION BY l_returnflag ORDER BY cents) AS cumw,
             sum(wt) OVER (PARTITION BY l_returnflag) AS tot
      FROM w
    )
    SELECT l_returnflag,
           CAST(max(tot) AS BIGINT) AS total_weight,
           CAST(min(CASE WHEN 2 * cumw >= tot THEN cents END) AS BIGINT)
             AS median_cents
    FROM cum GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def weighted_median_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per return flag — the weighted
    quantile the unweighted percentile family (percentile_stats,
    supplier_lead_time_p95) cannot express: each lineitem counts with
    multiplicity l_quantity, so a 50-unit line moves the median 50× as
    far as a 1-unit line (the inventory-valuation / fair-price center).
    Definition: smallest price p with cumulative weight(≤p) ≥ half the
    total — computed with a peer-inclusive RANGE cumulative sum (the
    default frame under ORDER BY in both engines), so ties on price are
    order-independent and the hash is stable; prices are exact integer
    cents, weights exact integer units.

    Scale (r13 — the winsorize/spearman histogram discipline): weights
    first partial-aggregate onto the (flag, cents) VALUE HISTOGRAM (6M
    fact rows → 594k distinct values at sf1), so the flag-partitioned
    cumulative window sorts |distinct cents| rows, never the fact table
    — the RANGE frame makes per-value cumulative weight identical to
    the per-row form, and the min-qualifying-value rollup is unchanged.
    Whole-partition total rides the same exchange; |flags|-row output.
    For a high-cardinality weighting key the range-repartition
    prefix-sum pattern of doc_global_ordinal applies instead."""
    li = load_table(spark, sf_dir, "lineitem")
    w = li.groupBy(
        "l_returnflag",
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("cents"),
    ).agg(F.sum(F.col("l_quantity").cast("bigint")).alias("wt"))
    cumw_w = (
        Window.partitionBy("l_returnflag")
        .orderBy("cents")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot_w = Window.partitionBy("l_returnflag")
    cum = w.select(
        "l_returnflag",
        "cents",
        F.sum("wt").over(cumw_w).alias("cumw"),
        F.sum("wt").over(tot_w).alias("tot"),
    )
    return (
        cum.groupBy("l_returnflag")
        .agg(
            F.max("tot").cast("bigint").alias("total_weight"),
            F.min(
                F.when(2 * F.col("cumw") >= F.col("tot"), F.col("cents"))
            )
            .cast("bigint")
            .alias("median_cents"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "event_order_inversions",
    """
    WITH seq AS (
      SELECT event_type, epoch_us(ts) AS micros,
             max(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS prior_max
      FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN prior_max > micros THEN 1 ELSE 0 END) AS BIGINT)
             AS n_late,
           CAST(sum(CASE WHEN prior_max > micros THEN 1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT) AS late_ppm,
           CAST(coalesce(max(CASE WHEN prior_max > micros
                                  THEN prior_max - micros END), 0) // 1000000
                AS BIGINT) AS max_late_seconds
    FROM seq GROUP BY event_type ORDER BY event_type
    """,
)
def event_order_inversions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-order-arrival audit — the measurement that SIZES a
    streaming watermark before anyone picks '2 hours' by folklore: with
    event_id as the producer's monotone arrival sequence, an event is
    late iff its event time precedes the running event-time maximum of
    the same user's earlier arrivals; the worst regression (max late
    seconds, exact integer microseconds floored to seconds) is the
    lower bound any watermark delay must clear, and late_ppm tells you
    what dropping shorter delays would cost. Per event type, because
    different types ride different producer paths. Direct input to the
    streaming module's withWatermark choices (windowed_stream,
    sessionized_stream).

    Scale: ONE user-partitioned running-max window ordered by the
    unique arrival sequence (ROWS to 1 PRECEDING — the strictly-prior
    max, peer-safe by uniqueness of event_id), then a |types|-row
    rollup. Linear, one shuffle on user_id."""
    from dbtransfer_spark.operators.windows import epoch_micros

    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = events.select(
        "event_type",
        epoch_micros(events, "ts").alias("micros"),
        "user_id",
        "event_id",
    ).select(
        "event_type",
        "micros",
        F.max("micros").over(w).alias("prior_max"),
    )
    late = F.when(F.col("prior_max") > F.col("micros"), 1).otherwise(0)
    return (
        seq.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(late).cast("bigint").alias("n_late"),
            F.expr(
                "CAST(sum(CASE WHEN prior_max > micros THEN 1 ELSE 0 END)"
                " * 1000000 div count(*) AS BIGINT)"
            ).alias("late_ppm"),
            F.expr(
                "CAST(coalesce(max(CASE WHEN prior_max > micros"
                " THEN prior_max - micros END), 0) div 1000000 AS BIGINT)"
            ).alias("max_late_seconds"),
        )
        .orderBy("event_type")
    )


_DOMAIN_COLS = (
    ("orders", "o_custkey"),
    ("customer", "c_custkey"),
    ("lineitem", "l_orderkey"),
    ("orders", "o_orderkey"),
    ("lineitem", "l_partkey"),
    ("part", "p_partkey"),
    ("lineitem", "l_suppkey"),
    ("supplier", "s_suppkey"),
    ("customer", "c_nationkey"),
    ("supplier", "s_nationkey"),
    ("nation", "n_nationkey"),
)


@register(
    "column_domain_overlap",
    """
    WITH stacked AS (
      SELECT DISTINCT 'orders.o_custkey' AS col, CAST(o_custkey AS BIGINT) AS val FROM orders
      UNION SELECT DISTINCT 'customer.c_custkey', CAST(c_custkey AS BIGINT) FROM customer
      UNION SELECT DISTINCT 'lineitem.l_orderkey', CAST(l_orderkey AS BIGINT) FROM lineitem
      UNION SELECT DISTINCT 'orders.o_orderkey', CAST(o_orderkey AS BIGINT) FROM orders
      UNION SELECT DISTINCT 'lineitem.l_partkey', CAST(l_partkey AS BIGINT) FROM lineitem
      UNION SELECT DISTINCT 'part.p_partkey', CAST(p_partkey AS BIGINT) FROM part
      UNION SELECT DISTINCT 'lineitem.l_suppkey', CAST(l_suppkey AS BIGINT) FROM lineitem
      UNION SELECT DISTINCT 'supplier.s_suppkey', CAST(s_suppkey AS BIGINT) FROM supplier
      UNION SELECT DISTINCT 'customer.c_nationkey', CAST(c_nationkey AS BIGINT) FROM customer
      UNION SELECT DISTINCT 'supplier.s_nationkey', CAST(s_nationkey AS BIGINT) FROM supplier
      UNION SELECT DISTINCT 'nation.n_nationkey', CAST(n_nationkey AS BIGINT) FROM nation
    ), ndv AS (
      SELECT col, CAST(count(*) AS BIGINT) AS n FROM stacked GROUP BY col
    ), common AS (
      SELECT a.col AS col_a, b.col AS col_b, CAST(count(*) AS BIGINT) AS n_common
      FROM stacked a JOIN stacked b ON a.val = b.val AND a.col < b.col
      GROUP BY a.col, b.col
    )
    SELECT col_a, col_b, na.n AS ndv_a, nb.n AS ndv_b, n_common,
           CAST(n_common * 1000000 // least(na.n, nb.n) AS BIGINT)
             AS containment_ppm,
           CAST(n_common * 1000000 // (na.n + nb.n - n_common) AS BIGINT)
             AS jaccard_ppm
    FROM common
    JOIN ndv na ON common.col_a = na.col
    JOIN ndv nb ON common.col_b = nb.col
    ORDER BY col_a, col_b
    """,
)
def column_domain_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key discovery — the data-catalog primitive that finds
    UNDECLARED foreign keys by measuring value-domain overlap between
    key-typed columns across the schema: for every column pair, the
    distinct-value intersection, containment (|∩| / smaller domain — the
    FK signal: a true FK is ≈100% contained in its PK) and Jaccard. A
    migration tool runs this when the source schema has no FK metadata
    (common in production MySQL/Cassandra) to decide copy order and
    integrity checks; it separates the true edges (custkey→custkey,
    orderkey→orderkey) from coincidental overlaps (custkey vs partkey
    share small integers — high n_common, meaningless containment
    pattern) exactly like Aurum/Sherlock-style discovery systems.

    Scale (r14, guide §2.3/§2.4): each source table is scanned ONCE —
    its profiled columns leave the scan as an exploded (col, val)
    stack (the r7-r13 form ran one scan + distinct PER COLUMN, 11
    scans and 11 distinct exchanges). One val-keyed collect_set
    aggregate (partial map-side set-merge, so duplicate-heavy key
    domains collapse before the exchange) yields each value's
    column-membership set, from which BOTH outputs derive join-free:
    ndv per column by exploding the sets, and the pair intersections
    by an in-array a<b pair explode (the item_cf lambda-pair trick) —
    fanout bounded by the number of profiled columns (11), never row
    counts, exactly the bound the old value-keyed self-join had, minus
    the self-join's two probe-side passes. NULL values keep their ndv
    contribution (count(*) semantics) but generate no pairs (the
    oracle's a.val = b.val join never matches NULL). The set frame
    feeds two consumers, so it is persisted — the same staging a
    100 TB discovery run would write to disk."""
    by_table: dict[str, list[str]] = {}
    for tbl, col in _DOMAIN_COLS:
        by_table.setdefault(tbl, []).append(col)
    stacked = None
    for tbl, cols in by_table.items():
        sel = (
            load_table(spark, sf_dir, tbl)
            .select(
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(f"{tbl}.{c}").alias("col"),
                                F.col(c).cast("bigint").alias("val"),
                            )
                            for c in cols
                        ]
                    )
                ).alias("cv")
            )
            .select("cv.col", "cv.val")
        )
        stacked = sel if stacked is None else stacked.unionByName(sel)
    by_val = stacked.groupBy("val").agg(F.collect_set("col").alias("cols")).persist()
    ndv = (
        by_val.select(F.explode("cols").alias("col"))
        .groupBy("col")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    common = (
        by_val.filter(F.col("val").isNotNull())
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(cols, x -> transform("
                    "filter(cols, y -> y > x), "
                    "y -> struct(x AS col_a, y AS col_b))))"
                )
            ).alias("pr")
        )
        .select("pr.col_a", "pr.col_b")
        .groupBy("col_a", "col_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    return (
        common.join(
            ndv.select(F.col("col").alias("col_a"), F.col("n").alias("ndv_a")),
            "col_a",
        )
        .join(
            ndv.select(F.col("col").alias("col_b"), F.col("n").alias("ndv_b")),
            "col_b",
        )
        .select(
            "col_a",
            "col_b",
            "ndv_a",
            "ndv_b",
            "n_common",
            F.expr(
                "CAST(n_common * 1000000 div least(ndv_a, ndv_b) AS BIGINT)"
            ).alias("containment_ppm"),
            F.expr(
                "CAST(n_common * 1000000 div (ndv_a + ndv_b - n_common)"
                " AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
        .orderBy("col_a", "col_b")
    )


# Regex atoms use character classes ([.], [{]) instead of backslash
# escapes: Spark SQL string literals consume backslashes, DuckDB's do
# not, so escaped forms would parse to DIFFERENT regexes per engine.
_FMT_CASE = """
    CASE
      WHEN {v} IS NULL THEN 'null'
      WHEN {v} = '' THEN 'empty'
      WHEN {re}({v}, '^-?[0-9]+$') THEN 'int'
      WHEN {re}({v}, '^-?[0-9]+[.][0-9]+$') THEN 'decimal'
      WHEN {re}({v}, '^[A-Za-z ]+$') THEN 'alpha'
      WHEN {re}({v}, '^[A-Za-z0-9#_ -]+$') THEN 'alnum'
      WHEN {re}({v}, '^[{{].*[}}]$') THEN 'json_object'
      ELSE 'other'
    END
"""


@register(
    "column_format_profile",
    f"""
    WITH unp AS (
      SELECT 'customer.c_mktsegment' AS col, c_mktsegment AS val FROM customer
      UNION ALL SELECT 'orders.o_orderpriority', o_orderpriority FROM orders
      UNION ALL SELECT 'part.p_brand', p_brand FROM part
      UNION ALL SELECT 'events.props', props FROM events
      UNION ALL SELECT 'documents.lang', lang FROM documents
    ), cls AS (
      SELECT col, {_FMT_CASE.format(v="val", re="regexp_matches")} AS fmt_class
      FROM unp
    ), per AS (
      SELECT col, fmt_class, CAST(count(*) AS BIGINT) AS n_rows
      FROM cls GROUP BY col, fmt_class
    ), tot AS (
      SELECT col, CAST(sum(n_rows) AS BIGINT) AS t FROM per GROUP BY col
    )
    SELECT per.col, fmt_class, n_rows,
           CAST(n_rows * 1000000 // t AS BIGINT) AS share_ppm
    FROM per JOIN tot ON per.col = tot.col
    ORDER BY per.col, fmt_class
    """,
)
def column_format_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Format-class profiling — the schema-inference audit a migration
    tool runs on string columns before choosing destination types
    (reference C5 rewrites DDL syntactically; this checks what the
    VALUES are): each value classified by an anchored-regex cascade
    (null / empty / int / decimal / alpha / alnum / json_object /
    other), rolled up to per-column class shares in exact ppm. A column
    profiling 99% 'int' + 1% 'other' is the classic dirty-numeric trap
    that breaks a typed destination mid-copy; events.props profiling
    'json_object' is what justifies routing it through the JSON
    extraction operators (events_json_extract, json_schema_profile)
    instead of opaque VARCHAR.

    Scale: one stacked scan (column-count fanout), classification is
    per-row regex in whole-stage codegen (no UDF), one (col, class)
    partial-aggregated rollup — class cardinality ≤8 per column. The
    totals join is |cols|-sized."""
    parts = [
        ("customer", "c_mktsegment"),
        ("orders", "o_orderpriority"),
        ("part", "p_brand"),
        ("events", "props"),
        ("documents", "lang"),
    ]
    unp = None
    for tbl, col in parts:
        sel = load_table(spark, sf_dir, tbl).select(
            F.lit(f"{tbl}.{col}").alias("col"), F.col(col).alias("val")
        )
        unp = sel if unp is None else unp.unionByName(sel)
    cls = unp.select(
        "col", F.expr(_FMT_CASE.format(v="val", re="rlike")).alias("fmt_class")
    )
    per = cls.groupBy("col", "fmt_class").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows")
    )
    tot = per.groupBy("col").agg(F.sum("n_rows").cast("bigint").alias("t"))
    return (
        per.join(tot, "col")
        .select(
            "col",
            "fmt_class",
            "n_rows",
            F.expr("CAST(n_rows * 1000000 div t AS BIGINT)").alias("share_ppm"),
        )
        .orderBy("col", "fmt_class")
    )


@register(
    "join_size_histogram_estimate",
    """
    WITH ka AS (
      SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS n
      FROM orders GROUP BY o_custkey
    ), kb AS (
      SELECT c_custkey AS k, CAST(count(*) AS BIGINT) AS n
      FROM customer GROUP BY c_custkey
    ), ga AS (
      SELECT CAST(sum(n) AS BIGINT) AS rows_a,
             CAST(count(*) AS BIGINT) AS ndv_a FROM ka
    ), gb AS (
      SELECT CAST(sum(n) AS BIGINT) AS rows_b,
             CAST(count(*) AS BIGINT) AS ndv_b FROM kb
    ), ba AS (
      SELECT k % 16 AS b, CAST(sum(n) AS BIGINT) AS n_a,
             CAST(count(*) AS BIGINT) AS d_a FROM ka GROUP BY k % 16
    ), bb AS (
      SELECT k % 16 AS b, CAST(sum(n) AS BIGINT) AS n_b,
             CAST(count(*) AS BIGINT) AS d_b FROM kb GROUP BY k % 16
    ), hist AS (
      SELECT CAST(sum(n_a * n_b // greatest(d_a, d_b)) AS BIGINT) AS est
      FROM ba JOIN bb ON ba.b = bb.b
    ), act AS (
      SELECT CAST(sum(ka.n * kb.n) AS BIGINT) AS n
      FROM ka JOIN kb ON ka.k = kb.k
    )
    SELECT ga.rows_a, ga.ndv_a, gb.rows_b, gb.ndv_b,
           CAST(ga.rows_a * gb.rows_b // greatest(ga.ndv_a, gb.ndv_b)
                AS BIGINT) AS system_r_est,
           hist.est AS histogram_est,
           act.n AS actual_rows,
           CAST(abs(ga.rows_a * gb.rows_b // greatest(ga.ndv_a, gb.ndv_b)
                    - act.n) * 1000000 // act.n AS BIGINT)
             AS system_r_err_ppm,
           CAST(abs(hist.est - act.n) * 1000000 // act.n AS BIGINT)
             AS histogram_err_ppm
    FROM ga, gb, hist, act
    """,
)
def join_size_histogram_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality ESTIMATION quality — the third CBO audit beside
    predicate_selectivity_audit (conjunctions) and
    join_cardinality_preflight (exact answer): compare the System-R
    textbook estimate |A⋈B| ≈ |A|·|B| / max(ndv_A, ndv_B) and a
    16-bucket key-histogram refinement (the same formula per aligned
    bucket — what real optimizers keep in column stats) against the
    exact join size computed from the two count tables. The histogram
    estimate's error collapsing toward zero is the quantified case for
    ANALYZE-style column histograms before planning a 100 TB join; the
    System-R error is what you get with only table-level NDV.

    Scale: everything runs on the per-key COUNT tables (key-domain-
    sized, never the facts); the exact join size is the count-table
    equi-join Σ n_a·n_b — the join_cardinality_preflight trick. The
    final row is assembled from four 1-row frames (whitelisted
    fixed-size crosses)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    ka = orders.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    kb = cust.groupBy(F.col("c_custkey").alias("k")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    ga = ka.agg(
        F.sum("n").cast("bigint").alias("rows_a"),
        F.count(F.lit(1)).cast("bigint").alias("ndv_a"),
    )
    gb = kb.agg(
        F.sum("n").cast("bigint").alias("rows_b"),
        F.count(F.lit(1)).cast("bigint").alias("ndv_b"),
    )
    ba = ka.groupBy((F.col("k") % 16).alias("b")).agg(
        F.sum("n").cast("bigint").alias("n_a"),
        F.count(F.lit(1)).cast("bigint").alias("d_a"),
    )
    bb = kb.groupBy((F.col("k") % 16).alias("b")).agg(
        F.sum("n").cast("bigint").alias("n_b"),
        F.count(F.lit(1)).cast("bigint").alias("d_b"),
    )
    hist = (
        ba.join(bb, "b")
        .agg(
            F.expr("CAST(sum(n_a * n_b div greatest(d_a, d_b)) AS BIGINT)").alias(
                "est"
            )
        )
    )
    act = (
        ka.alias("ka")
        .join(kb.alias("kb"), F.col("ka.k") == F.col("kb.k"))
        .agg(
            F.expr("CAST(sum(ka.n * kb.n) AS BIGINT)").alias("actual_rows")
        )
    )
    return (
        ga.crossJoin(F.broadcast(gb))
        .crossJoin(F.broadcast(hist.select(F.col("est").alias("histogram_est"))))
        .crossJoin(F.broadcast(act))
        .select(
            "rows_a",
            "ndv_a",
            "rows_b",
            "ndv_b",
            F.expr(
                "CAST(rows_a * rows_b div greatest(ndv_a, ndv_b) AS BIGINT)"
            ).alias("system_r_est"),
            "histogram_est",
            "actual_rows",
            F.expr(
                "CAST(abs(rows_a * rows_b div greatest(ndv_a, ndv_b)"
                " - actual_rows) * 1000000 div actual_rows AS BIGINT)"
            ).alias("system_r_err_ppm"),
            F.expr(
                "CAST(abs(histogram_est - actual_rows) * 1000000"
                " div actual_rows AS BIGINT)"
            ).alias("histogram_err_ppm"),
        )
    )


_FD_CANDIDATES = (
    ("nation", "n_nationkey", "n_regionkey"),
    ("customer", "c_nationkey", "c_mktsegment"),
    ("orders", "o_custkey", "o_orderpriority"),
    ("lineitem", "l_orderkey", "l_returnflag"),
    ("part", "p_brand", "p_type"),
)


@register(
    "fd_violation_audit",
    """
    WITH per AS (
      SELECT 'nation: n_nationkey -> n_regionkey' AS fd,
             CAST(count(*) AS BIGINT) AS n_groups,
             CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating
      FROM (SELECT n_nationkey, count(DISTINCT n_regionkey) AS d
            FROM nation GROUP BY n_nationkey)
      UNION ALL
      SELECT 'customer: c_nationkey -> c_mktsegment',
             CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT)
      FROM (SELECT c_nationkey, count(DISTINCT c_mktsegment) AS d
            FROM customer GROUP BY c_nationkey)
      UNION ALL
      SELECT 'orders: o_custkey -> o_orderpriority',
             CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT)
      FROM (SELECT o_custkey, count(DISTINCT o_orderpriority) AS d
            FROM orders GROUP BY o_custkey)
      UNION ALL
      SELECT 'lineitem: l_orderkey -> l_returnflag',
             CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT)
      FROM (SELECT l_orderkey, count(DISTINCT l_returnflag) AS d
            FROM lineitem GROUP BY l_orderkey)
      UNION ALL
      SELECT 'part: p_brand -> p_type',
             CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT)
      FROM (SELECT p_brand, count(DISTINCT p_type) AS d
            FROM part GROUP BY p_brand)
    )
    SELECT fd, n_groups, n_violating,
           CAST(n_violating * 1000000 // n_groups AS BIGINT)
             AS violating_ppm,
           (n_violating = 0) AS holds
    FROM per ORDER BY fd
    """,
)
def fd_violation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit — FD mining's verification half (the
    TANE/Metanome primitive, run as a declared query): for each
    candidate dependency X→Y, how many X-groups carry more than one Y
    value. Exact FDs (nation key → region key) justify normalizing or
    denormalizing safely during a migration and become dq_expectations
    rules; near-FDs (violating_ppm just above zero) are the classic
    data-quality smell — a handful of rows breaking a dependency the
    rest of the corpus obeys, i.e. a dirty-write worklist. Complements
    column_domain_overlap: that discovers JOIN edges between columns,
    this discovers DETERMINATION edges within a table.

    Scale: one partial-aggregated (X, countDistinct Y) rollup per
    candidate FD — group cardinality is the X domain, never row count —
    each collapsing to a 1-row summary before the 5-row union. FD
    candidates are enumerated column pairs; at 100 TB you run the same
    audit over the pairs a schema crawler proposes."""
    # A group violates X→Y iff it carries >1 distinct Y — which for the
    # violation COUNT is exactly min(Y) != max(Y) (nulls ignored by both
    # formulations). min/max are plain partial aggregates, so the shuffle
    # carries one (lo, hi) pair per X-group straight off the map side;
    # the old countDistinct planned as two back-to-back aggregates whose
    # first shuffle carried every distinct (X, Y) pair (guide §2.2:
    # shuffle the partial, not the domain).
    per = None
    for tbl, x, y in _FD_CANDIDATES:
        grp = (
            load_table(spark, sf_dir, tbl)
            .groupBy(x)
            .agg(F.min(y).alias("lo"), F.max(y).alias("hi"))
            .agg(
                F.lit(f"{tbl}: {x} -> {y}").alias("fd"),
                F.count(F.lit(1)).cast("bigint").alias("n_groups"),
                F.sum(F.when(F.col("lo") != F.col("hi"), 1).otherwise(0))
                .cast("bigint")
                .alias("n_violating"),
            )
        )
        per = grp if per is None else per.unionByName(grp)
    return per.select(
        "fd",
        "n_groups",
        "n_violating",
        F.expr("CAST(n_violating * 1000000 div n_groups AS BIGINT)").alias(
            "violating_ppm"
        ),
        (F.col("n_violating") == 0).alias("holds"),
    ).orderBy("fd")


@register(
    "cohort_ltv_curve",
    """
    WITH firstm AS (
      SELECT o_custkey,
             min(CAST(strftime(o_orderdate, '%Y') AS BIGINT) * 12
                 + CAST(strftime(o_orderdate, '%m') AS BIGINT) - 1)
               AS cohort_m
      FROM orders GROUP BY o_custkey
    ), rev AS (
      SELECT f.cohort_m,
             CAST(strftime(o.o_orderdate, '%Y') AS BIGINT) * 12
               + CAST(strftime(o.o_orderdate, '%m') AS BIGINT) - 1
               - f.cohort_m AS month_index,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
      FROM orders o JOIN firstm f ON o.o_custkey = f.o_custkey
    ), per AS (
      SELECT cohort_m, month_index,
             CAST(sum(cents) AS BIGINT) AS month_cents
      FROM rev WHERE month_index <= 11 GROUP BY cohort_m, month_index
    )
    SELECT cohort_m, month_index, month_cents,
           CAST(sum(month_cents) OVER (
             PARTITION BY cohort_m ORDER BY month_index) AS BIGINT)
             AS cum_cents
    FROM per ORDER BY cohort_m, month_index
    """,
)
def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve — the revenue twin of
    events_retention_cohorts: customers grouped by FIRST-order month,
    each cohort's revenue accumulated per month since acquisition
    (months 0–11). The curve's shape (front-loaded vs compounding) is
    what a unit-economics model reads off; the calendar bucketing is
    integer month arithmetic (year·12 + month) and revenue is exact
    integer cents, so the cumulative window hashes identically across
    engines.

    Scale: one customer-keyed min-aggregate (first order), a fact ⋈
    first-order join keyed on the customer (both sides key-partitioned),
    one (cohort, month) partial-aggregated rollup — cohort×12-sized —
    and the cumulative sum runs per cohort partition over ≤12 rows."""
    orders = load_table(spark, sf_dir, "orders")
    mexpr = (
        F.year("o_orderdate").cast("bigint") * 12
        + F.month("o_orderdate").cast("bigint")
        - 1
    )
    withm = orders.select(
        "o_custkey",
        mexpr.alias("m"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    firstm = withm.groupBy("o_custkey").agg(F.min("m").alias("cohort_m"))
    per = (
        withm.join(firstm, "o_custkey")
        .select(
            "cohort_m", (F.col("m") - F.col("cohort_m")).alias("month_index"), "cents"
        )
        .filter(F.col("month_index") <= 11)
        .groupBy("cohort_m", "month_index")
        .agg(F.sum("cents").cast("bigint").alias("month_cents"))
    )
    w = (
        Window.partitionBy("cohort_m")
        .orderBy("month_index")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return per.select(
        "cohort_m",
        "month_index",
        "month_cents",
        F.sum("month_cents").over(w).cast("bigint").alias("cum_cents"),
    ).orderBy("cohort_m", "month_index")


@register(
    "watermark_cost_curve",
    """
    WITH seq AS (
      SELECT event_type, epoch_us(ts) AS micros,
             CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hr,
             max(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS prior_max
      FROM events
    ), lateness AS (
      SELECT hr,
             CASE WHEN prior_max > micros THEN prior_max - micros
                  ELSE 0 END AS late_us
      FROM seq
    ), agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(CASE WHEN late_us > 60000000 THEN 1 ELSE 0 END)
                  AS BIGINT) AS d60,
             CAST(sum(CASE WHEN late_us > 300000000 THEN 1 ELSE 0 END)
                  AS BIGINT) AS d300,
             CAST(sum(CASE WHEN late_us > 900000000 THEN 1 ELSE 0 END)
                  AS BIGINT) AS d900,
             CAST(sum(CASE WHEN late_us > 3600000000 THEN 1 ELSE 0 END)
                  AS BIGINT) AS d3600,
             CAST(count(DISTINCT CASE WHEN late_us > 60000000 THEN hr END)
                  AS BIGINT) AS h60,
             CAST(count(DISTINCT CASE WHEN late_us > 300000000 THEN hr END)
                  AS BIGINT) AS h300,
             CAST(count(DISTINCT CASE WHEN late_us > 900000000 THEN hr END)
                  AS BIGINT) AS h900,
             CAST(count(DISTINCT CASE WHEN late_us > 3600000000 THEN hr END)
                  AS BIGINT) AS h3600
      FROM lateness
    )
    SELECT wm_seconds, n_events, n_dropped, affected_hours,
           CAST(n_dropped * 1000000 // n_events AS BIGINT) AS dropped_ppm
    FROM (
      SELECT CAST(60 AS BIGINT) AS wm_seconds, n_events, d60 AS n_dropped,
             h60 AS affected_hours FROM agg
      UNION ALL SELECT 300, n_events, d300, h300 FROM agg
      UNION ALL SELECT 900, n_events, d900, h900 FROM agg
      UNION ALL SELECT 3600, n_events, d3600, h3600 FROM agg
    ) ORDER BY wm_seconds
    """,
)
def watermark_cost_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark decision table — event_order_inversions measures HOW
    late events arrive; this prices each candidate watermark delay (60 s
    / 5 min / 15 min / 1 h): how many events would arrive behind the
    watermark (dropped or DLQ'd by the streaming aggregations) and how
    many hourly partitions they touch (the reprocessing bill if you
    instead backfill them in batch). The curve's knee is the delay to
    configure in withWatermark; the affected-hours column is the cost of
    choosing shorter — exactly the trade a 100 TB event lake makes
    between state size and completeness.

    Scale: reuses the one user-partitioned running-max window; all four
    thresholds are conditional aggregates over the SAME pass (one scan,
    one shuffle — never a pass per candidate); the 4-row report stacks
    off the single aggregate row."""
    from dbtransfer_spark.operators.windows import epoch_micros

    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = events.select(
        epoch_micros(events, "ts").alias("micros"),
        "user_id",
        "event_id",
    ).select(
        "micros",
        F.expr("CAST(micros div 3600000000 AS BIGINT)").alias("hr"),
        F.max("micros").over(w).alias("prior_max"),
    )
    lateness = seq.select(
        "hr",
        F.expr(
            "CASE WHEN prior_max > micros THEN prior_max - micros ELSE 0 END"
        ).alias("late_us"),
    )
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_events")]
    for s in (60, 300, 900, 3600):
        us = s * 1_000_000
        aggs.append(
            F.sum(F.when(F.col("late_us") > us, 1).otherwise(0))
            .cast("bigint")
            .alias(f"d{s}")
        )
        aggs.append(
            F.countDistinct(F.when(F.col("late_us") > us, F.col("hr")))
            .cast("bigint")
            .alias(f"h{s}")
        )
    agg = lateness.agg(*aggs)
    stacked = agg.select(
        F.expr(
            "stack(4,"
            " CAST(60 AS BIGINT), n_events, d60, h60,"
            " CAST(300 AS BIGINT), n_events, d300, h300,"
            " CAST(900 AS BIGINT), n_events, d900, h900,"
            " CAST(3600 AS BIGINT), n_events, d3600, h3600"
            ") AS (wm_seconds, n_events, n_dropped, affected_hours)"
        )
    )
    return stacked.select(
        "wm_seconds",
        "n_events",
        "n_dropped",
        "affected_hours",
        F.expr("CAST(n_dropped * 1000000 div n_events AS BIGINT)").alias(
            "dropped_ppm"
        ),
    ).orderBy("wm_seconds")


@register(
    "price_volume_mix_decomposition",
    """
    WITH per AS (
      SELECT p.p_brand,
             CAST(strftime(l.l_shipdate, '%Y') AS BIGINT) AS yr,
             CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty,
             CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE strftime(l.l_shipdate, '%Y') IN ('1998', '1999')
      GROUP BY p.p_brand, yr
    ), wide AS (
      SELECT p_brand,
             CAST(sum(CASE WHEN yr = 1998 THEN qty ELSE 0 END) AS BIGINT)
               AS q1,
             CAST(sum(CASE WHEN yr = 1999 THEN qty ELSE 0 END) AS BIGINT)
               AS q2,
             CAST(sum(CASE WHEN yr = 1998 THEN cents ELSE 0 END) AS BIGINT)
               AS r1_cents,
             CAST(sum(CASE WHEN yr = 1999 THEN cents ELSE 0 END) AS BIGINT)
               AS r2_cents
      FROM per GROUP BY p_brand
    )
    SELECT p_brand, q1, q2, r1_cents, r2_cents,
           CAST(r2_cents - r1_cents AS BIGINT) AS delta_cents,
           round(CAST((q2 - q1) * r1_cents AS DOUBLE) / q1, 2)
             AS volume_effect,
           round(r2_cents - r1_cents
                 - CAST((q2 - q1) * r1_cents AS DOUBLE) / q1, 2)
             AS price_mix_effect
    FROM wide WHERE q1 > 0 AND q2 > 0
    ORDER BY p_brand
    """,
)
def price_volume_mix_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-volume-mix variance decomposition — the finance-analytics
    staple behind every "why did revenue move" review: per brand, the
    1998→1999 revenue delta split into a volume effect (quantity change
    at last year's realized price, Laspeyres convention) and the
    price/mix residual. All inputs are exact integers (unit counts,
    cents); each effect is ONE IEEE division of exact integers
    ((q2−q1)·r1 / q1 — cross-multiplied before dividing, the
    bigram_pmi_top determinism trick) rounded to 2 dp on both engines,
    and the residual is a subtraction of those identical doubles.

    Scale: one year-filtered fact scan (predicate reaches parquet) ⋈
    part dimension, one (brand, year) partial-aggregated rollup pivoted
    by conditional sums — brand×2-sized — then pure arithmetic. No
    windows, no second scan."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    per = (
        li.filter(F.date_format("l_shipdate", "yyyy").isin("1998", "1999"))
        .join(part, li["l_partkey"] == part["p_partkey"])
        .groupBy(
            "p_brand",
            F.date_format("l_shipdate", "yyyy").cast("bigint").alias("yr"),
        )
        .agg(
            F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("qty"),
            F.sum(F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
            .cast("bigint")
            .alias("cents"),
        )
    )
    wide = per.groupBy("p_brand").agg(
        F.sum(F.when(F.col("yr") == 1998, F.col("qty")).otherwise(0))
        .cast("bigint")
        .alias("q1"),
        F.sum(F.when(F.col("yr") == 1999, F.col("qty")).otherwise(0))
        .cast("bigint")
        .alias("q2"),
        F.sum(F.when(F.col("yr") == 1998, F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("r1_cents"),
        F.sum(F.when(F.col("yr") == 1999, F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("r2_cents"),
    )
    return (
        wide.filter((F.col("q1") > 0) & (F.col("q2") > 0))
        .select(
            "p_brand",
            "q1",
            "q2",
            "r1_cents",
            "r2_cents",
            (F.col("r2_cents") - F.col("r1_cents"))
            .cast("bigint")
            .alias("delta_cents"),
            F.expr(
                "round(CAST((q2 - q1) * r1_cents AS DOUBLE) / q1, 2)"
            ).alias("volume_effect"),
            F.expr(
                "round(r2_cents - r1_cents"
                " - CAST((q2 - q1) * r1_cents AS DOUBLE) / q1, 2)"
            ).alias("price_mix_effect"),
        )
        .orderBy("p_brand")
    )


@register(
    "brand_return_rate_shrunk",
    """
    WITH per AS (
      SELECT p.p_brand,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS x
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY p.p_brand
    ), g AS (
      SELECT CAST(sum(n) AS BIGINT) AS gn, CAST(sum(x) AS BIGINT) AS gx
      FROM per
    )
    SELECT p_brand, n, x,
           CAST(x * 1000000 // n AS BIGINT) AS raw_ppm,
           CAST((x * gn + 20 * gx) * 1000000 // ((n + 20) * gn) AS BIGINT)
             AS shrunk_ppm
    FROM per, g ORDER BY p_brand
    """,
)
def brand_return_rate_shrunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes shrinkage of per-brand return rates — the
    small-sample correction every per-segment rate report needs: a brand
    with 3 lineitems and 1 return is NOT a 333k-ppm-return brand; its
    rate is shrunk toward the global rate with a pseudo-count prior
    (α = 20, i.e. each brand starts with 20 phantom lineitems at the
    corpus rate — the beta-binomial posterior mean). The shrunk rate is
    computed entirely in integer arithmetic by cross-multiplying the
    global ratio into the numerator ((x·N + α·X)·10⁶ div (n+α)·N), so
    no float enters the hash. Raw rate emitted beside it — the spread
    between columns IS the shrinkage diagnostic.

    Scale: one fact ⋈ part join, one brand rollup, a 1-row global
    aggregate broadcast onto the brand rows (whitelisted fixed-size
    cross). Brand cardinality bounds everything downstream."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    per = (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
            .cast("bigint")
            .alias("x"),
        )
    )
    g = per.agg(
        F.sum("n").cast("bigint").alias("gn"),
        F.sum("x").cast("bigint").alias("gx"),
    )
    return (
        per.crossJoin(F.broadcast(g))
        .select(
            "p_brand",
            "n",
            "x",
            F.expr("CAST(x * 1000000 div n AS BIGINT)").alias("raw_ppm"),
            F.expr(
                "CAST((x * gn + 20 * gx) * 1000000 div ((n + 20) * gn)"
                " AS BIGINT)"
            ).alias("shrunk_ppm"),
        )
        .orderBy("p_brand")
    )


@register(
    "abc_inventory_classes",
    """
    WITH rev AS (
      SELECT l_partkey,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM lineitem GROUP BY l_partkey
    ), tot AS (
      SELECT CAST(sum(cents) AS BIGINT) AS total FROM rev
    ), cum AS (
      SELECT l_partkey, cents,
             sum(cents) OVER (ORDER BY cents DESC, l_partkey) AS running,
             total
      FROM rev, tot
    ), classed AS (
      SELECT CASE WHEN running * 5 <= total * 4 THEN 'A'
                  WHEN running * 20 <= total * 19 THEN 'B'
                  ELSE 'C' END AS abc_class,
             cents
      FROM cum
    )
    SELECT abc_class,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(cents) AS BIGINT) AS class_cents
    FROM classed GROUP BY abc_class ORDER BY abc_class
    """,
)
def abc_inventory_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification — the operations staple (A: parts
    covering the first 80% of revenue, B: to 95%, C: the tail) that
    needs an EXACT global cumulative revenue in descending order. The
    oracle writes the textbook single-partition window; the Spark side
    runs the same cumulative through ``distributed_prefix_sum`` —
    range-repartition on the (−revenue, partkey) order key, partition-
    local running sums, per-partition offsets from a |partitions|-row
    probe — so no task ever sees more than 1/N of the part domain (the
    supplier_pareto / doc_global_ordinal scale pattern; a plain
    unpartitioned window here would funnel every part through one
    task). Classification thresholds are CROSS-MULTIPLIED integer
    comparisons against the 1-row total broadcast (running·5 ≤ total·4),
    never running·10⁶ — a monetary cumulative times a ppm scale
    overflows BIGINT already at sf1 (caught by the sf1 rehearsal under
    ANSI mode); small multipliers keep ~10⁴× headroom at 100 TB.

    Scale: one fact rollup to the part domain, the prefix-sum machinery
    (sampled range exchange + bounded offset collect), one 3-row class
    rollup."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.expr(
            "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)"
        ).alias("cents")
    )
    tot = rev.agg(F.sum("cents").cast("bigint").alias("total"))
    ordered = rev.withColumn("neg_cents", -F.col("cents"))
    cum = distributed_prefix_sum(
        ordered, ["neg_cents", "l_partkey"], "cents"
    ).withColumnRenamed("__cum", "running")
    classed = cum.crossJoin(F.broadcast(tot)).select(
        F.expr(
            "CASE WHEN running * 5 <= total * 4 THEN 'A'"
            " WHEN running * 20 <= total * 19 THEN 'B'"
            " ELSE 'C' END"
        ).alias("abc_class"),
        "cents",
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.sum("cents").cast("bigint").alias("class_cents"),
        )
        .orderBy("abc_class")
    )


@register(
    "theil_sen_trend_banded",
    """
    WITH daily AS (
      SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
               AS d,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 100
                  AS BIGINT) AS x
      FROM orders GROUP BY 1
    ), lagk AS (
      SELECT CAST(k AS BIGINT) AS k FROM UNNEST(range(1, 31)) AS t(k)
    ), slopes AS (
      SELECT (b.x - a.x) * 1000000 // lagk.k AS slope_scaled
      FROM daily a, lagk
      JOIN daily b ON b.d = a.d + lagk.k
    )
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           quantile_cont(slope_scaled, 0.25) AS slope_p25,
           quantile_cont(slope_scaled, 0.5) AS slope_median,
           quantile_cont(slope_scaled, 0.75) AS slope_p75
    FROM slopes
    """,
)
def theil_sen_trend_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded Theil-Sen trend estimator for the daily-revenue series —
    the robust alternative to the OLS slope (ols_price_on_quantity):
    the median of pairwise slopes shrugs off the revenue spikes that
    drag a least-squares line (up to ~29% outliers tolerated). Classic
    Theil-Sen is all-pairs O(n²); the banded variant uses only pairs
    ≤30 days apart — linear in the date spine with a constant 30×
    fanout, the standard scale-out compromise (and a better trend
    reader anyway: long-baseline pairs dilute recent trend). Slopes are
    exact scaled integers (Δrevenue·10⁶ div Δdays, the floor-ppm
    idiom); the quartiles interpolate integers, which both engines do
    bit-identically. The p25/p75 spread doubles as the slope's
    confidence band.

    Scale: the daily rollup is |days|-sized regardless of SF; the
    30-lag expansion + self-equi-join on (d + k) act on that spine
    (the acf_lag_ingredients skeleton); one exact-percentile aggregate
    ends it. Never a cartesian, never an unpartitioned window."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01"))
        .cast("bigint")
        .alias("d")
    ).agg(
        F.expr(
            "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) div 100"
            " AS BIGINT)"
        ).alias("x")
    )
    a = daily.select(
        "d",
        F.col("x").alias("xa"),
        F.explode(F.expr("sequence(1, 30)")).alias("k"),
    ).withColumn("k", F.col("k").cast("bigint"))
    b = daily.select(F.col("d").alias("bd"), F.col("x").alias("xb"))
    slopes = a.join(b, F.col("bd") == F.col("d") + F.col("k")).select(
        F.expr("(xb - xa) * 1000000 div k").alias("slope_scaled")
    )
    return slopes.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.expr("percentile(slope_scaled, 0.25)").alias("slope_p25"),
        F.expr("percentile(slope_scaled, 0.5)").alias("slope_median"),
        F.expr("percentile(slope_scaled, 0.75)").alias("slope_p75"),
    )


@register(
    "partition_scheme_advisor",
    """
    WITH e AS (
      SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
             CAST(40 + length(event_type) + length(coalesce(props, ''))
                  AS BIGINT) AS row_bytes
      FROM events
    ), by_day AS (
      SELECT 'day' AS scheme, day AS pkey,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(row_bytes) AS BIGINT) AS bytes
      FROM e GROUP BY day
    ), by_day_type AS (
      SELECT 'day_type' AS scheme, day || '/' || event_type AS pkey,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(row_bytes) AS BIGINT) AS bytes
      FROM e GROUP BY day, event_type
    ), stacked AS (
      SELECT * FROM by_day UNION ALL SELECT * FROM by_day_type
    )
    SELECT scheme,
           CAST(count(*) AS BIGINT) AS n_partitions,
           CAST(min(bytes) AS BIGINT) AS min_bytes,
           CAST(max(bytes) AS BIGINT) AS max_bytes,
           CAST(sum(bytes) // count(*) AS BIGINT) AS avg_bytes,
           CAST(max(bytes) * count(*) * 1000000 // sum(bytes) AS BIGINT)
             AS skew_x_ppm,
           CAST(sum(CASE WHEN bytes < 16384 THEN 1 ELSE 0 END) AS BIGINT)
             AS small_partitions
    FROM stacked GROUP BY scheme ORDER BY scheme
    """,
)
def partition_scheme_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lake partition-layout advisor — the directory-scheme decision
    every event lake makes once and lives with for years: for each
    candidate Hive partitioning (by day vs by day/type), the partition
    count, byte-size distribution, skew (max over mean, ppm), and the
    small-partition count under a fixture-scaled 16 KiB floor (prod:
    the 128 MiB small-file threshold — same arithmetic). Finer schemes
    buy partition pruning (test_date_partitioned_layout_prunes_partitions
    proves the pruning side) but multiply partition count and shrink
    files — this query prices that trade with data instead of folklore.
    Complements compaction_bin_packing (fixing small files after the
    fact) and zonemap/zorder (intra-file layout).

    Scale: two partial-aggregated rollups over one stacked lineage (the
    finer scheme's cardinality is day×type — still metadata-sized), a
    |schemes|-row report. At 100 TB the same query runs on the file
    manifest instead of raw rows; the arithmetic is unchanged."""
    events = load_table(spark, sf_dir, "events")
    e = events.select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        "event_type",
        (
            F.lit(40)
            + F.length("event_type")
            + F.length(F.coalesce(F.col("props"), F.lit("")))
        )
        .cast("bigint")
        .alias("row_bytes"),
    )
    by_day = e.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("row_bytes").cast("bigint").alias("bytes"),
    ).select(F.lit("day").alias("scheme"), F.col("day").alias("pkey"), "n_rows", "bytes")
    by_day_type = e.groupBy("day", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("row_bytes").cast("bigint").alias("bytes"),
    ).select(
        F.lit("day_type").alias("scheme"),
        F.concat_ws("/", "day", "event_type").alias("pkey"),
        "n_rows",
        "bytes",
    )
    stacked = by_day.unionByName(by_day_type)
    return (
        stacked.groupBy("scheme")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_partitions"),
            F.min("bytes").cast("bigint").alias("min_bytes"),
            F.max("bytes").cast("bigint").alias("max_bytes"),
            F.expr("CAST(sum(bytes) div count(*) AS BIGINT)").alias("avg_bytes"),
            F.expr(
                "CAST(max(bytes) * count(*) * 1000000 div sum(bytes) AS BIGINT)"
            ).alias("skew_x_ppm"),
            F.sum(F.when(F.col("bytes") < 16384, 1).otherwise(0))
            .cast("bigint")
            .alias("small_partitions"),
        )
        .orderBy("scheme")
    )


def _two_sample_cdf(spark, per_val: DataFrame, order_col: str):
    """Both empirical CDFs of a two-sample comparison over ONE pinned
    range-repartition (two independent distributed_prefix_sum calls
    would each SAMPLE their own partition boundaries, so their rows
    could not be joined back consistently): the distinct-value frame
    (order_col, ca, cb) gains inclusive cumulative counts cum_a/cum_b
    via two running sums over the same pid window plus a two-offset
    |partitions|-row probe. Returns (cum_frame, 1-row totals na/nb)."""
    parts = per_val.repartitionByRange(
        32, F.col(order_col)
    ).sortWithinPartitions(order_col)
    withpid = parts.withColumn("__pid", F.spark_partition_id()).persist()
    psums = (
        withpid.groupBy("__pid")
        .agg(F.sum("ca").alias("sa"), F.sum("cb").alias("sb"))
        .collect()
    )
    offs, acc_a, acc_b = [], 0, 0
    for r in sorted((r["__pid"], r["sa"] or 0, r["sb"] or 0) for r in psums):
        offs.append((r[0], acc_a, acc_b))
        acc_a += r[1]
        acc_b += r[2]
    off_df = spark.createDataFrame(offs, "__pid int, __oa long, __ob long")
    w = (
        Window.partitionBy("__pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = withpid.join(F.broadcast(off_df), "__pid").select(
        order_col,
        "ca",
        "cb",
        (F.sum("ca").over(w) + F.col("__oa")).alias("cum_a"),
        (F.sum("cb").over(w) + F.col("__ob")).alias("cum_b"),
    )
    tot = per_val.agg(
        F.sum("ca").cast("bigint").alias("na"),
        F.sum("cb").cast("bigint").alias("nb"),
    )
    return cum, tot


@register(
    "ks_drift_exact",
    """
    WITH tagged AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             CASE WHEN strftime(o_orderdate, '%Y') <= '1997' THEN 'a'
                  ELSE 'b' END AS side
      FROM orders
    ), per_val AS (
      SELECT cents,
             CAST(sum(CASE WHEN side = 'a' THEN 1 ELSE 0 END) AS BIGINT)
               AS ca,
             CAST(sum(CASE WHEN side = 'b' THEN 1 ELSE 0 END) AS BIGINT)
               AS cb
      FROM tagged GROUP BY cents
    ), cum AS (
      SELECT cents,
             sum(ca) OVER (ORDER BY cents) AS cum_a,
             sum(cb) OVER (ORDER BY cents) AS cum_b
      FROM per_val
    ), tot AS (
      SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb
      FROM per_val
    )
    SELECT tot.na, tot.nb,
           CAST(max(abs(cum_a * tot.nb - cum_b * tot.na)) AS BIGINT)
             AS d_num,
           round(CAST(max(abs(cum_a * tot.nb - cum_b * tot.na)) AS DOUBLE)
                 / (tot.na * tot.nb), 6) AS ks_stat
    FROM cum, tot GROUP BY tot.na, tot.nb
    """,
)
def ks_drift_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT two-sample Kolmogorov-Smirnov drift between early
    (≤1997) and late (≥1998) order-value distributions — the
    distribution-shift detector that needs no binning choice
    (feature_drift_bins' chi-square is its binned cousin; KS catches
    shifts chi-square's bin edges can hide). D = max |F_a − F_b| over
    the merged support, computed as an exact integer numerator
    (|cum_a·n_b − cum_b·n_a|, cross-multiplied so no division enters
    the max) and ONE final IEEE division for the reported statistic.

    Scale: both empirical CDFs ride ONE pass of the scale-safe global
    cumulative (distributed_prefix_sum over the distinct-value frame —
    value-domain-sized, never row-sized — carrying both sides' counts
    through the same range-repartition, so the two CDFs share one
    exchange); the totals are a 1-row broadcast (whitelisted). The
    oracle writes the textbook single-window form."""
    orders = load_table(spark, sf_dir, "orders")
    tagged = orders.select(
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
        F.when(F.date_format("o_orderdate", "yyyy") <= "1997", "a")
        .otherwise("b")
        .alias("side"),
    )
    per_val = tagged.groupBy("cents").agg(
        F.sum(F.when(F.col("side") == "a", 1).otherwise(0))
        .cast("bigint")
        .alias("ca"),
        F.sum(F.when(F.col("side") == "b", 1).otherwise(0))
        .cast("bigint")
        .alias("cb"),
    )
    cum, tot = _two_sample_cdf(spark, per_val, "cents")
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("na", "nb")
        .agg(
            F.max(F.abs(F.col("cum_a") * F.col("nb") - F.col("cum_b") * F.col("na")))
            .cast("bigint")
            .alias("d_num"),
            F.expr(
                "round(CAST(max(abs(cum_a * nb - cum_b * na)) AS DOUBLE)"
                " / (na * nb), 6)"
            ).alias("ks_stat"),
        )
        .select("na", "nb", "d_num", "ks_stat")
    )


@register(
    "mannwhitney_auc_drift",
    """
    WITH tagged AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             CASE WHEN strftime(o_orderdate, '%Y') <= '1997' THEN 'a'
                  ELSE 'b' END AS side
      FROM orders
    ), per_val AS (
      SELECT cents,
             CAST(sum(CASE WHEN side = 'a' THEN 1 ELSE 0 END) AS BIGINT)
               AS ca,
             CAST(sum(CASE WHEN side = 'b' THEN 1 ELSE 0 END) AS BIGINT)
               AS cb
      FROM tagged GROUP BY cents
    ), cum AS (
      SELECT cents, ca, cb,
             sum(ca) OVER (ORDER BY cents) AS cum_a,
             sum(cb) OVER (ORDER BY cents) AS cum_b
      FROM per_val
    ), tot AS (
      SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb
      FROM per_val
    ), r AS (
      SELECT CAST(sum(ca * (2 * (cum_a + cum_b - ca - cb) + ca + cb + 1))
                  AS BIGINT) AS r2a
      FROM cum
    )
    SELECT tot.na, tot.nb,
           CAST(r.r2a - tot.na * (tot.na + 1) AS BIGINT) AS u2_a,
           round(CAST(r.r2a - tot.na * (tot.na + 1) AS DOUBLE)
                 / (2 * tot.na * tot.nb), 6) AS auc_early_gt_late
    FROM tot, r
    """,
)
def mannwhitney_auc_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U / AUC effect size for the same early-vs-late
    order-value comparison as ks_drift_exact — KS says WHETHER the
    distributions differ; the rank-sum AUC says HOW MUCH and in WHICH
    DIRECTION (P(early order > late order), ties counted half — 0.5 =
    no shift, the probabilistic effect size a report can act on).
    Tie-corrected midranks are kept exact by DOUBLING (2·midrank =
    2·cum_before + c + 1 — always integer), so the doubled rank sum and
    doubled U are exact BIGINTs; ONE final IEEE division reports AUC.

    Scale: rides the same _two_sample_cdf machinery as the KS query —
    one pinned range-repartitioned pass over the distinct-value frame
    carries both sides' counts and cumulative counts; the rank-sum is
    one aggregate over that value-domain-sized frame; totals are a
    1-row broadcast (whitelisted)."""
    orders = load_table(spark, sf_dir, "orders")
    tagged = orders.select(
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
        F.when(F.date_format("o_orderdate", "yyyy") <= "1997", "a")
        .otherwise("b")
        .alias("side"),
    )
    per_val = tagged.groupBy("cents").agg(
        F.sum(F.when(F.col("side") == "a", 1).otherwise(0))
        .cast("bigint")
        .alias("ca"),
        F.sum(F.when(F.col("side") == "b", 1).otherwise(0))
        .cast("bigint")
        .alias("cb"),
    )
    cum, tot = _two_sample_cdf(spark, per_val, "cents")
    r = cum.agg(
        F.sum(
            F.col("ca")
            * (
                2 * (F.col("cum_a") + F.col("cum_b") - F.col("ca") - F.col("cb"))
                + F.col("ca")
                + F.col("cb")
                + 1
            )
        )
        .cast("bigint")
        .alias("r2a")
    )
    return (
        tot.crossJoin(F.broadcast(r))
        .select(
            "na",
            "nb",
            F.expr("CAST(r2a - na * (na + 1) AS BIGINT)").alias("u2_a"),
            F.expr(
                "round(CAST(r2a - na * (na + 1) AS DOUBLE)"
                " / (2 * na * nb), 6)"
            ).alias("auc_early_gt_late"),
        )
    )


@register(
    "bot_user_heuristic",
    """
    WITH gaps AS (
      SELECT user_id, event_type, epoch_us(ts) AS micros,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ) AS gap_us
      FROM events
    ), per_user AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
             CAST(max(micros) - min(micros) AS BIGINT) AS span_us,
             CAST(min(gap_us) AS BIGINT) AS min_gap_us,
             CAST(max(gap_us) AS BIGINT) AS max_gap_us,
             CAST(sum(gap_us) AS BIGINT) AS sum_gap_us,
             CAST(count(gap_us) AS BIGINT) AS n_gaps
      FROM gaps GROUP BY user_id
    ), flags AS (
      SELECT user_id, n_events, n_types,
             (span_us > 0 AND n_events * CAST(3600000000000 AS BIGINT)
                > 100 * span_us) AS high_rate,
             (n_events >= 50 AND n_types <= 2) AS low_diversity,
             (n_gaps >= 20 AND (max_gap_us - min_gap_us) * n_gaps * 10
                < 30 * sum_gap_us) AS metronomic
      FROM per_user
    )
    SELECT user_id, n_events, n_types, high_rate, low_diversity, metronomic,
           CAST(CASE WHEN high_rate THEN 1 ELSE 0 END
                + CASE WHEN low_diversity THEN 1 ELSE 0 END
                + CASE WHEN metronomic THEN 1 ELSE 0 END AS BIGINT)
             AS bot_score
    FROM flags
    WHERE (CASE WHEN high_rate THEN 1 ELSE 0 END
           + CASE WHEN low_diversity THEN 1 ELSE 0 END
           + CASE WHEN metronomic THEN 1 ELSE 0 END) >= 1
    ORDER BY user_id
    """,
)
def bot_user_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot/automation detector over the event stream — the traffic-
    quality gate that runs before any engagement metric is trusted
    (a scraper in the corpus inflates retention, funnels, and training
    labels alike): three integer-exact heuristics — sustained rate
    above 0.1 events/hour (cross-multiplied in milli-events; the
    fixture-scaled knob — a prod stream sets its own rate), low action
    diversity at volume (≥50 events over ≤2 types), and metronomic
    timing (gap range under 3× the mean gap, cross-multiplied — human
    arrivals are bursty, cron jobs are not; cf. interevent_gap_stats
    for the corpus-level arrival profile). Users with ANY flag are
    emitted with the full flag vector and additive score, so the
    downstream filter picks its own strictness instead of inheriting a
    baked-in verdict.

    Scale: one user-partitioned lag window (ordered by the unique
    (event-time, event_id)), one per-user aggregate carrying min/max/
    sum of gaps — O(1) state per user, no percentile sort — then a
    user-domain-sized filter. Linear, one shuffle."""
    from dbtransfer_spark.operators.windows import epoch_micros

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("micros", "event_id")
    gaps = events.select(
        "user_id",
        "event_type",
        "event_id",
        epoch_micros(events, "ts").alias("micros"),
    ).withColumn("gap_us", F.col("micros") - F.lag("micros").over(w))
    per_user = gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.countDistinct("event_type").cast("bigint").alias("n_types"),
        (F.max("micros") - F.min("micros")).cast("bigint").alias("span_us"),
        F.min("gap_us").cast("bigint").alias("min_gap_us"),
        F.max("gap_us").cast("bigint").alias("max_gap_us"),
        F.sum("gap_us").cast("bigint").alias("sum_gap_us"),
        F.count("gap_us").cast("bigint").alias("n_gaps"),
    )
    flags = per_user.select(
        "user_id",
        "n_events",
        "n_types",
        (
            (F.col("span_us") > 0)
            & (F.col("n_events") * F.lit(3600000000000).cast("bigint")
               > 100 * F.col("span_us"))
        ).alias("high_rate"),
        ((F.col("n_events") >= 50) & (F.col("n_types") <= 2)).alias(
            "low_diversity"
        ),
        (
            (F.col("n_gaps") >= 20)
            & (
                (F.col("max_gap_us") - F.col("min_gap_us"))
                * F.col("n_gaps")
                * 10
                < 30 * F.col("sum_gap_us")
            )
        ).alias("metronomic"),
    )
    score = (
        F.when(F.col("high_rate"), 1).otherwise(0)
        + F.when(F.col("low_diversity"), 1).otherwise(0)
        + F.when(F.col("metronomic"), 1).otherwise(0)
    )
    return (
        flags.withColumn("bot_score", score.cast("bigint"))
        .filter(F.col("bot_score") >= 1)
        .select(
            "user_id", "n_events", "n_types",
            "high_rate", "low_diversity", "metronomic", "bot_score",
        )
        .orderBy("user_id")
    )


@register(
    "t_closeness_audit",
    """
    WITH qi AS (
      SELECT o.o_orderkey,
             c.c_nationkey, c.c_mktsegment,
             CAST(floor(c.c_acctbal / 1000) AS BIGINT) AS bal_band,
             CAST(substr(o.o_orderpriority, 1, 1) AS BIGINT) AS p
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    per_class AS (
      SELECT c_nationkey, c_mktsegment, bal_band,
             CAST(count(*) AS BIGINT) AS n_g,
             CAST(sum(CASE WHEN p <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
             CAST(sum(CASE WHEN p <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
             CAST(sum(CASE WHEN p <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS c3,
             CAST(sum(CASE WHEN p <= 4 THEN 1 ELSE 0 END) AS BIGINT) AS c4
      FROM qi GROUP BY c_nationkey, c_mktsegment, bal_band
    ),
    overall AS (
      SELECT CAST(sum(n_g) AS BIGINT) AS n_all,
             CAST(sum(c1) AS BIGINT) AS g1, CAST(sum(c2) AS BIGINT) AS g2,
             CAST(sum(c3) AS BIGINT) AS g3, CAST(sum(c4) AS BIGINT) AS g4
      FROM per_class
    ),
    scored AS (
      SELECT p.c_nationkey, p.c_mktsegment, p.bal_band, p.n_g,
             CAST(abs(p.c1 * g.n_all - g.g1 * p.n_g)
                + abs(p.c2 * g.n_all - g.g2 * p.n_g)
                + abs(p.c3 * g.n_all - g.g3 * p.n_g)
                + abs(p.c4 * g.n_all - g.g4 * p.n_g) AS BIGINT) AS emd_num,
             g.n_all
      FROM per_class p CROSS JOIN overall g
    )
    SELECT c_nationkey, c_mktsegment, bal_band,
           n_g AS n_orders, emd_num,
           round(CAST(emd_num AS DOUBLE) / (4.0 * n_g * n_all), 6) AS emd,
           TRUE AS above_t
    FROM scored
    WHERE 5 * emd_num > 4 * n_g * n_all
    ORDER BY c_nationkey, c_mktsegment, bal_band
    """,
)
def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit — the privacy gate AFTER k_anonymity_audit and
    l_diversity_audit: a class can be large AND diverse yet still leak if
    its sensitive-value DISTRIBUTION sits far from the table-wide one
    (skewness attack). Sensitive attribute = order priority (ordered,
    rank 1..5); distance = Earth Mover's Distance under the ordered
    metric, which for 1-D distributions is the mean absolute gap between
    the two CDFs. Classes with EMD > t = 0.2 are the generalize/suppress
    worklist.

    Exactness: both CDFs stay INTEGER. The per-class cumulative counts at
    the m-1 = 4 boundaries come from conditional aggregation (no bucket
    densify, no window), and the gap |c_i/n_g - g_i/N| cross-multiplies
    to |c_i*N - g_i*n_g| — pure BIGINT, so the t-threshold compare
    (5*emd_num > 4*n_g*N) has zero float risk; the reported `emd` double
    is display-only, one identical expression in both engines.
    Magnitudes: c_i*N <= n_g*N; at 100 TB (N ~ 1e11, class sizes ~ 1e6)
    the products stay ~1e17 < 2^63.

    Scale: one customer⋈orders equi-join on the customer key (the same
    fact-sized join l_diversity_audit pays), ONE partial-aggregated
    groupBy to |QI classes| rows, and a 1-row broadcast of the global
    moments RE-AGGREGATED from the class frame (no second fact scan).
    Nothing after the first aggregate scales with row count."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    qi = orders.join(
        cust, orders.o_custkey == cust.c_custkey
    ).select(
        F.col("c_nationkey").cast("bigint").alias("c_nationkey"),
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("bal_band"),
        F.substring("o_orderpriority", 1, 1).cast("bigint").alias("p"),
    )
    cum = [
        F.sum(F.when(F.col("p") <= i, 1).otherwise(0)).cast("bigint").alias(f"c{i}")
        for i in range(1, 5)
    ]
    per_class = (
        qi.groupBy("c_nationkey", "c_mktsegment", "bal_band")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_g"), *cum)
        .persist()  # global moments re-aggregate this frame (no 2nd fact scan)
    )
    glob = per_class.agg(
        F.sum("n_g").cast("bigint").alias("n_all"),
        *[F.sum(f"c{i}").cast("bigint").alias(f"g{i}") for i in range(1, 5)],
    )
    emd_num = sum(
        F.abs(F.col(f"c{i}") * F.col("n_all") - F.col(f"g{i}") * F.col("n_g"))
        for i in range(1, 5)
    ).cast("bigint")
    return (
        per_class.crossJoin(F.broadcast(glob))
        .select(
            "c_nationkey",
            "c_mktsegment",
            "bal_band",
            F.col("n_g").alias("n_orders"),
            emd_num.alias("emd_num"),
            F.round(
                emd_num.cast("double") / (4.0 * F.col("n_g") * F.col("n_all")),
                6,
            ).alias("emd"),
            F.lit(True).alias("above_t"),
            (5 * emd_num > 4 * F.col("n_g") * F.col("n_all")).alias("_keep"),
        )
        .filter(F.col("_keep"))
        .drop("_keep")
        .orderBy("c_nationkey", "c_mktsegment", "bal_band")
    )


@register(
    "apportion_largest_remainder",
    """
    WITH counts AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source
    ),
    tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total FROM counts),
    quota AS (
      SELECT c.source, c.n_docs,
             (1000 * c.n_docs) // t.n_total AS floor_alloc,
             (1000 * c.n_docs) % t.n_total AS rem_num,
             t.n_total
      FROM counts c CROSS JOIN tot t
    ),
    ranked AS (
      SELECT *,
             row_number() OVER (ORDER BY rem_num DESC, source) AS rem_rank,
             1000 - sum(floor_alloc) OVER () AS leftover
      FROM quota
    )
    SELECT source, n_docs,
           CAST(floor_alloc AS BIGINT) AS floor_alloc,
           CAST(rem_num AS BIGINT) AS rem_num,
           (rem_rank <= leftover) AS got_extra,
           CAST(floor_alloc + CASE WHEN rem_rank <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS alloc
    FROM ranked ORDER BY source
    """,
)
def apportion_largest_remainder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of a fixed sample
    budget (B = 1000) across sources proportional to document count —
    the exact integer allocator behind per-source sampling quotas,
    shard budgets, and eval-set composition. Floor every quota
    B*n_i/N, then hand the leftover seats to the largest fractional
    remainders (source name breaks ties): Σ alloc == B exactly, no
    float quota ever computed.

    Scale: one partial-aggregated count to |sources| rows; the total is
    re-aggregated from that frame (1-row broadcast, no second scan) and
    the rank/leftover windows run over the domain-bounded aggregate —
    the same bounded-window idiom as source_temperature_allocation."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    tot = counts.agg(F.sum("n_docs").cast("bigint").alias("n_total"))
    quota = counts.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        F.expr("(1000 * n_docs) div n_total").alias("floor_alloc"),
        F.expr("(1000 * n_docs) % n_total").alias("rem_num"),
    )
    ranked = quota.select(
        "*",
        F.row_number()
        .over(Window.partitionBy().orderBy(F.desc("rem_num"), "source"))
        .alias("rem_rank"),
        (F.lit(1000) - F.sum("floor_alloc").over(Window.partitionBy())).alias(
            "leftover"
        ),
    )
    return ranked.select(
        "source",
        "n_docs",
        F.col("floor_alloc").cast("bigint").alias("floor_alloc"),
        F.col("rem_num").cast("bigint").alias("rem_num"),
        (F.col("rem_rank") <= F.col("leftover")).alias("got_extra"),
        (
            F.col("floor_alloc")
            + F.when(F.col("rem_rank") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("alloc"),
    ).orderBy("source")


@register(
    "cuped_adjusted_lift",
    """
    WITH per_cust AS (
      SELECT o_custkey % 2 AS t,
             CAST(sum(CASE WHEN o_orderdate < DATE '1998-01-01'
                      THEN CAST(round(o_totalprice * 100) AS BIGINT)
                      ELSE 0 END) AS DECIMAL(19,0)) AS x,
             CAST(sum(CASE WHEN o_orderdate >= DATE '1998-01-01'
                      THEN CAST(round(o_totalprice * 100) AS BIGINT)
                      ELSE 0 END) AS DECIMAL(19,0)) AS y
      FROM orders GROUP BY o_custkey
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(sum(x) AS DOUBLE) AS sx,
             CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(x * x) AS DOUBLE) AS sxx,
             CAST(sum(x * y) AS DOUBLE) AS sxy,
             CAST(sum(y * y) AS DOUBLE) AS syy,
             CAST(sum(CASE WHEN t = 1 THEN x ELSE CAST(0 AS DECIMAL(19,0)) END)
                  AS DOUBLE) AS sx1,
             CAST(sum(CASE WHEN t = 1 THEN y ELSE CAST(0 AS DECIMAL(19,0)) END)
                  AS DOUBLE) AS sy1
      FROM per_cust
    )
    SELECT n1 AS n_treat, n - n1 AS n_ctrl,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS theta,
           round(sy1 / n1 - (sy - sy1) / (n - n1), 4) AS lift_raw_cents,
           round(sy1 / n1 - (sy - sy1) / (n - n1)
                 - ((n * sxy - sx * sy) / (n * sxx - sx * sx))
                   * (sx1 / n1 - (sx - sx1) / (n - n1)), 4)
             AS lift_cuped_cents,
           round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
             AS var_reduction
    FROM m
    """,
)
def cuped_adjusted_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B lift (Deng et al., WSDM'13 — the
    standard experimentation-platform estimator): adjust each unit's
    post-period metric by θ·(pre-period covariate − mean) with
    θ = cov(x,y)/var(x), shrinking the lift's variance by ρ² without
    biasing it. Units = customers; x = pre-1998 spend (cents), y =
    1998+ spend; arms = custkey parity (a deterministic stand-in for
    the assignment column a real platform carries).

    Float discipline (the ols_price_on_quantity pattern): per-customer
    cents are exact BIGINT folded to DECIMAL(19,0); the five pooled
    moments and two per-arm sums accumulate in DECIMAL (order-
    independent, bit-identical across engines); ONLY the closed-form
    θ/lift arithmetic runs in double, as one identical expression tree
    on both sides. DECIMAL(19,0)² products stay far inside the
    38-precision cap at any SF.

    Scale: one partial-aggregated groupBy(custkey) over the fact table,
    then ONE global aggregate to a single row (arm splits via
    conditional aggregation — no second pass, no window, no pivot)."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(
            F.when(F.col("o_orderdate") < F.lit("1998-01-01").cast("date"), cents)
            .otherwise(F.lit(0))
        )
        .cast("decimal(19,0)")
        .alias("x"),
        F.sum(
            F.when(F.col("o_orderdate") >= F.lit("1998-01-01").cast("date"), cents)
            .otherwise(F.lit(0))
        )
        .cast("decimal(19,0)")
        .alias("y"),
    ).select((F.col("o_custkey") % 2).alias("t"), "x", "y")
    zero = F.lit(0).cast("decimal(19,0)")
    m = per_cust.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("t") == 1, 1).otherwise(0)).cast("bigint").alias("n1"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
        F.sum(F.when(F.col("t") == 1, F.col("x")).otherwise(zero))
        .cast("double")
        .alias("sx1"),
        F.sum(F.when(F.col("t") == 1, F.col("y")).otherwise(zero))
        .cast("double")
        .alias("sy1"),
    )
    theta = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    lift_raw = F.col("sy1") / F.col("n1") - (F.col("sy") - F.col("sy1")) / (
        F.col("n") - F.col("n1")
    )
    pre_gap = F.col("sx1") / F.col("n1") - (F.col("sx") - F.col("sx1")) / (
        F.col("n") - F.col("n1")
    )
    return m.select(
        F.col("n1").alias("n_treat"),
        (F.col("n") - F.col("n1")).alias("n_ctrl"),
        F.round(theta, 6).alias("theta"),
        F.round(lift_raw, 4).alias("lift_raw_cents"),
        F.round(lift_raw - theta * pre_gap, 4).alias("lift_cuped_cents"),
        F.round(
            (
                (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
                * (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            )
            / (
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
            ),
            6,
        ).alias("var_reduction"),
    )


@register(
    "seasonal_decomposition_classical",
    """
    WITH monthly AS (
      SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS ym,
             CAST(month(o_orderdate) AS BIGINT) AS cal_month,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
      FROM orders GROUP BY 1, 2
    ),
    contrib AS (
      SELECT m.ym + o.off AS t,
             CAST(CASE WHEN abs(o.off) = 6 THEN 1 ELSE 2 END * m.y AS BIGINT)
               AS wy
      FROM monthly m, UNNEST(range(-6, 7)) AS o(off)
    ),
    trend AS (
      SELECT t AS ym, CAST(sum(wy) AS BIGINT) AS trend_x24
      FROM contrib GROUP BY t HAVING count(*) = 13
    ),
    dev AS (
      SELECT m.ym, m.cal_month,
             t.trend_x24, 24 * m.y - t.trend_x24 AS dev_x24
      FROM monthly m JOIN trend t USING (ym)
    ),
    seas AS (
      SELECT cal_month, CAST(sum(dev_x24) AS BIGINT) AS seasonal_num,
             CAST(count(*) AS BIGINT) AS seasonal_cnt
      FROM dev GROUP BY cal_month
    )
    SELECT m.ym, m.cal_month, m.y AS y_cents,
           d.trend_x24, d.dev_x24,
           s.seasonal_num, s.seasonal_cnt,
           d.dev_x24 * s.seasonal_cnt - s.seasonal_num AS remainder_num
    FROM monthly m
    LEFT JOIN (SELECT ym, trend_x24, dev_x24 FROM dev) d USING (ym)
    LEFT JOIN seas s ON m.cal_month = s.cal_month
    ORDER BY m.ym
    """,
)
def seasonal_decomposition_classical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of the monthly revenue
    series (trend = centered 2x12 moving average, seasonal = per-calendar-
    month mean deviation, remainder = what's left) — the workhorse
    decomposition behind seasonality-aware forecasting and anomaly
    baselines, feeding the same consumers as acf_lag_ingredients.

    Exactness (the emit-the-ingredients discipline): the 2x12 MA has
    integer weights (1,2,...,2,1)/24, so trend rides as trend_x24 =
    Σ w·y_cents (BIGINT, defined only where all 13 contributions exist —
    series edges are NULL, the classical treatment); deviation as
    dev_x24 = 24·y − trend_x24; the seasonal component as the exact
    rational (seasonal_num, seasonal_cnt); and the remainder as the
    cross-multiplied integer dev_x24·cnt − num. No float enters the
    hash; one driver-side division renders the curves.

    Scale: the monthly aggregate is ONE partial-aggregated shuffle to
    |months| rows regardless of SF; the centered MA is a 13x literal
    offset explode + re-aggregate on that bounded frame (the
    acf_lag_ingredients self-alignment pattern, no window, no sort);
    seasonal is a 12-row broadcast joined back."""
    orders = load_table(spark, sf_dir, "orders")
    monthly = (
        orders.groupBy(
            F.expr(
                "CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)"
            ).alias("ym"),
            F.month("o_orderdate").cast("bigint").alias("cal_month"),
        )
        .agg(
            F.expr(
                "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)"
            ).alias("y")
        )
        .persist()  # MA explode + two joins back consume it
    )
    contrib = monthly.select(
        "ym", "y", F.explode(F.expr("sequence(-6, 6)")).alias("off")
    ).select(
        (F.col("ym") + F.col("off")).alias("t"),
        (
            F.when(F.abs("off") == 6, 1).otherwise(2) * F.col("y")
        )
        .cast("bigint")
        .alias("wy"),
    )
    trend = (
        contrib.groupBy("t")
        .agg(
            F.sum("wy").cast("bigint").alias("trend_x24"),
            F.count(F.lit(1)).alias("n_contrib"),
        )
        .filter(F.col("n_contrib") == 13)
        .select(F.col("t").alias("ym"), "trend_x24")
    )
    dev = monthly.join(trend, "ym").select(
        "ym",
        "cal_month",
        "trend_x24",
        (24 * F.col("y") - F.col("trend_x24")).alias("dev_x24"),
    )
    seas = dev.groupBy("cal_month").agg(
        F.sum("dev_x24").cast("bigint").alias("seasonal_num"),
        F.count(F.lit(1)).cast("bigint").alias("seasonal_cnt"),
    )
    return (
        monthly.join(dev.select("ym", "trend_x24", "dev_x24"), "ym", "left")
        .join(F.broadcast(seas), "cal_month", "left")
        .select(
            "ym",
            "cal_month",
            F.col("y").alias("y_cents"),
            "trend_x24",
            "dev_x24",
            "seasonal_num",
            "seasonal_cnt",
            (
                F.col("dev_x24") * F.col("seasonal_cnt") - F.col("seasonal_num")
            ).alias("remainder_num"),
        )
        .orderBy("ym")
    )


@register(
    "frequent_triples_apriori",
    """
    WITH basket AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    freq_item AS (
      SELECT l_partkey FROM basket GROUP BY 1 HAVING count(*) >= 3
    ),
    pruned AS (
      SELECT b.l_orderkey, b.l_partkey FROM basket b
      JOIN freq_item f USING (l_partkey)
    ),
    triple AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2, c.l_partkey AS p3
      FROM pruned a
      JOIN pruned b ON a.l_orderkey = b.l_orderkey
                   AND a.l_partkey < b.l_partkey
      JOIN pruned c ON b.l_orderkey = c.l_orderkey
                   AND b.l_partkey < c.l_partkey
    )
    SELECT p1, p2, p3, CAST(count(*) AS BIGINT) AS support
    FROM triple GROUP BY p1, p2, p3 HAVING count(*) >= 2
    ORDER BY support DESC, p1, p2, p3
    """,
)
def frequent_triples_apriori(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 3-itemsets with Apriori pruning — the market-basket level
    above market_basket_pairs (pair support/lift) and item_cf_cosine2_topk
    (ranked neighbors): triples co-purchased in >= 2 baskets, after
    dropping items whose own support < 3 (the Apriori monotonicity cut —
    an infrequent ITEM cannot appear in a frequent triple, so the prune
    is lossless).

    Scale: the prune is the whole story at 100 TB. Candidate volume is
    Σ C(|pruned basket|, 3); without the item-frequency cut a single
    mega-basket of rare items explodes cubically, with it the basket
    width only counts frequent items. Generation is the item_cf
    collect_set + in-order lambda explode — Σ C(w,3) rows from ONE
    basket-keyed shuffle, zero join exchanges (the SQL oracle spells the
    same set as a 3-way self-join) — then one partial-aggregated count
    on the (p1,p2,p3) key. A basket-width cap before the explode is the
    documented guard for pathological baskets."""
    li = load_table(spark, sf_dir, "lineitem")
    basket = li.select("l_orderkey", "l_partkey").distinct()
    freq_item = (
        basket.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 3)
        .select("l_partkey")
    )
    pruned = basket.join(freq_item, "l_partkey")
    sets = pruned.groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("ps")
    )
    triples = sets.select(
        F.explode(
            F.expr(
                "flatten(flatten(transform(ps, x -> transform("
                "filter(ps, y -> y > x), y -> transform("
                "filter(ps, z -> z > y), z ->"
                " struct(x AS p1, y AS p2, z AS p3))))))"
            )
        ).alias("tr")
    ).select("tr.p1", "tr.p2", "tr.p3")
    return (
        triples.groupBy("p1", "p2", "p3")
        .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
        .filter(F.col("support") >= 2)
        .orderBy(F.desc("support"), "p1", "p2", "p3")
    )


@register(
    "overdispersion_audit",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(n) AS BIGINT) AS n_events,
           CAST(sum(n * n) AS BIGINT) AS sum_sq,
           CAST((count(*) * sum(n * n) - sum(n) * sum(n)) * 1000000
                // (count(*) * sum(n)) AS BIGINT) AS vmr_x1e6_times_n,
           ((count(*) * sum(n * n) - sum(n) * sum(n))
             > 2 * count(*) * sum(n)) AS overdispersed_2x
    FROM daily GROUP BY event_type ORDER BY event_type
    """,
)
def overdispersion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overdispersion (variance-to-mean ratio) audit of daily event
    counts per type — the Poisson sanity check behind alert thresholds:
    a type whose daily counts have variance >> mean is bursty, and any
    alerting/capacity model assuming Poisson arrivals will page falsely.
    Flags types where the (population) variance exceeds 2x the mean.

    Exactness: VMR = (n·Σx² − (Σx)²) / (n·Σx) cross-multiplies to pure
    BIGINT — the flag compares n·Σx² − (Σx)² > 2·n·Σx with zero float;
    the scaled vmr_x1e6_times_n integer is the same ratio ×10⁶·n for
    display. (Σx)² needs care at 100 TB: Σx ≤ 2^31 per type keeps the
    square in BIGINT; beyond that the sums move to DECIMAL(38,0) — the
    cuped_adjusted_lift pattern.

    Scale: two partial-aggregated shuffles ((type, day), then type) —
    the user_type_diversity shape; nothing else scales with SF."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return (
        daily.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.sum("n").cast("bigint").alias("n_events"),
            F.sum(F.col("n") * F.col("n")).cast("bigint").alias("sum_sq"),
        )
        .select(
            "event_type",
            "n_days",
            "n_events",
            "sum_sq",
            F.expr(
                "CAST((n_days * sum_sq - n_events * n_events) * 1000000"
                " div (n_days * n_events) AS BIGINT)"
            ).alias("vmr_x1e6_times_n"),
            (
                (
                    F.col("n_days") * F.col("sum_sq")
                    - F.col("n_events") * F.col("n_events")
                )
                > 2 * F.col("n_days") * F.col("n_events")
            ).alias("overdispersed_2x"),
        )
        .orderBy("event_type")
    )


@register(
    "generalization_ladder_audit",
    """
    WITH lvl AS (
      SELECT c_custkey, lv,
             CASE lv
               WHEN 0 THEN concat(c_nationkey, '|', c_mktsegment, '|',
                                  CAST(floor(c_acctbal / 1000) AS BIGINT))
               WHEN 1 THEN concat(c_nationkey, '|', c_mktsegment, '|',
                                  CAST(floor(c_acctbal / 5000) AS BIGINT))
               ELSE concat(c_nationkey, '|', c_mktsegment)
             END AS qi
      FROM customer, UNNEST([0, 1, 2]) AS t(lv)
    ),
    classes AS (
      SELECT lv, qi, CAST(count(*) AS BIGINT) AS grp
      FROM lvl GROUP BY lv, qi
    )
    SELECT CAST(lv AS BIGINT) AS level,
           CAST(count(*) AS BIGINT) AS n_classes,
           CAST(sum(CASE WHEN grp < 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating_classes,
           CAST(sum(CASE WHEN grp < 5 THEN grp ELSE 0 END) AS BIGINT)
             AS n_rows_at_risk,
           CAST(min(grp) AS BIGINT) AS min_class_size,
           (sum(CASE WHEN grp < 5 THEN 1 ELSE 0 END) = 0) AS satisfies_k
    FROM classes GROUP BY lv ORDER BY level
    """,
)
def generalization_ladder_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalization-ladder pricing for k-anonymity (the Samarati
    lattice walk, priced in one pass): evaluate ALL candidate
    generalization levels of the quasi-identifier — level 0 = fine
    balance bands (1000s), level 1 = coarse bands (5000s), level 2 =
    drop the balance attribute — and report each level's violating-class
    count, rows at risk, and whether k=5 is satisfied. The release
    pipeline picks the LOWEST satisfying level (max utility); this emits
    the whole ladder so the utility-vs-privacy trade is visible, not
    just the winner. Completes the privacy family: k_anonymity_audit
    (one level), l_diversity_audit (homogeneity), t_closeness_audit
    (distribution distance).

    Scale: a 3x literal explode at the scan (constant fanout), ONE
    partial-aggregated groupBy on (level, qi-string) — cardinality
    bounded by the QI domain per level, not row count — and a 3-row
    rollup. No joins, no windows; the same one-pass multi-config shape
    as watermark_cost_curve."""
    cust = load_table(spark, sf_dir, "customer")
    lvl = cust.select(
        "c_custkey",
        F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("lv"),
        "c_nationkey",
        "c_mktsegment",
        "c_acctbal",
    ).select(
        "lv",
        F.when(
            F.col("lv") == 0,
            F.concat(
                F.col("c_nationkey").cast("string"),
                F.lit("|"),
                F.col("c_mktsegment"),
                F.lit("|"),
                F.floor(F.col("c_acctbal") / 1000).cast("bigint").cast("string"),
            ),
        )
        .when(
            F.col("lv") == 1,
            F.concat(
                F.col("c_nationkey").cast("string"),
                F.lit("|"),
                F.col("c_mktsegment"),
                F.lit("|"),
                F.floor(F.col("c_acctbal") / 5000).cast("bigint").cast("string"),
            ),
        )
        .otherwise(
            F.concat(
                F.col("c_nationkey").cast("string"),
                F.lit("|"),
                F.col("c_mktsegment"),
            )
        )
        .alias("qi"),
    )
    classes = lvl.groupBy("lv", "qi").agg(
        F.count(F.lit(1)).cast("bigint").alias("grp")
    )
    return (
        classes.groupBy(F.col("lv").cast("bigint").alias("level"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_classes"),
            F.sum(F.when(F.col("grp") < 5, 1).otherwise(0))
            .cast("bigint")
            .alias("n_violating_classes"),
            F.sum(F.when(F.col("grp") < 5, F.col("grp")).otherwise(0))
            .cast("bigint")
            .alias("n_rows_at_risk"),
            F.min("grp").cast("bigint").alias("min_class_size"),
            (
                F.sum(F.when(F.col("grp") < 5, 1).otherwise(0)) == 0
            ).alias("satisfies_k"),
        )
        .orderBy("level")
    )


@register(
    "pseudonym_token_profile",
    """
    WITH tok AS (
      SELECT DISTINCT c_name,
             substr(md5(concat('pseudo.v1|', c_name)), 1, 16) AS token
      FROM customer
    )
    SELECT substr(token, 1, 1) AS bucket,
           CAST(count(*) AS BIGINT) AS n_names,
           CAST(count(DISTINCT token) AS BIGINT) AS n_tokens,
           CAST(count(*) - count(DISTINCT token) AS BIGINT) AS n_collisions
    FROM tok GROUP BY bucket ORDER BY bucket
    """,
)
def pseudonym_token_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consistent pseudonymization audit: replace each customer name with
    a deterministic salted-hash token (md5 of a versioned salt + name,
    truncated to 16 hex chars) and profile the token space by first hex
    digit — the referential-integrity anonymization pii_redact does NOT
    give (redaction destroys joinability; a consistent token preserves
    it across every table that carries the name, run over run). The
    per-bucket distinct-vs-name counts surface truncation collisions
    (none expected at 16 hex chars below ~10^9 names — birthday bound)
    and skew in the token space (uniform by construction; a non-uniform
    profile means a broken salt pipeline).

    The salt is a pipeline VERSION STRING, not a secret — md5 here is a
    deterministic tokenizer (the dataset_split/stratified_sample md5
    discipline), not cryptographic protection; swap an HMAC via the same
    expression shape where the threat model needs one.

    Scale: one DISTINCT on the name domain (dimension-sized), one
    partial-aggregated groupBy over 16 buckets; tokenization is a
    codegen'd hash expression at the scan — no UDF, no shuffle beyond
    the dedup."""
    cust = load_table(spark, sf_dir, "customer")
    tok = cust.select(
        "c_name",
        F.substring(
            F.md5(F.concat(F.lit("pseudo.v1|"), F.col("c_name"))), 1, 16
        ).alias("token"),
    ).distinct()
    return (
        tok.groupBy(F.substring("token", 1, 1).alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_names"),
            F.countDistinct("token").cast("bigint").alias("n_tokens"),
            (F.count(F.lit(1)) - F.countDistinct("token"))
            .cast("bigint")
            .alias("n_collisions"),
        )
        .orderBy("bucket")
    )


@register(
    "dp_sensitivity_audit",
    """
    WITH per_user_day AS (
      SELECT strftime(ts, '%Y-%m-%d') AS d, user_id,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT d,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(n) AS BIGINT) AS n_events,
           CAST(max(n) AS BIGINT) AS max_user_contrib,
           CAST(sum(CASE WHEN n > 10 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_users_over_clip,
           CAST(sum(CASE WHEN n > 10 THEN n - 10 ELSE 0 END) AS BIGINT)
             AS clipped_mass,
           CAST(sum(CASE WHEN n > 10 THEN n - 10 ELSE 0 END) * 1000000
                // sum(n) AS BIGINT) AS clipped_ppm
    FROM per_user_day GROUP BY d ORDER BY d
    """,
)
def dp_sensitivity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differential-privacy contribution-bounding audit: per day, the
    max single-user contribution to the event count (the L1 sensitivity
    a DP release of that count must calibrate noise to) and the cost of
    clipping at C = 10 — users over the bound and the event mass the
    clip discards. This is the measurement BEFORE any DP mechanism: the
    clip bound trades bias (clipped_ppm) against noise scale (C/ε), and
    choosing C from data like this is how production DP aggregation
    pipelines (LinkedIn/Google style) size it. Deterministic — the audit
    is exact; only the eventual release adds noise.

    Scale: two partial-aggregated shuffles ((day, user), then day) —
    bounded by the (day x active-user) domain; the clip arithmetic is
    pure BIGINT conditional aggregation."""
    events = load_table(spark, sf_dir, "events")
    per = events.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("d"), "user_id"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    over = F.when(F.col("n") > 10, F.col("n") - 10).otherwise(0)
    return (
        per.groupBy("d")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum("n").cast("bigint").alias("n_events"),
            F.max("n").cast("bigint").alias("max_user_contrib"),
            F.sum(F.when(F.col("n") > 10, 1).otherwise(0))
            .cast("bigint")
            .alias("n_users_over_clip"),
            F.sum(over).cast("bigint").alias("clipped_mass"),
            F.expr(
                "CAST(sum(CASE WHEN n > 10 THEN n - 10 ELSE 0 END) * 1000000"
                " div sum(n) AS BIGINT)"
            ).alias("clipped_ppm"),
        )
        .orderBy("d")
    )


@register(
    "slo_burn_rate_windows",
    """
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN "value" > 90 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bad
      FROM events GROUP BY 1
    ),
    windows AS (
      SELECT h, n, n_bad,
             CAST(sum(n) OVER w6 AS BIGINT) AS n_6h,
             CAST(sum(n_bad) OVER w6 AS BIGINT) AS bad_6h
      FROM hourly
      WINDOW w6 AS (ORDER BY h RANGE BETWEEN INTERVAL 5 HOURS PRECEDING
                    AND CURRENT ROW)
    )
    SELECT h, n, n_bad,
           CAST(n_bad * 1000000 // n AS BIGINT) AS bad_ppm_1h,
           CAST(bad_6h * 1000000 // n_6h AS BIGINT) AS bad_ppm_6h,
           (n_bad * 100 > n * 5 AND bad_6h * 100 > n_6h * 5) AS page_alert
    FROM windows ORDER BY h
    """,
)
def slo_burn_rate_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-window SLO burn-rate alerting (the Google SRE workbook
    recipe): treating events with value > 90 as SLO violations, compute
    the 1-hour and trailing-6-hour bad fractions and page only when BOTH
    windows burn above the threshold (5%) — the two-window AND is what
    kills flappy pages (a 1h spike that the 6h window absorbs) while
    still catching sustained burns fast. The ops-side twin of
    events_error_burst (which detects bursts; this prices them against
    an error budget).

    Exactness: burn fractions are integer ppm and the page condition is
    the cross-multiplied integer compare n_bad·100 > n·5 — no float in
    the hash.

    Scale: one partial-aggregated hourly rollup (|hours| rows regardless
    of SF), then a RANGE window over the bounded hourly frame keyed on
    the hour — at 100 TB the hourly frame is still tiny; the fact-table
    pass is the only SF-scaling cost."""
    events = load_table(spark, sf_dir, "events")
    hourly = events.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("value") > 90, 1).otherwise(0))
        .cast("bigint")
        .alias("n_bad"),
    )
    w6 = (
        Window.orderBy(F.unix_timestamp("h"))
        .rangeBetween(-5 * 3600, Window.currentRow)
    )
    win = hourly.select(
        "h",
        "n",
        "n_bad",
        F.sum("n").over(w6).cast("bigint").alias("n_6h"),
        F.sum("n_bad").over(w6).cast("bigint").alias("bad_6h"),
    )
    return win.select(
        "h",
        "n",
        "n_bad",
        F.expr("CAST(n_bad * 1000000 div n AS BIGINT)").alias("bad_ppm_1h"),
        F.expr("CAST(bad_6h * 1000000 div n_6h AS BIGINT)").alias("bad_ppm_6h"),
        (
            (F.col("n_bad") * 100 > F.col("n") * 5)
            & (F.col("bad_6h") * 100 > F.col("n_6h") * 5)
        ).alias("page_alert"),
    ).orderBy("h")


@register(
    "spearman_rank_corr",
    """
    WITH ranked AS (
      SELECT l_returnflag AS flag,
             -- 2*average-rank as an exact integer: for a tie block at
             -- positions [a,b], avg=(a+b)/2 and b = n - rank_desc + 1,
             -- so 2*avg = rank_asc + n - rank_desc + 1
             CAST(rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
                  - rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity DESC)
                  + count(*) OVER (PARTITION BY l_returnflag) + 1
                  AS DECIMAL(18,0)) AS rx,
             CAST(rank() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice)
                  - rank() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice DESC)
                  + count(*) OVER (PARTITION BY l_returnflag) + 1
                  AS DECIMAL(18,0)) AS ry
      FROM lineitem
    ), s AS (
      SELECT flag, CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(rx) AS DOUBLE) AS sx, CAST(sum(ry) AS DOUBLE) AS sy,
             CAST(sum(rx*rx) AS DOUBLE) AS sxx, CAST(sum(ry*ry) AS DOUBLE) AS syy,
             CAST(sum(rx*ry) AS DOUBLE) AS sxy
      FROM ranked GROUP BY flag
    )
    SELECT flag, CAST(n AS BIGINT) AS n_rows,
           (n*sxy - sx*sy)
             / (sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy)) AS spearman
    FROM s ORDER BY flag
    """,
)
def spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation (quantity vs extendedprice per return
    flag) with textbook tie handling — average ranks — computed EXACTLY:
    2·avg_rank is an integer via the identity 2·avg = rank_asc −
    rank_desc + n + 1 (the tie block [a,b] has avg (a+b)/2 and
    b = n − rank_desc + 1), so no fractional ranks ever materialize;
    Pearson on the doubled ranks (the ×2 cancels in the correlation)
    runs on exact DECIMAL moment sums and only the final closed form
    drops to correctly-rounded doubles — bit-identical cross-engine,
    same discipline as correlation_matrix. Spearman is the robust
    drift/monotonicity statistic feature-QA runs where Pearson is
    outlier-fragile.

    Plan (r13 — the SCALE.md distinct-value rewrite, measured): the fact
    table partial-aggregates to a (flag, quantity, price) HISTOGRAM
    (594k rows at sf1 vs 6M facts), both doubled ranks are read off the
    histogram with RANGE-frame windows — 2·avg_rank(v) = 2·cum(≤v) −
    ties(v) + 1 over row WEIGHTS, so no join-back and no row-level sort
    — and the moments are count-weighted exact-decimal sums (cnt·rx·ry
    stays inside decimal(38,0): values ≤ ~1e21). Identical doubles to
    the row-level six-window form, hash-verified. Measured at sf1
    (warm): row-level windows 7.9-9.0 s, distinct-rank + join-back
    5.4-5.9 s, THIS histogram-window form 3.1-3.3 s. At 100 TB the
    window input is |distinct (flag, value)| — domain-bounded — instead
    of the fact table, removing the two 6M-row in-partition sorts."""
    li = load_table(spark, sf_dir, "lineitem")
    hist = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").alias("q"),
        F.col("l_extendedprice").alias("p"),
    ).agg(F.count(F.lit(1)).alias("cnt"))

    def rank2(valcol: str):
        # 2·avg_rank = rank_asc − rank_desc + n + 1 = 2·cum(≤v) − w(v) + 1
        # over row weights: RANGE frames make cum include the whole tie
        # block regardless of how the histogram interleaves the other key
        wcum = (
            Window.partitionBy("flag")
            .orderBy(valcol)
            .rangeBetween(Window.unboundedPreceding, Window.currentRow)
        )
        wtie = (
            Window.partitionBy("flag")
            .orderBy(valcol)
            .rangeBetween(Window.currentRow, Window.currentRow)
        )
        return (
            2 * F.sum("cnt").over(wcum) - F.sum("cnt").over(wtie) + 1
        ).cast("decimal(18,0)")

    ranked = hist.select(
        "flag", "cnt", rank2("q").alias("rx"), rank2("p").alias("ry")
    )
    # decimal(19,0), not (10,0): a (flag, q, p) cell of ~1e10 rows would
    # overflow a (10,0) cast to NULL under non-ANSI semantics and silently
    # null the moment sums (r13 ADVICE). 19 digits covers any bigint count;
    # the product types below were already precision-capped at decimal(38,0)
    # either way, so values (and hashes) are unchanged.
    cnt_d = F.col("cnt").cast("decimal(19,0)")
    s = ranked.groupBy("flag").agg(
        F.sum("cnt").cast("double").alias("n"),
        F.sum(cnt_d * F.col("rx")).cast("double").alias("sx"),
        F.sum(cnt_d * F.col("ry")).cast("double").alias("sy"),
        F.sum(cnt_d * (F.col("rx") * F.col("rx"))).cast("double").alias("sxx"),
        F.sum(cnt_d * (F.col("ry") * F.col("ry"))).cast("double").alias("syy"),
        F.sum(cnt_d * (F.col("rx") * F.col("ry"))).cast("double").alias("sxy"),
    )
    return s.select(
        "flag",
        F.col("n").cast("bigint").alias("n_rows"),
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (
                F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * F.sqrt(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
            )
        ).alias("spearman"),
    ).orderBy("flag")


@register(
    "null_key_join_audit",
    """
    WITH facts AS (
      SELECT o_orderkey,
             CASE WHEN o_custkey % 97 = 0 THEN NULL ELSE o_custkey END AS k,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ), tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM facts),
    classed AS (
      SELECT CASE WHEN f.k IS NULL THEN 'null_key'
                  WHEN c.c_custkey IS NULL THEN 'orphan'
                  ELSE 'matched' END AS class,
             f.cents
      FROM facts f LEFT JOIN customer c ON f.k = c.c_custkey
    )
    SELECT class,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(1000000 * count(*) // (SELECT n FROM tot) AS BIGINT)
             AS share_ppm,
           CAST(sum(cents) AS BIGINT) AS cents
    FROM classed GROUP BY class ORDER BY class
    """,
)
def null_key_join_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key quality audit for the null-island trap: before a big
    fact-dimension join, classify every fact as matched / orphan
    (non-null key, no dimension row — an FK break) / null_key (SQL
    equality never matches NULL, and in a naive pre-partitioned layout
    all null keys HASH TO ONE PARTITION — the classic straggler at
    100 TB). Shares are floor-ppm integers; a deterministic synthetic
    null injection (custkey % 97) stands in for the feed's real nulls.
    The remediation this audit prices: route the null_key class AROUND
    the join (they can never match) and union it back — which is
    exactly what Spark's own null-aware anti-join rewrite does, made
    explicit as dataflow.

    Plan: one equi left join (nulls short-circuit to no-match without
    shuffling to a single reducer under hash partitioning of the
    non-null domain) + a 3-group rollup; the total is a 1-row scalar
    reused by the ppm projection."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    facts = orders.select(
        "o_orderkey",
        F.when(F.col("o_custkey") % 97 == 0, F.lit(None))
        .otherwise(F.col("o_custkey"))
        .alias("k"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    classed = facts.join(cust, facts["k"] == cust["c_custkey"], "left").select(
        F.when(F.col("k").isNull(), F.lit("null_key"))
        .when(F.col("c_custkey").isNull(), F.lit("orphan"))
        .otherwise(F.lit("matched"))
        .alias("class"),
        "cents",
    )
    tot = facts.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return (
        classed.groupBy("class")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("cents").cast("bigint").alias("cents"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "class",
            "n_rows",
            F.expr("CAST(1000000 * n_rows div n AS BIGINT)").alias("share_ppm"),
            "cents",
        )
        .select("class", "n_rows", "share_ppm", "cents")
        .orderBy("class")
    )


@register(
    "equidepth_histogram_exact",
    """
    WITH vals AS (
      SELECT 'quantity' AS col,
             CAST(round(l_quantity * 100) AS BIGINT) AS v
      FROM lineitem
      UNION ALL
      SELECT 'extendedprice', CAST(round(l_extendedprice * 100) AS BIGINT)
      FROM lineitem
    ), ranked AS (
      SELECT col, v,
             row_number() OVER (PARTITION BY col ORDER BY v) - 1 AS rk,
             count(*) OVER (PARTITION BY col) AS n
      FROM vals
    )
    SELECT col, CAST(rk * 8 // n AS BIGINT) AS bucket,
           CAST(min(v) AS BIGINT) AS lo,
           CAST(max(v) AS BIGINT) AS hi,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT v) AS BIGINT) AS n_distinct
    FROM ranked GROUP BY col, bucket ORDER BY col, bucket
    """,
)
def equidepth_histogram_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equi-DEPTH histogram (8 buckets per measure) — the CBO
    statistic ANALYZE actually builds (equi-depth bounds selectivity
    error by 1/buckets regardless of skew, where the equi-width
    histogram of join_size_histogram_estimate degrades on skewed
    columns). Bucket = rank·8 div n over the exact integer-cents
    domain; per-bucket lo/hi/count/NDV is what a Selinger-style
    estimator consumes. Ties may straddle buckets (rank-defined, the
    ANALYZE convention) — deterministic because rank orders a total
    integer domain per column partition.

    Plan: one union scan, ONE window shuffle partitioned by column name
    (each partition sorts its measure — for a single huge column the
    range-repartition prefix-sum pattern of doc_global_ordinal applies
    instead; at 8 buckets production samples first, this is the exact
    reference), one rollup.

    r10 rewrite (the old form's per-measure window sorted every row of
    each column through ONE task — the single-reducer trap; 22.7 s at
    sf1): rank arithmetic now runs on the VALUE HISTOGRAM, never per
    row. One partial-aggregated (col, v) count pass, the distributed
    range-partitioned prefix sum over the histogram
    (distributed_prefix_sum — no single-partition window), then each
    value's rank interval [rb, rb+cnt) is intersected with the ≤8
    bucket rank ranges via a bounded sequence explode: rows_in_bucket =
    overlap length. Identical rank-defined semantics, tie-straddling
    included — a tied value contributes its overlap to EACH straddled
    bucket and counts in each bucket's NDV, exactly as row_number ranks
    place it (the per-bucket output is invariant to which tied copy
    gets which rank)."""
    li = load_table(spark, sf_dir, "lineitem")
    vals = li.select(
        F.lit("quantity").alias("col"),
        F.expr("CAST(round(l_quantity * 100) AS BIGINT)").alias("v"),
    ).unionByName(
        li.select(
            F.lit("extendedprice").alias("col"),
            F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("v"),
        )
    )
    hist = vals.groupBy("col", "v").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    cum = distributed_prefix_sum(hist, ["col", "v"], "cnt")
    tot = cum.groupBy("col").agg(
        F.sum("cnt").alias("n"),
        F.min(F.col("__cum") - F.col("cnt")).alias("base"),  # global cum at col start
    )
    spans = (
        cum.join(F.broadcast(tot), "col")
        .select(
            "col",
            "v",
            "cnt",
            "n",
            (F.col("__cum") - F.col("cnt") - F.col("base")).alias("rb"),
        )
        .select(
            "col", "v", "cnt", "n", "rb",
            F.explode(
                F.expr("sequence(rb * 8 div n, (rb + cnt - 1) * 8 div n)")
            ).alias("bucket"),
        )
        .select(
            "col",
            "v",
            F.col("bucket").cast("bigint").alias("bucket"),
            # bucket b covers ranks [ceil(b*n/8), ceil((b+1)*n/8)):
            # overlap of that range with the value's [rb, rb+cnt)
            F.expr(
                "least(rb + cnt, ((bucket + 1) * n + 7) div 8)"
                " - greatest(rb, (bucket * n + 7) div 8)"
            ).alias("rows_in_b"),
        )
        # A multi-row value's bucket sequence can include buckets whose rank
        # range it only touches with an EMPTY overlap when n < buckets (the
        # sequence endpoints are the first/last rank's buckets, but a bucket
        # between them can be zero-width). The row_number oracle never emits
        # such buckets; drop them before they pollute n_distinct/lo/hi.
        # Unreachable on real fixtures (n >> 8) — tiny-input semantics only.
        .filter(F.col("rows_in_b") > 0)
    )
    return (
        spans.groupBy("col", "bucket")
        .agg(
            F.min("v").cast("bigint").alias("lo"),
            F.max("v").cast("bigint").alias("hi"),
            F.sum("rows_in_b").cast("bigint").alias("n_rows"),
            F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        )
        .orderBy("col", "bucket")
    )


@register(
    "segment_conversion_wilson",
    """
    WITH seg AS (
      SELECT user_id % 10 AS segment,
             CAST(count(*) AS BIGINT) AS n,
             CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS k
      FROM events GROUP BY segment
    )
    SELECT CAST(segment AS BIGINT) AS segment, n, k,
           CAST(1000000 * k // n AS BIGINT) AS rate_ppm,
           (CAST(k AS DOUBLE) / n + 1.9208 / n
            - 1.96 * sqrt((CAST(k AS DOUBLE) / n)
                          * (1.0 - CAST(k AS DOUBLE) / n) / n
                          + 0.9604 / (n * n)))
             / (1.0 + 3.8416 / n) AS wilson_lb
    FROM seg ORDER BY wilson_lb DESC, segment
    """,
)
def segment_conversion_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment conversion rates ranked by the Wilson score LOWER BOUND —
    the estimator that fixes naive-rate ranking (a 1/1 segment beats a
    980/1000 one on raw rate; Wilson's shrinkage orders them sanely
    without a prior, the standard 'sort by confidence-adjusted rate'
    pattern for dashboards and bandit warm starts). Counts are one
    conditional-aggregate pass; the closed form (z=1.96: z²=3.8416,
    z²/2=1.9208, z⁴/4=0.9604 as exact literals) is evaluated in a fixed
    double dag from exact integers — every op correctly rounded, so the
    ranking and the hash are bit-stable cross-engine, same discipline
    as correlation_matrix.

    Plan: one scan, |segments|-row partial-aggregated shuffle, sort on
    the derived bound — scan-bound at any scale."""
    ev = load_table(spark, sf_dir, "events")
    seg = ev.groupBy((F.col("user_id") % 10).alias("segment")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count_if(F.col("event_type") == "purchase").cast("bigint").alias("k"),
    )
    p = F.col("k").cast("double") / F.col("n")
    nn = F.col("n")
    wilson = (
        p
        + F.lit(1.9208) / nn
        - F.lit(1.96)
        * F.sqrt(p * (F.lit(1.0) - p) / nn + F.lit(0.9604) / (nn * nn))
    ) / (F.lit(1.0) + F.lit(3.8416) / nn)
    return seg.select(
        F.col("segment").cast("bigint").alias("segment"),
        "n",
        "k",
        F.expr("CAST(1000000 * k div n AS BIGINT)").alias("rate_ppm"),
        wilson.alias("wilson_lb"),
    ).orderBy(F.desc("wilson_lb"), "segment")


@register(
    "sampled_join_estimate",
    """
    WITH s_li AS (
      SELECT l_orderkey FROM lineitem
      WHERE CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15))
                 AS BIGINT) % 100 < 5
    ), est AS (
      -- correlated-key sampling: sampling BOTH sides on the JOIN KEY's
      -- md5 (cross-engine identical) keeps matching pairs together, so
      -- the estimate scales by 1/p (not 1/p²) — the end-biased sample
      SELECT CAST(count(*) * 20 AS BIGINT) AS est_rows
      FROM (SELECT o_orderkey FROM orders
            WHERE CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))
                       AS BIGINT) % 100 < 5) o
      JOIN s_li l ON o.o_orderkey = l.l_orderkey
    ), exact AS (
      SELECT CAST(count(*) AS BIGINT) AS true_rows
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    )
    SELECT est_rows, true_rows,
           CAST(1000000 * abs(est_rows - true_rows) // true_rows AS BIGINT)
             AS err_ppm
    FROM est, exact
    """,
)
def sampled_join_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation by CORRELATED key sampling — the
    third estimator beside the System-R formula and the histogram
    method (join_size_histogram_estimate): hash-sample BOTH sides on
    the join key with the SAME hash (the first 15 hex digits of
    md5(key) parsed base-16 then mod 100 — md5 is the one keyed hash
    both engines spell identically, so the sample is deterministic and
    cross-engine identical), join
    the 5% samples, scale by 1/p once. Sampling on the key (not
    per-row Bernoulli) is what makes the estimator work: matching rows
    survive or die together, so E[sample join] = p·|join| instead of
    p²·|join| — the end-biased/correlated sampling trick every
    production CBO sampler uses. Error vs truth reported in floor ppm.

    Plan: the sample predicates push to the scans (hash of a scan
    column — filters at the parquet reader), the 5% join is ~400×
    cheaper than the full one, and the exact join here is only the
    audit's ground truth. At 100 TB you run ONLY the sampled branch;
    that is the point."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    def keyhash(col: str):
        return F.pmod(
            F.conv(F.substring(F.md5(F.col(col).cast("string")), 1, 15), 16, 10)
            .cast("long"),
            F.lit(100),
        )

    so = orders.filter(keyhash("o_orderkey") < 5).select("o_orderkey")
    sl = li.filter(keyhash("l_orderkey") < 5).select("l_orderkey")
    est = so.join(sl, so["o_orderkey"] == sl["l_orderkey"]).agg(
        (F.count(F.lit(1)) * 20).cast("bigint").alias("est_rows")
    )
    exact = orders.select("o_orderkey").join(
        li.select("l_orderkey"),
        F.col("o_orderkey") == F.col("l_orderkey"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("true_rows"))
    return est.crossJoin(F.broadcast(exact)).select(
        "est_rows",
        "true_rows",
        F.expr(
            "CAST(1000000 * abs(est_rows - true_rows) div true_rows AS BIGINT)"
        ).alias("err_ppm"),
    )


@register(
    "fair_share_allocation",
    """
    WITH demand AS (
      SELECT n.n_name AS tenant,
             CAST(sum(round(o.o_totalprice * 100)) AS BIGINT) AS d
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name
    ), cap AS (
      SELECT CAST(sum(d) * 4 // 5 AS BIGINT) AS c,
             CAST(count(*) AS BIGINT) AS n
      FROM demand
    ), ranked AS (
      SELECT tenant, d,
             row_number() OVER (ORDER BY d, tenant) AS rk,
             sum(d) OVER (ORDER BY d, tenant
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS below
      FROM demand
    ), flagged AS (
      -- water-filling: tenant fully served iff its demand fits the
      -- equal split of what remains after all smaller demands
      -- (cross-multiplied: exact BIGINT, no division)
      SELECT tenant, d, rk, coalesce(below, 0) AS below,
             d * (n - rk + 1) <= c - coalesce(below, 0) AS served
      FROM ranked, cap
    ), cut AS (
      SELECT CAST(coalesce(sum(CASE WHEN served THEN d END), 0) AS BIGINT)
               AS served_sum,
             CAST(count(*) FILTER (served) AS BIGINT) AS m
      FROM flagged
    )
    SELECT tenant, d AS demand_cents,
           CAST(CASE WHEN served THEN d
                     ELSE (c - served_sum) // (n - m) END AS BIGINT)
             AS allocated_cents,
           served AS fully_served
    FROM flagged, cap, cut
    ORDER BY tenant
    """,
)
def fair_share_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-min fair (water-filling) allocation of a global quota across
    tenants (capacity = 80% of total demand) — the scheduler math behind Spark's own fair pools, YARN
    queues, and every multi-tenant ingest budget: the fill serves the smallest demands first; whoever fits the
    equal split of the remainder is fully served, everyone larger gets
    the common level. Declarative and EXACT: the served test
    cross-multiplies (d·(n−rk+1) ≤ C−below) so no division happens
    until the single final level floor — monotone in rank, so the
    served set is a prefix by construction, no iteration needed.

    Plan: the demand rollup is the 3-table star join (the heavy part,
    scan-bound); the water-fill itself runs ONE ordered window over the
    |tenants|-row aggregate (domain-bounded — 25 nations here; for
    million-tenant fills the range-repartition prefix-sum pattern
    applies) plus two 1-row broadcasts. Floor remainders stay
    unallocated — the conservative budget convention."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    demand = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(nation, cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy(F.col("n_name").alias("tenant"))
        .agg(
            F.sum(F.expr("round(o_totalprice * 100)")).cast("bigint").alias("d")
        )
    )
    cap = demand.agg(
        F.expr("CAST(sum(d) * 4 div 5 AS BIGINT)").alias("c"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    w = Window.orderBy("d", "tenant")
    ranked = demand.select(
        "tenant",
        "d",
        F.row_number().over(w).alias("rk"),
        F.coalesce(
            F.sum("d").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).alias("below"),
    )
    flagged = ranked.crossJoin(F.broadcast(cap)).withColumn(
        "served",
        F.col("d") * (F.col("n") - F.col("rk") + 1)
        <= F.col("c") - F.col("below"),
    )
    cut = flagged.agg(
        F.coalesce(F.sum(F.when(F.col("served"), F.col("d"))), F.lit(0))
        .cast("bigint")
        .alias("served_sum"),
        F.count_if(F.col("served")).cast("bigint").alias("m"),
    )
    return (
        flagged.crossJoin(F.broadcast(cut))
        .select(
            "tenant",
            F.col("d").alias("demand_cents"),
            F.when(F.col("served"), F.col("d"))
            .otherwise(
                F.expr("(c - served_sum) div (n - m)")
            )
            .cast("bigint")
            .alias("allocated_cents"),
            F.col("served").alias("fully_served"),
        )
        .orderBy("tenant")
    )
