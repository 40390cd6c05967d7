"""Skew-aware join: explicit key salting.

AQE's skew-join splitting (enabled in session.py) handles most skew at
runtime; explicit salting remains the tool when one hot key dominates a
*build side that must shuffle* (e.g. joining clickstream events where 1%
of users produce 50% of rows against a per-user dimension).

Mechanism: replicate the small side ``salt_factor`` ways (key, salt∈0..k),
scatter the big side uniformly with a random-free deterministic salt
(pmod of a stable hash — reproducible across retries, unlike rand()), and
join on (key, salt). Hot-key partitions shrink by ~k×; result set is
identical to the unsalted join, which the oracle asserts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dbtransfer_spark.catalog import load_table
from dbtransfer_spark.registry import register


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    salt_factor: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Join ``big ⋈ small`` on column ``on`` with ``salt_factor``-way key
    salting. ``small`` is replicated salt_factor×; ``big`` rows scatter by
    a deterministic hash salt. Equivalent to ``big.join(small, on, how)``."""
    salts = F.explode(F.sequence(F.lit(0), F.lit(salt_factor - 1))).alias("__salt")
    small_rep = small.select("*", salts)
    # Deterministic scatter: stable across task retries (rand() is not),
    # derived from the row's own content via xxhash64 of all columns.
    big_salted = big.withColumn(
        "__salt", F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(salt_factor))
    ).withColumn("__salt", F.col("__salt").cast("int"))
    out = big_salted.join(small_rep, [on, "__salt"], how)
    return out.drop("__salt")


@register(
    "skew_salted_join",
    """
    SELECT c_mktsegment, count(*) AS n_events,
           CAST(round(sum(CAST("value" AS DECIMAL(30,10))), 2) AS DOUBLE) AS total_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment
    """,
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events (big, skewed by user) ⋈ customer (small) via 8-way salting,
    aggregated per segment. The oracle is the plain unsalted join — salting
    must be invisible in the result."""
    events = load_table(spark, sf_dir, "events").withColumnRenamed("user_id", "c_custkey")
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = salted_join(events, customer, on="c_custkey", salt_factor=8)
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(30,10)")), 2)
        .cast("double")
        .alias("total_value"),
    )


@register(
    "join_key_skew_profile",
    """
    WITH k AS (
      SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_rows
      FROM lineitem GROUP BY l_orderkey
    ),
    total AS (SELECT CAST(sum(n_rows) AS BIGINT) AS n_total,
                     CAST(count(*) AS BIGINT) AS n_keys FROM k),
    top AS (
      SELECT l_orderkey, n_rows,
             row_number() OVER (ORDER BY n_rows DESC, l_orderkey) AS rnk
      FROM k
    )
    SELECT t.rnk, t.l_orderkey, t.n_rows,
           CAST(t.n_rows * 1000000 // x.n_total AS BIGINT) AS share_ppm,
           CAST(t.n_rows * x.n_keys * 100 // x.n_total AS BIGINT) AS x_mean_pct
    FROM top t, total x
    WHERE t.rnk <= 20
    ORDER BY t.rnk
    """,
)
def join_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic: the 20 heaviest lineitem join keys with
    their corpus share (ppm) and multiple-of-mean — the pre-flight that
    decides whether a shuffle join needs salting / AQE skew-split before
    it runs (a key at >5% of rows will straggle one reducer at any
    parallelism). This is the measurement half of the salted-join
    operator in this module.

    Plan: one partial-aggregated key-count shuffle, a TakeOrdered top-20
    (never a full sort of the key histogram), one 1-row total broadcast.
    Linear in the fact, output fixed at 20 rows."""
    li = load_table(spark, sf_dir, "lineitem")
    k = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows")
    ).persist()  # the key histogram feeds both the total and the top-20
    total = k.agg(
        F.sum("n_rows").cast("bigint").alias("n_total"),
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
    )
    top = (
        k.orderBy(F.desc("n_rows"), "l_orderkey")
        .limit(20)
        .withColumn(
            "rnk", F.row_number().over(Window.orderBy(F.desc("n_rows"), "l_orderkey"))
        )
    )
    return (
        top.crossJoin(F.broadcast(total))
        .select(
            "rnk",
            "l_orderkey",
            "n_rows",
            F.expr("CAST(n_rows * 1000000 div n_total AS BIGINT)").alias("share_ppm"),
            F.expr("CAST(n_rows * n_keys * 100 div n_total AS BIGINT)").alias(
                "x_mean_pct"
            ),
        )
        .orderBy("rnk")
    )


_CMS_D = 4          # hash rows
_CMS_W = 128        # buckets per row


@register(
    "countmin_heavy_hitters",
    f"""
    WITH bucketed AS (
      SELECT h, CAST(('0x' || substr(md5(h || ':' || user_id), 1, 15))
                     AS BIGINT) % {_CMS_W} AS bucket
      FROM events, UNNEST(['0', '1', '2', '3']) AS t(h)
    ), cms AS (
      SELECT h, bucket, count(*) AS cnt FROM bucketed GROUP BY h, bucket
    ), exact AS (
      SELECT user_id, count(*) AS exact_n FROM events GROUP BY user_id
      ORDER BY exact_n DESC, user_id LIMIT 20
    ), probed AS (
      SELECT e.user_id, e.exact_n, min(c.cnt) AS cms_est
      FROM exact e
      JOIN cms c
        ON c.bucket = CAST(('0x' || substr(md5(c.h || ':' || e.user_id), 1, 15))
                           AS BIGINT) % {_CMS_W}
      GROUP BY e.user_id, e.exact_n
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(exact_n AS BIGINT) AS exact_n,
           CAST(cms_est AS BIGINT) AS cms_est,
           CAST(cms_est - exact_n AS BIGINT) AS overcount
    FROM probed ORDER BY exact_n DESC, user_id
    """,
)
def countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy-hitter estimation — the mergeable O(d*w)
    state that replaces exact per-key counting when the key domain
    itself doesn't fit anywhere (the 100 TB frequency problem; Cormode &
    Muthukrishnan 2005). d={d} rows of w={w} counters, md5-derived
    bucket hashes so both engines place every key identically; estimate
    = min over rows, which can only OVERcount (collision mass adds),
    verified per probe key by the emitted ``overcount >= 0``.

    Scale: the sketch build is ONE pass — a constant d-way explode at
    the scan, then a partial-aggregated shuffle onto d*w = {dw} cells
    TOTAL regardless of SF (this is the point: state is constant while
    exact counting shuffles |keys| cells). The probe side here takes the
    exact top-20 (itself a TakeOrdered aggregate, kept only to score the
    sketch) and joins the {dw}-cell table — broadcast-sized forever."""
    events = load_table(spark, sf_dir, "events")
    bucket = lambda h, key: F.pmod(  # noqa: E731
        F.conv(
            F.substring(F.md5(F.concat_ws(":", h, key)), 1, 15), 16, 10
        ).cast("long"),
        F.lit(_CMS_W),
    )
    hashes = F.explode(
        F.array(*[F.lit(str(i)) for i in range(_CMS_D)])
    ).alias("h")
    cms = (
        events.select(F.col("user_id").cast("string").alias("k"), hashes)
        .select("h", bucket(F.col("h"), F.col("k")).alias("bucket"))
        .groupBy("h", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    exact = (
        events.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_n"))
        .orderBy(F.desc("exact_n"), "user_id")
        .limit(20)
    )
    # probe keys explode by the same d hashes so the sketch join is a
    # plain (h, bucket) equi-join — separable keys, broadcastable hash
    # join (a mixed-side equality like a.bucket = f(a.h, b.key) would
    # degrade to a nested-loop join)
    probe_buckets = exact.select(
        "user_id", "exact_n", hashes
    ).select(
        "user_id",
        "exact_n",
        "h",
        bucket(F.col("h"), F.col("user_id").cast("string")).alias("bucket"),
    )
    probed = (
        probe_buckets.join(F.broadcast(cms), ["h", "bucket"])
        .groupBy("user_id", "exact_n")
        .agg(F.min("cnt").cast("bigint").alias("cms_est"))
    )
    return probed.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        "exact_n",
        "cms_est",
        (F.col("cms_est") - F.col("exact_n")).cast("bigint").alias("overcount"),
    ).orderBy(F.desc("exact_n"), "user_id")


countmin_heavy_hitters.__doc__ = countmin_heavy_hitters.__doc__.format(
    d=_CMS_D, w=_CMS_W, dw=_CMS_D * _CMS_W
)


@register(
    "join_cardinality_preflight",
    """
    WITH ca AS (SELECT o_orderkey AS k, count(*) AS na FROM orders
                GROUP BY k),
    cb AS (SELECT l_orderkey AS k, count(*) AS nb FROM lineitem
           GROUP BY k),
    prod AS (SELECT ca.k, ca.na * cb.nb AS pairs
             FROM ca JOIN cb ON ca.k = cb.k)
    SELECT CAST((SELECT sum(na) FROM ca) AS BIGINT) AS left_rows,
           CAST((SELECT sum(nb) FROM cb) AS BIGINT) AS right_rows,
           CAST(sum(pairs) AS BIGINT) AS join_rows,
           CAST(max(pairs) AS BIGINT) AS max_key_pairs,
           CAST(count(*) AS BIGINT) AS matched_keys
    FROM prod
    """,
)
def join_cardinality_preflight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact join-output cardinality WITHOUT running the join — the
    pre-flight every large pipeline should run before an unfamiliar
    join at 100 TB: |A join B| = sum over keys of cntA*cntB, computed
    from two per-key count aggregates and a count-table equi-join whose
    input is |distinct keys|, not |rows|. The companion to
    join_key_skew_profile (which grades key distribution): this one
    answers 'how many rows come OUT, and how much of that is one key'
    (max_key_pairs) — the numbers that decide broadcast vs sort-merge
    vs salting BEFORE paying for a misplanned shuffle.

    Scale: two partial-aggregated count shuffles + one join of
    count-tables (orders of magnitude smaller than the fact tables);
    the scalar rollup is a 1-row aggregate. Never materializes a single
    joined row."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    ca = orders.groupBy(F.col("o_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("na")
    )
    cb = lineitem.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("nb")
    )
    prod = ca.join(cb, "k").select(
        (F.col("na") * F.col("nb")).alias("pairs")
    )
    # side totals are over ALL rows (not just matched keys): two 1-row
    # aggregates broadcast onto the 1-row pair rollup. r14 (guide §1.2,
    # don't compute things you throw away): Σ per-key counts ≡ count(*)
    # of the base table — the old ca.agg(sum(na)) / cb.agg(sum(nb))
    # re-ran BOTH per-key count shuffles a second time just to re-total
    # them (4 heavy aggregates in the plan); a bare count over the
    # zero-column scan is the same BIGINT by definition, including
    # NULL-key rows (groupBy keeps a NULL-key group).
    ltot = orders.agg(F.count(F.lit(1)).cast("bigint").alias("left_rows"))
    rtot = lineitem.agg(F.count(F.lit(1)).cast("bigint").alias("right_rows"))
    return (
        prod.agg(
            F.sum("pairs").cast("bigint").alias("join_rows"),
            F.max("pairs").cast("bigint").alias("max_key_pairs"),
            F.count(F.lit(1)).cast("bigint").alias("matched_keys"),
        )
        .crossJoin(F.broadcast(ltot))
        .crossJoin(F.broadcast(rtot))
        .select(
            "left_rows", "right_rows", "join_rows", "max_key_pairs",
            "matched_keys",
        )
    )
