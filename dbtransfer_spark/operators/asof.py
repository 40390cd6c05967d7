"""As-of (point-in-time) join — a custom operator Spark lacks natively.

Semantics: for each left row, attach the most recent right row with the
same key and right.ts <= left.ts (DuckDB ``ASOF JOIN`` semantics, used as
the oracle).

Implementation is the scalable union-merge formulation, NOT a cross/range
join: tag both sides, union, one window sort per key, carry the last seen
right-side values forward (``last_value(ignoreNulls)``), keep left rows.
Cost: one shuffle by key + per-key sort — linear in |L|+|R| per key, vs
the naive |L|×|R| range join. Skewed keys are handled by AQE; at extreme
skew, salt the key and asof-join per salt bucket with boundary carry-over.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dbtransfer_spark.catalog import load_table
from dbtransfer_spark.registry import register


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    right_values: list[str],
) -> DataFrame:
    """Union-merge as-of join (left rows + latest right values at or before
    left's timestamp). Ties (right.ts == left.ts) match, like DuckDB ASOF.
    Right rows sort before left rows at equal timestamps so same-instant
    right values are visible to the left row."""
    lt = F.col(left_time)
    tagged_left = left.withColumn("__t", lt).withColumn("__side", F.lit(1))
    for c in right_values:
        tagged_left = tagged_left.withColumn(f"__r_{c}", F.lit(None).cast(dict(right.dtypes)[c]))
    tagged_right = right.select(
        F.col(on).alias("__k_r"),
        F.col(right_time).alias("__t"),
        *[F.col(c).alias(f"__r_{c}") for c in right_values],
    ).withColumn("__side", F.lit(0))

    left_cols = [F.col(c) for c in left.columns]
    unioned = tagged_left.select(
        F.col(on).alias("__k"), "__t", "__side", *[f"__r_{c}" for c in right_values], *left_cols
    ).unionByName(
        tagged_right.select(
            F.col("__k_r").alias("__k"),
            "__t",
            "__side",
            *[f"__r_{c}" for c in right_values],
            *[F.lit(None).cast(dict(left.dtypes)[c]).alias(c) for c in left.columns],
        )
    )
    w = (
        Window.partitionBy("__k")
        .orderBy("__t", "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        "__side",
        *left.columns,
        *[
            F.last(f"__r_{c}", ignorenulls=True).over(w).alias(f"asof_{c}")
            for c in right_values
        ],
    )
    return carried.filter(F.col("__side") == 1).drop("__side")


@register(
    "asof_last_purchase",
    """
    SELECT e.event_id, e.user_id, e.ts, e.event_type,
           p.ts AS asof_ts, round(p."value", 2) AS asof_value
    FROM (SELECT * FROM events WHERE event_type <> 'purchase') e
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON e.user_id = p.user_id AND e.ts >= p.ts
    """,
)
def asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every non-purchase event, the user's most recent purchase at or
    before it (classic point-in-time feature join for training data).

    r14 (guide §2.4): both as-of sides come from the SAME events table,
    so the union-merge's tagged union is built as ONE conditional
    projection over ONE scan instead of two filtered scans unioned —
    same row set (a row is either a left or a right row, never both),
    same (ts, side) window order, which is total because (user_id, ts)
    is duplicate-free in events at every SF. Union node + second scan
    removed; the window pass is unchanged.

    HARD INPUT CONTRACT (r14 VERDICT #8): (user_id, ts) must be
    duplicate-free — with two purchases at the same (user, instant) the
    last() carry would be order-dependent. Validate foreign corpora
    with ``asof_single_scan_input_expectations`` first."""
    events = load_table(spark, sf_dir, "events")
    is_p = F.col("event_type") == "purchase"
    unioned = events.select(
        F.col("user_id").alias("__k"),
        F.col("ts").alias("__t"),
        F.when(is_p, F.lit(0)).otherwise(F.lit(1)).alias("__side"),
        F.when(is_p, F.col("ts")).alias("__r_ts"),
        F.when(is_p, F.round("value", 2)).alias("__r_val"),
        F.when(~is_p, F.col("event_id")).alias("event_id"),
        F.when(~is_p, F.col("event_type")).alias("event_type"),
    )
    w = (
        Window.partitionBy("__k")
        .orderBy("__t", "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        unioned.select(
            "__side",
            "event_id",
            F.col("__k").alias("user_id"),
            F.col("__t").alias("ts"),
            "event_type",
            F.last("__r_ts", ignorenulls=True).over(w).alias("asof_ts"),
            F.last("__r_val", ignorenulls=True).over(w).alias("asof_value"),
        )
        .filter(F.col("__side") == 1)
        .select(
            "event_id", "user_id", "ts", "event_type", "asof_ts", "asof_value"
        )
    )


def asof_single_scan_input_expectations(spark: SparkSession, sf_dir: str):
    """The single-scan as-of rewrites' input contract as a runnable
    expectation suite (r14 VERDICT #8): (user_id, ts) duplicate-free in
    events, so the (ts, side) window order is total and the last() carry
    deterministic. One count-distinct pass; all rows must report
    passed=true before running the as-of queries on an unvetted corpus."""
    from dbtransfer_spark import expectations as X

    ev = load_table(spark, sf_dir, "events")
    return X.evaluate(ev, [X.unique_together(("user_id", "ts"))])


@register(
    "asof_next_purchase_1h",
    """
    SELECT e.event_id, e.user_id, e.ts, e.event_type,
           CASE WHEN p.ts <= e.ts + INTERVAL 1 HOUR THEN p.ts END AS next_ts,
           CASE WHEN p.ts <= e.ts + INTERVAL 1 HOUR
                THEN round(p."value", 2) END AS next_value
    FROM (SELECT * FROM events WHERE event_type <> 'purchase') e
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON e.user_id = p.user_id AND e.ts <= p.ts
    """,
)
def asof_next_purchase_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join with a tolerance: for every non-purchase event,
    the user's NEXT purchase, nulled unless it lands within 1 hour — the
    conversion-attribution join. Implemented by running the same
    union-merge as-of machinery on NEGATED event times (forward nearest ≡
    backward nearest under time reversal, ties preserved), then applying
    the tolerance as a post-filter that nulls both carried columns.

    Scale: identical profile to asof_last_purchase — one shuffle by
    user, one per-key sort, linear in |L|+|R|; the tolerance is a
    scan-stage CASE, not a join condition, so the join never becomes a
    range join."""
    from dbtransfer_spark.operators.windows import epoch_micros

    events = load_table(spark, sf_dir, "events")
    # r14 (guide §2.4): same single-scan conditional-projection union as
    # asof_last_purchase, on the negated time axis.
    is_p = F.col("event_type") == "purchase"
    unioned = events.select(
        F.col("user_id").alias("__k"),
        (-epoch_micros(events, "ts")).alias("__t"),
        F.when(is_p, F.lit(0)).otherwise(F.lit(1)).alias("__side"),
        F.when(is_p, F.col("ts")).alias("__r_pts"),
        F.when(is_p, F.round("value", 2)).alias("__r_val"),
        F.when(~is_p, F.col("event_id")).alias("event_id"),
        F.when(~is_p, F.col("event_type")).alias("event_type"),
        F.when(~is_p, F.col("ts")).alias("ts"),
    )
    w = (
        Window.partitionBy("__k")
        .orderBy("__t", "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = unioned.select(
        "__side",
        "event_id",
        F.col("__k").alias("user_id"),
        "ts",
        "event_type",
        F.last("__r_pts", ignorenulls=True).over(w).alias("asof_p_ts"),
        F.last("__r_val", ignorenulls=True).over(w).alias("asof_value"),
    ).filter(F.col("__side") == 1)
    within = F.col("asof_p_ts") <= F.col("ts") + F.expr("INTERVAL 1 HOUR")
    return out.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.when(within, F.col("asof_p_ts")).alias("next_ts"),
        F.when(within, F.col("asof_value")).alias("next_value"),
    )


@register(
    "fx_conversion_asof",
    """
    WITH facts AS (
      SELECT o_orderkey,
             ['EUR','GBP','JPY'][CAST(o_custkey % 3 AS INTEGER) + 1] AS ccy,
             CAST(datediff('day', DATE '1970-01-01',
                           CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             extract(year FROM o_orderdate) AS yr
      FROM orders
    ), rate_days AS (
      SELECT DISTINCT ccy, day FROM facts WHERE day % 7 < 5
    ), rates AS (
      -- deterministic synthetic daily fix: 1.0 + ((day*7919 + ccy-salt)
      -- mod 0.25), published weekdays only
      SELECT ccy, day AS rate_day,
             1000000 + (day * 7919 + length(ccy) * 131) % 250000 AS rate_e6
      FROM rate_days
    ), joined AS (
      SELECT f.o_orderkey, f.ccy, f.yr, f.cents, r.rate_e6
      FROM facts f
      ASOF LEFT JOIN rates r
        ON f.ccy = r.ccy AND f.day >= r.rate_day
    )
    SELECT ccy, CAST(yr AS BIGINT) AS yr,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(count(*) FILTER (rate_e6 IS NULL) AS BIGINT) AS n_unrated,
           CAST(sum(CASE WHEN rate_e6 IS NOT NULL
                         THEN cents * 1000000 // rate_e6 END) AS BIGINT)
             AS converted_cents
    FROM joined GROUP BY ccy, yr ORDER BY ccy, yr
    """,
)
def fx_conversion_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Currency conversion with as-of rate resolution — the warehouse
    staple: every order converts at the LATEST published rate at or
    before its date (rates publish on weekdays only, so weekend facts
    reach back across the gap — exactly what the as-of join exists
    for), with unrated facts (before the first fix) surfaced as a
    quality count instead of silently dropped. The rate table is a
    deterministic synthetic daily fix (1e6-scaled integers); conversion
    is exact floor arithmetic (cents·1e6 div rate_e6 — nonneg, so both
    engines' integer division agrees).

    Plan: the rate build is one dedup-aggregate off the fact scan; the
    as-of is the union-merge formulation (one shuffle on the currency
    key, in-partition sort) — at 100 TB rates are tiny but the SAME
    plan works when the right side is per-instrument tick data with
    billions of rows, which is why the union-merge beats a
    broadcast-range join as the default."""
    orders = load_table(spark, sf_dir, "orders")
    facts = orders.select(
        "o_orderkey",
        F.expr(
            "element_at(array('EUR','GBP','JPY'), CAST(o_custkey % 3 AS INT) + 1)"
        ).alias("ccy"),
        F.expr(
            "CAST(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') AS BIGINT)"
        ).alias("day"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
        F.year("o_orderdate").cast("bigint").alias("yr"),
    )
    rates = (
        facts.filter(F.col("day") % 7 < 5)
        .select("ccy", "day")
        .distinct()
        .select(
            "ccy",
            F.col("day").alias("rate_day"),
            F.expr(
                "CAST(1000000 + (day * 7919 + length(ccy) * 131) % 250000"
                " AS BIGINT)"
            ).alias("rate_e6"),
        )
    )
    joined = asof_join(
        facts,
        rates,
        on="ccy",
        left_time="day",
        right_time="rate_day",
        right_values=["rate_e6"],
    )
    return (
        joined.groupBy("ccy", "yr")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.count_if(F.col("asof_rate_e6").isNull())
            .cast("bigint")
            .alias("n_unrated"),
            F.sum(
                F.when(
                    F.col("asof_rate_e6").isNotNull(),
                    F.expr("cents * 1000000 div asof_rate_e6"),
                )
            )
            .cast("bigint")
            .alias("converted_cents"),
        )
        .orderBy("ccy", "yr")
    )


@register(
    "asof_nearest_event",
    """
    WITH p AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ), s AS (
      SELECT user_id, ts, event_type FROM (
        SELECT user_id, ts, event_type,
               row_number() OVER (PARTITION BY user_id, ts
                                  ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type <> 'purchase'
      ) WHERE rn = 1
    ), back AS (
      SELECT p.event_id, p.user_id, p.ts,
             s.ts AS prev_ts, s.event_type AS prev_type
      FROM p ASOF LEFT JOIN s ON p.user_id = s.user_id AND p.ts >= s.ts
    ), fwd AS (
      SELECT p.event_id, s.ts AS next_ts, s.event_type AS next_type
      FROM p ASOF LEFT JOIN s ON p.user_id = s.user_id AND p.ts <= s.ts
    )
    SELECT b.event_id, b.user_id,
           CASE WHEN f.next_ts IS NULL
                  OR (b.prev_ts IS NOT NULL
                      AND epoch_us(b.ts) - epoch_us(b.prev_ts)
                          <= epoch_us(f.next_ts) - epoch_us(b.ts))
                THEN 'backward' ELSE 'forward' END AS direction,
           CASE WHEN f.next_ts IS NULL
                  OR (b.prev_ts IS NOT NULL
                      AND epoch_us(b.ts) - epoch_us(b.prev_ts)
                          <= epoch_us(f.next_ts) - epoch_us(b.ts))
                THEN b.prev_type ELSE f.next_type END AS nearest_type,
           CASE WHEN f.next_ts IS NULL
                  OR (b.prev_ts IS NOT NULL
                      AND epoch_us(b.ts) - epoch_us(b.prev_ts)
                          <= epoch_us(f.next_ts) - epoch_us(b.ts))
                THEN epoch_us(b.ts) - epoch_us(b.prev_ts)
                ELSE epoch_us(f.next_ts) - epoch_us(b.ts) END AS gap_us
    FROM back b JOIN fwd f ON b.event_id = f.event_id
    ORDER BY b.event_id
    """,
)
def asof_nearest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-neighbor-in-time join (either direction, backward wins
    ties) — the sensor-fusion/alignment variant the plain as-of pair
    can't express alone: each purchase gets the temporally closest
    non-purchase event of its user. Composition of the two verified
    primitives: one backward union-merge as-of plus one forward (same
    machinery on negated time), then a per-row arbiter on the exact
    microsecond gaps. Every user with a purchase has SOME event, but
    either side alone can be NULL (purchase before first / after last
    state) — the arbiter's NULL handling is the operator's actual
    contract.

    Plan: two user-keyed union-merge sorts + an event_id equi-join of
    the two 1-row-per-purchase frames; cost linear in events per user,
    never a range join.

    States are deduped per (user_id, ts) with an event_id DESC
    tie-break BEFORE the as-of merge (mirrored in the oracle): if two
    state rows share a timestamp, asof_join's last()-over-(__t, __side)
    carry — like DuckDB's ASOF — picks arbitrarily, so the carried
    nearest_type would be nondeterministic across engines (r7 ADVICE)."""
    from dbtransfer_spark.operators.windows import epoch_micros

    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    state_rn = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    s = (
        ev.filter(F.col("event_type") != "purchase")
        .select("event_id", "user_id", "ts", "event_type")
        .withColumn("__rn", F.row_number().over(state_rn))
        .filter(F.col("__rn") == 1)
        .select(
            "user_id", F.col("ts").alias("s_ts"), F.col("event_type").alias("s_type")
        )
    )
    back = asof_join(
        p.withColumn("t_us", epoch_micros(p, "ts")),
        s.withColumn("st_us", epoch_micros(s, "s_ts")).select(
            "user_id", "st_us", F.col("s_type").alias("prev_type")
        ),
        on="user_id",
        left_time="t_us",
        right_time="st_us",
        right_values=["prev_type", "st_us"],
    ).select(
        "event_id",
        "user_id",
        "t_us",
        F.col("asof_prev_type").alias("prev_type"),
        F.col("asof_st_us").alias("prev_us"),
    )
    fwd = asof_join(
        p.withColumn("nt_us", -epoch_micros(p, "ts")),
        s.withColumn("nst_us", -epoch_micros(s, "s_ts")).select(
            "user_id", "nst_us", F.col("s_type").alias("next_type")
        ),
        on="user_id",
        left_time="nt_us",
        right_time="nst_us",
        right_values=["next_type", "nst_us"],
    ).select(
        "event_id",
        F.col("asof_next_type").alias("next_type"),
        (-F.col("asof_nst_us")).alias("next_us"),
    )
    j = back.join(fwd, "event_id")
    backward_wins = F.col("next_us").isNull() | (
        F.col("prev_us").isNotNull()
        & (F.col("t_us") - F.col("prev_us") <= F.col("next_us") - F.col("t_us"))
    )
    return j.select(
        "event_id",
        "user_id",
        F.when(backward_wins, F.lit("backward")).otherwise(F.lit("forward")).alias("direction"),
        F.when(backward_wins, F.col("prev_type")).otherwise(F.col("next_type")).alias("nearest_type"),
        F.when(backward_wins, F.col("t_us") - F.col("prev_us"))
        .otherwise(F.col("next_us") - F.col("t_us"))
        .alias("gap_us"),
    ).orderBy("event_id")
