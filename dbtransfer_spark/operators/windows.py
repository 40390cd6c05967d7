"""Event-time windowing over the ``events`` table — batch twins of the
Structured Streaming path (streaming/incremental.py uses the same
expressions under ``readStream``; Spark guarantees batch/stream parity for
time windows, which is why these have exact SQL oracles).

Tumbling/sliding use ``F.window`` (event-time bucketing, no shuffle beyond
the aggregation); session windows use ``F.session_window`` (gap-merged,
state-bounded in streaming). JSON extraction exercises the semi-structured
path (events.props is a JSON string, FIXTURES.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dbtransfer_spark.catalog import load_table
from dbtransfer_spark.registry import register


def epoch_micros(df: DataFrame, colname: str):
    """Microseconds-since-epoch for a timestamp column of EITHER flavor.

    Parquet files carry the events ``ts`` as TIMESTAMP_NTZ when written
    with µs precision but as TIMESTAMP (LTZ) when it round-trips through
    the nanos→timestamp_micros ingest path (catalog.load_table), so the
    expression must branch on the actual column type: ``unix_micros``
    only accepts TIMESTAMP, and NTZ→LTZ casts depend on the session
    timezone (not timezone-stable across driver sessions). The
    ``timestampdiff`` form is exact and timezone-independent for NTZ.
    """
    from pyspark.sql.types import TimestampNTZType

    if isinstance(df.schema[colname].dataType, TimestampNTZType):
        return F.expr(
            "timestampdiff(MICROSECOND,"
            f" TIMESTAMP_NTZ '1970-01-01 00:00:00', `{colname}`)"
        )
    return F.unix_micros(F.col(colname))


@register(
    "events_tumbling_1h",
    """
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type, count(*) AS n_events,
           CAST(round(sum(CAST("value" AS DECIMAL(30,10))), 2) AS DOUBLE) AS total_value
    FROM events GROUP BY window_start, event_type
    """,
)
def events_tumbling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h window × event_type. Map-side partial aggregation means
    the shuffle carries |windows × types| rows regardless of input size —
    the standard streaming-aggregation shape run as a batch."""
    return (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(30,10)")), 2).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@register(
    "events_sliding_30m_15m",
    """
    WITH slid AS (
      SELECT time_bucket(INTERVAL '15 minutes', ts) AS window_start, * FROM events
      UNION ALL
      SELECT time_bucket(INTERVAL '15 minutes', ts) - INTERVAL '15 minutes'
               AS window_start, * FROM events
    )
    SELECT window_start, count(*) AS n_events,
           CAST(round(sum(CAST("value" AS DECIMAL(30,10))), 2) AS DOUBLE) AS total_value
    FROM slid GROUP BY window_start
    """,
)
def events_sliding_30m_15m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (30 min length, 15 min slide): each event lands in 2
    windows. Spark's F.window explodes to the overlapping windows before
    aggregating — the oracle reproduces that as a UNION ALL of shifted
    tumbling buckets."""
    return (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "30 minutes", "15 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(30,10)")), 2)
            .cast("double")
            .alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
    )


@register(
    "events_session_30m",
    """
    WITH marked AS (
      SELECT user_id, ts, "value",
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL '30 minutes'
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ), sess AS (
      SELECT user_id, ts, "value",
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_no
      FROM marked
    )
    SELECT user_id, min(ts) AS session_start,
           max(ts) + INTERVAL '30 minutes' AS session_end,
           count(*) AS n_events, CAST(round(sum(CAST("value" AS DECIMAL(30,10))), 2) AS DOUBLE) AS session_value
    FROM sess GROUP BY user_id, session_no
    """,
)
def events_session_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows, 30-minute gap, via F.session_window — Spark merges
    events whose gaps are < 30 min into one window per user; window.end is
    last-event + gap, matching the oracle's lag/gap-marking construction.
    In streaming this same expression is incremental state; in batch it is
    one shuffle by user_id."""
    return (
        load_table(spark, sf_dir, "events")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(30,10)")), 2).cast("double").alias("session_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


@register(
    "events_json_extract",
    """
    SELECT event_id, event_type,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k
    FROM events WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
    """,
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured projection: get_json_object + predicate on the
    extracted value. JSON parsing is JVM-side codegen (no Python)."""
    df = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        df.select("event_id", "event_type", k.alias("prop_k"))
        .filter(F.col("prop_k") > 50)
    )


@register(
    "events_sessionize_stats",
    """
    WITH marked AS (
      SELECT user_id,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL '30 minutes'
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    )
    SELECT user_id, CAST(sum(is_new) AS BIGINT) AS n_sessions, count(*) AS n_events
    FROM marked GROUP BY user_id
    """,
)
def events_sessionize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization via lag() — the imperative-looking loop the
    reference would need becomes two window functions + one aggregation
    (single shuffle by user)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    # Full-precision gap compare (microsecond timestamps): cast-to-long
    # truncates sub-second parts, which misclassifies gaps like 1800.4s.
    is_new = F.when(
        prev.isNull() | (F.col("ts") > prev + F.expr("INTERVAL 30 MINUTES")), 1
    ).otherwise(0)
    return (
        load_table(spark, sf_dir, "events")
        .withColumn("is_new", is_new)
        .groupBy("user_id")
        .agg(F.sum("is_new").alias("n_sessions"), F.count(F.lit(1)).alias("n_events"))
    )


@register(
    "events_funnel",
    """
    WITH v AS (
      SELECT user_id, min(ts) AS t FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, min(e.ts) AS t
      FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, min(e.ts) AS t
      FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT stage, n_users,
           round(CAST(n_users AS DOUBLE)
                 / lag(n_users) OVER (ORDER BY ord), 4) AS pct_of_prev
    FROM (
      SELECT 1 AS ord, 'view' AS stage, (SELECT count(*) FROM v) AS n_users
      UNION ALL SELECT 2, 'click_after_view', (SELECT count(*) FROM c)
      UNION ALL SELECT 3, 'purchase_after_click', (SELECT count(*) FROM p)
    ) ORDER BY ord
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel: first 'view' → first later 'click' →
    first later 'purchase' per user, with per-stage user counts and
    conversion vs the previous stage.

    Scale shape: each stage is a per-user aggregate joined to the previous
    stage's per-user watermark — every join side is already user-keyed and
    aggregated (≤ one row per user), so the three shuffles share the same
    key and AQE coalesces/broadcasts the shrinking stage outputs. No
    collect_list of raw events per user, so a power user with millions of
    events costs O(their events) scan, O(1) state."""
    events = load_table(spark, sf_dir, "events")

    def first_after(event_type: str, prev: DataFrame | None) -> DataFrame:
        df = events.filter(F.col("event_type") == event_type)
        if prev is not None:
            df = df.join(prev, "user_id").filter(F.col("ts") > F.col("t")).drop("t")
        # each stage is consumed twice (next stage's watermark + its own
        # count) and chains into every later stage's lineage — persisting
        # the ≤|users|-row aggregate keeps the events scan at one per stage
        return df.groupBy("user_id").agg(F.min("ts").alias("t")).persist()

    v = first_after("view", None)
    c = first_after("click", v)
    p = first_after("purchase", c)

    stages = (
        v.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(1).alias("ord"), F.lit("view").alias("stage"), "n_users"
        )
        .unionByName(
            c.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit(2).alias("ord"), F.lit("click_after_view").alias("stage"), "n_users"
            )
        )
        .unionByName(
            p.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit(3).alias("ord"),
                F.lit("purchase_after_click").alias("stage"),
                "n_users",
            )
        )
    )
    w = Window.orderBy("ord")
    return (
        stages.withColumn(
            "pct_of_prev",
            F.round(
                F.col("n_users").cast("double") / F.lag("n_users").over(w), 4
            ),
        )
        .orderBy("ord")
        .select("stage", "n_users", "pct_of_prev")
    )


@register(
    "rolling_7d_user_activity",
    """
    SELECT event_id, user_id, ts,
           count(*) OVER w AS n_7d,
           CAST(round(sum(CAST("value" AS DECIMAL(30,10))) OVER w, 2) AS DOUBLE)
             AS value_7d
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
    """,
)
def rolling_7d_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event trailing-7-day activity features (event count + value
    sum per user) — the RANGE-frame shape behind rolling engagement /
    spend features in a training pipeline.

    Scale: one shuffle on user_id; within each partition Spark evaluates
    the range frame with a sliding accumulator (linear, not O(n²) frame
    rescans). The frame is ordered by epoch-microseconds — full timestamp
    precision, no cast-to-seconds truncation — and the windowed sum goes
    through exact DECIMAL accumulation so frame-entry order can never
    flip a digit against the oracle."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(epoch_micros(ev, "ts"))
        .rangeBetween(-7 * 86400 * 1_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.count(F.lit(1)).over(w).alias("n_7d"),
        F.round(F.sum(F.col("value").cast("decimal(30,10)")).over(w), 2)
        .cast("double")
        .alias("value_7d"),
    )


@register(
    "gap_fill_forward",
    """
    WITH ev AS (
      SELECT user_id, date_trunc('day', ts) AS day, ts, event_id, "value"
      FROM events
    ),
    day_close AS (
      SELECT user_id, day, "value" AS day_close FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id, day
                                     ORDER BY ts DESC, event_id DESC) AS rn
        FROM ev
      ) WHERE rn = 1
    ),
    bounds AS (
      SELECT user_id, min(day) AS mn, max(day) AS mx FROM ev GROUP BY user_id
    ),
    spine AS (
      SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS day
      FROM bounds
    )
    SELECT s.user_id, s.day, d.day_close,
           last_value(d.day_close IGNORE NULLS) OVER (
             PARTITION BY s.user_id ORDER BY s.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled,
           (d.day_close IS NOT NULL) AS is_observed
    FROM spine s LEFT JOIN day_close d
      ON s.user_id = d.user_id AND s.day = d.day
    """,
)
def gap_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar gap-fill with forward fill (last observation carried
    forward): per user, a continuous daily spine from first to last
    active day, the day's closing value where one exists (latest event
    that day, tie-broken on event_id), and LOCF for the gaps — the
    time-series regularization primitive feature pipelines run before
    windowed training aggregates.

    Scale: the spine is generated *distributed* — sequence() explodes
    per-user bounds (one row per user in, ~days rows out), never a
    driver-side calendar. Three shuffles total (day-close window, bounds
    aggregate, fill window), all keyed on user_id, so a 100 TB event log
    gap-fills with per-user parallelism and no global ordering. Values
    are carried, never recomputed — so the doubles hash identically on
    any engine."""
    # Gap-run formulation (guide §2.2/§2.4): the old plan shuffled and
    # sorted EVERY event through a (user_id, day) row_number window to
    # pick the day close, re-scanned events for the per-user bounds,
    # generated the spine, joined it back, and ran a second fill window.
    # But the day close is just max_by(value, (ts, event_id)) — a
    # partial aggregate with map-side combine — and LOCF over a spine
    # whose only non-null closes are the observed days is equivalent to
    # each observed day emitting its own gap run [day, next_day):
    # one scan, one small lead() window over |user×day| rows, no join,
    # no full-event shuffle. Identical because event_ids are unique
    # (the max_by tiebreak is total) and every run's fill value IS its
    # head's close — the fixture's `value` is non-null, so LOCF can
    # never skip an observed day (asserted by the oracle hash at every
    # SF).
    # HARD INPUT CONTRACT (r14 VERDICT #8): events.value must be
    # NON-NULL and event_id UNIQUE. On data where a day close could be
    # NULL, LOCF would carry the previous day's value past it while the
    # gap-run form would emit the NULL for the whole run. Validate
    # foreign corpora with ``gap_fill_forward_input_expectations``
    # before trusting this operator on them.
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.date_trunc("day", "ts").alias("day"),
        "ts",
        "event_id",
        "value",
    )
    daily = ev.groupBy("user_id", "day").agg(
        F.max_by("value", F.struct("ts", "event_id")).alias("close")
    )
    w_next = Window.partitionBy("user_id").orderBy("day")
    runs = daily.withColumn("next_day", F.lead("day").over(w_next))
    return runs.select(
        "user_id",
        F.col("day").alias("obs_day"),
        "close",
        F.explode(
            F.sequence(
                "day",
                F.coalesce(
                    F.expr("next_day - INTERVAL 1 DAY"), F.col("day")
                ),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day"),
    ).select(
        "user_id",
        "day",
        F.when(F.col("day") == F.col("obs_day"), F.col("close")).alias(
            "day_close"
        ),
        F.col("close").alias("filled"),
        (F.col("day") == F.col("obs_day")).alias("is_observed"),
    )


def gap_fill_forward_input_expectations(spark: SparkSession, sf_dir: str):
    """The gap-run rewrite's input contract as a runnable expectation
    suite (r14 VERDICT #8): events.value non-null (a NULL day close
    would make LOCF and the gap-run form diverge) and event_id unique
    (the max_by tiebreak must be total). One aggregate pass + one
    count-distinct; all rows must report passed=true before running
    gap_fill_forward on an unvetted corpus."""
    from dbtransfer_spark import expectations as X

    ev = load_table(spark, sf_dir, "events")
    return X.evaluate(ev, [X.not_null("value"), X.unique("event_id")])


@register(
    "incremental_daily_rollup",
    """
    SELECT user_id,
           CAST(date_trunc('month', ts) AS TIMESTAMP) AS month,
           count(*) AS n_events,
           CAST(round(sum(CAST("value" AS DECIMAL(30,10))), 2) AS DOUBLE)
             AS total_value,
           round(CAST(sum(CAST("value" AS DECIMAL(30,10))) AS DOUBLE)
                 / count(*), 4) AS avg_value
    FROM events
    GROUP BY user_id, month
    ORDER BY user_id, month
    """,
)
def incremental_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view maintenance: monthly per-user totals assembled by
    MERGING daily partial aggregates (count, exact-decimal sum) instead
    of re-aggregating raw events — the incremental-pipeline pattern where
    each day's partition is aggregated once on arrival and history is
    never rescanned. The oracle aggregates the raw table directly, so the
    green hash *proves* partial-merge associativity: merged partials ≡
    full recompute, to the digit (counts are integers; sums are exact
    DECIMAL(30,10) — associative by construction, unlike double sums;
    avg is derived post-merge, never averaged-of-averages).

    Scale: the daily pre-aggregation is the map-side combine of a
    year-scale backfill — the merge shuffle carries |users × days| rows,
    not |events|; a steady-state pipeline shuffles only the new day."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(30,10)")).alias("s"),
    )
    merged = daily.groupBy(
        "user_id", F.date_trunc("month", "day").alias("month")
    ).agg(F.sum("n").alias("n_events"), F.sum("s").alias("s"))
    return merged.select(
        "user_id",
        "month",
        "n_events",
        F.round(F.col("s"), 2).cast("double").alias("total_value"),
        F.round(F.col("s").cast("double") / F.col("n_events"), 4).alias(
            "avg_value"
        ),
    ).orderBy("user_id", "month")


@register(
    "events_retention_cohorts",
    """
    WITH activity AS (
      SELECT DISTINCT user_id,
             CAST(date_diff('day', TIMESTAMP '1970-01-01 00:00:00', ts)
                  AS BIGINT) // 7 AS week
      FROM events
    ),
    cohorts AS (
      SELECT user_id, min(week) AS cohort_week FROM activity GROUP BY user_id
    )
    SELECT cohort_week,
           week - cohort_week AS weeks_since,
           count(*) AS n_active_users
    FROM activity JOIN cohorts USING (user_id)
    GROUP BY cohort_week, weeks_since
    ORDER BY cohort_week, weeks_since
    """,
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix — the product-analytics staple: users
    bucketed by first-activity week, counted in each subsequent week
    they return. Week arithmetic is integer epoch-day division, so
    bucket assignment is engine-exact.

    Scale: the distinct (user, week) activity set is one
    partial-aggregated shuffle over events; cohorts are a per-user MIN
    over that (same key → AQE reuses the partitioning); the matrix
    aggregate outputs |cohorts × weeks| rows. Joining activity back to
    cohorts keys on user_id — no windows, no global sorts."""
    events = load_table(spark, sf_dir, "events")
    activity = (
        events.select(
            "user_id", epoch_micros(events, "ts").alias("micros")
        )
        .select("user_id", F.expr("micros div 86400000000 div 7").alias("week"))
        .distinct()
    )
    cohorts = activity.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        activity.join(cohorts, "user_id")
        .groupBy("cohort_week", (F.col("week") - F.col("cohort_week")).alias("weeks_since"))
        .agg(F.count(F.lit(1)).alias("n_active_users"))
        .orderBy("cohort_week", "weeks_since")
    )


@register(
    "events_dwell_time",
    """
    WITH seq AS (
      SELECT user_id, event_type, ts,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS next_ts
      FROM events
    )
    SELECT event_type,
           count(next_ts) AS n_dwells,
           CAST(sum(date_diff('microsecond', ts, next_ts)) AS BIGINT)
             AS total_dwell_micros
    FROM seq WHERE next_ts IS NOT NULL
    GROUP BY event_type ORDER BY event_type
    """,
)
def events_dwell_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dwell time after each event (lead() to the user's next event) —
    the engagement metric, aggregated per event type in exact integer
    microseconds (timestamp differences are integers; no float time
    math anywhere).

    Scale: one user-partitioned window (the scale-safe kind) and one
    ≤|event types|-row aggregate; the tie-break on event_id makes the
    sequence — and therefore every dwell — deterministic."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "event_type",
        epoch_micros(events, "ts").alias("m"),
        F.lead(epoch_micros(events, "ts")).over(w).alias("next_m"),
    )
    return (
        seq.filter(F.col("next_m").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_dwells"),
            F.sum(F.col("next_m") - F.col("m")).alias("total_dwell_micros"),
        )
        .orderBy("event_type")
    )


@register(
    "interevent_gap_stats",
    """
    WITH seq AS (
      SELECT event_type,
             date_diff('microsecond',
                       lag(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id), ts) AS gap
      FROM events
    )
    SELECT event_type,
           CAST(count(gap) AS BIGINT) AS n_gaps,
           quantile_cont(gap, 0.5) AS p50_gap_micros,
           quantile_cont(gap, 0.9) AS p90_gap_micros,
           CAST(max(gap) AS BIGINT) AS max_gap_micros
    FROM seq WHERE gap IS NOT NULL
    GROUP BY event_type ORDER BY event_type
    """,
)
def interevent_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event-time distribution per event type (the arrival-process
    profile: burstiness, session-gap tuning input for session_window's
    30-min threshold). The gap to the user's PREVIOUS event, keyed by the
    later event's type, summarized by exact-integer percentiles —
    interpolation over BIGINT microseconds is exact integer arithmetic in
    both engines (the integer-cent idiom), so p50/p90 hash identically.

    Scale: one user-partitioned window (scale-safe — no global sort),
    then one sort-based percentile aggregate per event type (≤|types|
    output rows). The tie-break on event_id pins the sequence."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    m = epoch_micros(events, "ts")
    seq = events.select(
        "event_type", (m - F.lag(m).over(w)).alias("gap")
    ).filter(F.col("gap").isNotNull())
    return (
        seq.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.expr("percentile(gap, 0.5)").alias("p50_gap_micros"),
            F.expr("percentile(gap, 0.9)").alias("p90_gap_micros"),
            F.max("gap").alias("max_gap_micros"),
        )
        .orderBy("event_type")
    )


@register(
    "attribution_last_touch",
    """
    WITH touched AS (
      SELECT event_type, "value",
             last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS touch
      FROM events
    )
    SELECT coalesce(touch, 'none') AS touch_type,
           count(*) AS n_purchases,
           CAST(round(sum(CAST("value" AS DECIMAL(30,10))), 2) AS DOUBLE)
             AS attributed_value
    FROM touched WHERE event_type = 'purchase'
    GROUP BY touch_type ORDER BY touch_type
    """,
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the user's
    most recent PRECEDING non-purchase event (the marketing-attribution
    primitive). A running last(..., ignoreNulls) over the user's ordered
    stream carries the latest touch forward; purchases with no prior
    touch fall into 'none'. Purchase value is attributed through the
    exact decimal-sum idiom.

    Scale: one user-partitioned running window (state is one value per
    user — the streaming twin is a trivial applyInPandasWithState) and a
    ≤|types|-row aggregate. No self-join of the events table — the naive
    formulation is an as-of self-join; the running window does it in one
    pass."""
    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    touched = events.select(
        "event_type",
        "value",
        F.last(
            F.when(F.col("event_type") != "purchase", F.col("event_type")),
            ignorenulls=True,
        )
        .over(w)
        .alias("touch"),
    )
    return (
        touched.filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce(F.col("touch"), F.lit("none")).alias("touch_type"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(F.sum(F.col("value").cast("decimal(30,10)")), 2)
            .cast("double")
            .alias("attributed_value"),
        )
        .orderBy("touch_type")
    )


@register(
    "events_time_rollup",
    """
    WITH t AS (
      SELECT CAST(date_diff('day', TIMESTAMP '1970-01-01 00:00:00', ts)
                  AS BIGINT) AS d, "value"
      FROM events
    ), g AS (
      SELECT (d + 3) // 7 AS week, d AS day, "value" FROM t
    )
    SELECT CAST(week AS BIGINT) AS week, CAST(day AS BIGINT) AS day,
           CAST(GROUPING(week) AS BIGINT) AS g_week,
           CAST(GROUPING(day) AS BIGINT) AS g_day,
           count(*) AS n_events,
           CAST(round(sum(CAST("value" AS DECIMAL(30,10))), 2) AS DOUBLE)
             AS total_value
    FROM g
    GROUP BY ROLLUP (week, day)
    ORDER BY g_week, g_day, week, day
    """,
)
def events_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-hierarchy rollup (the hypertable continuous-aggregate shape):
    per-day, per-week, and grand-total grains in ONE pass via ROLLUP —
    Catalyst expands the grouping sets and partial-aggregates each grain
    map-side, so the shuffle carries |days|+|weeks|+1 rows, not the
    events. GROUPING() flags disambiguate the NULL grain rows exactly as
    the oracle does. Grains are PURE epoch-day integer arithmetic
    ((day+3) div 7 = Monday-start week, 1970-01-01 being a Thursday) —
    calendar functions on the events LTZ timestamps would shift with the
    session timezone (the events_retention_cohorts lesson), integers
    cannot.

    Scale: one partial-aggregated shuffle; output bounded by the
    calendar, not the data."""
    events = load_table(spark, sf_dir, "events")
    t = events.select(
        epoch_micros(events, "ts").alias("micros"), "value"
    ).select(F.expr("micros div 86400000000").alias("day"), "value")
    g = t.select(F.expr("(day + 3) div 7").alias("week"), "day", "value")
    return (
        g.rollup("week", "day")
        .agg(
            F.grouping("week").cast("bigint").alias("g_week"),
            F.grouping("day").cast("bigint").alias("g_day"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(30,10)")), 2)
            .cast("double")
            .alias("total_value"),
        )
        .select(
            "week", "day", "g_week", "g_day", "n_events", "total_value"
        )
        .orderBy("g_week", "g_day", "week", "day")
    )


@register(
    "event_transition_matrix",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    counts AS (
      SELECT prev_type, event_type AS next_type,
             CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, next_type
    )
    SELECT prev_type, next_type, n,
           CAST(n * 1000000 //
                CAST(sum(n) OVER (PARTITION BY prev_type) AS BIGINT)
                AS BIGINT) AS p_ppm
    FROM counts ORDER BY prev_type, next_type
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: lag() within each user's timeline (event_id tie-break
    makes the sequence total-ordered and deterministic), then a
    (prev, next) count with row-conditional probabilities as integer
    parts-per-million — exact BIGINT floor division, no float sums.

    Scale: the lag window is user-partitioned (the scale-safe kind:
    state is one row per user per partition), the count is a
    partial-aggregated shuffle to ≤|types|² = 25 rows, and the
    normalizing window runs over that 25-row aggregate — domain-bounded
    by the event-type vocabulary, not the event count."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    counts = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = F.sum("n").over(Window.partitionBy("prev_type"))
    return (
        counts.select(
            "prev_type",
            "next_type",
            "n",
            F.expr("n * 1000000").alias("_num"),
            tot.alias("_tot"),
        )
        .select(
            "prev_type",
            "next_type",
            "n",
            F.expr("_num div _tot").cast("bigint").alias("p_ppm"),
        )
        .orderBy("prev_type", "next_type")
    )


@register(
    "wau_mau_stickiness",
    """
    WITH wk AS (
      SELECT DISTINCT
             date_diff('microsecond', TIMESTAMP '1970-01-01 00:00:00', ts)
               // 604800000000 AS week,
             user_id
      FROM events
    ),
    wau AS (
      SELECT week, CAST(count(*) AS BIGINT) AS wau FROM wk GROUP BY week
    ),
    mau AS (
      SELECT week // 4 AS block,
             CAST(count(DISTINCT user_id) AS BIGINT) AS mau
      FROM wk GROUP BY block
    )
    SELECT CAST(week AS BIGINT) AS week, wau, mau,
           CAST(wau * 1000000 // mau AS BIGINT) AS stickiness_ppm
    FROM wau JOIN mau ON week // 4 = block
    ORDER BY week
    """,
)
def wau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly active users, 4-week-block active users, and the WAU/MAU
    stickiness ratio — the engagement-health metric. Weeks are pure
    epoch-microsecond arithmetic (no calendar functions: week-numbering
    conventions differ cross-engine); the ratio is exact BIGINT ppm.

    Scale: the (week, user) de-dup is ONE partial-aggregated distinct
    shuffle over the events (the standard count-distinct expansion);
    WAU and the 4-week MAU both aggregate that small de-duped set, and
    the final join is over |weeks| rows — domain-bounded both sides."""
    events = load_table(spark, sf_dir, "events")
    wk = (
        events.select(epoch_micros(events, "ts").alias("m"), "user_id")
        .select(
            F.expr("m div 604800000000").cast("bigint").alias("week"),
            "user_id",
        )
        .distinct()
    )
    wau = wk.groupBy("week").agg(F.count(F.lit(1)).alias("wau"))
    mau = wk.groupBy(F.expr("week div 4").alias("block")).agg(
        F.countDistinct("user_id").alias("mau")
    )
    return (
        wau.join(mau, F.expr("week div 4") == F.col("block"))
        .select(
            "week",
            "wau",
            "mau",
            F.expr("wau * 1000000 div mau").cast("bigint").alias(
                "stickiness_ppm"
            ),
        )
        .orderBy("week")
    )


@register(
    "session_path_topk",
    """
    WITH seq AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN date_diff('microsecond',
                    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                    ts) > 1800000000
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
    ),
    sess AS (
      SELECT user_id, event_type, ts, event_id,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM seq
    ),
    ranked AS (
      SELECT user_id, sess_id, event_type,
             row_number() OVER (PARTITION BY user_id, sess_id
                                ORDER BY ts, event_id) AS rn
      FROM sess
    ),
    paths AS (
      SELECT concat_ws('>',
               max(CASE WHEN rn = 1 THEN event_type END),
               max(CASE WHEN rn = 2 THEN event_type END),
               max(CASE WHEN rn = 3 THEN event_type END)) AS path
      FROM ranked WHERE rn <= 3 GROUP BY user_id, sess_id
    )
    SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path LIMIT 10
    """,
)
def session_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 session-opening paths (first ≤3 event types per 30-minute
    gap session, joined with '>') — the UX-flow readout built on the
    same lag-gap sessionization as events_sessionize_stats, composed
    with a deterministic first-k extraction (conditional max over
    row_number ≤ 3 — no collect_list, whose ordering is not
    deterministic under merge) and a TakeOrdered top-10.

    Scale: two user-partitioned windows (scale-safe), one
    (user, session)-keyed aggregate, a path-keyed count partial-
    aggregated to ≤|types|³ rows, and a 10-row TakeOrdered — no global
    sort, no unbounded window."""
    events = load_table(spark, sf_dir, "events")
    m = epoch_micros(events, "ts")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "user_id", "event_type", "ts", "event_id", m.alias("m"),
        F.lag(m).over(w).alias("prev_m"),
    ).select(
        "user_id", "event_type", "ts", "event_id",
        F.when(
            F.col("prev_m").isNull() | (F.col("m") - F.col("prev_m") > 1800000000),
            1,
        ).otherwise(0).alias("new_sess"),
    )
    sess = seq.select(
        "user_id", "event_type", "ts", "event_id",
        F.sum("new_sess").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("sess_id"),
    )
    ranked = sess.select(
        "user_id", "sess_id", "event_type",
        F.row_number().over(
            Window.partitionBy("user_id", "sess_id").orderBy("ts", "event_id")
        ).alias("rn"),
    ).filter(F.col("rn") <= 3)
    paths = ranked.groupBy("user_id", "sess_id").agg(
        F.concat_ws(
            ">",
            F.max(F.when(F.col("rn") == 1, F.col("event_type"))),
            F.max(F.when(F.col("rn") == 2, F.col("event_type"))),
            F.max(F.when(F.col("rn") == 3, F.col("event_type"))),
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(10)
    )


@register(
    "events_error_burst",
    """
    WITH per_min AS (
      SELECT event_type,
             date_diff('microsecond', TIMESTAMP '1970-01-01 00:00:00', ts)
               // 60000000 AS minute,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY event_type, minute
    ),
    windowed AS (
      SELECT event_type, minute, n,
             CAST(sum(n) OVER (PARTITION BY event_type ORDER BY minute
                               RANGE BETWEEN 4 PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS n_5min
      FROM per_min
    )
    SELECT event_type,
           CAST(max(n) AS BIGINT) AS peak_1min,
           CAST(max(n_5min) AS BIGINT) AS peak_5min,
           CAST(count(*) AS BIGINT) AS n_active_minutes
    FROM windowed GROUP BY event_type ORDER BY event_type
    """,
)
def events_error_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst detection per event type: peak events in any single minute
    and in any trailing 5-minute RANGE window (value-based, so gaps in
    the minute axis are handled correctly — a ROWS window would slide
    over missing minutes and overcount). The alerting primitive for
    error-rate spikes.

    Scale: the per-minute aggregate partial-combines before its shuffle;
    the range window is partitioned by event_type over per-MINUTE rows
    (time-domain-bounded, the accepted time-series shape shared with
    events_anomaly_daily); the final rollup is ≤|types| rows. All
    integer minute arithmetic — no calendar functions."""
    events = load_table(spark, sf_dir, "events")
    m = epoch_micros(events, "ts")
    per_min = (
        events.select("event_type", m.alias("mm"))
        .select("event_type", F.expr("mm div 60000000").alias("minute"))
        .groupBy("event_type", "minute")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("minute")
        .rangeBetween(-4, Window.currentRow)
    )
    windowed = per_min.select(
        "event_type", "minute", "n", F.sum("n").over(w).alias("n_5min")
    )
    return (
        windowed.groupBy("event_type")
        .agg(
            F.max("n").alias("peak_1min"),
            F.max("n_5min").alias("peak_5min"),
            F.count(F.lit(1)).alias("n_active_minutes"),
        )
        .orderBy("event_type")
    )


@register(
    "event_type_user_overlap",
    """
    WITH tu AS (
      SELECT DISTINCT event_type, user_id FROM events
    ),
    sizes AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_users
      FROM tu GROUP BY event_type
    ),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(count(*) AS BIGINT) AS n_both
      FROM tu a JOIN tu b ON a.user_id = b.user_id
      WHERE a.event_type < b.event_type
      GROUP BY type_a, type_b
    )
    SELECT type_a, type_b, n_both,
           sa.n_users AS n_a, sb.n_users AS n_b,
           CAST(n_both * 1000000 // (sa.n_users + sb.n_users - n_both)
                AS BIGINT) AS jaccard_ppm
    FROM pairs
    JOIN sizes sa ON sa.event_type = type_a
    JOIN sizes sb ON sb.event_type = type_b
    ORDER BY type_a, type_b
    """,
)
def event_type_user_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix: for every pair of event types, how many
    users did both, and the Jaccard overlap of their user sets (integer
    ppm) — the segmentation primitive behind "do purchasers also hit
    errors?". The self-join is keyed on user_id AFTER the (type, user)
    distinct, so per-user fanout is bounded by |types|² = 25, never by
    event count.

    Scale: one distinct shuffle over (type, user), a user-keyed
    equi-join with constant fanout, a ≤10-row pair aggregate, and two
    broadcast-size joins against the ≤5-row size table. Exact BIGINT
    floor-division Jaccard."""
    events = load_table(spark, sf_dir, "events")
    # consumed 3x (sizes + both self-join sides): one distinct pass
    tu = events.select("event_type", "user_id").distinct().persist()
    sizes = tu.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_users"))
    a = tu.select(F.col("event_type").alias("type_a"), "user_id")
    b = tu.select(F.col("event_type").alias("type_b"), "user_id")
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    sa = sizes.select(F.col("event_type").alias("type_a"), F.col("n_users").alias("n_a"))
    sb = sizes.select(F.col("event_type").alias("type_b"), F.col("n_users").alias("n_b"))
    return (
        pairs.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_both",
            "n_a",
            "n_b",
            F.expr("n_both * 1000000 div (n_a + n_b - n_both)")
            .cast("bigint")
            .alias("jaccard_ppm"),
        )
        .orderBy("type_a", "type_b")
    )


@register(
    "segment_conversion_rates",
    """
    WITH per_user AS (
      SELECT user_id,
             max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS viewed,
             max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS clicked,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS purchased
      FROM events GROUP BY user_id
    ),
    seg AS (
      SELECT u.*, coalesce(c.c_mktsegment, 'UNKNOWN') AS segment
      FROM per_user u
      LEFT JOIN customer c ON u.user_id = c.c_custkey
    )
    SELECT segment,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(viewed) AS BIGINT) AS n_viewed,
           CAST(sum(clicked) AS BIGINT) AS n_clicked,
           CAST(sum(purchased) AS BIGINT) AS n_purchased,
           CAST(sum(CASE WHEN viewed = 1 AND purchased = 1 THEN 1 ELSE 0 END)
                * 1000000 // greatest(sum(viewed), 1) AS BIGINT)
             AS view_to_purchase_ppm
    FROM seg GROUP BY segment ORDER BY segment
    """,
)
def segment_conversion_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-market-segment conversion rollup: collapse the event stream to
    one flag-row per user (ONE user-keyed partial-aggregated shuffle — the
    stream is never joined raw), decorate with the customer dimension
    (left join; users missing from the dimension become 'UNKNOWN' instead
    of silently dropping), then a |segments|-row aggregate with exact ppm
    conversion. The dimension-join twin of events_funnel's ordered
    funnel.

    Scale: per-user pre-aggregation shrinks the join's left side to
    |users| rows before the dimension join (broadcast when small, else
    key-partitioned); all arithmetic integer."""
    events = load_table(spark, sf_dir, "events")
    customer = load_table(spark, sf_dir, "customer")
    flag = lambda t: F.max((F.col("event_type") == t).cast("int"))
    per_user = events.groupBy("user_id").agg(
        flag("view").alias("viewed"),
        flag("click").alias("clicked"),
        flag("purchase").alias("purchased"),
    )
    seg = per_user.join(
        customer.select(F.col("c_custkey").alias("user_id"), "c_mktsegment"),
        "user_id",
        "left",
    ).withColumn("segment", F.coalesce(F.col("c_mktsegment"), F.lit("UNKNOWN")))
    return (
        seg.groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum("viewed").cast("bigint").alias("n_viewed"),
            F.sum("clicked").cast("bigint").alias("n_clicked"),
            F.sum("purchased").cast("bigint").alias("n_purchased"),
            F.expr(
                "CAST(sum(CASE WHEN viewed = 1 AND purchased = 1 THEN 1 ELSE 0 END) "
                "* 1000000 div greatest(sum(viewed), 1) AS BIGINT)"
            ).alias("view_to_purchase_ppm"),
        )
        .orderBy("segment")
    )


@register(
    "ab_test_lift",
    """
    WITH per_user AS (
      SELECT user_id,
             CAST(CAST(('0x' || substr(md5(user_id || ':exp1'), 1, 15)) AS BIGINT)
                  % 2 AS BIGINT) AS arm,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY user_id
    )
    SELECT CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_treatment,
           CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_control,
           CAST(sum(CASE WHEN arm = 1 THEN converted ELSE 0 END) AS BIGINT) AS conv_treatment,
           CAST(sum(CASE WHEN arm = 0 THEN converted ELSE 0 END) AS BIGINT) AS conv_control,
           CAST(sum(CASE WHEN arm = 1 THEN converted ELSE 0 END) * 1000000
                // greatest(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END), 1) AS BIGINT)
             AS rate_treatment_ppm,
           CAST(sum(CASE WHEN arm = 0 THEN converted ELSE 0 END) * 1000000
                // greatest(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END), 1) AS BIGINT)
             AS rate_control_ppm
    FROM per_user
    """,
)
def ab_test_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic A/B experiment readout: users assigned to arms by a
    content-stable salted md5 hash (same user → same arm on every re-run,
    new users distribute 50/50 — the property sticky experiment
    assignment needs and ``rand()`` cannot give), conversion = any
    purchase event, exact ppm rates per arm in ONE pass.

    Scale: one user-keyed partial-aggregated shuffle collapsing the
    event stream, then a 1-row aggregate; the hash costs one scan-stage
    expression. The salt (':exp1') namespaces assignments so concurrent
    experiments are independent."""
    events = load_table(spark, sf_dir, "events")
    arm = F.pmod(
        F.conv(
            F.substring(F.md5(F.concat(F.col("user_id").cast("string"), F.lit(":exp1"))), 1, 15),
            16,
            10,
        ).cast("long"),
        F.lit(2),
    ).cast("bigint")
    per_user = events.groupBy("user_id").agg(
        F.max((F.col("event_type") == "purchase").cast("int")).alias("converted")
    ).select(arm.alias("arm"), "converted")
    t = F.when(F.col("arm") == 1, 1).otherwise(0)
    c = F.when(F.col("arm") == 0, 1).otherwise(0)
    tc = F.when(F.col("arm") == 1, F.col("converted")).otherwise(0)
    cc = F.when(F.col("arm") == 0, F.col("converted")).otherwise(0)
    return per_user.agg(
        F.sum(t).cast("bigint").alias("n_treatment"),
        F.sum(c).cast("bigint").alias("n_control"),
        F.sum(tc).cast("bigint").alias("conv_treatment"),
        F.sum(cc).cast("bigint").alias("conv_control"),
        F.expr(
            "CAST(sum(CASE WHEN arm = 1 THEN converted ELSE 0 END) * 1000000 "
            "div greatest(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END), 1) AS BIGINT)"
        ).alias("rate_treatment_ppm"),
        F.expr(
            "CAST(sum(CASE WHEN arm = 0 THEN converted ELSE 0 END) * 1000000 "
            "div greatest(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END), 1) AS BIGINT)"
        ).alias("rate_control_ppm"),
    )


@register(
    "session_abandonment",
    """
    WITH e AS (
      SELECT user_id, event_type, epoch_us(ts) AS micros
      FROM events WHERE event_type IN ('view', 'click', 'purchase')
    ),
    gapped AS (
      SELECT user_id, event_type, micros,
             CASE WHEN micros - lag(micros) OVER (PARTITION BY user_id
                                                  ORDER BY micros)
                       > 1800000000 OR
                  lag(micros) OVER (PARTITION BY user_id ORDER BY micros) IS NULL
                  THEN 1 ELSE 0 END AS is_start
      FROM e
    ),
    sessions AS (
      SELECT user_id, event_type,
             CAST(sum(is_start) OVER (PARTITION BY user_id ORDER BY micros
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS session_id
      FROM gapped
    ),
    flags AS (
      SELECT user_id, session_id,
             max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS has_view,
             max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS has_click,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS has_purchase
      FROM sessions GROUP BY user_id, session_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(CASE WHEN has_view = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_browse_sessions,
           CAST(sum(CASE WHEN has_click = 1 AND has_purchase = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_abandoned,
           CAST(sum(CASE WHEN has_purchase = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_converted,
           CAST(sum(CASE WHEN has_click = 1 AND has_purchase = 0 THEN 1 ELSE 0 END)
                * 1000000
                // greatest(sum(CASE WHEN has_click = 1 THEN 1 ELSE 0 END), 1)
                AS BIGINT) AS abandonment_ppm
    FROM flags
    """,
)
def session_abandonment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cart-abandonment readout: 30-minute gap sessionization (the
    lag/cumsum idiom shared with events_sessionize_stats), per-session
    engagement flags in ONE aggregate, then a 1-row report — sessions
    that clicked but never purchased, as an exact ppm of clicking
    sessions. The business twin of events_funnel's ordered stages.

    Plan: one user-partitioned sort window pair (lag + running sum share
    the sort), one (user, session) aggregate, 1-row report. Purely
    integer."""
    events = load_table(spark, sf_dir, "events")
    e = events.filter(
        F.col("event_type").isin("view", "click", "purchase")
    ).select("user_id", "event_type", epoch_micros(events, "ts").alias("micros"))
    w = Window.partitionBy("user_id").orderBy("micros")
    gapped = e.withColumn(
        "is_start",
        F.when(
            (F.col("micros") - F.lag("micros").over(w) > 1_800_000_000)
            | F.lag("micros").over(w).isNull(),
            1,
        ).otherwise(0),
    )
    sessions = gapped.withColumn(
        "session_id",
        F.sum("is_start").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("bigint"),
    )
    flag = lambda t: F.max((F.col("event_type") == t).cast("int"))
    flags = sessions.groupBy("user_id", "session_id").agg(
        flag("view").alias("has_view"),
        flag("click").alias("has_click"),
        flag("purchase").alias("has_purchase"),
    )
    abandoned = ((F.col("has_click") == 1) & (F.col("has_purchase") == 0)).cast("bigint")
    return flags.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.sum((F.col("has_view") == 1).cast("bigint")).cast("bigint").alias(
            "n_browse_sessions"
        ),
        F.sum(abandoned).cast("bigint").alias("n_abandoned"),
        F.sum((F.col("has_purchase") == 1).cast("bigint")).cast("bigint").alias(
            "n_converted"
        ),
        F.expr(
            "CAST(sum(CASE WHEN has_click = 1 AND has_purchase = 0 THEN 1 ELSE 0 END)"
            " * 1000000 div greatest(sum(CASE WHEN has_click = 1 THEN 1 ELSE 0 END), 1)"
            " AS BIGINT)"
        ).alias("abandonment_ppm"),
    )


@register(
    "session_peak_concurrency",
    """
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL '30 minutes'
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ), sess AS (
      SELECT user_id, ts,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_no
      FROM marked
    ), sessions AS (
      SELECT user_id, min(ts) AS s, max(ts) + INTERVAL '30 minutes' AS e
      FROM sess GROUP BY user_id, session_no
    ), deltas AS (
      SELECT strftime(s, '%Y-%m-%d') AS day, s AS ts, 1 AS delta, user_id FROM sessions
      UNION ALL
      SELECT strftime(e, '%Y-%m-%d') AS day, e AS ts, -1 AS delta, user_id FROM sessions
    ), intraday AS (
      SELECT day,
             max(run) AS intraday_peak
      FROM (
        SELECT day,
               sum(delta) OVER (PARTITION BY day ORDER BY ts, delta, user_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
        FROM deltas
      ) GROUP BY day
    ), day_net AS (
      SELECT day, CAST(sum(delta) AS BIGINT) AS net FROM deltas GROUP BY day
    ), baseline AS (
      SELECT day,
             CAST(COALESCE(sum(net) OVER (ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS carried
      FROM day_net
    )
    SELECT i.day, CAST(b.carried + i.intraday_peak AS BIGINT) AS peak_concurrent
    FROM intraday i JOIN baseline b ON i.day = b.day
    """,
)
def session_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day — the capacity-planning readout
    (licensing, connection pools, serving fleet sizing). Sessions come
    from the verified 30-minute session_window construction; each
    becomes a +1/−1 delta at its start/end, the intraday running sum is
    a DAY-PARTITIONED window (never a global single-reducer sort), and
    sessions spanning midnight are carried exactly via a per-day net
    baseline — a ≤|days| cumulative over the day-level aggregate, the
    domain-bounded unpartitioned-window pattern (calendar days, not
    rows, bound it at any SF). Tie discipline: at equal timestamps ends
    (−1) sort before starts (+1), so back-to-back sessions never
    double-count; user_id completes the total order."""
    sessions = events_session_30m(spark, sf_dir).select(
        "user_id", "session_start", "session_end"
    )
    deltas = (
        sessions.select(
            F.date_format("session_start", "yyyy-MM-dd").alias("day"),
            F.col("session_start").alias("ts"),
            F.lit(1).alias("delta"),
            "user_id",
        )
        .unionByName(
            sessions.select(
                F.date_format("session_end", "yyyy-MM-dd").alias("day"),
                F.col("session_end").alias("ts"),
                F.lit(-1).alias("delta"),
                "user_id",
            )
        )
        .persist()  # intraday peaks + day-net baseline share it
    )
    w_run = (
        Window.partitionBy("day")
        .orderBy("ts", "delta", "user_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    intraday = (
        deltas.withColumn("run", F.sum("delta").over(w_run))
        .groupBy("day")
        .agg(F.max("run").alias("intraday_peak"))
    )
    day_net = deltas.groupBy("day").agg(
        F.sum("delta").cast("bigint").alias("net")
    )
    w_days = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    baseline = day_net.select(
        "day",
        F.coalesce(F.sum("net").over(w_days), F.lit(0)).cast("bigint").alias("carried"),
    )
    return intraday.join(baseline, "day").select(
        "day",
        (F.col("carried") + F.col("intraday_peak")).cast("bigint").alias(
            "peak_concurrent"
        ),
    )


@register(
    "daily_volume_anomaly",
    """
    WITH daily AS (
      SELECT strftime(ts, '%Y-%m-%d') AS day, CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1
    ), med AS (
      SELECT median(n_events) AS med FROM daily
    ), m AS (
      SELECT (SELECT med FROM med) AS med,
             median(abs(n_events - (SELECT med FROM med))) AS mad
      FROM daily
    )
    SELECT d.day, d.n_events,
           round(m.med, 1) AS med, round(m.mad, 1) AS mad,
           abs(d.n_events - m.med) > 3 * 1.4826 * m.mad AS is_anomaly
    FROM daily d CROSS JOIN m
    """,
)
def daily_volume_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly flag on the daily event-volume series: a day is
    anomalous when its count deviates from the series median by more
    than 3 robust sigmas (MAD × 1.4826 — the estimator outliers cannot
    poison, unlike mean/stddev which the anomaly itself inflates). The
    pipeline-health tripwire run before trusting any day's ingest.

    Plan: one partial-aggregated count per day, then two exact medians
    over the ≤|calendar days| frame — a domain-bounded scalar probe
    broadcast back over the same bounded frame. Nothing here scales
    with row count except the first aggregate; at 100 TB the day series
    is still tiny. Exact interpolated medians (both engines average the
    middle pair), identical double expression for the flag."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        .persist()  # median probe + final projection share it
    )
    med = daily.agg(F.expr("percentile(n_events, 0.5)").alias("med"))
    m = (
        daily.crossJoin(F.broadcast(med))
        .agg(
            F.first("med").alias("med"),
            F.expr("percentile(abs(n_events - med), 0.5)").alias("mad"),
        )
    )
    return daily.crossJoin(F.broadcast(m)).select(
        "day",
        "n_events",
        F.round("med", 1).alias("med"),
        F.round("mad", 1).alias("mad"),
        (F.abs(F.col("n_events") - F.col("med")) > 3 * 1.4826 * F.col("mad")).alias(
            "is_anomaly"
        ),
    )


@register(
    "daily_cusum_shift",
    """
    WITH daily AS (
      SELECT strftime(ts, '%Y-%m-%d') AS day, CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1
    ), t AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(n_events) AS BIGINT) AS total
      FROM daily
    ), c AS (
      SELECT d.day, d.n_events,
             CAST(sum(t.n * d.n_events - t.total)
                  OVER (ORDER BY d.day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cusum
      FROM daily d CROSS JOIN t
    )
    SELECT day, n_events, cusum,
           abs(cusum) = (SELECT max(abs(cusum)) FROM c) AS is_changepoint
    FROM c
    """,
)
def daily_cusum_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM level-shift detection on the daily volume series: the
    cumulative sum of scaled deviations ``n·xᵢ − total`` (all BIGINT —
    multiplying through by n avoids the fractional mean, so the
    statistic is EXACT integer arithmetic) peaks in magnitude at the
    most likely change point; the flagged day is where the series
    splits into maximally-different level regimes. Companion to the
    pointwise median/MAD tripwire: CUSUM sees gradual drifts that never
    individually breach a z-threshold.

    Plan: one partial-aggregated daily count, a 1-row (n, total)
    broadcast, then a cumulative window over the ≤|calendar days|
    series — the domain-bounded unpartitioned-window pattern again;
    nothing but the first aggregate scales with rows."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        .persist()  # totals probe + cusum series share it
    )
    t = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("n_events").cast("bigint").alias("total"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    c = (
        daily.crossJoin(F.broadcast(t))
        .withColumn(
            "cusum",
            F.sum(F.col("n") * F.col("n_events") - F.col("total")).over(w).cast("bigint"),
        )
        .select("day", "n_events", "cusum")
        .persist()  # max-|cusum| probe + final projection
    )
    peak = c.agg(F.max(F.abs("cusum")).alias("peak"))
    return c.crossJoin(F.broadcast(peak)).select(
        "day",
        "n_events",
        "cusum",
        (F.abs("cusum") == F.col("peak")).alias("is_changepoint"),
    )


@register(
    "attribution_position_based",
    """
    WITH seq AS (
      SELECT user_id, ts, event_id, event_type, "value",
             CAST(COALESCE(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS journey
      FROM events
    ), conv AS (
      SELECT user_id, journey,
             CAST(round("value" * 100) AS BIGINT) AS conv_cents
      FROM seq WHERE event_type = 'purchase'
    ), touches AS (
      SELECT s.user_id, s.journey, s.event_type AS touch_type, c.conv_cents,
             row_number() OVER (PARTITION BY s.user_id, s.journey
                                ORDER BY s.ts, s.event_id) AS idx,
             count(*) OVER (PARTITION BY s.user_id, s.journey) AS n
      FROM seq s JOIN conv c ON c.user_id = s.user_id AND c.journey = s.journey
      WHERE s.event_type <> 'purchase'
    ), credited AS (
      SELECT touch_type, conv_cents,
             CASE
               WHEN n = 1 THEN 1000000
               WHEN n = 2 THEN 500000
               WHEN idx = 1 THEN 400000
               WHEN idx = n THEN 400000
               WHEN idx = 2 THEN 200000 - (n - 3) * (200000 // (n - 2))
               ELSE 200000 // (n - 2)
             END AS w_ppm
      FROM touches
    )
    SELECT touch_type,
           CAST(count(*) AS BIGINT) AS n_touches,
           CAST(sum(conv_cents * w_ppm) AS BIGINT) AS credited_cents_ppm
    FROM credited GROUP BY touch_type
    """,
)
def attribution_position_based(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped 40/20/40) multi-touch attribution: each
    purchase's value is credited across the touches of its conversion
    journey (the events since the previous purchase) — 40% to the first
    touch, 40% to the last, 20% split over the middles. The standard
    upgrade from last-touch (attribution_last_touch), which starves
    upper-funnel touchpoints.

    Exactness: weights are integer parts-per-million; the middle share
    uses integer division with the remainder assigned to the FIRST
    middle touch (a documented deterministic rule), so credited sums
    are exact BIGINT arithmetic — no float summation order to drift
    across engines. Journeys come from a cumulative purchase count per
    user ((ts, event_id) total order); every window partitions by
    (user, journey). One user-keyed shuffle chain, linear at any SF."""
    ev = load_table(spark, sf_dir, "events")
    w_seq = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        "value",
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).over(w_seq),
            F.lit(0),
        )
        .cast("bigint")
        .alias("journey"),
    ).persist()  # touches side + conversions side
    conv = seq.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "journey",
        F.round(F.col("value") * 100).cast("bigint").alias("conv_cents"),
    )
    w_j = Window.partitionBy("user_id", "journey").orderBy("ts", "event_id")
    touches = (
        seq.filter(F.col("event_type") != "purchase")
        .join(conv, ["user_id", "journey"])
        .withColumn("idx", F.row_number().over(w_j))
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("user_id", "journey")))
    )
    w_ppm = (
        F.when(F.col("n") == 1, F.lit(1000000))
        .when(F.col("n") == 2, F.lit(500000))
        .when(F.col("idx") == 1, F.lit(400000))
        .when(F.col("idx") == F.col("n"), F.lit(400000))
        .when(
            F.col("idx") == 2,
            F.lit(200000)
            - (F.col("n") - 3) * F.expr("200000 div (n - 2)"),
        )
        .otherwise(F.expr("200000 div (n - 2)"))
    )
    return (
        touches.select(
            F.col("event_type").alias("touch_type"),
            "conv_cents",
            w_ppm.alias("w_ppm"),
        )
        .groupBy("touch_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_touches"),
            F.sum(F.col("conv_cents") * F.col("w_ppm")).cast("bigint").alias(
                "credited_cents_ppm"
            ),
        )
    )


# truncated binary EWMA: alpha = 1/2, lag cap 16 — every weight is a
# power of two, so the weighted sum is EXACT BIGINT arithmetic in any
# engine (no IEEE accumulation order to disagree on). Generated once;
# both the Spark expression and the oracle use the identical term list.
_EWMA_LAGS = 16
_EWMA_TERMS = " + ".join(
    f"coalesce(lag(cents, {k}) OVER w, 0) * {1 << (_EWMA_LAGS - 1 - k)}"
    for k in range(_EWMA_LAGS)
)
# inline-window variant for the Spark side (no named-window clause needed;
# Catalyst collapses the 16 identical specs into ONE Window node)
_EWMA_TERMS_INLINE = _EWMA_TERMS.replace("OVER w", "OVER (ORDER BY day)")


@register(
    "ewma_daily_revenue",
    f"""
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY day
    )
    SELECT day, cents,
           CAST({_EWMA_TERMS} AS BIGINT) AS ewma_cents_x32768
    FROM daily
    WINDOW w AS (ORDER BY day)
    ORDER BY day
    """,
)
def ewma_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of daily revenue — the
    smoothing pass behind anomaly baselines and forecast features. The
    recurrence s_t = alpha*x_t + (1-alpha)*s_{t-1} is not expressible as
    a plain window aggregate; with alpha = 1/2 the expansion
    s_t = sum_k 2^-(k+1) x_{t-k} has power-of-two weights, so the
    16-lag truncation (residual weight 2^-16 < 0.002%) is EXACT integer
    arithmetic: ewma*2^15 = sum cents_{t-k} * 2^(15-k) — bit-identical
    in every engine, no IEEE ordering, no rounding rule to reconcile.

    Scale: one partial-aggregated shuffle to daily grain, then a single
    16-row-frame window over the |days| aggregate — DOMAIN-bounded
    (grows with calendar time, not rows), the accepted post-aggregate
    global-window shape (cf. orders_seasonality). Headroom: daily cents
    * 2^15 * 16 stays under int64 up to ~10^13 cents/day (~sf10^4)."""
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.date_trunc("day", "o_orderdate").alias("day"))
        .agg(
            F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
            .cast("bigint")
            .alias("cents")
        )
    )
    return daily.selectExpr(
        "day",
        "cents",
        f"CAST({_EWMA_TERMS_INLINE} AS BIGINT) AS ewma_cents_x32768",
    ).orderBy("day")


@register(
    "gap_fill_interpolate",
    """
    WITH ev AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             ts, event_id,
             CAST(round("value" * 1000000) AS BIGINT) AS micro
      FROM events
    ), day_close AS (
      SELECT user_id, day, micro AS close_micro FROM (
        SELECT user_id, day, micro,
               row_number() OVER (PARTITION BY user_id, day
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM ev) WHERE rn = 1
    ), bounds AS (
      SELECT user_id, min(day) AS mn, max(day) AS mx FROM ev GROUP BY user_id
    ), spine AS (
      SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS day
      FROM bounds
    ), joined AS (
      SELECT s.user_id, s.day, d.close_micro,
             last_value(d.close_micro IGNORE NULLS) OVER (
               PARTITION BY s.user_id ORDER BY s.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_micro,
             last_value(CASE WHEN d.close_micro IS NOT NULL THEN s.day END
                        IGNORE NULLS) OVER (
               PARTITION BY s.user_id ORDER BY s.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_day,
             first_value(d.close_micro IGNORE NULLS) OVER (
               PARTITION BY s.user_id ORDER BY s.day
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_micro,
             first_value(CASE WHEN d.close_micro IS NOT NULL THEN s.day END
                         IGNORE NULLS) OVER (
               PARTITION BY s.user_id ORDER BY s.day
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_day
      FROM spine s LEFT JOIN day_close d
        ON d.user_id = s.user_id AND d.day = s.day
    )
    SELECT user_id, day, (close_micro IS NOT NULL) AS is_observed,
           CAST(CASE WHEN close_micro IS NOT NULL THEN close_micro
                ELSE prev_micro * date_diff('day', day, next_day)
                     + next_micro * date_diff('day', prev_day, day)
                END AS BIGINT) AS interp_num_micro,
           CAST(CASE WHEN close_micro IS NOT NULL THEN 1
                ELSE date_diff('day', prev_day, next_day)
                END AS BIGINT) AS interp_den_days
    FROM joined
    ORDER BY user_id, day
    """,
)
def gap_fill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar gap-fill with LINEAR interpolation — the complement of
    gap_fill_forward's LOCF: missing days get the straight line between
    the surrounding observations. The interpolated value is emitted as
    an EXACT RATIONAL (numerator in micro-units, denominator in days):
    prev*(d_next - d) + next*(d - d_prev) over (d_next - d_prev). No
    division ever executes, so there is no truncation-direction or IEEE
    rule for two engines to disagree on — consumers divide at the edge.

    Scale: same distributed-spine shape as gap_fill_forward (sequence()
    explode per user, never a driver calendar); four IGNORE NULLS value
    windows all share ONE user_id-partitioned sort, so the whole fill is
    three shuffles keyed on user_id regardless of SF. Spine endpoints
    are observed days, so prev/next always exist and den >= 1."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.date_trunc("day", "ts").alias("day"),
        "ts",
        "event_id",
        F.expr('CAST(round(value * 1000000) AS BIGINT)').alias("micro"),
    )
    w_close = Window.partitionBy("user_id", "day").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    day_close = (
        ev.withColumn("rn", F.row_number().over(w_close))
        .filter(F.col("rn") == 1)
        .select("user_id", "day", F.col("micro").alias("close_micro"))
    )
    spine = (
        ev.groupBy("user_id")
        .agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
        .select(
            "user_id",
            F.explode(F.sequence("mn", "mx", F.expr("INTERVAL 1 DAY"))).alias(
                "day"
            ),
        )
    )
    w_back = Window.partitionBy("user_id").orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_fwd = Window.partitionBy("user_id").orderBy("day").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    obs_day = F.when(F.col("close_micro").isNotNull(), F.col("day"))
    joined = spine.join(day_close, ["user_id", "day"], "left").select(
        "user_id",
        "day",
        "close_micro",
        F.last("close_micro", ignorenulls=True).over(w_back).alias("prev_micro"),
        F.last(obs_day, ignorenulls=True).over(w_back).alias("prev_day"),
        F.first("close_micro", ignorenulls=True).over(w_fwd).alias("next_micro"),
        F.first(obs_day, ignorenulls=True).over(w_fwd).alias("next_day"),
    )
    observed = F.col("close_micro").isNotNull()
    return joined.select(
        "user_id",
        "day",
        observed.alias("is_observed"),
        F.when(observed, F.col("close_micro"))
        .otherwise(
            F.col("prev_micro") * F.datediff("next_day", "day")
            + F.col("next_micro") * F.datediff("day", "prev_day")
        )
        .cast("bigint")
        .alias("interp_num_micro"),
        F.when(observed, F.lit(1))
        .otherwise(F.datediff("next_day", "prev_day"))
        .cast("bigint")
        .alias("interp_den_days"),
    )


@register(
    "daily_user_composition",
    """
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
      FROM events
    ), firsts AS (
      SELECT user_id, min(day) AS first_day FROM ud GROUP BY user_id
    ), daily AS (
      SELECT ud.day,
             count(*) AS n_active,
             sum(CASE WHEN f.first_day = ud.day THEN 1 ELSE 0 END) AS n_new
      FROM ud JOIN firsts f ON f.user_id = ud.user_id
      GROUP BY ud.day
    )
    SELECT day,
           CAST(n_active AS BIGINT) AS n_active,
           CAST(n_new AS BIGINT) AS n_new,
           CAST(n_active - n_new AS BIGINT) AS n_returning,
           CAST(sum(n_new) OVER (ORDER BY day) AS BIGINT)
             AS cum_distinct_users
    FROM daily ORDER BY day
    """,
)
def daily_user_composition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active / new / returning split plus the EXACT cumulative
    distinct-user curve — growth accounting's standard chart. The naive
    cumulative COUNT(DISTINCT) over an expanding frame is O(n·days) and
    unsupported as a window anyway; the first-seen trick makes it
    linear: a user contributes to exactly ONE day's n_new (their min
    day), so the running sum of n_new IS the cumulative distinct count
    — the standard exact-distinct-over-time pattern at any scale.

    Plan: user-day dedup aggregate -> per-user min -> user-keyed join
    back (all shuffles keyed on user_id) -> |days|-row daily rollup;
    the only unpartitioned window runs over the DOMAIN-bounded day
    aggregate (accepted post-aggregate shape, cf. ewma/seasonality)."""
    ud = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.date_trunc("day", "ts").alias("day"))
        .distinct()
    )
    firsts = ud.groupBy("user_id").agg(F.min("day").alias("first_day"))
    daily = (
        ud.join(firsts, "user_id")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_active"),
            F.sum(
                F.when(F.col("first_day") == F.col("day"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_new"),
        )
    )
    w = Window.orderBy("day")
    return daily.select(
        "day",
        "n_active",
        "n_new",
        (F.col("n_active") - F.col("n_new")).cast("bigint").alias("n_returning"),
        F.sum("n_new").over(w).cast("bigint").alias("cum_distinct_users"),
    ).orderBy("day")


@register(
    "events_funnel_windowed",
    """
    WITH v AS (
      SELECT user_id, min(ts) AS t FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, min(e.ts) AS t
      FROM events e JOIN v ON e.user_id = v.user_id
       AND e.ts > v.t AND e.ts <= v.t + INTERVAL 1 HOUR
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, min(e.ts) AS t
      FROM events e JOIN c ON e.user_id = c.user_id
       AND e.ts > c.t AND e.ts <= c.t + INTERVAL 1 HOUR
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT stage, n_users,
           round(CAST(n_users AS DOUBLE)
                 / lag(n_users) OVER (ORDER BY ord), 4) AS pct_of_prev
    FROM (
      SELECT 1 AS ord, 'view' AS stage, (SELECT count(*) FROM v) AS n_users
      UNION ALL SELECT 2, 'click_within_1h', (SELECT count(*) FROM c)
      UNION ALL SELECT 3, 'purchase_within_1h', (SELECT count(*) FROM p)
    ) ORDER BY ord
    """,
)
def events_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-constrained conversion funnel: first 'view' → first 'click'
    WITHIN ONE HOUR of it → first 'purchase' within one hour of that —
    the product-analytics funnel semantics (Amplitude/Mixpanel-style
    conversion windows) that the unbounded events_funnel deliberately
    omits. The conversion window is what makes the metric actionable: a
    purchase three weeks after a view is not attributable to it.

    Scale shape = events_funnel's: each stage is a per-user MIN aggregate
    joined to the previous stage's watermark (≤ one row per user per
    side, shared user_id key across all three shuffles); the window
    bound adds only a non-equi residual condition to the same equi-join
    — no range-join explosion, because the equi key carries the join and
    the interval check filters residually."""
    events = load_table(spark, sf_dir, "events")
    hour = F.expr("INTERVAL 1 HOUR")

    def first_within(event_type: str, prev: DataFrame | None) -> DataFrame:
        df = events.filter(F.col("event_type") == event_type)
        if prev is not None:
            df = (
                df.join(prev, "user_id")
                .filter(
                    (F.col("ts") > F.col("t")) & (F.col("ts") <= F.col("t") + hour)
                )
                .drop("t")
            )
        return df.groupBy("user_id").agg(F.min("ts").alias("t")).persist()

    v = first_within("view", None)
    c = first_within("click", v)
    p = first_within("purchase", c)

    stages = (
        v.agg(F.count(F.lit(1)).alias("n_users"))
        .select(F.lit(1).alias("ord"), F.lit("view").alias("stage"), "n_users")
        .unionByName(
            c.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit(2).alias("ord"),
                F.lit("click_within_1h").alias("stage"),
                "n_users",
            )
        )
        .unionByName(
            p.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit(3).alias("ord"),
                F.lit("purchase_within_1h").alias("stage"),
                "n_users",
            )
        )
    )
    w = Window.orderBy("ord")
    return (
        stages.withColumn(
            "pct_of_prev",
            F.round(
                F.col("n_users").cast("double") / F.lag("n_users").over(w), 4
            ),
        )
        .orderBy("ord")
        .select("stage", "n_users", "pct_of_prev")
    )


@register(
    "did_lift_estimate",
    """
    WITH cells AS (
      SELECT (user_id % 2 = 1) AS treated,
             (extract(day FROM ts) >= 16) AS post,
             CAST(round(value * 100) AS DECIMAL(18,0)) AS cents
      FROM events WHERE event_type = 'purchase'
    ), s AS (
      SELECT
        CAST(count(*) FILTER (treated AND post) AS BIGINT) AS n_t1,
        CAST(count(*) FILTER (treated AND NOT post) AS BIGINT) AS n_t0,
        CAST(count(*) FILTER (NOT treated AND post) AS BIGINT) AS n_c1,
        CAST(count(*) FILTER (NOT treated AND NOT post) AS BIGINT) AS n_c0,
        CAST(sum(cents) FILTER (treated AND post) AS DOUBLE) AS s_t1,
        CAST(sum(cents) FILTER (treated AND NOT post) AS DOUBLE) AS s_t0,
        CAST(sum(cents) FILTER (NOT treated AND post) AS DOUBLE) AS s_c1,
        CAST(sum(cents) FILTER (NOT treated AND NOT post) AS DOUBLE) AS s_c0
      FROM cells
    )
    SELECT n_t1, n_t0, n_c1, n_c0,
           (s_t1/n_t1 - s_t0/n_t0) - (s_c1/n_c1 - s_c0/n_c0)
             AS did_cents
    FROM s
    """,
)
def did_lift_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences lift: the quasi-experimental estimator
    an experimentation platform falls back to when assignment isn't
    randomized per event — (treated post − treated pre) minus
    (control post − control pre) cancels both the persistent group gap
    and the common time trend. Cohort = user parity, period split at
    mid-month, metric = purchase value in exact integer cents; the four
    cell sums accumulate in DECIMAL and the estimator's 7 double ops
    (4 correctly-rounded casts→divisions, 3 subtractions) are
    bit-identical cross-engine. Complements ab_test_lift (randomized
    contrast) and cuped_adjusted_lift (variance reduction).

    Plan: one filtered scan, one conditional-aggregate 1-row reduce —
    map-side combined, no shuffle beyond the 8-value partial merge. The
    same plan at 100 TB is scan-bound, which is optimal."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.filter(F.col("event_type") == "purchase").select(
        (F.col("user_id") % 2 == 1).alias("treated"),
        (F.dayofmonth("ts") >= 16).alias("post"),
        F.expr("CAST(round(value * 100) AS DECIMAL(18,0))").alias("cents"),
    )
    t, p = F.col("treated"), F.col("post")
    s = cells.agg(
        F.count_if(t & p).cast("bigint").alias("n_t1"),
        F.count_if(t & ~p).cast("bigint").alias("n_t0"),
        F.count_if(~t & p).cast("bigint").alias("n_c1"),
        F.count_if(~t & ~p).cast("bigint").alias("n_c0"),
        F.sum(F.when(t & p, F.col("cents"))).cast("double").alias("s_t1"),
        F.sum(F.when(t & ~p, F.col("cents"))).cast("double").alias("s_t0"),
        F.sum(F.when(~t & p, F.col("cents"))).cast("double").alias("s_c1"),
        F.sum(F.when(~t & ~p, F.col("cents"))).cast("double").alias("s_c0"),
    )
    return s.select(
        "n_t1", "n_t0", "n_c1", "n_c0",
        (
            (F.col("s_t1") / F.col("n_t1") - F.col("s_t0") / F.col("n_t0"))
            - (F.col("s_c1") / F.col("n_c1") - F.col("s_c0") / F.col("n_c0"))
        ).alias("did_cents"),
    )


@register(
    "markov_stationary_power",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    counts AS (
      SELECT prev_type AS i, event_type AS j, CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE prev_type IS NOT NULL GROUP BY i, j
    ),
    p AS (
      SELECT i, j,
             CAST(n * 1000000 //
                  CAST(sum(n) OVER (PARTITION BY i) AS BIGINT) AS BIGINT)
               AS p_ppm
      FROM counts
    ),
    states AS (SELECT DISTINCT i AS state FROM p),
    pi0 AS (
      SELECT state,
             CAST(1000000000000 // (SELECT count(*) FROM states) AS BIGINT)
               AS pi
      FROM states
    ),
    pi1 AS (
      SELECT p.j AS state, CAST(sum(pi0.pi * p.p_ppm) // 1000000 AS BIGINT) AS pi
      FROM pi0 JOIN p ON p.i = pi0.state GROUP BY p.j
    ),
    pi2 AS (
      SELECT p.j AS state, CAST(sum(pi1.pi * p.p_ppm) // 1000000 AS BIGINT) AS pi
      FROM pi1 JOIN p ON p.i = pi1.state GROUP BY p.j
    ),
    pi3 AS (
      SELECT p.j AS state, CAST(sum(pi2.pi * p.p_ppm) // 1000000 AS BIGINT) AS pi
      FROM pi2 JOIN p ON p.i = pi2.state GROUP BY p.j
    )
    SELECT state AS event_type, pi AS pi_e12 FROM pi3 ORDER BY state
    """,
)
def markov_stationary_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the event-type Markov chain by THREE
    power-iteration steps over the ppm transition matrix — the
    eigenvector computation behind steady-state session mix, PageRank,
    and MCMC burn-in diagnostics, run as an iterative broadcast join
    exactly like kmeans_lloyd/pagerank_bipartite: state NEVER
    round-trips through the driver, each step extends the logical plan
    with one (join + partial-agg) over the ≤|types|² = 25-row matrix.
    Fixed-point arithmetic at two scales — π at 1e12, P at ppm — keeps
    every product ≤ 1e18 inside BIGINT and the trace bit-identical
    cross-engine (floor division on nonnegative values agrees between
    Spark's div and DuckDB's //).

    Plan: the big scan feeds the lag window once (user-partitioned);
    the matrix is persisted (consumed by each iteration) so events is
    scanned exactly once. Iterations shuffle 25 rows. At 100 TB the
    chain-building pass dominates and is scan-bound; iteration cost is
    independent of data size — the property that makes power iteration
    on an aggregated transition matrix scale where per-row iterative
    methods would not."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("j"),
        F.lag("event_type").over(w).alias("i"),
    ).filter(F.col("i").isNotNull())
    counts = seq.groupBy("i", "j").agg(F.count(F.lit(1)).alias("n"))
    tot = F.sum("n").over(Window.partitionBy("i"))
    p = (
        counts.select("i", "j", F.expr("n * 1000000").alias("num"), tot.alias("t"))
        .select("i", "j", F.expr("num div t").cast("bigint").alias("p_ppm"))
        .persist()  # 1 + 3 consumers; events scans once
    )
    states = p.select(F.col("i").alias("state")).distinct()
    k = states.agg(F.count(F.lit(1)).alias("k"))
    pi = states.crossJoin(F.broadcast(k)).select(
        "state", F.expr("CAST(1000000000000 div k AS BIGINT)").alias("pi")
    )
    for _ in range(3):
        pi = (
            p.join(pi, p["i"] == pi["state"])
            .groupBy("j")
            .agg(
                F.expr("CAST(sum(pi * p_ppm) div 1000000 AS BIGINT)").alias("pi")
            )
            .select(F.col("j").alias("state"), "pi")
        )
    return pi.select(
        F.col("state").alias("event_type"), F.col("pi").alias("pi_e12")
    ).orderBy("event_type")


@register(
    "error_before_purchase_window_join",
    """
    WITH p AS (
      SELECT event_id, user_id, epoch_us(ts) AS t
      FROM events WHERE event_type = 'purchase'
    ), e AS (
      SELECT user_id, epoch_us(ts) AS t
      FROM events WHERE event_type = 'error'
    )
    SELECT p.event_id, p.user_id,
           CAST(count(*) AS BIGINT) AS n_errors_30m,
           CAST(min(p.t - e.t) AS BIGINT) AS last_error_gap_us
    FROM p JOIN e
      ON p.user_id = e.user_id
     AND e.t <= p.t AND e.t > p.t - 1800000000
    GROUP BY p.event_id, p.user_id
    ORDER BY p.event_id
    """,
)
def error_before_purchase_window_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join across event types — purchases decorated with the
    errors their user hit in the preceding 30 minutes (the "failed then
    retried and converted" funnel diagnosis; in Structured Streaming
    terms, the stream-stream join with a time-bound buffer, expressed
    here as its exact batch parity). The join is EQUI-keyed on user_id
    with the window as a residual predicate: per-user event counts are
    small and user-hash-partitioned, so candidate volume is
    Σ_user |purchases|·|errors| — skew-governed by the user key like
    every per-user operator; for a pathological hot key, compose with
    the time-bin discipline of binned_range_join (bin = 30-minute
    buckets) to restore an output-proportional bound.

    Exact microsecond arithmetic both engines; half-open window
    (gap 0 inclusive, 30 min exclusive) so a same-instant error counts
    once."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", epoch_micros(ev, "ts").alias("t")
    )
    e = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("e_user"), epoch_micros(ev, "ts").alias("e_t")
    )
    joined = p.join(
        e,
        (p["user_id"] == e["e_user"])
        & (e["e_t"] <= p["t"])
        & (e["e_t"] > p["t"] - F.lit(1_800_000_000)),
    )
    return (
        joined.groupBy("event_id", "user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_errors_30m"),
            F.min(F.col("t") - F.col("e_t")).cast("bigint").alias("last_error_gap_us"),
        )
        .orderBy("event_id")
    )


@register(
    "attribution_time_decay",
    """
    WITH conv AS (
      SELECT event_id, user_id, epoch_us(ts) AS t,
             CAST(round("value" * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ), touch AS (
      SELECT user_id, event_type, epoch_us(ts) AS t
      FROM events WHERE event_type <> 'purchase'
    ), weighted AS (
      SELECT c.event_id, c.cents, h.event_type,
             CASE WHEN (c.t - h.t) // 21600000000 <= 40
                  THEN 1000000000000 // CAST(pow(2, (c.t - h.t)
                                                     // 21600000000)
                                           AS BIGINT)
                  ELSE 0 END AS w
      FROM conv c JOIN touch h
        ON c.user_id = h.user_id AND h.t <= c.t
    ), summed AS (
      SELECT event_id, cents, event_type, w,
             sum(w) OVER (PARTITION BY event_id) AS wsum
      FROM weighted
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_touches,
           CAST(sum(CASE WHEN wsum > 0 THEN cents * w // wsum ELSE 0 END)
                AS BIGINT) AS attributed_cents
    FROM summed GROUP BY event_type ORDER BY event_type
    """,
)
def attribution_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay multi-touch attribution — each conversion's value
    splits across the user's PRIOR touches with weight halving every
    6 hours (the exponential-decay model between last-touch and
    position-based, completing the attribution family). Weights are
    exact integers: exponent = gap div 6h, weight = 1e12 div 2^e
    (pow(2, e) is exact in doubles for e ≤ 40; older touches get
    weight 0 — the numerically honest cutoff), and each touch's share
    is floor(cents·w / Σw) per conversion — allocation never exceeds
    the conversion value, all BIGINT.

    Plan: one user-keyed equi-join (touch history vs conversions,
    residual h.t <= c.t), one conversion-partitioned window for the
    weight normalizer, one |types|-row rollup. Same skew profile as
    every per-user operator; the decay cutoff also BOUNDS the join in
    production (touches older than 10 days carry weight 0 and prune at
    the scan with a watermark predicate)."""
    ev = load_table(spark, sf_dir, "events")
    conv = ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        epoch_micros(ev, "ts").alias("t"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    touch = ev.filter(F.col("event_type") != "purchase").select(
        F.col("user_id").alias("h_user"),
        F.col("event_type").alias("h_type"),
        epoch_micros(ev, "ts").alias("h_t"),
    )
    joined = conv.join(
        touch, (conv["user_id"] == touch["h_user"]) & (touch["h_t"] <= conv["t"])
    ).select(
        "event_id",
        "cents",
        F.col("h_type").alias("event_type"),
        F.expr(
            "CASE WHEN (t - h_t) div 21600000000 <= 40"
            " THEN 1000000000000 div CAST(pow(2, (t - h_t) div 21600000000)"
            " AS BIGINT) ELSE 0 END"
        ).alias("w"),
    )
    wsum = F.sum("w").over(Window.partitionBy("event_id"))
    summed = joined.withColumn("wsum", wsum)
    return (
        summed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_touches"),
            F.sum(
                F.when(F.col("wsum") > 0, F.expr("cents * w div wsum")).otherwise(
                    F.lit(0)
                )
            )
            .cast("bigint")
            .alias("attributed_cents"),
        )
        .orderBy("event_type")
    )


@register(
    "rate_limit_admission_audit",
    """
    WITH stamped AS (
      SELECT user_id, event_id,
             epoch_us(ts) // 60000000 AS win,
             row_number() OVER (PARTITION BY user_id,
                                             epoch_us(ts) // 60000000
                                ORDER BY epoch_us(ts), event_id) AS slot
      FROM events
    )
    SELECT CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(*) FILTER (slot <= 5) AS BIGINT) AS n_admitted,
           CAST(count(*) FILTER (slot > 5) AS BIGINT) AS n_rejected,
           CAST(count(DISTINCT user_id) FILTER (slot > 5) AS BIGINT)
             AS n_throttled_users,
           CAST(max(slot) AS BIGINT) AS peak_burst
    FROM stamped
    """,
)
def rate_limit_admission_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's rate limiter (R3, governance.go windowed limiter;
    mirrored at runtime in governance.py:26) expressed as DATAFLOW — a
    fixed-window admission policy (≤5 events per user per minute)
    replayed over the historical log to audit what a given limit WOULD
    have throttled: admitted/rejected counts, distinct throttled users,
    and the peak burst. This is how you size a production limit before
    deploying it — replay, not guesswork — and the window+row_number
    shape is the same admission logic a streaming enforcement job runs
    per micro-batch.

    Plan: ONE window keyed (user, minute) with a deterministic
    (ts, event_id) slot order, then a conditional-aggregate 1-row
    reduce. Minute bucketing is epoch-integer division (TZ-free).
    Scale: admission state is per (user, window) — embarrassingly
    key-partitioned, the property that makes windowed limits the only
    kind that distribute (token buckets need coordination; the
    reference's own limiter is windowed for the same reason)."""
    ev = load_table(spark, sf_dir, "events")
    stamped = ev.select(
        "user_id",
        "event_id",
        epoch_micros(ev, "ts").alias("t_us"),
    ).withColumn(
        # integer `div`, not double `/`-then-cast-to-long: exact at any
        # epoch magnitude and identical to the oracle's `//` (r7 ADVICE)
        "win",
        F.expr("t_us div 60000000"),
    )
    w = Window.partitionBy("user_id", "win").orderBy("t_us", "event_id")
    slotted = stamped.withColumn("slot", F.row_number().over(w))
    return slotted.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.count_if(F.col("slot") <= 5).cast("bigint").alias("n_admitted"),
        F.count_if(F.col("slot") > 5).cast("bigint").alias("n_rejected"),
        F.countDistinct(F.when(F.col("slot") > 5, F.col("user_id")))
        .cast("bigint")
        .alias("n_throttled_users"),
        F.max("slot").cast("bigint").alias("peak_burst"),
    )


# ---------------------------------------------------------------------------
# Session-gap sensitivity curve
# ---------------------------------------------------------------------------

_GAP_MINUTES = (5, 15, 30, 60)


@register(
    "session_gap_sensitivity",
    f"""
    WITH g AS (
      SELECT user_id,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap_us
      FROM events
    ), agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_events,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
             {", ".join(
                 f"CAST(sum(CASE WHEN gap_us > {m * 60_000_000} THEN 1 ELSE 0 END)"
                 f" AS BIGINT) AS c{m}" for m in _GAP_MINUTES)}
      FROM g
    )
    {" UNION ALL ".join(
        f"SELECT CAST({m} AS BIGINT) AS gap_minutes,"
        f" n_users + c{m} AS n_sessions,"
        f" CAST(n_events * 1000000 // (n_users + c{m}) AS BIGINT)"
        f" AS avg_events_per_session_ppm FROM agg" for m in _GAP_MINUTES)}
    ORDER BY gap_minutes
    """,
)
def session_gap_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session counts under FOUR inactivity thresholds (5/15/30/60 min)
    from ONE pass — the tuning curve you read before fixing the gap
    parameter of sessionization (events_session_30m and the streaming
    sessionizer both hard-code a gap; this query is how that number is
    chosen and re-audited as traffic patterns drift). The identity
    n_sessions(T) = n_users + |gaps > T| turns the whole curve into
    conditional aggregates over the SAME lag frame: no per-threshold
    re-sessionization, no re-scan — adding a threshold costs one
    counter.

    Plan: one user-keyed lag window (the standing sessionization
    shuffle), one partial-aggregated global rollup to a single row, and
    an in-row explode to the 4-row curve (no join, no second pass).
    Scale: identical profile to sessionization itself; the curve is
    free relative to one session build."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    g = ev.select(
        "user_id", "event_id", epoch_micros(ev, "ts").alias("t_us")
    ).withColumn("gap_us", F.col("t_us") - F.lag("t_us").over(w))
    counters = [
        F.count_if(F.col("gap_us") > m * 60_000_000)
        .cast("bigint")
        .alias(f"c{m}")
        for m in _GAP_MINUTES
    ]
    agg = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        *counters,
    )
    rows = ", ".join(
        f"struct(CAST({m} AS BIGINT) AS gap_minutes,"
        f" n_users + c{m} AS n_sessions,"
        f" CAST(n_events * 1000000 div (n_users + c{m}) AS BIGINT)"
        f" AS avg_events_per_session_ppm)"
        for m in _GAP_MINUTES
    )
    return (
        agg.select(F.expr(f"explode(array({rows}))").alias("r"))
        .select("r.gap_minutes", "r.n_sessions", "r.avg_events_per_session_ppm")
        .orderBy("gap_minutes")
    )
