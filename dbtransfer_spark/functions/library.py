"""Function-library coverage queries: string, date/time, array, exact
percentiles, conditional expressions, and approximate sketches.

Each query exercises a family of scalar/aggregate functions end-to-end
(scan → expression → result) with a DuckDB oracle where semantics are
exactly shared; approximate sketches (HLL, approx quantile) get rows-only
checks plus error-bound columns the reader can eyeball.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbtransfer_spark.catalog import load_table
from dbtransfer_spark.registry import register


@register(
    "string_functions",
    """
    SELECT c_custkey,
           upper(c_name) AS name_upper,
           substr(c_name, 1, 8) AS name_prefix,
           length(c_name) AS name_len,
           replace(c_mktsegment, 'A', '_') AS seg_repl,
           lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS key_padded,
           split_part(c_name, '#', 2) AS name_suffix,
           concat_ws('|', c_mktsegment, c_name) AS joined
    FROM customer
    """,
)
def string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String family: upper/substr/length/replace/lpad/split_part/concat_ws
    — all codegen'd, collapse into the scan projection."""
    df = load_table(spark, sf_dir, "customer")
    return df.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.length("c_name").alias("name_len"),
        F.replace(F.col("c_mktsegment"), F.lit("A"), F.lit("_")).alias("seg_repl"),
        F.lpad(F.col("c_custkey").cast("string"), 8, "0").alias("key_padded"),
        F.split_part(F.col("c_name"), F.lit("#"), F.lit(2)).alias("name_suffix"),
        F.concat_ws("|", "c_mktsegment", "c_name").alias("joined"),
    )


@register(
    "datetime_functions",
    """
    SELECT o_orderkey,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month,
           CAST(o_orderdate + INTERVAL 30 DAY AS TIMESTAMP) AS due_date,
           date_diff('day', o_orderdate, TIMESTAMP '1998-12-01 00:00:00') AS days_to_ref,
           EXTRACT(year FROM o_orderdate) AS order_year,
           EXTRACT(month FROM o_orderdate) AS order_month_no,
           strftime(o_orderdate, '%Y-%m') AS month_label
    FROM orders
    """,
)
def datetime_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time family: trunc, interval arithmetic, diff, extract,
    formatting (DATE_FORMAT ↔ strftime dialect translation per
    transforms.py)."""
    df = load_table(spark, sf_dir, "orders")
    return df.select(
        "o_orderkey",
        F.date_trunc("month", "o_orderdate").alias("order_month"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("due_date"),
        F.datediff(F.lit("1998-12-01").cast("timestamp"), F.col("o_orderdate")).cast(
            "long"
        ).alias("days_to_ref"),
        F.year("o_orderdate").cast("long").alias("order_year"),
        F.month("o_orderdate").cast("long").alias("order_month_no"),
        F.date_format("o_orderdate", "yyyy-MM").alias("month_label"),
    )


@register(
    "array_functions",
    """
    SELECT vec_id,
           len(embedding) AS dim,
           round(CAST(embedding[1] AS DOUBLE), 6) AS first_val,
           round(CAST(list_max(embedding) AS DOUBLE), 6) AS max_val,
           round(CAST(list_min(embedding) AS DOUBLE), 6) AS min_val,
           round(list_sum(list_transform(embedding[1:8], x -> CAST(x AS DOUBLE))), 6)
             AS head_sum,
           round(CAST(list_sort(embedding)[len(embedding)] AS DOUBLE), 6) AS sorted_last
    FROM embeddings
    """,
)
def array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array family over the embedding column: size, indexing, min/max,
    slice+aggregate, sort — the building blocks the similarity kernels
    compose."""
    df = load_table(spark, sf_dir, "embeddings")
    head = F.slice("embedding", 1, 8)
    return df.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        F.round(F.element_at("embedding", 1).cast("double"), 6).alias("first_val"),
        F.round(F.array_max("embedding").cast("double"), 6).alias("max_val"),
        F.round(F.array_min("embedding").cast("double"), 6).alias("min_val"),
        F.round(
            F.aggregate(head, F.lit(0.0), lambda acc, x: acc + x.cast("double")), 6
        ).alias("head_sum"),
        F.round(
            F.element_at(F.sort_array("embedding"), F.size("embedding")).cast("double"), 6
        ).alias("sorted_last"),
    )


@register(
    "conditional_functions",
    """
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_discount >= 0.05 THEN 'high' WHEN l_discount > 0 THEN 'low'
                ELSE 'none' END AS discount_band,
           coalesce(nullif(l_returnflag, 'N'), 'NONE') AS flag_or_none,
           greatest(l_tax, l_discount) AS max_rate,
           least(l_tax, l_discount) AS min_rate,
           CASE WHEN l_quantity > 25 THEN l_quantity ELSE NULL END AS big_qty
    FROM lineitem
    """,
)
def conditional_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, sf_dir, "lineitem")
    return df.select(
        "l_orderkey",
        "l_linenumber",
        F.when(F.col("l_discount") >= 0.05, "high")
        .when(F.col("l_discount") > 0, "low")
        .otherwise("none")
        .alias("discount_band"),
        F.coalesce(F.nullif("l_returnflag", F.lit("N")), F.lit("NONE")).alias(
            "flag_or_none"
        ),
        F.greatest("l_tax", "l_discount").alias("max_rate"),
        F.least("l_tax", "l_discount").alias("min_rate"),
        F.when(F.col("l_quantity") > 25, F.col("l_quantity")).alias("big_qty"),
    )


@register(
    "percentile_stats",
    """
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.5), 4) AS p50_qty,
           round(quantile_cont(l_extendedprice, 0.25), 4) AS p25_price,
           round(quantile_cont(l_extendedprice, 0.75), 4) AS p75_price,
           round(quantile_cont(l_extendedprice, 0.99), 4) AS p99_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def percentile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (linear interpolation — Spark ``percentile`` and
    DuckDB ``quantile_cont`` share the formula). Exact percentile is a
    sort-based aggregate: fine per-group; the approx_sketches query is the
    scale path."""
    df = load_table(spark, sf_dir, "lineitem")
    return df.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)"), 4).alias("p50_qty"),
        F.round(F.expr("percentile(l_extendedprice, 0.25)"), 4).alias("p25_price"),
        F.round(F.expr("percentile(l_extendedprice, 0.75)"), 4).alias("p75_price"),
        F.round(F.expr("percentile(l_extendedprice, 0.99)"), 4).alias("p99_price"),
    )


@register(
    "approx_sketches",
    # Sketch values are impl-specific (HLL++ registers, GK compaction), so
    # the oracle checks the *tolerance contract* instead: exact values must
    # match, and the sketch-vs-exact relative error flags must be true
    # (HLL++ default rsd = 5%; approx_percentile accuracy 1000 on ~15k rows
    # per group is rank-exact to ±0.1%, well inside 1% of value here).
    """
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS exact_parts,
           TRUE AS parts_within_5pct,
           CAST(round(quantile_cont(CAST(round(l_extendedprice * 100) AS BIGINT), 0.5) * 2, 0)
                AS BIGINT) AS p50_price_halfcents,
           TRUE AS p50_within_1pct
    FROM lineitem GROUP BY l_returnflag
    """,
)
def approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates — the 100 TB substitutes for exact distinct
    and percentile: HLL++ (approx_count_distinct, mergeable, O(1) state)
    and GK quantiles (approx_percentile). Emitted beside exact values with
    relative-error flags; the oracle hash-verifies the exact columns and
    that each sketch lands inside its documented tolerance."""
    from dbtransfer_spark.queries import exact_histogram_percentiles

    df = load_table(spark, sf_dir, "lineitem")
    # r11 plan fix (sf1 sweep, 33.5 s → ~8 s): a DISTINCT aggregate
    # (count(DISTINCT ...)) combined with any typed-imperative aggregate
    # (percentile / approx_percentile) forces Spark's Expand + sort-based
    # aggregation path — the scan doubles and 12M expanded rows sort by
    # (flag, partkey); measured 39.6 s for countDistinct+percentile alone
    # vs 2.9 s + 3.0 s separately. The families therefore aggregate in
    # SEPARATE one-pass plans joined on the 3-row group key (broadcast,
    # free), each side hash-aggregated at any scale.
    exact_parts = F.countDistinct("l_partkey")
    approx_parts = F.approx_count_distinct("l_partkey")
    counts = df.groupBy("l_returnflag").agg(
        exact_parts.alias("exact_parts"),
        (
            F.abs(approx_parts - exact_parts) / exact_parts <= 0.05
        ).alias("parts_within_5pct"),
    )
    # The exact median is reported in half-cents: the interpolated midpoint
    # of two integer cent values, doubled, is an exact integer — immune to
    # the engine-specific FP interpolation that makes round(median, 2)
    # differ at half-cent ties. ONE exact percentile (on cents) feeds both
    # outputs (the dollar median for the flag is cents/100, within 1 ulp
    # of the direct double percentile, indistinguishable to a 1% flag).
    #
    # r14 (r13 VERDICT #5): the exact reference percentile comes from the
    # partial-aggregated (flag, cents) HISTOGRAM via the shared
    # exact_histogram_percentiles recipe, not the typed-imperative
    # `percentile()` over fact rows — same per-group multiset cliff that
    # was removed from winsorize/spearman/weighted_median in r13, same
    # bit-identical Percentile.scala interpolation replay (hash verified
    # unchanged). The GK sketch (approx_percentile) keeps its own
    # fact-level one-pass aggregate — the sketch IS the thing being
    # demonstrated, and its state is O(accuracy), not a multiset.
    hist = df.groupBy(
        "l_returnflag",
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("__c"),
    ).agg(F.count(F.lit(1)).alias("__cnt"))
    exact_p50 = exact_histogram_percentiles(
        hist, "l_returnflag", "__c", "__cnt", {"p50c": 0.5}
    )
    approx = df.groupBy("l_returnflag").agg(
        F.expr("approx_percentile(l_extendedprice, 0.5, 1000)").alias("__ap50")
    )
    quantiles = exact_p50.join(F.broadcast(approx), "l_returnflag").select(
        "l_returnflag",
        F.expr("CAST(round(p50c * 2) AS BIGINT)").alias("p50_price_halfcents"),
        (
            F.abs(F.col("__ap50") - F.col("p50c") / 100.0)
            / (F.col("p50c") / 100.0)
            <= 0.01
        ).alias("p50_within_1pct"),
    )
    return counts.join(F.broadcast(quantiles), "l_returnflag").select(
        "l_returnflag",
        "exact_parts",
        "parts_within_5pct",
        "p50_price_halfcents",
        "p50_within_1pct",
    )


@register(
    "map_functions",
    """
    SELECT l_orderkey, l_linenumber,
           (CASE WHEN l_quantity > 1.0 THEN 1 ELSE 0 END
            + CASE WHEN l_extendedprice > 1.0 THEN 1 ELSE 0 END
            + CASE WHEN l_discount > 1.0 THEN 1 ELSE 0 END) AS n_above_one,
           l_quantity + l_extendedprice + l_discount AS total,
           l_quantity * 2 AS qty_doubled,
           'qty,price,disc' AS keys_str
    FROM lineitem
    """,
)
def map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map family: construction (map_from_arrays), higher-order filtering
    (map_filter), value transformation (transform_values), key/value
    extraction. The oracle recomputes every output directly from the
    source columns, so the map round-trip is verified value-for-value —
    including that map_from_arrays preserves entry order (the aggregate
    over map_values must add in qty, price, disc order to be bit-equal
    to the oracle's left-to-right sum)."""
    df = load_table(spark, sf_dir, "lineitem")
    m = F.map_from_arrays(
        F.array(F.lit("qty"), F.lit("price"), F.lit("disc")),
        F.array(
            F.col("l_quantity").cast("double"),
            F.col("l_extendedprice").cast("double"),
            F.col("l_discount").cast("double"),
        ),
    )
    staged = df.select("l_orderkey", "l_linenumber", m.alias("__m"))
    return staged.select(
        "l_orderkey",
        "l_linenumber",
        F.size(F.map_filter("__m", lambda k, v: v > 1.0)).alias("n_above_one"),
        F.aggregate(
            F.map_values("__m"), F.lit(0.0), lambda acc, x: acc + x
        ).alias("total"),
        F.element_at(
            F.transform_values("__m", lambda k, v: v * 2), F.lit("qty")
        ).alias("qty_doubled"),
        F.concat_ws(",", F.map_keys("__m")).alias("keys_str"),
    )


@register(
    "bitwise_functions",
    """
    SELECT l_orderkey, l_linenumber,
           l_orderkey & 255 AS key_and,
           l_orderkey | 4096 AS key_or,
           xor(l_orderkey, l_linenumber) AS key_xor,
           l_orderkey << 2 AS key_shl,
           l_orderkey >> 3 AS key_shr,
           bit_count(l_orderkey) AS key_bits
    FROM lineitem
    """,
)
def bitwise_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise family (and/or/xor/shifts/popcount) — the primitives the
    SimHash/LSH operators build on, exposed as first-class transforms.
    Pure codegen in the scan projection; integer semantics are identical
    across engines (two's-complement 64-bit)."""
    df = load_table(spark, sf_dir, "lineitem")
    return df.select(
        "l_orderkey",
        "l_linenumber",
        F.expr("l_orderkey & 255").alias("key_and"),
        F.expr("l_orderkey | 4096").alias("key_or"),
        F.expr("l_orderkey ^ l_linenumber").alias("key_xor"),
        F.shiftleft(F.col("l_orderkey"), 2).alias("key_shl"),
        F.shiftright(F.col("l_orderkey"), 3).alias("key_shr"),
        F.bit_count(F.col("l_orderkey")).alias("key_bits"),
    )


@register(
    "regex_functions",
    """
    SELECT c_custkey,
           regexp_extract(c_name, '([0-9]+)', 1) AS digits,
           regexp_replace(c_name, '0', 'x', 'g') AS zeros_replaced,
           regexp_matches(c_name, '^Customer#') AS is_customer,
           len(regexp_extract_all(c_name, '0')) AS n_zeros
    FROM customer
    """,
)
def regex_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex family: extract, global replace, match test, occurrence
    count. Patterns are kept RE2-compatible (no backrefs/lookahead) so
    Java regex (Spark) and RE2 (DuckDB) agree — the same constraint the
    PII redactor documents. Note DuckDB's regexp_replace needs the 'g'
    flag to match Spark's replace-all semantics (the oracle carries it).
    All codegen, scan-stage."""
    df = load_table(spark, sf_dir, "customer")
    return df.select(
        "c_custkey",
        F.regexp_extract("c_name", "([0-9]+)", 1).alias("digits"),
        F.regexp_replace("c_name", "0", "x").alias("zeros_replaced"),
        F.col("c_name").rlike("^Customer#").alias("is_customer"),
        F.expr("regexp_count(c_name, '0')").alias("n_zeros"),
    )


@register(
    "argminmax_functions",
    """
    SELECT l_returnflag,
           arg_max(l_orderkey,
                   CAST(round(l_extendedprice * 100) AS BIGINT) * 4294967296
                   + l_orderkey) AS max_price_order,
           arg_min(l_orderkey,
                   CAST(round(l_extendedprice * 100) AS BIGINT) * 4294967296
                   + l_orderkey) AS min_price_order,
           round(max(l_extendedprice), 2) AS max_price,
           round(min(l_extendedprice), 2) AS min_price
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def argminmax_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """argmax/argmin family (Spark max_by/min_by ↔ DuckDB arg_max/
    arg_min): which order carried each group's extreme price. The
    ordering measure is integer cents shifted left 32 bits plus the
    order key — an exact BIGINT total order, so ties cannot make the
    two engines return different witnesses (rows sharing measure share
    the same l_orderkey by construction)."""
    df = load_table(spark, sf_dir, "lineitem")
    measure = F.expr(
        "CAST(round(l_extendedprice * 100) AS BIGINT) * 4294967296 + l_orderkey"
    )
    return (
        df.groupBy("l_returnflag")
        .agg(
            F.max_by(F.col("l_orderkey"), measure).alias("max_price_order"),
            F.min_by(F.col("l_orderkey"), measure).alias("min_price_order"),
            F.round(F.max("l_extendedprice"), 2).alias("max_price"),
            F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "list_agg_functions",
    """
    SELECT l_returnflag,
           array_to_string(list_sort(list(DISTINCT l_linestatus)), ',')
             AS statuses,
           len(list(DISTINCT l_linestatus)) AS n_statuses,
           array_to_string(list_sort(list(DISTINCT l_linenumber)), ',')
             AS linenumbers,
           len(list(DISTINCT l_linenumber)) AS n_linenumbers
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def list_agg_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """List-aggregation family (collect_set + sort_array ↔ DuckDB
    list(DISTINCT) + list_sort): the distinct-values-as-array rollup.
    Arrays are sorted THEN joined to a ','-delimited string before
    emission — sorting so collection order (shuffle-dependent in both
    engines) can never flip the hash, joining because raw array columns
    are not portable through the driver's pandas canonicalization
    (lists are unhashable; r4 verdict item #1). Collected columns are
    DOMAIN-BOUNDED on purpose (status flags, line numbers) — collecting
    an unbounded key set into one array is the per-group OOM
    anti-pattern; for those, use the top-k/window operators instead."""
    df = load_table(spark, sf_dir, "lineitem")
    return (
        df.groupBy("l_returnflag")
        .agg(
            F.array_join(
                F.sort_array(F.collect_set("l_linestatus")), ","
            ).alias("statuses"),
            F.size(F.collect_set("l_linestatus"))
            .cast("bigint")
            .alias("n_statuses"),
            F.array_join(
                F.sort_array(F.collect_set("l_linenumber")).cast("array<string>"),
                ",",
            ).alias("linenumbers"),
            F.size(F.collect_set("l_linenumber"))
            .cast("bigint")
            .alias("n_linenumbers"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "null_semantics_functions",
    """
    WITH x AS (
      SELECT user_id, event_id,
             CASE WHEN value > 2.0 THEN value ELSE NULL END AS big_val,
             CASE WHEN event_type = 'error' THEN value ELSE NULL END AS err_val
      FROM events
    )
    SELECT user_id, event_id, big_val, err_val,
           (big_val IS NOT DISTINCT FROM err_val) AS nullsafe_eq,
           (big_val IS DISTINCT FROM err_val) AS nullsafe_ne,
           CASE WHEN big_val IS NULL THEN 'missing' ELSE 'present' END AS val_class,
           coalesce(big_val, -1.0) AS val_or_default,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY big_val DESC NULLS LAST, event_id)
             AS rn_nulls_last,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY big_val ASC NULLS FIRST, event_id)
             AS rn_nulls_first
    FROM x
    """,
)
def null_semantics_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-semantics surface: null-safe equality (`<=>` /
    IS NOT DISTINCT FROM), explicit NULLS FIRST/LAST window ordering,
    NULL classification and defaulting — the semantics corner every
    SQL-dialect port gets subtly wrong (the reference's transforms punt
    NULLs to the destination engine; Spark makes them explicit).

    The rank tie-break is the UNIQUE event_id: with two windows sorting
    in opposite directions, any non-unique tie lets each engine pair
    (rn_last, rn_first) differently across physically identical rows —
    only a row-unique key makes the joint ranks deterministic (learned
    from the lineitem fixture's duplicate (orderkey, linenumber) rows).

    Scale: pure scan-stage expressions + one user-partitioned window
    pair sharing a single shuffle."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    x = ev.select(
        "user_id",
        "event_id",
        F.when(F.col("value") > 2.0, F.col("value")).alias("big_val"),
        F.when(F.col("event_type") == "error", F.col("value")).alias("err_val"),
    )
    w_last = Window.partitionBy("user_id").orderBy(
        F.col("big_val").desc_nulls_last(), "event_id"
    )
    w_first = Window.partitionBy("user_id").orderBy(
        F.col("big_val").asc_nulls_first(), "event_id"
    )
    return x.select(
        "user_id",
        "event_id",
        "big_val",
        "err_val",
        F.col("big_val").eqNullSafe(F.col("err_val")).alias("nullsafe_eq"),
        (~F.col("big_val").eqNullSafe(F.col("err_val"))).alias("nullsafe_ne"),
        F.when(F.col("big_val").isNull(), "missing")
        .otherwise("present")
        .alias("val_class"),
        F.coalesce(F.col("big_val"), F.lit(-1.0)).alias("val_or_default"),
        F.row_number().over(w_last).alias("rn_nulls_last"),
        F.row_number().over(w_first).alias("rn_nulls_first"),
    )


@register(
    "format_functions",
    """
    SELECT c_custkey,
           printf('%s-%05d', c_mktsegment, c_custkey) AS tagged,
           lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded_key,
           rpad(c_mktsegment, 12, '.') AS padded_seg,
           repeat('-', 5) AS rule,
           reverse(c_name) AS rev_name,
           translate(c_name, '#', '_') AS clean_name,
           upper(substr(c_name, 1, 1)) || lower(substr(c_name, 2)) AS title_name
    FROM customer
    """,
)
def format_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String formatting surface: printf-style templating, lpad/rpad,
    repeat/reverse/translate, and manual title-casing (initcap is
    engine-specific on delimiters, so the portable form is
    upper(first)+lower(rest)) — the formatting layer of export/report
    sinks. All JVM-codegen'd expressions."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.format_string("%s-%05d", F.col("c_mktsegment"), F.col("c_custkey")).alias(
            "tagged"
        ),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("padded_key"),
        F.rpad("c_mktsegment", 12, ".").alias("padded_seg"),
        F.repeat(F.lit("-"), 5).alias("rule"),
        F.reverse("c_name").alias("rev_name"),
        F.translate("c_name", "#", "_").alias("clean_name"),
        F.concat(
            F.upper(F.substring("c_name", 1, 1)),
            F.lower(F.expr("substr(c_name, 2)")),
        ).alias("title_name"),
    )


@register(
    "encoding_functions",
    """
    SELECT doc_id,
           sha256(text) AS sha_256,
           to_base64(CAST(substr(text, 1, 12) AS BLOB)) AS head_b64,
           hex(CAST(substr(text, 1, 6) AS BLOB)) AS head_hex,
           md5(text) AS md5_hex
    FROM documents
    """,
)
def encoding_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary encoding surface: SHA-256 content addressing (the dedup /
    provenance key stronger than md5), base64 and hex transport
    encodings — cross-engine bit-identical, which is what makes them
    usable as portable content ids in manifests and shard maps."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.sha2("text", 256).alias("sha_256"),
        F.base64(F.substring("text", 1, 12).cast("binary")).alias("head_b64"),
        F.hex(F.substring("text", 1, 6).cast("binary")).alias("head_hex"),
        F.md5("text").alias("md5_hex"),
    )


@register(
    "filtered_aggregates",
    """
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) FILTER (WHERE l_quantity > 25) AS BIGINT) AS n_big_qty,
           CAST(count(*) FILTER (WHERE l_discount = 0) AS BIGINT) AS n_no_discount,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                FILTER (WHERE l_tax > 0.05) AS BIGINT) AS taxed_cents,
           CAST(count(DISTINCT l_suppkey) FILTER (WHERE l_quantity > 40) AS BIGINT)
             AS n_bulk_suppliers
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def filtered_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate FILTER clause — per-aggregate predicates inside ONE
    grouping pass (the readable alternative to nested CASE WHEN, and the
    only form that composes with DISTINCT). One partial-aggregated
    shuffle however many filtered measures ride along."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.expr("count(*) FILTER (WHERE l_quantity > 25)")
            .cast("bigint")
            .alias("n_big_qty"),
            F.expr("count(*) FILTER (WHERE l_discount = 0)")
            .cast("bigint")
            .alias("n_no_discount"),
            F.expr(
                "sum(CAST(round(l_extendedprice * 100) AS BIGINT))"
                " FILTER (WHERE l_tax > 0.05)"
            )
            .cast("bigint")
            .alias("taxed_cents"),
            F.expr("count(DISTINCT l_suppkey) FILTER (WHERE l_quantity > 40)")
            .cast("bigint")
            .alias("n_bulk_suppliers"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "try_functions",
    """
    SELECT event_id,
           TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num,
           TRY_CAST(event_type AS BIGINT) AS type_as_num,
           CASE WHEN CAST(round("value" * 1000000) AS BIGINT) = 0 THEN NULL
                ELSE CAST(round("value" * 1000000) AS BIGINT) END AS safe_nonzero,
           CAST(round("value" * 1000000) AS BIGINT)
             // greatest(CAST(round("value" * 1000000) AS BIGINT) % 7 + 1, 1)
             AS safe_div
    FROM events
    """,
)
def try_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe cast surface: try_cast turns unparseable input into
    NULL instead of failing the job — the difference between one bad
    record poisoning a 100 TB run (ANSI mode throws) and a countable
    NULL column. type_as_num exercises the guaranteed-failure path
    ('view' → NULL); the integer guards show division made total without
    try_divide (exact both engines).

    r11 perf: the always-failing try_cast is regex-guarded. Under ANSI
    (this session's default) Spark implements TRY_CAST as the throwing
    cast plus a per-row catch, so a column that NEVER parses pays one
    JVM exception per row — 7.6 s for 1M events at sf1, 0.4 s guarded
    (measured). The guard's accept set (optionally signed digits, outer
    whitespace INCLUDING all control chars ≤ 0x20 — Spark's ANSI cast
    trims via UTF8String.trimAll, which strips NUL etc. that Java \\s
    does not match; r11 ADVICE) matches what cast-to-bigint accepts,
    overflow still falls through to try_cast → NULL, so semantics are
    unchanged — and at 100 TB an all-miss try_cast would otherwise be
    ~10^12 exceptions."""
    ev = load_table(spark, sf_dir, "events")
    micro = F.expr('CAST(round(value * 1000000) AS BIGINT)')
    return ev.select(
        "event_id",
        F.expr("TRY_CAST(get_json_object(props, '$.k') AS BIGINT)").alias("k_num"),
        F.expr(
            r"CASE WHEN event_type RLIKE '^[\\x00-\\x20]*[+-]?[0-9]+[\\x00-\\x20]*$'"
            " THEN TRY_CAST(event_type AS BIGINT) END"
        ).alias("type_as_num"),
        F.when(micro == 0, F.lit(None).cast("bigint")).otherwise(micro).alias(
            "safe_nonzero"
        ),
        F.expr(
            "CAST(round(value * 1000000) AS BIGINT)"
            " div greatest(CAST(round(value * 1000000) AS BIGINT) % 7 + 1, 1)"
        ).alias("safe_div"),
    )


@register(
    "struct_functions",
    """
    SELECT o_orderkey,
           CAST(to_json(struct_pack(key := o_orderkey,
                                    status := o_orderstatus,
                                    priority := o_orderpriority)) AS VARCHAR)
             AS order_json,
           json_extract_string(
             to_json(struct_pack(key := o_orderkey, status := o_orderstatus,
                                 priority := o_orderpriority)),
             '$.status') AS status_roundtrip,
           struct_pack(a := o_orderkey % 10, b := o_orderkey % 100).a AS field_a
    FROM orders
    """,
)
def struct_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-struct surface: named_struct construction, field access,
    and the to_json / json-extract round trip — the serialization path
    of every export sink and event envelope. Both engines render compact
    JSON ({"k":v} with no spaces), which is what makes the string
    cross-engine comparable."""
    o = load_table(spark, sf_dir, "orders")
    s = F.named_struct(
        F.lit("key"), F.col("o_orderkey"),
        F.lit("status"), F.col("o_orderstatus"),
        F.lit("priority"), F.col("o_orderpriority"),
    )
    return o.select(
        "o_orderkey",
        F.to_json(s).alias("order_json"),
        F.get_json_object(F.to_json(s), "$.status").alias("status_roundtrip"),
        F.named_struct(
            F.lit("a"), F.col("o_orderkey") % 10, F.lit("b"), F.col("o_orderkey") % 100
        ).getField("a").alias("field_a"),
    )


@register(
    "distribution_functions",
    """
    SELECT c_custkey, c_nationkey,
           CAST(floor(percent_rank() OVER w * 1000000) AS BIGINT) AS pct_rank_ppm,
           CAST(floor(cume_dist() OVER w * 1000000) AS BIGINT) AS cume_ppm,
           CAST(ntile(4) OVER w AS INT) AS quartile
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
    """,
)
def distribution_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-family window functions — percent_rank, cume_dist,
    ntile — sharing ONE per-nation window (single shuffle, single sort;
    Spark collapses same-spec window functions into one WindowExec).
    (c_acctbal, c_custkey) is a total order, so the fractional ranks are
    deterministic under duplicate balances; both functions are pure
    rank arithmetic, identical across engines. The fractions are
    emitted as floor-ppm integers — round() on a double hits
    half-even-vs-half-up divergence exactly when (r−1)/(n−1) lands on
    a representable .5 boundary (observed at sf0.1), while floor of
    bit-identical doubles cannot diverge (and DuckDB's CAST-to-BIGINT
    rounds where Spark truncates, so the floor is explicit).
    Completes the window-function surface next to the rank
    family (rank/dense_rank/row_number) and value functions
    (lag/lead/first/last/nth)."""
    from pyspark.sql import Window

    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    df = load_table(spark, sf_dir, "customer")
    return df.select(
        "c_custkey",
        "c_nationkey",
        F.floor(F.percent_rank().over(w) * 1000000).cast("bigint").alias("pct_rank_ppm"),
        F.floor(F.cume_dist().over(w) * 1000000).cast("bigint").alias("cume_ppm"),
        F.ntile(4).over(w).cast("int").alias("quartile"),
    )


@register(
    "url_functions",
    """
    WITH u AS (
      SELECT doc_id,
             'https://' || source || '.example.org/docs/' || doc_id
               || '?lang=' || lang || '&v=1' AS url
      FROM documents
    )
    SELECT doc_id,
           url,
           regexp_extract(url, '^https?://([^/]+)', 1) AS host,
           regexp_extract(url, '^https?://[^/]+(/[^?]*)', 1) AS path,
           regexp_extract(url, '\\?(.*)$', 1) AS query,
           regexp_extract(url, '[?&]lang=([^&]*)', 1) AS lang_param,
           regexp_extract(url, '^https?://(?:[^/.]+\\.)*([^/.]+\\.[^/.]+)(?:/|$)', 1)
             AS base_domain
    FROM u ORDER BY doc_id
    """,
)
def url_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parsing surface (§2.4 scalar breadth): host / path / query /
    single-parameter extraction via Spark's ``parse_url`` (JVM-side,
    codegen) plus a regexp base-domain fallback — the URL triage a crawl
    pipeline runs before domain-level dedup/rebalance
    (domain_mix_rebalance consumes exactly this shape). URLs are
    synthesized deterministically from fixture columns (the corpus has
    no URL column); the oracle replays every extraction with plain
    regexps, pinning parse_url's semantics against an independent
    implementation."""
    docs = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.org/docs/"),
        F.col("doc_id"), F.lit("?lang="), F.col("lang"), F.lit("&v=1"),
    )
    u = docs.select("doc_id", url.alias("url"))
    return u.select(
        "doc_id",
        "url",
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY")).alias("query"),
        F.parse_url("url", F.lit("QUERY"), F.lit("lang")).alias("lang_param"),
        F.regexp_extract(
            "url", r"^https?://(?:[^/.]+\.)*([^/.]+\.[^/.]+)(?:/|$)", 1
        ).alias("base_domain"),
    ).orderBy("doc_id")
