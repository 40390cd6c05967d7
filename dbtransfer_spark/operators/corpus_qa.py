"""Corpus-QA operators for a training-data pipeline (SURVEY.md §2.10
extension set): benchmark decontamination, PII redaction, token-length
histograms, and Zipf vocabulary statistics.

Scale design notes:
- Contamination check is the same inverted-index band shape as
  dedup_ngram_jaccard: shingles are exploded once per side, the pair
  candidates come from a shingle-keyed equi-join (never all-pairs), and a
  document-frequency cap drops degenerate shingles that appear in a large
  fraction of the corpus — the knob that bounds worst-case join fanout at
  100 TB exactly as in dedup.py.
- PII redaction is pure codegen regexp_replace in the scan stage: no
  shuffle, no UDF. Patterns are deliberately RE2-compatible so the same
  regex means the same thing in Spark (Java regex) and the DuckDB oracle.
- Histogram/Zipf are one partial-aggregate shuffle each; the Zipf
  cumulative share is a window over the (tiny) aggregated term list, not
  the base table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dbtransfer_spark.catalog import load_table
from dbtransfer_spark.registry import register
from dbtransfer_spark.textutil import alnum, normalized_text


# ---------------------------------------------------------------------------
# Benchmark contamination check (decontamination)
# ---------------------------------------------------------------------------

_SHINGLE_LEN = 5
# Shingles occurring in more than this many documents are too common to
# signal contamination (and are the join-fanout hazard at scale).
_DF_CAP = 50
_MIN_SHARED = 3


@register(
    "contamination_check",
    rf"""
    WITH shingled AS (
      SELECT doc_id, source, unnest(list_distinct([
               array_to_string(words[i:i+{_SHINGLE_LEN - 1}], ' ')
               FOR i IN range(1, greatest(len(words) - {_SHINGLE_LEN - 1}, 0) + 1)
             ])) AS shingle
      FROM (SELECT doc_id, source, string_split(text, ' ') AS words
            FROM documents)
    ), capped AS (
      SELECT shingle FROM shingled
      GROUP BY shingle HAVING count(*) <= {_DF_CAP}
    ), rare AS (
      SELECT s.doc_id, s.source, s.shingle
      FROM shingled s JOIN capped USING (shingle)
    ), pairs AS (
      SELECT t.doc_id AS train_doc, b.doc_id AS bench_doc,
             count(*) AS shared_shingles
      FROM rare t JOIN rare b USING (shingle)
      WHERE t.source <> 'src0' AND b.source = 'src0'
      GROUP BY t.doc_id, b.doc_id
      HAVING count(*) >= {_MIN_SHARED}
    )
    SELECT train_doc, bench_doc, shared_shingles
    FROM pairs
    ORDER BY shared_shingles DESC, train_doc, bench_doc
    LIMIT 50
    """,
)
def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: find training documents sharing ≥3 rare
    5-gram shingles with any benchmark document (benchmark = source
    'src0' here; in production, the held-out eval set).

    Scale shape: explode → distinct shingles per doc (narrow after one
    doc-keyed aggregate), document-frequency cap via one shingle-keyed
    aggregate, then a shingle-keyed equi-join between the train and
    bench sides — candidate volume is bounded by the DF cap, never
    all-pairs. This is the C4/Dolma-style n-gram decontamination
    pipeline as three shuffles."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.split("text", " ", -1).alias("words")
    )
    n = F.size("words")
    idx = F.when(
        n >= _SHINGLE_LEN, F.sequence(F.lit(0), n - _SHINGLE_LEN)
    ).otherwise(F.array().cast("array<int>"))
    shingled = docs.select(
        "doc_id",
        "source",
        F.explode(
            F.array_distinct(
                F.transform(
                    idx,
                    lambda i: F.concat_ws(
                        " ", F.slice("words", i + 1, _SHINGLE_LEN)
                    ),
                )
            )
        ).alias("shingle"),
    )
    # r14 (guide §2.4 — remove shuffles outright): ONE shingle-keyed
    # pass collects each shingle's train and bench doc lists; the old
    # form ran the DF-cap aggregate and a shingle equi-join, then
    # self-joined the joined frame — with the DF-aggregate + join
    # subtree planned (and computed) once per self-join side. The
    # (train, bench) candidate pairs explode in-array per shingle,
    # bounded by the DF cap, never all-pairs. Pair multiplicity is
    # identical: shingles are distinct per doc, so each (train_doc,
    # bench_doc) contributes once per shared shingle in both forms.
    # r15 (r14 ADVICE medium — skew safety at 100 TB): the DF count is a
    # shingle-partitioned WINDOW applied BEFORE the list aggregate, so a
    # degenerate stop-word shingle with millions of documents never
    # reaches a collect_list buffer (the r14 form collected every
    # shingle's full posting lists first and capped after, unbounding
    # the aggregation buffers exactly where the skew lives). The window
    # group spills to disk (ExternalAppendOnlyUnsafeRowArray) instead of
    # growing an in-memory agg buffer, and the aggregate reuses the
    # window's hashpartitioning(shingle) — still 2 exchanges total.
    w = Window.partitionBy("shingle")
    per_sh = (
        shingled.withColumn("__df", F.count(F.lit(1)).over(w))
        .filter(F.col("__df") <= _DF_CAP)
        .groupBy("shingle")
        .agg(
            F.collect_list(
                F.when(F.col("source") != "src0", F.col("doc_id"))
            ).alias("train_docs"),
            F.collect_list(
                F.when(F.col("source") == "src0", F.col("doc_id"))
            ).alias("bench_docs"),
        )
        .filter((F.size("train_docs") > 0) & (F.size("bench_docs") > 0))
    )
    pairs = per_sh.select(
        F.explode(
            F.expr(
                "flatten(transform(train_docs, t ->"
                " transform(bench_docs, b ->"
                " struct(t AS train_doc, b AS bench_doc))))"
            )
        ).alias("p")
    ).select("p.train_doc", "p.bench_doc")
    return (
        pairs.groupBy("train_doc", "bench_doc")
        .agg(F.count(F.lit(1)).alias("shared_shingles"))
        .filter(F.col("shared_shingles") >= _MIN_SHARED)
        .orderBy(F.desc("shared_shingles"), "train_doc", "bench_doc")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

# RE2-compatible (no backrefs/lookaround) so Spark and DuckDB agree.
_EMAIL_RE = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
_PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"


def redact_pii(df: DataFrame, col: str) -> DataFrame:
    """Replace emails and phone numbers in ``col`` with typed placeholder
    tokens, adding match-count columns. Pure codegen regexp ops: redaction
    of a 100 TB corpus is a narrow map in the scan stage."""
    emails = F.regexp_count(F.col(col), F.lit(_EMAIL_RE))
    phones = F.regexp_count(F.col(col), F.lit(_PHONE_RE))
    redacted = F.regexp_replace(
        F.regexp_replace(F.col(col), _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return df.withColumns(
        {"n_emails": emails, "n_phones": phones, f"{col}_redacted": redacted}
    )


@register(
    "pii_redact",
    rf"""
    WITH seeded AS (
      SELECT doc_id,
             text || ' contact user' || doc_id ||
             '@example.com or 555-' ||
             lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||
             lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
      FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(text, '{_EMAIL_RE}')) AS n_emails,
           len(regexp_extract_all(text, '{_PHONE_RE}')) AS n_phones,
           regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{_PHONE_RE}', '<PHONE>', 'g') AS text_redacted
    FROM seeded
    """,
)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over documents. The fixture corpus contains no real
    contact strings, so the declared query first seeds each document with
    a deterministic synthetic email + phone derived from doc_id — the
    redaction regexes then have genuine matches to find, and the oracle
    checks the redacted text byte-for-byte. Library callers use
    ``redact_pii`` directly on raw text."""
    docs = load_table(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-"),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    return redact_pii(seeded, "text").select(
        "doc_id", "n_emails", "n_phones", "text_redacted"
    )


# ---------------------------------------------------------------------------
# Token-length histogram
# ---------------------------------------------------------------------------

_BUCKET = 10


@register(
    "token_histogram",
    f"""
    SELECT bucket_lo, count(*) AS n_docs,
           round(100.0 * count(*) / sum(count(*)) OVER (), 4) AS pct
    FROM (
      SELECT (len(string_split(text, ' ')) // {_BUCKET}) * {_BUCKET} AS bucket_lo
      FROM documents
    )
    GROUP BY bucket_lo ORDER BY bucket_lo
    """,
)
def token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document token-count histogram (bucket width 10) with share of
    corpus — the first diagnostic anyone runs on a new data source.
    One partial-agg shuffle; the OVER () total is computed from the
    aggregated buckets, not the base table."""
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " ", -1))
    agg = (
        docs.select(
            (F.floor(n_tokens / _BUCKET) * _BUCKET).cast("bigint").alias("bucket_lo")
        )
        .groupBy("bucket_lo")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    w = Window.partitionBy()
    return agg.select(
        "bucket_lo",
        "n_docs",
        F.round(100.0 * F.col("n_docs") / F.sum("n_docs").over(w), 4).alias("pct"),
    ).orderBy("bucket_lo")


# ---------------------------------------------------------------------------
# Zipf vocabulary statistics
# ---------------------------------------------------------------------------


@register(
    "zipf_vocab",
    """
    WITH tf AS (
      SELECT term, count(*) AS freq
      FROM (SELECT unnest(string_split(lower(text), ' ')) AS term FROM documents)
      WHERE term <> ''
      GROUP BY term
    )
    SELECT term, freq,
           row_number() OVER (ORDER BY freq DESC, term) AS rank,
           round(100.0 * sum(freq) OVER (ORDER BY freq DESC, term
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 / sum(freq) OVER (), 4) AS cum_pct
    FROM tf
    ORDER BY rank
    LIMIT 30
    """,
)
def zipf_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 corpus vocabulary with Zipf rank and cumulative frequency
    share — the head-coverage diagnostic for tokenizer/vocab decisions.

    Scale: one explode + term-keyed partial aggregate (the only shuffle
    over base data); ranks and the running share are windows over the
    aggregated vocabulary, which is orders of magnitude smaller than the
    corpus. A single-partition window over a full 100 TB corpus would be
    a bottleneck — over a vocabulary it is trivial."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(F.split(F.lower("text"), " ", -1)).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    order = Window.orderBy(F.desc("freq"), "term")
    running = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    total = Window.partitionBy()
    return (
        tf.select(
            "term",
            "freq",
            F.row_number().over(order).alias("rank"),
            F.round(
                100.0 * F.sum("freq").over(running) / F.sum("freq").over(total), 4
            ).alias("cum_pct"),
        )
        .orderBy("rank")
        .limit(30)
    )


# ---------------------------------------------------------------------------
# Deterministic dataset split
# ---------------------------------------------------------------------------


@register(
    "dataset_split",
    """
    SELECT doc_id,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
             % 100 AS bucket,
           CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 80 THEN 'train'
                WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment by hashing the
    stable document id (md5-derived 60-bit int mod 100 — the same
    portable hash the dedup oracles replay, so any engine reproduces the
    exact split).

    Scale: a narrow map in the scan stage — no shuffle, no sampling
    state, no ordering dependence; re-running on a grown corpus never
    reassigns an existing document (the property random splits lack)."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10).cast(
            "long"
        ),
        F.lit(100),
    )
    return docs.select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
    )


# ---------------------------------------------------------------------------
# Global contiguous ordinals (shard row numbering)
# ---------------------------------------------------------------------------


def global_ordinal(df: DataFrame, key_col: str, n_partitions: int = 32) -> DataFrame:
    """Assign contiguous global ordinals 1..N ordered by ``key_col``
    WITHOUT a single-partition global window.

    The naive ``row_number() OVER (ORDER BY key)`` plans as Exchange
    SinglePartition — every row through one task, the classic 100 TB
    bottleneck. Instead: range-repartition on the key (partition order ==
    key order), number rows within each partition, and add per-partition
    offsets computed from a tiny partition-count aggregate (driver-side
    scalar probe, |partitions| rows — same pattern as the JDBC bounds
    probe). The pid-stamped frame is ``persist()``ed between the counts
    collect and the consuming plan so both see ONE materialization of
    the sampling-based range partitioning (r4 VERDICT #6 / ADVICE
    medium) — and the input is scanned once, not twice."""
    parts = df.repartitionByRange(n_partitions, F.col(key_col)).sortWithinPartitions(
        key_col
    )
    withpid = parts.withColumn("__pid", F.spark_partition_id()).persist()
    counts = sorted(
        (r["__pid"], r["cnt"])
        for r in withpid.groupBy("__pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    )
    offsets, acc = {}, 0
    for pid, cnt in counts:
        offsets[pid] = acc
        acc += cnt
    spark = df.sparkSession
    offset_df = spark.createDataFrame(
        [(pid, off) for pid, off in offsets.items()], "__pid int, __offset long"
    )
    w = Window.partitionBy("__pid").orderBy(key_col)
    return (
        withpid.join(F.broadcast(offset_df), "__pid")
        .withColumn("ordinal", F.row_number().over(w) + F.col("__offset"))
        .drop("__pid", "__offset")
    )


@register(
    "doc_global_ordinal",
    """
    SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS ordinal
    FROM documents
    """,
)
def doc_global_ordinal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous training-shard row numbers for every document — the
    write-side primitive for deterministic sharding/resume offsets. See
    ``global_ordinal`` for why this is NOT a global window."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return global_ordinal(docs, "doc_id").select(
        "doc_id", F.col("ordinal").cast("bigint").alias("ordinal")
    )


@register(
    "source_cap_sample",
    """
    WITH capped AS (
      SELECT doc_id, source, n_chars,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn,
             count(*) OVER (PARTITION BY source) AS source_total
      FROM documents
    )
    SELECT doc_id, source, rn AS keep_rank, source_total
    FROM capped WHERE rn <= 100
    """,
)
def source_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (keep the first 100 docs of each source by
    doc_id) — the domain-quota primitive web-corpus pipelines use to stop
    a single giant domain from dominating the training mix. Deterministic
    keep-order (doc_id) makes the sample reproducible run-over-run.

    Scale: one shuffle on source for the window; the rank filter sits
    directly above the row_number window, so WindowGroupLimit pushdown
    stops each task after 100 rows per source instead of ranking the
    whole partition (a second stacked count() window would defeat that
    pushdown — verified in the plan — so source totals come from a
    map-side-partial groupBy joined back instead, stats-gated broadcast:
    one aggregated row per source). A skew-heavy source distribution is
    the expected case — that is why the cap exists."""
    from dbtransfer_spark.queries import broadcast_if_small

    docs = load_table(spark, sf_dir, "documents")
    totals = docs.groupBy("source").agg(F.count(F.lit(1)).alias("source_total"))
    w = Window.partitionBy("source").orderBy("doc_id")
    return (
        docs.select(
            "doc_id",
            "source",
            F.row_number().over(w).alias("keep_rank"),
        )
        .filter(F.col("keep_rank") <= 100)
        .join(broadcast_if_small(totals), "source")
        .select("doc_id", "source", "keep_rank", "source_total")
    )


# ---------------------------------------------------------------------------
# Gopher-style repetition/quality filter
# ---------------------------------------------------------------------------

_GQ_MIN_WORDS = 30
_GQ_TOP2_MAX = 0.0625
_GQ_DUP3_MAX = 0.02
_GQ_MWL_MIN, _GQ_MWL_MAX = 3.9, 4.8


@register(
    "gopher_quality_filter",
    f"""
    WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS t,
             len(string_split(text, ' ')) AS n_words,
             length(replace(text, ' ', '')) AS charsum
      FROM documents
    ),
    g2 AS (
      SELECT doc_id, t[i.i] || ' ' || t[i.i + 1] AS g, count(*) AS c
      FROM base, unnest(range(1, n_words)) AS i(i) GROUP BY 1, 2
    ),
    a2 AS (
      SELECT doc_id, CAST(max(c) AS DOUBLE) / sum(c) AS top_2gram_frac
      FROM g2 GROUP BY 1
    ),
    g3 AS (
      SELECT doc_id,
             t[i.i] || ' ' || t[i.i + 1] || ' ' || t[i.i + 2] AS g,
             count(*) AS c
      FROM base, unnest(range(1, n_words - 1)) AS i(i) GROUP BY 1, 2
    ),
    a3 AS (
      SELECT doc_id, 1.0 - CAST(count(*) AS DOUBLE) / sum(c) AS frac_dup_3gram
      FROM g3 GROUP BY 1
    )
    SELECT doc_id, n_words,
           CAST(charsum AS DOUBLE) / n_words AS mean_word_len,
           coalesce(top_2gram_frac, 0.0) AS top_2gram_frac,
           coalesce(frac_dup_3gram, 0.0) AS frac_dup_3gram,
           (n_words >= {_GQ_MIN_WORDS}
            AND coalesce(top_2gram_frac, 0.0) <= {_GQ_TOP2_MAX}
            AND coalesce(frac_dup_3gram, 0.0) <= {_GQ_DUP3_MAX}
            AND CAST(charsum AS DOUBLE) / n_words
                BETWEEN {_GQ_MWL_MIN} AND {_GQ_MWL_MAX}) AS keep
    FROM base
    LEFT JOIN a2 USING (doc_id)
    LEFT JOIN a3 USING (doc_id)
    ORDER BY doc_id
    """,
)
def gopher_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/quality rules (Rae et al. 2021, §A1.1
    adapted to the fixture corpus): word-count floor, mean-word-length
    band, top-2-gram share cap (boilerplate/keyword stuffing), duplicate
    3-gram fraction cap (template repetition). Emits the per-document
    stats plus the composite ``keep`` verdict so downstream pipelines can
    either filter or re-weight.

    Cross-engine determinism: every stat is a ratio of exact integers
    (gram counts, word counts, char counts) evaluated with one IEEE
    double division — bit-identical in Spark and DuckDB with NO rounding
    step, so threshold comparisons can never straddle an epsilon.

    Scale (r14, guide §2.4 — remove shuffles outright): every gram stat
    here is a function of ONE document's own grams, so both are computed
    IN-ARRAY per doc — top-2-gram share as the max run length of the
    sorted 2-gram array over its size, duplicate-3-gram fraction from
    size(array_distinct) — with NO gram explode, no (doc_id, gram)
    shuffles and no rejoin; the whole filter is a narrow scan-stage
    projection + the output sort, embarrassingly parallel at 100 TB.
    (The old form exploded both gram streams through two
    (doc_id, gram) aggregates, two per-doc rollups and two left joins;
    values are identical — max(c)/sum(c) over the gram counts IS
    max-run/|grams| of the sorted array, count(*)/sum(c) IS
    |distinct|/|grams| — with the same operands in the same one IEEE
    double division.) Short docs (<2 or <3 words) take the same 0.0
    the old coalesce(0.0) produced."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.split(F.col("text"), " ", -1)
    base = docs.select(
        "doc_id",
        t.alias("t"),
        F.size(t).alias("n_words"),
        F.length(F.expr("replace(text, ' ', '')")).alias("charsum"),
    )

    def gram_arr(k: int) -> str:
        parts = ", ' ', ".join(f"element_at(t, i + {j})" for j in range(k))
        return (
            f"CASE WHEN n_words >= {k} THEN"
            f" transform(sequence(1, n_words - {k - 1}), i -> concat({parts}))"
            " ELSE array() END"
        )

    # max multiplicity of any 2-gram = longest equal-run of the sorted
    # gram array (one interpreted pass; named_struct state machine)
    max_run = (
        "aggregate(array_sort(g2),"
        " named_struct('best', 0, 'run', 0, 'prev', CAST(NULL AS STRING)),"
        " (acc, x) -> named_struct("
        "   'best', greatest(acc.best, IF(x <=> acc.prev, acc.run + 1, 1)),"
        "   'run', IF(x <=> acc.prev, acc.run + 1, 1),"
        "   'prev', x),"
        " acc -> acc.best)"
    )
    stats = base.selectExpr(
        "doc_id",
        "n_words",
        "charsum",
        f"{gram_arr(2)} AS g2",
        f"{gram_arr(3)} AS g3",
    ).selectExpr(
        "doc_id",
        "n_words",
        "charsum",
        "CASE WHEN n_words >= 2 THEN"
        f" CAST({max_run} AS DOUBLE) / (n_words - 1)"
        " ELSE CAST(0.0 AS DOUBLE) END AS top_2gram_frac",
        "CASE WHEN n_words >= 3 THEN"
        " 1.0 - CAST(size(array_distinct(g3)) AS DOUBLE) / (n_words - 2)"
        " ELSE CAST(0.0 AS DOUBLE) END AS frac_dup_3gram",
    )
    mwl = F.col("charsum").cast("double") / F.col("n_words")
    return stats.select(
        "doc_id",
        "n_words",
        mwl.alias("mean_word_len"),
        "top_2gram_frac",
        "frac_dup_3gram",
        (
            (F.col("n_words") >= _GQ_MIN_WORDS)
            & (F.col("top_2gram_frac") <= _GQ_TOP2_MAX)
            & (F.col("frac_dup_3gram") <= _GQ_DUP3_MAX)
            & mwl.between(_GQ_MWL_MIN, _GQ_MWL_MAX)
        ).alias("keep"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Domain-mix rebalancing
# ---------------------------------------------------------------------------


@register(
    "domain_mix_rebalance",
    """
    WITH counts AS (
      SELECT source, count(*) AS n_before FROM documents GROUP BY source
    ),
    tot AS (SELECT sum(n_before) AS total, count(*) AS n_sources FROM counts),
    plan AS (
      SELECT source, n_before,
             CAST(total // n_sources AS BIGINT) AS n_target,
             least(1000000,
                   (total // n_sources) * 1000000 // n_before) AS rate_ppm
      FROM counts, tot
    ),
    kept AS (
      SELECT d.source, count(*) AS n_kept
      FROM documents d JOIN plan USING (source)
      WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                 AS BIGINT) % 1000000 < rate_ppm
      GROUP BY d.source
    )
    SELECT source, n_before, n_target, coalesce(n_kept, 0) AS n_kept
    FROM plan LEFT JOIN kept USING (source)
    ORDER BY source
    """,
)
def domain_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rebalance the corpus toward a uniform domain mix: compute each
    source's share, derive a per-source keep rate toward the equal-share
    target, and subsample deterministically by a stable md5-derived
    document hash (same 60-bit idiom as dataset_split — the sample is
    reproducible run-over-run AND portable across engines; no rand()).
    Emits the per-source plan (before count, target, actually kept) —
    the audit artifact a mix-rebalance job publishes.

    Keep rates are pure integer arithmetic in parts-per-million (no
    float division anywhere), so both engines select the exact same
    document set.

    Scale: one partial-aggregated shuffle for source counts (|sources|
    rows), a one-row total broadcast, the per-source plan broadcasts
    back into the scan-stage filter (stats-gated), and the kept-count
    aggregate is a second |sources|-row shuffle. The full corpus is
    never sorted or windowed; skewed source sizes are exactly the
    motivating case."""
    from dbtransfer_spark.queries import broadcast_if_small

    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_before"))
    tot = counts.agg(
        F.sum("n_before").alias("total"), F.count(F.lit(1)).alias("n_sources")
    )
    mix_plan = counts.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_before",
        F.expr("total div n_sources").alias("n_target"),
        F.least(
            F.lit(1000000),
            F.expr("(total div n_sources) * 1000000 div n_before"),
        ).alias("rate_ppm"),
    )
    doc_hash = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
        ).cast("long")
        % 1000000
    )
    kept = (
        docs.join(broadcast_if_small(mix_plan), "source")
        .filter(doc_hash < F.col("rate_ppm"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return (
        mix_plan.join(kept, "source", "left")
        .select(
            "source",
            "n_before",
            "n_target",
            F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# End-to-end training-data build
# ---------------------------------------------------------------------------


@register(
    "training_data_build",
    f"""
    WITH scored AS (
      SELECT doc_id, source, text,
             len(string_split(text, ' ')) AS n_words,
             CAST(length(replace(text, ' ', '')) AS DOUBLE)
               / len(string_split(text, ' ')) AS mwl
      FROM documents
    ),
    kept AS (
      SELECT * FROM scored
      WHERE n_words >= {_GQ_MIN_WORDS} AND mwl BETWEEN {_GQ_MWL_MIN} AND {_GQ_MWL_MAX}
    ),
    deduped AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY md5(trim(regexp_replace(regexp_replace(lower(text),
                          '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')))
          ORDER BY doc_id) AS rn
        FROM kept
      ) WHERE rn = 1
    ),
    assigned AS (
      SELECT source, n_words,
             CASE WHEN h % 100 < 80 THEN 'train'
                  WHEN h % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM (
        SELECT *, CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                       AS BIGINT) AS h
        FROM deduped
      )
    )
    SELECT split, source, count(*) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS total_words
    FROM assigned GROUP BY split, source ORDER BY split, source
    """,
)
def training_data_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship end-to-end training-data build, ONE Spark plan:
    quality gate (word-count floor + mean-word-length band, the scan-
    stage subset of gopher_quality_filter) → exact near-normalized
    fingerprint dedup (keep-min, the dedup_exact_fingerprint shape) →
    deterministic 80/10/10 split (portable md5 hash, the dataset_split
    shape) → per-(split, source) manifest with document and token
    counts. This is the composition a corpus release job runs; each
    stage is separately oracle-verified elsewhere, and this query
    verifies the COMPOSITION end-to-end against one SQL replay.

    Scale: the quality gate and split are scan-stage expressions; the
    only wide stage is the fingerprint dedup's one key shuffle
    (WindowGroupLimit keeps it top-1 per key); the final manifest is a
    partial-aggregated shuffle of |splits × sources| rows."""
    from dbtransfer_spark.operators.dedup import exact_dedup

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ", -1)
    scored = docs.select(
        "doc_id",
        "source",
        "text",
        F.size(toks).alias("n_words"),
        (
            F.length(F.expr("replace(text, ' ', '')")).cast("double")
            / F.size(toks)
        ).alias("mwl"),
    )
    kept = scored.filter(
        (F.col("n_words") >= _GQ_MIN_WORDS)
        & F.col("mwl").between(_GQ_MWL_MIN, _GQ_MWL_MAX)
    )
    norm = normalized_text(F.col("text"))  # fast-path twin of the
    # trim(regexp_replace(regexp_replace(lower, '[^a-z0-9 ]', ''), ' +', ' '))
    # oracle spelling (textutil.py: negated-class regex is ~100x slower)
    deduped = exact_dedup(kept.withColumn("__fp", F.md5(norm)), ["__fp"], "doc_id")
    h = F.pmod(
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
        ).cast("long"),
        F.lit(100),
    )
    assigned = deduped.select(
        "source",
        "n_words",
        F.when(h < 80, "train").when(h < 90, "val").otherwise("test").alias(
            "split"
        ),
    )
    return (
        assigned.groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("total_words"),
        )
        .orderBy("split", "source")
    )


# ---------------------------------------------------------------------------
# Weighted systematic sampling
# ---------------------------------------------------------------------------

_WSS_K = 100


@register(
    "weighted_systematic_sample",
    f"""
    WITH w AS (
      SELECT doc_id, source, CAST(n_chars AS BIGINT) AS wt FROM documents
    ),
    c AS (
      SELECT doc_id, source, wt,
             sum(wt) OVER (ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum
      FROM w
    ),
    tot AS (SELECT sum(wt) AS total FROM w),
    sel AS (
      SELECT doc_id, source, wt, cum,
             CAST((cum - 1) // (total // {_WSS_K})
             - (cum - wt - 1) // (total // {_WSS_K}) AS BIGINT) AS n_points
      FROM c CROSS JOIN tot
    )
    SELECT doc_id, source, wt, n_points
    FROM sel WHERE n_points > 0
    ORDER BY doc_id
    """,
)
def weighted_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional systematic sampling: lay the documents end to
    end on a line scaled by weight (n_chars), drop ~{k} evenly spaced
    sample points, and keep each document once per point falling in its
    span — sampling probability exactly proportional to weight, heavy
    docs can be drawn multiple times (n_points = its multiplicity).
    Deterministic and engine-exact: the span positions come from an
    EXACT integer prefix sum and point membership is pure integer
    division — no RNG, no floats (the float route, exponential-key A-Res
    sampling, hits libm pow() ULP differences across engines).

    Scale: the running weight sum uses ``distributed_prefix_sum``
    (range-repartition + per-partition offsets — never a global
    single-partition window); the stride is a one-row broadcast; the
    membership test is a scan-stage expression."""
    from dbtransfer_spark.queries import distributed_prefix_sum

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.col("n_chars").cast("bigint").alias("wt")
    )
    cum = distributed_prefix_sum(docs, ["doc_id"], "wt")
    tot = docs.agg(F.sum("wt").alias("total"))
    sel = cum.crossJoin(F.broadcast(tot)).select(
        "doc_id",
        "source",
        "wt",
        F.expr(
            f"(__cum - 1) div (total div {_WSS_K})"
            f" - (__cum - wt - 1) div (total div {_WSS_K})"
        ).alias("n_points"),
    )
    return sel.filter(F.col("n_points") > 0).orderBy("doc_id")


weighted_systematic_sample.__doc__ = weighted_systematic_sample.__doc__.format(
    k=_WSS_K
)


@register(
    "source_length_gini",
    """
    WITH ranked AS (
      SELECT source, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars, doc_id) AS r,
             count(*) OVER (PARTITION BY source) AS n
      FROM documents
    ),
    sums AS (
      SELECT source,
             CAST(max(n) AS BIGINT) AS n_docs,
             CAST(sum(CAST(n_chars AS DECIMAL(18,0))) AS DOUBLE) AS sx,
             CAST(sum(CAST(r AS DECIMAL(18,0))
                      * CAST(n_chars AS DECIMAL(18,0))) AS DOUBLE) AS srx
      FROM ranked GROUP BY source
    )
    SELECT source, n_docs,
           (2.0 * srx - (n_docs + 1) * sx) / (n_docs * sx) AS gini
    FROM sums ORDER BY source
    """,
)
def source_length_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of document-length inequality within each
    source — the corpus-balance diagnostic (a source whose token mass
    is concentrated in a few giant docs behaves very differently under
    per-doc sampling than its doc count suggests). Uses the rank
    formulation G = (2·Σr·x − (n+1)·Σx)/(n·Σx) with a doc_id tie-break
    so ranks (and therefore the statistic) are fully deterministic.

    Scale: ONE source-partitioned window (scale-safe; rows per source
    bounded by the source shard) feeding a partial-aggregated per-source
    sum. Moment sums accumulate in DECIMAL (r·x ≈ 1e12 per row — BIGINT
    would overflow past ~1e7 docs/source); only the final closed form
    drops to correctly-rounded IEEE doubles, so no rounding step."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = docs.select(
        "source",
        "n_chars",
        F.row_number().over(w).alias("r"),
        F.count(F.lit(1)).over(Window.partitionBy("source")).alias("n"),
    )
    sums = ranked.groupBy("source").agg(
        F.max("n").cast("bigint").alias("n_docs"),
        F.sum(F.col("n_chars").cast("decimal(18,0)")).cast("double").alias("sx"),
        F.sum(
            F.col("r").cast("decimal(18,0)") * F.col("n_chars").cast("decimal(18,0)")
        ).cast("double").alias("srx"),
    )
    gini = (F.lit(2.0) * F.col("srx") - (F.col("n_docs") + 1) * F.col("sx")) / (
        F.col("n_docs") * F.col("sx")
    )
    return sums.select("source", "n_docs", gini.alias("gini")).orderBy("source")


_N_SHARDS = 32


@register(
    "shard_assignment",
    rf"""
    WITH assigned AS (
      SELECT CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                  % {_N_SHARDS} AS BIGINT) AS shard,
             n_chars
      FROM documents
    ),
    per_shard AS (
      SELECT shard,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS total_chars
      FROM assigned GROUP BY shard
    ),
    total AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total FROM per_shard)
    SELECT shard, n_docs, total_chars,
           CAST(n_docs * 1000000 // n_total AS BIGINT) AS docs_ppm
    FROM per_shard, total
    ORDER BY shard
    """,
)
def shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic output-shard assignment + balance audit — the step
    that turns a curated corpus into N equal training shards. Shard id is
    a content-stable md5 hash of the document key (NOT monotonic ids or
    round-robin, both of which break on re-runs and appends), so the
    same document always lands in the same shard across incremental
    builds. Reports per-shard doc/char totals and each shard's ppm share
    so skew is visible before the (expensive) write.

    Plan: scan-stage hash + one {n}-way partial-aggregated shuffle to
    {n} rows, then a 1-row broadcast for the share denominator. At
    100 TB the same expression feeds ``DataFrameWriter.partitionBy`` /
    ``repartition(n, shard)`` directly — the audit and the layout share
    one definition. The md5 path is the oracle-portable twin of the
    xxhash64 production hash (same pattern as dedup's word hashes).
    """
    docs = load_table(spark, sf_dir, "documents")
    shard = F.pmod(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10).cast(
            "long"
        ),
        F.lit(_N_SHARDS),
    ).cast("bigint")
    per_shard = (
        docs.select(shard.alias("shard"), "n_chars")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.col("n_chars").cast("decimal(18,0)")).cast("bigint").alias(
                "total_chars"
            ),
        )
        .persist()  # 32 rows consumed twice (total + final projection)
    )
    total = per_shard.agg(F.sum("n_docs").cast("bigint").alias("n_total"))
    return (
        per_shard.crossJoin(F.broadcast(total))
        .select(
            "shard",
            "n_docs",
            "total_chars",
            F.expr("CAST(n_docs * 1000000 div n_total AS BIGINT)").alias("docs_ppm"),
        )
        .orderBy("shard")
    )


shard_assignment.__doc__ = shard_assignment.__doc__.format(n=_N_SHARDS)


_N_NEGATIVES = 3


@register(
    "negative_sampling_ring",
    rf"""
    WITH n AS (SELECT CAST(max(doc_id) + 1 AS BIGINT) AS n_docs FROM documents),
    cand AS (
      SELECT d.doc_id, j.j,
             CAST(CAST(('0x' || substr(md5(d.doc_id || ':' || j.j), 1, 15)) AS BIGINT)
                  % n.n_docs AS BIGINT) AS neg_doc_id
      FROM documents d, n, UNNEST([{", ".join(str(j) for j in range(1, _N_NEGATIVES + 1))}]) AS j(j)
    )
    SELECT c.doc_id, c.j, c.neg_doc_id, t.source AS neg_source
    FROM cand c JOIN documents t ON c.neg_doc_id = t.doc_id
    WHERE c.neg_doc_id <> c.doc_id
    """,
)
def negative_sampling_ring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training pairs:
    each document draws up to {k} pseudo-random partners via a
    content-stable md5 hash ring over the id domain — no RNG state, so
    re-runs, resumes, and incremental appends reproduce the same pairs
    (the property Spark's ``rand()`` cannot give across retries). The
    join back to the corpus keeps only partners that exist (sparse id
    domains) and the self-pair filter makes {k} an upper bound.

    Plan: narrow 1→{k} expansion at the scan, a 1-row broadcast for the
    ring modulus, then ONE id-keyed equi-join against the corpus —
    linear fanout, uniformly hashed keys (md5 output is uniform, so no
    skew regardless of input distribution). The md5 path is the
    oracle-portable twin of the xxhash64 production hash."""
    docs = load_table(spark, sf_dir, "documents")
    n = docs.agg((F.max("doc_id") + 1).cast("bigint").alias("n_docs"))
    cand = (
        docs.select("doc_id")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            F.explode(F.expr(f"sequence(1, {_N_NEGATIVES})")).alias("j"),
            "n_docs",
        )
        .select(
            "doc_id",
            "j",
            F.pmod(
                F.conv(
                    F.substring(
                        F.md5(F.concat_ws(":", F.col("doc_id"), F.col("j"))), 1, 15
                    ),
                    16,
                    10,
                ).cast("long"),
                F.col("n_docs"),
            ).cast("bigint").alias("neg_doc_id"),
        )
    )
    targets = docs.select(
        F.col("doc_id").alias("neg_doc_id"), F.col("source").alias("neg_source")
    )
    return cand.join(targets, "neg_doc_id").filter(
        F.col("neg_doc_id") != F.col("doc_id")
    ).select("doc_id", "j", "neg_doc_id", "neg_source")


negative_sampling_ring.__doc__ = negative_sampling_ring.__doc__.format(k=_N_NEGATIVES)


@register(
    "source_length_percentiles",
    """
    WITH ranked AS (
      SELECT source, n_chars,
             row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
             count(*) OVER (PARTITION BY source) AS n
      FROM documents
    )
    SELECT source,
           CAST(max(n) AS BIGINT) AS n_docs,
           CAST(max(CASE WHEN rn = (n * 50 + 99) // 100 THEN n_chars END) AS BIGINT) AS p50_chars,
           CAST(max(CASE WHEN rn = (n * 90 + 99) // 100 THEN n_chars END) AS BIGINT) AS p90_chars,
           CAST(max(CASE WHEN rn = (n * 99 + 99) // 100 THEN n_chars END) AS BIGINT) AS p99_chars
    FROM ranked GROUP BY source ORDER BY source
    """,
)
def source_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-source document-length percentiles (p50/p90/p99, lower
    percentile_disc semantics via the positional rank ceil(q·n)) — the
    distribution report that catches a source whose scrape broke (p50
    collapses) or started shipping concatenated pages (p99 explodes)
    before it poisons chunking and packing budgets.

    Plan: one source-partitioned sort window + a |sources|-row aggregate.
    Parallelism is bounded by |sources|, acceptable for a bounded
    dimension; for per-domain percentiles over millions of domains the
    positional window swaps to percentile_approx (partial-aggregated,
    no sort) with the same report shape. Integer rank arithmetic keeps
    both engines bit-identical — no interpolation, no libm."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    wn = Window.partitionBy("source")
    ranked = docs.select(
        "source",
        "n_chars",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )

    def at(pct: int):
        return F.max(
            F.when(
                F.col("rn") == F.expr(f"(n * {pct} + 99) div 100"), F.col("n_chars")
            )
        ).cast("bigint")

    return (
        ranked.groupBy("source")
        .agg(
            F.max("n").cast("bigint").alias("n_docs"),
            at(50).alias("p50_chars"),
            at(90).alias("p90_chars"),
            at(99).alias("p99_chars"),
        )
        .orderBy("source")
    )


@register(
    "source_quality_scorecard",
    """
    WITH t AS (
      SELECT source,
             length(text) AS n_chars_calc,
             len(string_split(text, ' ')) AS n_tokens,
             CASE WHEN len(string_split(text, ' ')) = 0 THEN 0.0
                  ELSE CAST(length(replace(text, ' ', '')) AS DOUBLE)
                       / len(string_split(text, ' ')) END AS mwl,
             len(list_filter(string_split(text, ' '),
                 w -> w IN ('the','a','of','and','to','in','is','it'))) AS n_stop
      FROM documents
    ),
    flags AS (
      SELECT source,
             CASE WHEN n_chars_calc >= 20 THEN 1 ELSE 0 END AS pass_len,
             CASE WHEN n_tokens >= 5 THEN 1 ELSE 0 END AS pass_tokens,
             CASE WHEN mwl BETWEEN 2.0 AND 12.0 THEN 1 ELSE 0 END AS pass_mwl,
             CASE WHEN n_stop * 100 >= n_tokens * 1 THEN 1 ELSE 0 END AS pass_stop,
             CASE WHEN n_chars_calc >= 20 AND n_tokens >= 5
                       AND mwl BETWEEN 2.0 AND 12.0
                       AND n_stop * 100 >= n_tokens * 1
                  THEN 1 ELSE 0 END AS pass_all
      FROM t
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(pass_len) * 1000000 // count(*) AS BIGINT) AS len_pass_ppm,
           CAST(sum(pass_tokens) * 1000000 // count(*) AS BIGINT) AS tokens_pass_ppm,
           CAST(sum(pass_mwl) * 1000000 // count(*) AS BIGINT) AS mwl_pass_ppm,
           CAST(sum(pass_stop) * 1000000 // count(*) AS BIGINT) AS stop_pass_ppm,
           CAST(sum(pass_all) * 1000000 // count(*) AS BIGINT) AS all_pass_ppm
    FROM flags GROUP BY source ORDER BY all_pass_ppm, source
    """,
)
def source_quality_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality scorecard: the pass rate of EACH quality gate
    (length, token count, mean word length, stopword floor) plus the
    conjunction, per source, sorted worst-first — the tuning dashboard
    that tells a curation run WHICH rule is rejecting a source's docs
    (a source failing only the stopword gate is probably non-English,
    not garbage; one failing length is probably truncated scrapes).

    Plan: scan-stage flag expressions + one source-keyed
    partial-aggregated shuffle to |sources| rows. Integer ppm."""
    docs = load_table(spark, sf_dir, "documents")
    tokens = F.split("text", " ", -1)
    n_tokens = F.size(tokens)
    mwl = F.when(n_tokens == 0, F.lit(0.0)).otherwise(
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double")
        / n_tokens
    )
    stopset = F.array([F.lit(w) for w in ("the", "a", "of", "and", "to", "in", "is", "it")])
    n_stop = F.size(F.filter(tokens, lambda w: F.array_contains(stopset, w)))
    pass_len = (F.length("text") >= 20).cast("int")
    pass_tokens = (n_tokens >= 5).cast("int")
    pass_mwl = mwl.between(2.0, 12.0).cast("int")
    pass_stop = (n_stop * 100 >= n_tokens * 1).cast("int")
    flags = docs.select(
        "source",
        pass_len.alias("pass_len"),
        pass_tokens.alias("pass_tokens"),
        pass_mwl.alias("pass_mwl"),
        pass_stop.alias("pass_stop"),
        (pass_len * pass_tokens * pass_mwl * pass_stop).alias("pass_all"),
    )
    ppm = lambda c: F.expr(f"CAST(sum({c}) * 1000000 div count(*) AS BIGINT)")
    return (
        flags.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            ppm("pass_len").alias("len_pass_ppm"),
            ppm("pass_tokens").alias("tokens_pass_ppm"),
            ppm("pass_mwl").alias("mwl_pass_ppm"),
            ppm("pass_stop").alias("stop_pass_ppm"),
            ppm("pass_all").alias("all_pass_ppm"),
        )
        .orderBy("all_pass_ppm", "source")
    )


# ---------------------------------------------------------------------------
# Leakage-safe train/val/test split (cluster-aware assignment)
# ---------------------------------------------------------------------------


@register(
    "leakage_safe_split",
    r"""
    WITH fp AS (
      SELECT doc_id,
             md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                     ' +', ' ', 'g'))) AS fp,
             CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 80 THEN 'train'
                  WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 90 THEN 'val'
                  ELSE 'test' END AS naive_split
      FROM documents
    ), clus AS (
      SELECT fp, min(doc_id) AS rep, count(*) AS n_docs,
             count(DISTINCT naive_split) AS n_naive_splits
      FROM fp GROUP BY fp
    ), labeled AS (
      SELECT n_docs, n_naive_splits,
             CASE WHEN CAST(('0x' || substr(md5(CAST(rep AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 80 THEN 'train'
                  WHEN CAST(('0x' || substr(md5(CAST(rep AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM clus
    ), leak AS (
      SELECT CAST(count(CASE WHEN n_naive_splits > 1 THEN 1 END) AS BIGINT)
               AS naive_leaky_clusters
      FROM labeled
    )
    SELECT split,
           CAST(sum(n_docs) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_clusters,
           naive_leaky_clusters
    FROM labeled, leak
    GROUP BY split, naive_leaky_clusters
    ORDER BY split
    """,
)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe dataset split: assign whole DUPLICATE CLUSTERS to a
    split, not individual documents. A per-document hash split (the
    ``dataset_split`` baseline) puts two copies of the same document in
    train and test whenever a near/exact dup crosses the bucket
    boundary — the classic eval-contamination bug. Here every document
    is keyed by its normalized fingerprint (the ``doc_fingerprint``
    canonicalization), the cluster representative (min doc_id) is
    hashed once, and all members inherit that split. The
    ``naive_leaky_clusters`` column counts clusters the per-doc scheme
    would have straddled across splits — the quantified leak this
    operator removes (0 by construction for the cluster scheme).

    Plan: scan-stage fingerprint + one fp-keyed partial-aggregated
    shuffle to |clusters| rows, a 3-row rollup, and a broadcast 1-row
    leak audit. No joins against the full corpus; the 100 TB cost is
    one dedup-shaped aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(normalized_text(F.col("text")))  # fast-path twin of the
    # negated-class oracle spelling (textutil.py)

    def bucket(col):
        return F.pmod(
            F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10).cast("long"),
            F.lit(100),
        )

    def split_of(col):
        b = bucket(col)
        return F.when(b < 80, "train").when(b < 90, "val").otherwise("test")

    clus = (
        docs.select(fp.alias("fp"), "doc_id", split_of(F.col("doc_id")).alias("naive_split"))
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("rep"),
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("naive_split").alias("n_naive_splits"),
        )
    )
    labeled = clus.select(
        "n_docs", "n_naive_splits", split_of(F.col("rep")).alias("split")
    )
    leak = labeled.agg(
        F.count(F.when(F.col("n_naive_splits") > 1, 1))
        .cast("bigint")
        .alias("naive_leaky_clusters")
    )
    return (
        labeled.groupBy("split")
        .agg(
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        )
        .crossJoin(F.broadcast(leak))
        .select("split", "n_docs", "n_clusters", "naive_leaky_clusters")
        .orderBy("split")
    )


# ---------------------------------------------------------------------------
# Token-budget greedy corpus selection
# ---------------------------------------------------------------------------

_PACK_BUDGET = 600  # tokens per source


@register(
    "token_budget_pack",
    f"""
    WITH t AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             CAST(length(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')) AS BIGINT)
               * 1000000 // greatest(length(text), 1) AS quality_ppm
      FROM documents
    ), ranked AS (
      SELECT *,
             sum(n_tokens) OVER (PARTITION BY source
                                 ORDER BY quality_ppm DESC, doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum_tokens
      FROM t
    ), sel AS (
      SELECT *, CASE WHEN cum_tokens <= {_PACK_BUDGET} THEN 1 ELSE 0 END AS keep
      FROM ranked
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_candidates,
           CAST(sum(keep) AS BIGINT) AS n_selected,
           CAST(sum(CASE WHEN keep = 1 THEN n_tokens ELSE 0 END) AS BIGINT)
             AS tokens_selected,
           CAST(min(CASE WHEN keep = 1 THEN quality_ppm END) AS BIGINT)
             AS min_quality_ppm
    FROM sel GROUP BY source ORDER BY source
    """,
)
def token_budget_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget-constrained corpus selection: each source gets a
    fixed token budget (600 here); documents are admitted greedily in
    quality order (alnum-density ppm, doc_id tie-break) until the
    running token total would exceed the budget — the standard
    "best docs first, stop at N tokens" recipe for assembling a
    fixed-size training mix from heterogeneous sources.

    Plan: scan-stage token/quality expressions, ONE window partitioned
    by source (the running token sum — no global ordering anywhere),
    and a source-keyed rollup. At 100 TB the window key is the
    partition key, so each source's prefix scan is local to its
    shuffle partition; skewed sources parallelize via the same
    range-within-source refinement ``global_ordinal`` documents.

    Exactness: tokens and quality are BIGINTs; the cumulative sum and
    the budget comparison are integer-exact in both engines."""
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " ", -1)).cast("bigint")
    quality = F.expr(
        "CAST(__n_alnum AS BIGINT) * 1000000 div greatest(length(text), 1)"
    )
    docs = docs.withColumn("__n_alnum", F.length(alnum(F.col("text"))))
    t = docs.select(
        "doc_id",
        "source",
        n_tokens.alias("n_tokens"),
        quality.alias("quality_ppm"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("quality_ppm").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sel = t.withColumn("cum_tokens", F.sum("n_tokens").over(w)).withColumn(
        "keep", (F.col("cum_tokens") <= _PACK_BUDGET).cast("int")
    )
    return (
        sel.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
            F.sum("keep").cast("bigint").alias("n_selected"),
            F.sum(F.when(F.col("keep") == 1, F.col("n_tokens")).otherwise(0))
            .cast("bigint")
            .alias("tokens_selected"),
            F.min(F.when(F.col("keep") == 1, F.col("quality_ppm")))
            .cast("bigint")
            .alias("min_quality_ppm"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Calibration audit (ECE) for a heuristic classifier score
# ---------------------------------------------------------------------------


def _marker_count(dialect: str) -> str:
    """Non-overlapping occurrence count of three English marker tokens,
    as (len - len(replace)) / len(marker) — integer-exact and identical
    in both engines (replace is left-to-right non-overlapping in both)."""
    terms = []
    for mk in (" the ", " and ", " is "):
        terms.append(
            f"(length(lt) - length(replace(lt, '{mk}', ''))) / {len(mk)}"
        )
    return " + ".join(f"CAST({t} AS BIGINT)" for t in terms)


@register(
    "calibration_ece_bins",
    f"""
    WITH s AS (
      SELECT doc_id, lang, ' ' || lower(text) || ' ' AS lt FROM documents
    ), scored AS (
      SELECT doc_id,
             least(950000, 100000 + 250000 * ({_marker_count('duckdb')}))
               AS conf_ppm,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_en
      FROM s
    ), b AS (
      SELECT conf_ppm // 100000 AS bin,
             count(*) AS n,
             sum(conf_ppm) AS sum_conf,
             sum(is_en) AS n_pos
      FROM scored GROUP BY 1
    ), g AS (
      SELECT bin, n, n_pos,
             n_pos * 1000000 // n AS acc_ppm,
             sum_conf // n AS conf_avg_ppm,
             abs(n_pos * 1000000 // n - sum_conf // n) AS gap_ppm
      FROM b
    ), e AS (
      SELECT sum(n * gap_ppm) // sum(n) AS ece_ppm FROM g
    )
    SELECT CAST(bin AS BIGINT) AS bin,
           CAST(n AS BIGINT) AS n,
           CAST(n_pos AS BIGINT) AS n_pos,
           CAST(acc_ppm AS BIGINT) AS acc_ppm,
           CAST(conf_avg_ppm AS BIGINT) AS conf_avg_ppm,
           CAST(gap_ppm AS BIGINT) AS gap_ppm,
           CAST(ece_ppm AS BIGINT) AS ece_ppm
    FROM g, e
    ORDER BY bin
    """,
)
def calibration_ece_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected-calibration-error audit of a heuristic is-English
    classifier: confidence = a piecewise-linear score over English
    marker-token counts (' the ', ' and ', ' is '), label = lang='en',
    binned into 100k-ppm confidence buckets. Per bin: empirical accuracy
    vs mean stated confidence and their |gap|; headline ECE =
    count-weighted mean gap — the standard reliability-diagram numbers
    a model-eval pipeline computes for any scored filter (langid,
    quality, toxicity) before its scores are trusted as probabilities.

    Determinism: no floats anywhere — confidence is an integer ppm
    score, marker counts come from the (len - len(replace))/len trick
    (identical non-overlapping semantics in both engines), and
    accuracy/ECE are integer ppm divisions, so the hash is exact (the
    repo-wide no-libm rule; see bigram_pmi_top).

    Plan: scan-stage scoring (codegen string ops, no UDF), ONE
    partial-aggregated shuffle to ≤10 bins, arithmetic on the 10-row
    frame, and a 1-row broadcast ECE rollup — same terminal shape as
    leakage_safe_split. 100 TB cost is the one scan."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        F.concat(F.lit(" "), F.lower("text"), F.lit(" ")).alias("lt"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("is_en"),
    ).select(
        F.least(
            F.lit(950000),
            F.lit(100000) + F.lit(250000) * F.expr(_marker_count("spark")),
        ).alias("conf_ppm"),
        "is_en",
    )
    b = (
        scored.groupBy(F.expr("conf_ppm div 100000").alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("conf_ppm").alias("sum_conf"),
            F.sum("is_en").alias("n_pos"),
        )
    )
    g = b.select(
        "bin",
        "n",
        "n_pos",
        F.expr("n_pos * 1000000 div n").alias("acc_ppm"),
        F.expr("sum_conf div n").alias("conf_avg_ppm"),
        F.expr("abs(n_pos * 1000000 div n - sum_conf div n)").alias("gap_ppm"),
    )
    e = g.agg(F.expr("sum(n * gap_ppm) div sum(n)").alias("ece_ppm"))
    return (
        g.crossJoin(F.broadcast(e))
        .select(
            F.col("bin").cast("bigint"),
            F.col("n").cast("bigint"),
            F.col("n_pos").cast("bigint"),
            F.col("acc_ppm").cast("bigint"),
            F.col("conf_avg_ppm").cast("bigint"),
            F.col("gap_ppm").cast("bigint"),
            F.col("ece_ppm").cast("bigint"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# Curriculum ordering with round-robin source interleave
# ---------------------------------------------------------------------------

_CUR_TOPK = 5  # easiest docs taken per source


@register(
    "curriculum_interleave",
    f"""
    WITH ranked AS (
      SELECT doc_id, source, n_chars,
             CAST(substr(source, 4) AS BIGINT) AS source_idx,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars, doc_id) AS rank
      FROM documents
    ), t AS (
      SELECT count(DISTINCT source) AS n_sources FROM ranked
    )
    SELECT CAST((rank - 1) * n_sources + source_idx + 1 AS BIGINT)
             AS global_pos,
           CAST(rank AS BIGINT) AS rank,
           source,
           CAST(doc_id AS BIGINT) AS doc_id,
           CAST(n_chars AS BIGINT) AS difficulty
    FROM ranked, t
    WHERE rank <= {_CUR_TOPK}
    ORDER BY global_pos
    """,
)
def curriculum_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering with round-robin source interleave: rank each
    source's documents easiest-first (n_chars as the difficulty proxy,
    doc_id tie-break), take the top {k} per source, and lay them out in
    a global curriculum where consecutive positions cycle through the
    sources — global_pos = (rank-1)·n_sources + source_idx + 1. The
    interleave guarantees no two consecutive training examples share a
    source (the mixing property curriculum schedules need so "easy
    first" doesn't collapse into "one domain first").

    The global position is ARITHMETIC, not a global window: rank comes
    from a source-partitioned window and the source index from the
    fixture's dense source naming (src0..srcN; a production corpus
    derives it from a dictionary join — the doc_global_ordinal pattern
    covers the general case). One scan, one source-partitioned window,
    one 1-row source-count broadcast; no global sort anywhere, so the
    curriculum layout scales to any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.expr("CAST(substr(source, 4) AS BIGINT)").alias("source_idx"),
        F.row_number().over(w).alias("rank"),
    ).filter(F.col("rank") <= _CUR_TOPK)
    t = docs.agg(F.countDistinct("source").alias("n_sources"))
    return (
        ranked.crossJoin(F.broadcast(t))
        .select(
            ((F.col("rank") - 1) * F.col("n_sources") + F.col("source_idx") + 1)
            .cast("bigint")
            .alias("global_pos"),
            F.col("rank").cast("bigint"),
            "source",
            F.col("doc_id").cast("bigint"),
            F.col("n_chars").cast("bigint").alias("difficulty"),
        )
        .orderBy("global_pos")
    )


curriculum_interleave.__doc__ = curriculum_interleave.__doc__.format(k=_CUR_TOPK)


@register(
    "quantile_normalize_by_source",
    """
    WITH feat AS (
      SELECT doc_id, source, n_chars,
             CAST(n_chars * 1000000000 + doc_id AS BIGINT) AS ck
      FROM documents
    ),
    g AS (
      SELECT n_chars AS gval,
             row_number() OVER (ORDER BY ck) AS g_rank
      FROM feat
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_all FROM feat),
    src AS (
      SELECT doc_id, source, n_chars,
             row_number() OVER (PARTITION BY source ORDER BY ck) AS src_rank,
             count(*) OVER (PARTITION BY source) AS n_src
      FROM feat
    )
    SELECT s.doc_id, s.source, s.n_chars,
           CAST(s.src_rank AS BIGINT) AS src_rank,
           CAST((s.src_rank * t.n_all + s.n_src - 1) // s.n_src AS BIGINT)
             AS target_rank,
           CAST(g.gval AS BIGINT) AS normalized_n_chars
    FROM src s CROSS JOIN tot t
    JOIN g ON g.g_rank = (s.src_rank * t.n_all + s.n_src - 1) // s.n_src
    ORDER BY s.doc_id
    """,
)
def quantile_normalize_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of a per-document feature (n_chars) across
    sources — the distribution-matching transform (Bolstad et al.,
    Bioinformatics'03; the same trick normalizes feature columns across
    heterogeneous crawl snapshots): each document's value is replaced by
    the GLOBAL value at its within-source quantile (nearest-rank,
    ceil(r·N/n_s)), so every source ends up with an identical value
    distribution while preserving within-source order.

    Determinism: ranks order by the composite key n_chars·10⁹ + doc_id —
    strictly unique on both engines, so tied feature values cannot make
    row_number engine-dependent (the determinism-trap rule: every ORDER
    BY chain ends in a row-unique key).

    Scale: the global rank comes from ``global_ordinal`` (range
    repartition + per-partition offsets — NO single-reducer window); the
    per-source rank is one source-keyed window; source sizes join in as
    a stats-gated broadcast, and the final rank→value lookup is an
    equi-join on target_rank against the |N|-row global rank frame."""
    from dbtransfer_spark.queries import broadcast_if_small

    docs = load_table(spark, sf_dir, "documents")
    feat = docs.select(
        "doc_id",
        "source",
        "n_chars",
        (F.col("n_chars") * F.lit(1000000000) + F.col("doc_id"))
        .cast("bigint")
        .alias("ck"),
    )
    g = global_ordinal(feat.select(F.col("n_chars").alias("gval"), "ck"), "ck").select(
        "gval", F.col("ordinal").alias("g_rank")
    )
    tot = feat.agg(F.count(F.lit(1)).cast("bigint").alias("n_all"))
    n_src = feat.groupBy("source").agg(F.count(F.lit(1)).alias("n_src"))
    w_src = Window.partitionBy("source").orderBy("ck")
    src = (
        feat.withColumn("src_rank", F.row_number().over(w_src))
        .join(broadcast_if_small(n_src), "source")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "target_rank",
            F.expr("(src_rank * n_all + n_src - 1) div n_src").cast("bigint"),
        )
    )
    return (
        src.join(g, src.target_rank == g.g_rank)
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.col("src_rank").cast("bigint").alias("src_rank"),
            "target_rank",
            F.col("gval").cast("bigint").alias("normalized_n_chars"),
        )
        .orderBy("doc_id")
    )
