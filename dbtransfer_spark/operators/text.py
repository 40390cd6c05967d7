"""Text analysis operators over the ``documents`` table (SURVEY.md §2.10).

All hot-path metrics are built-in JVM expressions (length/split/regexp_*)
— no Python in the data path, so they codegen into the scan stage and scale
linearly. Language ID is the one genuinely heuristic operator: implemented
as a vectorized pandas UDF (Arrow batches) scoring language-specific
stopword hit-rates; its oracle replays the same stopword-argmax in SQL
(list_filter + greatest over the literal stopword sets).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from dbtransfer_spark.catalog import load_table
from dbtransfer_spark.registry import register
from dbtransfer_spark.textutil import alnum, normalized_text


# BPE-ish pre-tokenizer: word pieces or single non-space punctuation.
TOKEN_PATTERN = r"\w+|[^\w\s]"


@register(
    "text_stats",
    r"""
    SELECT doc_id, lang, source,
           length(text) AS n_chars_calc,
           len(string_split(text, ' ')) AS n_ws_tokens,
           len(regexp_extract_all(text, '\w+|[^\w\s]')) AS n_bpe_tokens,
           round(CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
                 / length(text), 4) AS punct_ratio,
           round(CAST(len(string_split(text, ' ')) AS DOUBLE)
                 / length(text), 4) AS token_density
    FROM documents WHERE length(text) > 0
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace + BPE-ish regex), char counts,
    punctuation ratio, token density — entirely codegen'd expressions."""
    df = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    n_ws = F.size(F.split("text", " ", -1))
    n_len = F.length("text")
    return df.select(
        "doc_id",
        "lang",
        "source",
        n_len.alias("n_chars_calc"),
        n_ws.alias("n_ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(TOKEN_PATTERN), 0)).alias("n_bpe_tokens"),
        F.round(
            F.length(F.regexp_replace("text", "[a-zA-Z0-9 ]", "")).cast("double") / n_len,
            4,
        ).alias("punct_ratio"),
        F.round(n_ws.cast("double") / n_len, 4).alias("token_density"),
    )


@register(
    "text_quality",
    r"""
    WITH t AS (
      SELECT doc_id,
             length(text) AS n_chars_calc,
             len(string_split(text, ' ')) AS n_tokens,
             CASE WHEN len(string_split(text, ' ')) = 0 THEN 0.0
                  ELSE CAST(length(replace(text, ' ', '')) AS DOUBLE)
                       / len(string_split(text, ' ')) END AS mean_word_len,
             len(list_filter(string_split(text, ' '),
                 w -> w IN ('the','a','of','and','to','in','is','it'))) AS n_stop
      FROM documents
    )
    SELECT doc_id, n_chars_calc, n_tokens,
           round(mean_word_len, 4) AS mean_word_len,
           round(CAST(n_stop AS DOUBLE) / greatest(n_tokens, 1), 4) AS stopword_ratio,
           (n_chars_calc >= 20 AND n_tokens >= 5
            AND mean_word_len BETWEEN 2.0 AND 12.0) AS passes_quality
    FROM t
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length gates, mean word length, stopword ratio —
    the standard cheap pre-filters of an LLM data pipeline, all built-in
    expressions (one pass over the scan, no shuffle)."""
    df = load_table(spark, sf_dir, "documents")
    tokens = F.split("text", " ", -1)
    n_tokens = F.size(tokens)
    mean_wl = F.when(n_tokens == 0, F.lit(0.0)).otherwise(
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double") / n_tokens
    )
    stop = F.array([F.lit(w) for w in ("the", "a", "of", "and", "to", "in", "is", "it")])
    n_stop = F.size(F.filter(tokens, lambda w: F.array_contains(stop, w)))
    return df.select(
        "doc_id",
        F.length("text").alias("n_chars_calc"),
        n_tokens.alias("n_tokens"),
        F.round(mean_wl, 4).alias("mean_word_len"),
        F.round(n_stop.cast("double") / F.greatest(n_tokens, F.lit(1)), 4).alias(
            "stopword_ratio"
        ),
        (
            (F.length("text") >= 20)
            & (n_tokens >= 5)
            & mean_wl.between(2.0, 12.0)
        ).alias("passes_quality"),
    )


@register(
    "doc_fingerprint",
    r"""
    SELECT doc_id,
           md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                   ' +', ' ', 'g'))) AS fingerprint
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: normalization (lowercase, strip
    non-alphanumerics, collapse whitespace) + md5 — the canonical exact-dup
    key that ignores formatting noise. A deterministic cross-engine hash
    (unlike xxhash/murmur which differ per engine)."""
    norm = normalized_text(F.col("text"))  # fast-path twin of the
    # trim(regexp_replace(regexp_replace(lower, '[^a-z0-9 ]', ''), ' +', ' '))
    # oracle spelling (textutil.py: negated-class regex is ~100x slower)
    return load_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5(norm).alias("fingerprint")
    )


@register(
    "corpus_curation",
    r"""
    WITH scored AS (
      SELECT doc_id, lang, text,
             length(text) AS n_chars,
             len(string_split(text, ' ')) AS n_tokens,
             CASE WHEN len(string_split(text, ' ')) = 0 THEN 0.0
                  ELSE CAST(length(replace(text, ' ', '')) AS DOUBLE)
                       / len(string_split(text, ' ')) END AS mwl,
             md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                     ' +', ' ', 'g'))) AS fingerprint
      FROM documents
    ), quality AS (
      SELECT * FROM scored
      WHERE n_chars >= 20 AND n_tokens >= 5 AND mwl BETWEEN 2.0 AND 12.0
    ), deduped AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
        FROM quality
      ) WHERE rn = 1
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           round(CAST(sum(CAST(mwl AS DECIMAL(30,10))) AS DOUBLE) / count(*), 4)
             AS avg_word_len
    FROM deduped GROUP BY lang
    """,
)
def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end curation pipeline a training-data run executes, as
    one declarative plan: quality gating (length/token/word-length
    filters) → exact near-dup removal on the normalized fingerprint
    (deterministic keep-min) → per-language corpus stats.

    Composition is the point: every stage is the already-verified operator
    (text_quality, doc_fingerprint, exact-dedup window) fused by Catalyst
    into scan → filter → one fingerprint shuffle → one lang shuffle, with
    WindowGroupLimit pushing the keep-min below the exchange. No Python in
    the plan; at 100 TB the only wide stages are the two key shuffles."""
    df = load_table(spark, sf_dir, "documents")
    tokens = F.split("text", " ", -1)
    n_tokens = F.size(tokens)
    mwl = F.when(n_tokens == 0, F.lit(0.0)).otherwise(
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double") / n_tokens
    )
    fingerprint = F.md5(normalized_text(F.col("text")))  # fast-path
    # twin of the negated-class oracle spelling (textutil.py)
    scored = df.select(
        "doc_id",
        "lang",
        F.length("text").alias("n_chars"),
        n_tokens.alias("n_tokens"),
        mwl.alias("mwl"),
        fingerprint.alias("fingerprint"),
    )
    quality = scored.filter(
        (F.col("n_chars") >= 20) & (F.col("n_tokens") >= 5) & F.col("mwl").between(2.0, 12.0)
    )
    from pyspark.sql import Window

    keep = Window.partitionBy("fingerprint").orderBy("doc_id")
    deduped = (
        quality.withColumn("rn", F.row_number().over(keep)).filter(F.col("rn") == 1)
    )
    return deduped.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.round(
            F.sum(F.col("mwl").cast("decimal(30,10)")).cast("double") / F.count(F.lit(1)), 4
        ).alias("avg_word_len"),
    )


@register(
    "stratified_sample",
    r"""
    WITH keyed AS (
      SELECT doc_id, lang, source,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % 100 AS bucket
      FROM documents
    )
    SELECT source, count(*) AS n_sampled
    FROM keyed
    WHERE bucket < CASE WHEN source IN ('src0','src1','src2') THEN 80 ELSE 20 END
    GROUP BY source
    """,
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per-source keep rates (80% for
    preferred sources, 20% for the rest) decided by a content-derived
    hash bucket, not ``rand()`` — so the sample is reproducible across
    runs, task retries, and engines (md5 is bit-identical everywhere;
    xxhash64/rand are not). This is how a 100 TB corpus is re-weighted by
    source quality without materializing per-source splits: one narrow
    scan-side filter, no shuffle before the final stats."""
    df = load_table(spark, sf_dir, "documents")
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
            "long"
        ),
        F.lit(100),
    )
    rate = F.when(F.col("source").isin("src0", "src1", "src2"), 80).otherwise(20)
    return (
        df.withColumn("bucket", bucket)
        .filter(F.col("bucket") < rate)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )


@register(
    "pack_sequences",
    r"""
    WITH toks AS (
      SELECT doc_id, doc_id % 8 AS shard,
             len(string_split(text, ' ')) AS n_tok
      FROM documents
    ), packed AS (
      SELECT shard, doc_id, n_tok,
             CAST(floor(CAST(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) - n_tok AS DOUBLE)
                        / 2048) AS BIGINT) AS bin_id
      FROM toks
    )
    SELECT shard, bin_id, count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens
    FROM packed GROUP BY shard, bin_id
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing planner for pre-training batches: documents are
    sharded (doc_id % 8 — in production, the file/partition id), then
    packed into ~2048-token bins by running token count within each shard
    (bin = cumulative tokens before the doc ÷ budget — deterministic,
    order-based, straddling docs spill into the next bin).

    Scale shape: one window cumsum per shard partition — embarrassingly
    parallel across shards, no global coordination, exactly how packing
    runs over a 100 TB corpus (each worker packs its own shard). All
    JVM-side expressions; the bin assignment replays bit-identically in
    SQL."""
    from pyspark.sql import Window

    df = load_table(spark, sf_dir, "documents")
    toks = df.select(
        "doc_id",
        (F.col("doc_id") % 8).alias("shard"),
        F.size(F.split("text", " ", -1)).alias("n_tok"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = toks.withColumn(
        "bin_id",
        F.floor((F.sum("n_tok").over(w) - F.col("n_tok")).cast("double") / 2048).cast(
            "long"
        ),
    )
    return packed.groupBy("shard", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
    )


@register(
    "tfidf_top_terms",
    r"""
    WITH postings AS (
      SELECT doc_id, term, count(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
            FROM documents)
      WHERE term <> '' AND length(term) >= 3
      GROUP BY doc_id, term
    ), df AS (
      SELECT term, count(*) AS df FROM postings GROUP BY term
    ), n AS (
      SELECT count(*) AS n_docs FROM documents
    ), scored AS (
      SELECT p.doc_id, p.term,
             CAST(p.tf AS DOUBLE) * n.n_docs / df.df AS score
      FROM postings p JOIN df ON p.term = df.term CROSS JOIN n
    )
    SELECT doc_id, term, round(score, 4) AS score, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, term) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by tf·idf (linear idf
    N/df — a ratio of exact integers, so scores are bit-identical across
    engines, unlike log-based idf whose libm may differ in the last ulp).

    Scale shape: postings (doc, term, tf) from one explode+groupBy, df
    from one term-keyed aggregate, scores from a term-keyed join (both
    sides already aggregated), top-k via per-doc window with
    WindowGroupLimit pushdown — keyword extraction over a 100 TB corpus
    is exactly these three shuffles."""
    from pyspark.sql import Window

    df_docs = load_table(spark, sf_dir, "documents")
    postings = (
        df_docs.select(
            "doc_id", F.explode(F.split(F.lower("text"), " ", -1)).alias("term")
        )
        .filter((F.col("term") != "") & (F.length("term") >= 3))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    doc_freq = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df_docs.count()
    scored = postings.join(doc_freq, "term").select(
        "doc_id",
        "term",
        (F.col("tf").cast("double") * F.lit(n_docs) / F.col("df")).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", F.round("score", 4).alias("score"), "rank")
    )


@register(
    "lang_stats",
    """
    SELECT lang, count(*) AS n_docs,
           round(avg(CAST(n_chars AS DOUBLE)), 2) AS avg_chars,
           round(CAST(count(*) AS DOUBLE) / (SELECT count(*) FROM documents), 4)
             AS share
    FROM documents GROUP BY lang
    """,
)
def lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition per language — the monitoring aggregate every
    training-data pipeline runs after language ID. The corpus total is a
    window over the aggregated language rows (one job, no separate
    driver-side count action)."""
    from pyspark.sql import Window

    df = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy()
    return (
        df.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg(F.col("n_chars").cast("double")), 2).alias("avg_chars"),
        )
        .withColumn(
            "share",
            F.round(F.col("n_docs").cast("double") / F.sum("n_docs").over(w), 4),
        )
        .select("lang", "n_docs", "avg_chars", "share")
    )


# -- language ID (pandas UDF with an exact SQL replay oracle) ---------------

_STOPWORDS: dict[str, frozenset[str]] = {
    "en": frozenset("the a of and to in is it that for on with as at by".split()),
    "es": frozenset("el la de y que en un una es los las por con para no".split()),
    "fr": frozenset("le la de et les des en un une est que pour dans qui".split()),
    "de": frozenset("der die das und ist von den ein eine mit für auf des".split()),
    "zh": frozenset("的 了 是 在 我 有 和 就 不 人 都 一 一个 上".split()),
}


def _langid_oracle() -> str:
    """DuckDB replay of langid_udf: per-language stopword hit counts, then
    the same first-strictly-greater argmax the Python loop performs
    (iteration order en,es,fr,de,zh; 'und' when every count is zero).
    ``\\S+`` tokenization == Python str.split() (splits on whitespace runs,
    drops empties)."""
    langs = list(_STOPWORDS)  # dict order == UDF iteration order
    hit_cols = []
    for lang in langs:
        in_list = ",".join(f"'{w}'" for w in sorted(_STOPWORDS[lang]))
        hit_cols.append(
            f"coalesce(len(list_filter(w, t -> t IN ({in_list}))), 0) AS {lang}_hits"
        )
    # first-wins argmax: lang k beats all later langs on >=, earlier on >
    all_zero = " AND ".join(f"{l}_hits = 0" for l in langs)
    branches = []
    for i, lang in enumerate(langs[:-1]):
        later = " AND ".join(f"{lang}_hits >= {m}_hits" for m in langs[i + 1 :])
        branches.append(f"WHEN {later} THEN '{lang}'")
    return f"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS w FROM documents
    ), hits AS (
      SELECT doc_id, {", ".join(hit_cols)} FROM toks
    )
    SELECT doc_id,
           CASE WHEN {all_zero} THEN 'und'
                {" ".join(branches)}
                ELSE '{langs[-1]}' END AS predicted_lang
    FROM hits
    """


@pandas_udf(T.StringType())
def langid_udf(texts: pd.Series) -> pd.Series:
    """Stopword hit-rate heuristic language ID. Vectorized per Arrow batch;
    pure-Python per doc but O(tokens) with small constants. Real pipelines
    swap in fastText/CLD3 behind this exact UDF signature."""

    def classify(text: str | None) -> str:
        if not text:
            return "und"
        tokens = text.lower().split()
        if not tokens:
            return "und"
        best_lang, best_hits = "und", 0
        for lang, stops in _STOPWORDS.items():
            hits = sum(1 for t in tokens if t in stops)
            if hits > best_hits:
                best_lang, best_hits = lang, hits
        return best_lang

    return texts.map(classify)


@register("lang_id_predict", _langid_oracle())
def lang_id_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, sf_dir, "documents")
    return df.select("doc_id", langid_udf(F.col("text")).alias("predicted_lang"))


@register(
    "bm25_rank",
    """
    WITH docs AS (
      SELECT doc_id,
             len(list_filter(string_split(lower(text), ' '),
                             t -> t <> '' AND length(t) >= 3)) AS dl
      FROM documents
    ),
    stats AS (
      SELECT count(*) AS n_docs,
             CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
      FROM docs
    ),
    postings AS (
      SELECT doc_id, term, count(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
            FROM documents)
      WHERE term IN ('hash', 'join', 'vector')
      GROUP BY doc_id, term
    ),
    df AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
    scored AS (
      SELECT p.doc_id,
             ((CAST(s.n_docs - f.df AS DOUBLE) + 0.5) / (CAST(f.df AS DOUBLE) + 0.5))
             * (CAST(p.tf AS DOUBLE) * 2.2)
             / (CAST(p.tf AS DOUBLE)
                + 1.2 * (0.25 + 0.75 * CAST(d.dl AS DOUBLE) / s.avgdl)) AS term_score
      FROM postings p
      JOIN df f ON p.term = f.term
      JOIN docs d ON p.doc_id = d.doc_id
      CROSS JOIN stats s
    ),
    totals AS (
      SELECT doc_id,
             CAST(round(sum(CAST(term_score AS DECIMAL(30,10))), 4) AS DOUBLE)
               AS bm25
      FROM scored GROUP BY doc_id
    )
    SELECT doc_id, bm25, rank FROM (
      SELECT *, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank
      FROM totals
    ) WHERE rank <= 20
    """,
)
def bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 documents for a fixed keyword query under BM25 scoring
    (k1=1.2, b=0.75) with the same linear idf substitution as
    tfidf_top_terms ((N-df+0.5)/(df+0.5), no log — a ratio of exact
    numbers, so scores replay bit-identically in SQL; log idf is
    monotone in the same variable, so rankings agree).

    Scale shape: document lengths and the corpus aggregate (N, avgdl —
    one row, broadcast) come from one scan; postings are pre-filtered to
    the query terms *before* the tf aggregate, so the per-term join
    carries only matching docs; the per-doc score sum is exact decimal;
    the final top-20 is orderBy+limit → TakeOrderedAndProject, with
    rank computed over the already-limited 20 rows — no unbounded
    single-partition window anywhere."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower("text"), " ", -1)
    dl_docs = docs.select(
        "doc_id",
        F.size(
            F.filter(toks, lambda t: (t != "") & (F.length(t) >= 3))
        ).alias("dl"),
    )
    stats = dl_docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    postings = (
        docs.select("doc_id", F.explode(toks).alias("term"))
        .filter(F.col("term").isin("hash", "join", "vector"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    doc_freq = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = ((F.col("n_docs") - F.col("df")).cast("double") + 0.5) / (
        F.col("df").cast("double") + 0.5
    )
    tf_d = F.col("tf").cast("double")
    den = tf_d + 1.2 * (0.25 + 0.75 * F.col("dl").cast("double") / F.col("avgdl"))
    scored = (
        postings.join(F.broadcast(doc_freq), "term")
        .join(dl_docs, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", (idf * (tf_d * 2.2) / den).alias("term_score"))
    )
    totals = scored.groupBy("doc_id").agg(
        F.round(F.sum(F.col("term_score").cast("decimal(30,10)")), 4)
        .cast("double")
        .alias("bm25")
    )
    # Top-20 via orderBy+limit → TakeOrderedAndProject (distributed
    # per-partition top-k + driver merge). The rank column is then a
    # window over the ALREADY-LIMITED 20 rows — bounded at k regardless
    # of corpus size, unlike ranking the full matching set through one
    # partition (the scale bug this replaces).
    w = Window.orderBy(F.desc("bm25"), "doc_id")
    top = totals.orderBy(F.desc("bm25"), "doc_id").limit(20)
    return top.withColumn("rank", F.row_number().over(w)).select(
        "doc_id", "bm25", "rank"
    )


_CHUNK_SIZE = 32
_CHUNK_STRIDE = 16


@register(
    "chunk_documents",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t,
             len(string_split(text, ' ')) AS n
      FROM documents
    )
    SELECT doc_id, chunk_idx,
           array_to_string(t[chunk_idx * {_CHUNK_STRIDE} + 1 :
                             chunk_idx * {_CHUNK_STRIDE} + {_CHUNK_SIZE}], ' ')
             AS chunk_text,
           least(n - chunk_idx * {_CHUNK_STRIDE}, {_CHUNK_SIZE}) AS n_tokens
    FROM toks, unnest(range(0, greatest((n - {_CHUNK_SIZE} + {_CHUNK_STRIDE} - 1)
                                        // {_CHUNK_STRIDE}, 0) + 1)) AS c(chunk_idx)
    WHERE n > 0
    ORDER BY doc_id, chunk_idx
    """,
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (size {size}, stride {stride})
    — the overlapping-context window op every pre-training tokenization
    pipeline runs before packing. Chunk count per doc is
    ceil(max(n - size, 0) / stride) + 1, so every token lands in ≥1
    chunk and the tail is never dropped.

    Implemented with built-in sequence/slice/explode — a NARROW
    scan-stage expansion with bounded fanout (≈ n/stride chunks per
    doc), no shuffle, no Python. A Python arrow-UDTF variant exists
    (`chunk_udtf`) purely to exercise the §2.8 table-function machinery
    and is parity-tested against this plan; the builtin form is the
    production path (UDFs are the slow path — pyspark_guide).

    Scale: fanout is linear in corpus tokens; the final ORDER BY is
    presentation-only (driver sorts before hashing)."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.split(F.col("text"), " ", -1)
    base = docs.select("doc_id", t.alias("t"), F.size(t).alias("n")).filter(
        F.col("n") > 0
    )
    chunks = base.select(
        "doc_id",
        "t",
        "n",
        F.explode(F.expr(f"sequence(0, greatest(CAST(ceil((n - {_CHUNK_SIZE}) / {_CHUNK_STRIDE}.0) AS INT), 0))")).alias(
            "chunk_idx"
        ),
    )
    start = F.col("chunk_idx") * _CHUNK_STRIDE
    return chunks.select(
        "doc_id",
        "chunk_idx",
        F.concat_ws(
            " ", F.slice(F.col("t"), start + 1, F.lit(_CHUNK_SIZE))
        ).alias("chunk_text"),
        F.least(F.col("n") - start, F.lit(_CHUNK_SIZE)).alias("n_tokens"),
    ).orderBy("doc_id", "chunk_idx")


chunk_documents.__doc__ = chunk_documents.__doc__.format(
    size=_CHUNK_SIZE, stride=_CHUNK_STRIDE
)


def _lang_confusion_oracle() -> str:
    """Confusion-matrix replay: the full langid oracle as a subquery,
    joined back to the labeled lang column."""
    return f"""
    WITH pred AS ({_langid_oracle()})
    SELECT d.lang AS label_lang, p.predicted_lang, count(*) AS n_docs
    FROM documents d JOIN pred p USING (doc_id)
    GROUP BY label_lang, predicted_lang
    ORDER BY label_lang, predicted_lang
    """


@register("lang_id_confusion", _lang_confusion_oracle())
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-evaluation primitive for the language-ID operator: the
    labeled-vs-predicted confusion matrix (label lang × predicted lang
    × doc count). The prediction side is the SAME vectorized pandas UDF
    the production path uses; the oracle replays the stopword-argmax in
    SQL and aggregates identically — so a hash match verifies the UDF's
    behavior inside a composed pipeline, not just standalone.

    Scale: the UDF streams Arrow batches in the scan stage; the matrix
    is one partial-aggregated shuffle with ≤|langs|² output rows."""
    df = load_table(spark, sf_dir, "documents")
    pred = df.select(
        "doc_id",
        F.col("lang").alias("label_lang"),
        langid_udf(F.col("text")).alias("predicted_lang"),
    )
    return (
        pred.groupBy("label_lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("label_lang", "predicted_lang")
    )


@register(
    "bigram_pmi_top",
    """
    WITH words AS (
      SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
    ),
    bigrams AS (
      SELECT u.bg[1] AS w1, u.bg[2] AS w2
      FROM (SELECT unnest(list_zip(ws, ws[2:])) AS bg FROM words) u
      WHERE u.bg[1] IS NOT NULL AND u.bg[2] IS NOT NULL
        AND u.bg[1] <> '' AND u.bg[2] <> ''
    ),
    uni AS (
      SELECT w, CAST(count(*) AS BIGINT) AS n_w
      FROM (SELECT unnest(ws) AS w FROM words) WHERE w <> '' GROUP BY w
    ),
    n_uni AS (SELECT CAST(sum(n_w) AS BIGINT) AS nu FROM uni),
    bg AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_xy
      FROM bigrams GROUP BY w1, w2
    ),
    scored AS (
      SELECT w1, w2, n_xy,
             CAST(n_xy AS DOUBLE) * nu / (u1.n_w * u2.n_w) AS lift
      FROM bg
      JOIN uni u1 ON bg.w1 = u1.w
      JOIN uni u2 ON bg.w2 = u2.w
      CROSS JOIN n_uni
      WHERE n_xy >= 5
    )
    SELECT w1, w2, n_xy, round(lift, 4) AS lift, rank FROM (
      SELECT *, row_number() OVER (ORDER BY lift DESC, w1, w2) AS rank
      FROM scored
    ) WHERE rank <= 20
    """,
)
def bigram_pmi_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 collocations by linear PMI lift (the phrase-mining /
    tokenizer-merge-candidate primitive): lift = P(xy)/(P(x)P(y))
    computed as n_xy·N / (n_x·n_y) — a ratio of exact integers in ONE
    IEEE division, monotone in true PMI (log of it), so no libm log()
    enters the hash (same determinism trick as tfidf_top_terms' linear
    idf). A min-count floor (n_xy ≥ 5) keeps rare-pair noise out, the
    standard collocation practice.

    Scale: adjacent-pair explode is linear in corpus size; bigram and
    unigram counts are partial-aggregated shuffles keyed on the gram;
    the scoring join keys on words (both sides pre-aggregated — no
    fact-sized join); the global top-20 is TakeOrdered (no full sort).
    The unigram total is a one-row broadcast."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(F.split(F.lower("text"), " ", -1).alias("ws"))
    bigrams = (
        words.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ws) - 1),"
                    " i -> struct(ws[i-1] AS w1, ws[i] AS w2))"
                )
            ).alias("bg")
        )
        .select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
    )
    uni = (
        words.select(F.explode("ws").alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_w"))
    )
    n_uni = uni.agg(F.sum("n_w").alias("nu"))
    bg = (
        bigrams.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_xy"))
        .filter(F.col("n_xy") >= 5)
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("n_w").alias("n_w1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("n_w").alias("n_w2"))
    scored = (
        bg.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(n_uni))
        .select(
            "w1",
            "w2",
            "n_xy",
            (
                F.col("n_xy").cast("double")
                * F.col("nu")
                / (F.col("n_w1") * F.col("n_w2"))
            ).alias("lift"),
        )
    )
    w = Window.orderBy(F.desc("lift"), "w1", "w2")
    return (
        scored.orderBy(F.desc("lift"), "w1", "w2")
        .limit(20)
        .withColumn("rank", F.row_number().over(w))
        .select("w1", "w2", "n_xy", F.round("lift", 4).alias("lift"), "rank")
    )


@register(
    "bpe_merge_candidates",
    """
    WITH wordcounts AS (
      SELECT w, CAST(count(*) AS BIGINT) AS n
      FROM (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
      WHERE w <> '' GROUP BY w
    ),
    pairs AS (
      SELECT unnest([substr(w, i, 2) FOR i IN range(1, length(w))]) AS pair, n
      FROM wordcounts WHERE length(w) >= 2
    ),
    agg AS (
      SELECT pair, CAST(sum(n) AS BIGINT) AS total
      FROM pairs GROUP BY pair
    )
    SELECT pair, total, rank FROM (
      SELECT *, row_number() OVER (ORDER BY total DESC, pair) AS rank
      FROM agg
    ) WHERE rank <= 20
    """,
)
def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE merge step: corpus-weighted adjacent character-pair
    counts, top-20 merge candidates — the tokenizer-training primitive.
    The crucial scale trick is aggregating to DISTINCT WORDS first
    (|vocab| rows, Zipf-bounded) and weighting each word's pairs by its
    corpus frequency: the character-level explode then runs over the
    vocabulary, not the corpus — the difference between O(corpus chars)
    and O(vocab chars) per merge round is why real BPE trainers
    pre-aggregate exactly this way.

    Scale: one word-count shuffle (partial-aggregated), a vocab-sized
    explode, one pair-keyed aggregate (≤|alphabet|² rows), TakeOrdered
    20."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    wordcounts = (
        docs.select(F.explode(F.split(F.lower("text"), " ", -1)).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pairs = (
        wordcounts.filter(F.length("w") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(w) - 1),"
                    " i -> substr(w, i, 2))"
                )
            ).alias("pair"),
            "n",
        )
    )
    agg = pairs.groupBy("pair").agg(F.sum("n").alias("total"))
    w = Window.orderBy(F.desc("total"), "pair")
    return (
        agg.orderBy(F.desc("total"), "pair")
        .limit(20)
        .withColumn("rank", F.row_number().over(w))
        .select("pair", "total", "rank")
    )


@register(
    "readability_ari",
    r"""
    WITH f AS (
      SELECT doc_id,
             CAST(length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g'))
                  AS BIGINT) AS n_alnum,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
             CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                  AS BIGINT) AS n_sentences
      FROM documents WHERE length(text) > 0
    )
    SELECT doc_id, n_alnum, n_words, n_sentences,
           4.71 * (CAST(n_alnum AS DOUBLE) / n_words)
             + 0.5 * (CAST(n_words AS DOUBLE) / n_sentences)
             - 21.43 AS ari
    FROM f ORDER BY doc_id
    """,
)
def readability_ari(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Automated Readability Index per document — the quality-scoring
    signal used to stratify training corpora by reading level. Counts
    (alnum chars, words, sentence terminators) are exact integers from
    codegen'd regex expressions; the ARI formula is evaluated with the
    IDENTICAL expression tree on both engines (two exact-integer
    divisions, two multiplies, two adds — all IEEE correctly rounded),
    so the double is bit-identical with no rounding step.

    Scale: pure scan-stage expressions, zero shuffles — fuses into
    whole-stage codegen with the parquet scan."""
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    n_alnum = F.length(alnum(F.col("text")))
    n_words = F.size(F.split("text", " ", -1))
    n_sent = F.greatest(
        F.size(F.expr(r"regexp_extract_all(text, '[.!?]+', 0)")), F.lit(1)
    )
    out = docs.select(
        "doc_id",
        n_alnum.cast("bigint").alias("n_alnum"),
        n_words.cast("bigint").alias("n_words"),
        n_sent.cast("bigint").alias("n_sentences"),
    )
    ari = (
        F.lit(4.71) * (F.col("n_alnum").cast("double") / F.col("n_words"))
        + F.lit(0.5) * (F.col("n_words").cast("double") / F.col("n_sentences"))
        - F.lit(21.43)
    )
    return out.select("doc_id", "n_alnum", "n_words", "n_sentences",
                      ari.alias("ari")).orderBy("doc_id")


@register(
    "text_normalize_fingerprint",
    """
    WITH norm AS (
      SELECT doc_id, length(text) AS n_raw,
             trim(regexp_replace(regexp_replace(lower(text),
                 '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS nt
      FROM documents
    )
    SELECT doc_id, md5(nt) AS fp,
           CAST(n_raw AS BIGINT) AS n_raw,
           CAST(length(nt) AS BIGINT) AS n_norm,
           CAST((n_raw - length(nt)) * 1000000 // n_raw AS BIGINT)
             AS removed_ppm,
           CAST(count(*) OVER (PARTITION BY md5(nt)) AS BIGINT) AS n_same_fp,
           CAST(min(doc_id) OVER (PARTITION BY md5(nt)) AS BIGINT)
             AS keep_doc_id
    FROM norm ORDER BY doc_id
    """,
)
def text_normalize_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-form fingerprint dedup: lowercase → strip non-alnum →
    collapse runs of spaces → trim → md5, emitting per-document
    normalization stats (chars removed, as exact integer ppm) plus the
    fingerprint-group size and deterministic keeper (min doc_id within
    the fp partition). This is the cheap exact-dup pass run before
    MinHash in a dedup cascade — it catches boilerplate differing only
    in case/punctuation/whitespace.

    Scale: normalization + md5 are scan-stage codegen; the group stats
    come from an fp-PARTITIONED window (the scale-safe kind — each
    partition is one fingerprint's duplicate set), shuffling 16-byte
    digests as keys, not document text. The md5 is the same cross-engine
    primitive every dedup oracle here already replays."""
    docs = load_table(spark, sf_dir, "documents")
    norm = normalized_text(F.col("text"))  # fast-path twin of the
    # trim(regexp_replace(regexp_replace(lower, '[^a-z0-9 ]', ''), ' +', ' '))
    # oracle spelling (textutil.py: negated-class regex is ~100x slower)
    staged = docs.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_raw"),
        norm.alias("nt"),
    ).select(
        "doc_id",
        F.md5("nt").alias("fp"),
        "n_raw",
        F.length("nt").cast("bigint").alias("n_norm"),
    )
    w = Window.partitionBy("fp")
    return staged.select(
        "doc_id",
        "fp",
        "n_raw",
        "n_norm",
        F.expr("(n_raw - n_norm) * 1000000 div n_raw").cast("bigint").alias(
            "removed_ppm"
        ),
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_same_fp"),
        F.min("doc_id").over(w).cast("bigint").alias("keep_doc_id"),
    ).orderBy("doc_id")


_OOV_VOCAB_K = 1000


@register(
    "oov_rate",
    f"""
    WITH words AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
      FROM documents
    ),
    toks AS (SELECT doc_id, w FROM words WHERE w <> ''),
    vocab AS (
      SELECT w FROM (
        SELECT w, count(*) AS n FROM toks GROUP BY w
        ORDER BY n DESC, w LIMIT {_OOV_VOCAB_K}
      )
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(CASE WHEN v.w IS NULL THEN 1 END) AS BIGINT) AS n_oov,
           CAST(count(CASE WHEN v.w IS NULL THEN 1 END) * 1000000
                // count(*) AS BIGINT) AS oov_ppm
    FROM toks LEFT JOIN vocab v USING (w)
    GROUP BY doc_id ORDER BY doc_id
    """,
)
def oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per document against the corpus top-1000
    vocabulary (count-desc, word-asc tie-break — fully deterministic).
    The tokenizer-coverage diagnostic: docs with high OOV against the
    candidate vocab are script/domain outliers that blow up token
    budgets downstream.

    Scale: vocab selection is a partial-aggregated word count followed
    by TakeOrdered top-K (heap per partition, K rows to the driver —
    never a global sort); the membership probe BROADCASTS the ≤1000-row
    vocab to a map-side left join against the token stream, then one
    doc_id-keyed count aggregate. The ppm share is exact BIGINT floor
    division."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), " ", -1)).alias("w"),
    ).filter(F.col("w") != "")
    vocab = (
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("w"))
        .limit(_OOV_VOCAB_K)
        .select("w", F.lit(1).alias("_in_vocab"))
    )
    joined = toks.join(F.broadcast(vocab), "w", "left")
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count(F.when(F.col("_in_vocab").isNull(), 1)).alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            F.expr("n_oov * 1000000 div n_tokens").cast("bigint").alias(
                "oov_ppm"
            ),
        )
        .orderBy("doc_id")
    )


@register(
    "gram_novelty_rate",
    """
    WITH w AS (
      SELECT doc_id, string_split(lower(text), ' ') AS ws
      FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id, g
      FROM (
        SELECT doc_id,
               unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                       FOR i IN range(1, len(ws) - 1)]) AS g
        FROM w WHERE len(ws) >= 3
      )
    ),
    firsts AS (
      SELECT g, min(doc_id) AS first_doc FROM grams GROUP BY g
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(count(CASE WHEN first_doc < doc_id THEN 1 END) AS BIGINT)
             AS n_seen_before,
           CAST((count(*) - count(CASE WHEN first_doc < doc_id THEN 1 END))
                * 1000000 // count(*) AS BIGINT) AS novelty_ppm
    FROM grams JOIN firsts USING (g)
    GROUP BY doc_id ORDER BY doc_id
    """,
)
def gram_novelty_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction of a doc's distinct word
    3-grams whose FIRST corpus occurrence (min doc_id) is not an earlier
    document. The incremental-dedup signal — a doc that is mostly
    grams already contributed by earlier docs adds little to a training
    corpus even if no single near-duplicate exists.

    Scale: gram explosion is linear in tokens and immediately distinct-
    collapsed per (doc_id, gram); the first-occurrence table is a
    partial-aggregated min keyed on gram (the standard inverted-index
    shuffle); the rejoin is gram-keyed equi-join followed by a doc_id
    count. Shares are exact BIGINT floor division — no floats at all."""
    docs = load_table(spark, sf_dir, "documents")
    ws = F.split(F.lower(F.col("text")), " ", -1)
    base = docs.select("doc_id", ws.alias("ws"), F.size(ws).alias("nw"))
    g = F.expr(
        "transform(sequence(1, nw - 2),"
        " i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1),"
        " ' ', element_at(ws, i + 2)))"
    )
    # r15 (guide §2.4): the per-doc gram dedup is LOCAL to each document
    # (doc_id is in the distinct key), so it runs in-array via
    # array_distinct instead of a full (doc_id, gram) distinct exchange;
    # and the first-occurrence min becomes a window over the same
    # gram-keyed clustering the old groupBy+rejoin needed, so the whole
    # gram stream is built, exploded and shuffled ONCE (the old plan
    # planned the scan→split→explode subtree twice: once into the
    # first-doc aggregate and once into the broadcast-join probe side).
    # explode_outer + post-filter per the InferFiltersFromGenerate
    # lesson (dedup.py): the array is provably non-empty (nw >= 3) and
    # its elements non-null, so OUTER only suppresses the inferred
    # size()>0 scan filter that would re-evaluate the gram transform.
    grams = (
        base.filter(F.col("nw") >= 3)
        .select("doc_id", F.explode_outer(F.array_distinct(g)).alias("g"))
        .filter(F.col("g").isNotNull())
    )
    first_doc = F.min("doc_id").over(Window.partitionBy("g"))
    per_doc = (
        grams.withColumn("first_doc", first_doc)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count(F.when(F.col("first_doc") < F.col("doc_id"), 1)).alias(
                "n_seen_before"
            ),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_grams",
        "n_seen_before",
        F.expr("(n_grams - n_seen_before) * 1000000 div n_grams")
        .cast("bigint")
        .alias("novelty_ppm"),
    ).orderBy("doc_id")


@register(
    "tokenizer_fertility",
    r"""
    WITH t AS (
      SELECT lang,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS BIGINT)
               AS n_bpe,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws
      FROM documents WHERE length(text) > 0
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(n_bpe) AS BIGINT) AS total_bpe_tokens,
           CAST(sum(n_chars) AS DOUBLE) / sum(n_bpe) AS chars_per_token,
           CAST(sum(n_bpe) AS DOUBLE) / sum(n_ws) AS fertility
    FROM t GROUP BY lang ORDER BY lang
    """,
)
def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: BPE-ish tokens per whitespace
    word and chars per token — the budget-planning numbers (a language
    with fertility 2.3 costs 2.3× the context window of one at 1.0 for
    the same words). Ratios are single IEEE divisions of exact BIGINT
    sums.

    Scale: scan-stage token counting (codegen'd regex), one partial-
    aggregated shuffle to ≤|langs| rows."""
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    t = docs.select(
        "lang",
        F.length("text").cast("bigint").alias("n_chars"),
        F.size(F.regexp_extract_all("text", F.lit(TOKEN_PATTERN), 0))
        .cast("bigint")
        .alias("n_bpe"),
        F.size(F.split("text", " ", -1)).cast("bigint").alias("n_ws"),
    )
    return (
        t.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum("n_bpe").alias("total_bpe_tokens"),
            (F.sum("n_chars").cast("double") / F.sum("n_bpe")).alias(
                "chars_per_token"
            ),
            (F.sum("n_bpe").cast("double") / F.sum("n_ws")).alias("fertility"),
        )
        .orderBy("lang")
    )


@register(
    "doclen_log2_histogram",
    """
    WITH b AS (
      SELECT CAST(len(bin(n_chars)) - 1 AS BIGINT) AS log2_bucket,
             n_chars
      FROM documents WHERE n_chars > 0
    )
    SELECT log2_bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars,
           CAST(sum(CAST(n_chars AS DECIMAL(18,0))) AS BIGINT) AS total_chars
    FROM b GROUP BY log2_bucket ORDER BY log2_bucket
    """,
)
def doclen_log2_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed document-length histogram — the long-tail profile
    (each bucket doubles: 2^k ≤ len < 2^(k+1)) used to size chunking,
    packing, and skew expectations. The bucket index is INTEGER log2 via
    the binary-string length (len(bin(n)) − 1) — both engines implement
    bin() identically, whereas floor(log2(n)) rides on libm and can
    straddle a ULP at exact powers of two.

    Scale: scan-stage expression + one partial-aggregated shuffle to
    ≤64 rows."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    b = docs.select(
        F.expr("CAST(length(bin(n_chars)) - 1 AS BIGINT)").alias("log2_bucket"),
        "n_chars",
    )
    return (
        b.groupBy("log2_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").cast("bigint").alias("min_chars"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
            F.sum(F.col("n_chars").cast("decimal(18,0)")).cast("bigint").alias(
                "total_chars"
            ),
        )
        .orderBy("log2_bucket")
    )


@register(
    "unigram_freq_score",
    r"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w
      FROM documents WHERE length(text) > 0
    ),
    vocab AS (
      SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY w
    ),
    total AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM vocab
    ),
    ppm AS (
      SELECT w, CAST(cnt * 1000000 // n_total AS BIGINT) AS w_ppm
      FROM vocab, total
    ),
    scored AS (
      SELECT t.doc_id,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(p.w_ppm) AS BIGINT) AS sum_ppm
      FROM tok t JOIN ppm p ON t.w = p.w
      GROUP BY t.doc_id
    )
    SELECT doc_id, n_tokens,
           CAST(sum_ppm // n_tokens AS BIGINT) AS mean_token_ppm,
           CASE WHEN sum_ppm // n_tokens >= 20000 THEN 'common'
                WHEN sum_ppm // n_tokens >= 5000 THEN 'mid'
                ELSE 'rare' END AS rarity_band
    FROM scored
    """,
)
def unigram_freq_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style unigram-LM quality proxy: score each document by the
    mean corpus frequency (in ppm) of its tokens — rare-token-heavy docs
    are the usual garbage/OCR/boilerplate candidates, common-token docs
    the fluent ones. Pure integer arithmetic (ppm floors) instead of
    log-prob so both engines agree bit-for-bit without libm.

    Plan: one token explode feeding (a) a word-keyed partial-aggregated
    count shuffle (the vocab) and (b) a word-keyed equi-join back to the
    occurrences, then a doc-keyed re-aggregate. All shuffles are keyed,
    fanout linear in corpus tokens; the corpus-total is a 1-row
    broadcast. At 100 TB the vocab join is the standard inverted-index
    shape used by tfidf/contamination — no skew beyond natural Zipf head
    (absorbed by partial aggregation before the shuffle).
    """
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    tok = docs.select("doc_id", F.explode(F.split("text", " ", -1)).alias("w"))
    # Pre-aggregate to (doc, word) counts FIRST: the occurrence stream is
    # Zipf-skewed on w ("the" floods one reducer), but (doc_id, w) is
    # near-uniform; the vocab then DERIVES from doc_words (sum of per-doc
    # counts), so the token explode runs exactly once — doc_words is
    # persisted across its two consumers (vocab build + ppm rejoin).
    # Residual per-word skew on the rejoin is AQE skew-join territory.
    doc_words = tok.groupBy("doc_id", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    ).persist()
    vocab = doc_words.groupBy("w").agg(F.sum("c").cast("bigint").alias("cnt"))
    total = vocab.agg(F.sum("cnt").cast("bigint").alias("n_total"))
    ppm = vocab.crossJoin(F.broadcast(total)).select(
        "w",
        F.expr("CAST(cnt * 1000000 div n_total AS BIGINT)").alias("w_ppm"),
    )
    scored = (
        doc_words.join(ppm, "w")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.sum(F.col("c") * F.col("w_ppm")).cast("bigint").alias("sum_ppm"),
        )
    )
    mean_ppm = F.expr("CAST(sum_ppm div n_tokens AS BIGINT)")
    return scored.select(
        "doc_id",
        "n_tokens",
        mean_ppm.alias("mean_token_ppm"),
        F.when(mean_ppm >= 20000, F.lit("common"))
        .when(mean_ppm >= 5000, F.lit("mid"))
        .otherwise(F.lit("rare"))
        .alias("rarity_band"),
    )


_COVERAGE_CUTOFFS = (100, 1000, 10000)


@register(
    "vocab_coverage_curve",
    f"""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS w
      FROM documents WHERE length(text) > 0
    ),
    vocab AS (
      SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY w
    ),
    ranked AS (
      SELECT cnt, row_number() OVER (ORDER BY cnt DESC, w) AS rnk FROM vocab
    ),
    total AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total,
                     CAST(count(*) AS BIGINT) AS n_vocab FROM vocab)
    SELECT c.cutoff,
           CAST(sum(CASE WHEN r.rnk <= c.cutoff THEN r.cnt ELSE 0 END) AS BIGINT)
             AS covered_tokens,
           max(t.n_total) AS total_tokens,
           CAST(sum(CASE WHEN r.rnk <= c.cutoff THEN r.cnt ELSE 0 END) * 1000000
                // max(t.n_total) AS BIGINT) AS coverage_ppm,
           max(t.n_vocab) AS vocab_size
    FROM ranked r, total t, UNNEST([{", ".join(str(c) for c in _COVERAGE_CUTOFFS)}]) AS c(cutoff)
    GROUP BY c.cutoff ORDER BY c.cutoff
    """,
)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve — what share of all token occurrences
    the top-N most frequent words cover, at N = {cutoffs}. THE sizing
    input for tokenizer vocab budgets and OOV expectations (Zipf means
    the curve saturates fast; a corpus where it doesn't is noisy).

    Plan: one word-count shuffle (partial-aggregated), then TakeOrdered
    of the top max(N) vocab rows to the driver-side of a broadcast —
    NEVER a global sort of the full vocab: the ranked prefix we need is
    bounded by the largest cutoff ({maxn} rows) regardless of corpus
    size, and coverage sums come from one more pass over the bounded
    prefix plus the corpus-total 1-row aggregate. Output |cutoffs| rows."""
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    tok = docs.select(F.explode(F.split("text", " ", -1)).alias("w"))
    vocab = tok.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    ).persist()  # consumed by the total aggregate AND the top-N prefix
    total = vocab.agg(
        F.sum("cnt").cast("bigint").alias("n_total"),
        F.count(F.lit(1)).cast("bigint").alias("n_vocab"),
    )
    maxn = max(_COVERAGE_CUTOFFS)
    # TakeOrdered top-maxn prefix: bounded rows, no full-vocab sort.
    prefix = (
        vocab.orderBy(F.desc("cnt"), "w")
        .limit(maxn)
        .withColumn(
            "rnk", F.row_number().over(Window.orderBy(F.desc("cnt"), "w"))
        )
    )
    cutoffs = F.explode(
        F.array(*[F.lit(c) for c in _COVERAGE_CUTOFFS])
    ).alias("cutoff")
    return (
        prefix.crossJoin(F.broadcast(total))
        .select("rnk", "cnt", "n_total", "n_vocab", cutoffs)
        .groupBy("cutoff")
        .agg(
            F.sum(
                F.when(F.col("rnk") <= F.col("cutoff"), F.col("cnt")).otherwise(0)
            ).cast("bigint").alias("covered_tokens"),
            F.max("n_total").alias("total_tokens"),
            F.expr(
                "CAST(sum(CASE WHEN rnk <= cutoff THEN cnt ELSE 0 END) * 1000000 "
                "div max(n_total) AS BIGINT)"
            ).alias("coverage_ppm"),
            F.max("n_vocab").alias("vocab_size"),
        )
        .orderBy("cutoff")
    )


vocab_coverage_curve.__doc__ = vocab_coverage_curve.__doc__.format(
    cutoffs=_COVERAGE_CUTOFFS, maxn=max(_COVERAGE_CUTOFFS)
)


@register(
    "source_distinctive_terms",
    """
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS w
      FROM documents WHERE length(text) > 0
    ),
    sw AS (
      SELECT source, w, CAST(count(*) AS BIGINT) AS c
      FROM tok GROUP BY source, w
    ),
    wt AS (
      SELECT w, CAST(sum(c) AS BIGINT) AS c_total FROM sw GROUP BY w
    ),
    st AS (
      SELECT source, CAST(sum(c) AS BIGINT) AS n_source FROM sw GROUP BY source
    ),
    g AS (SELECT CAST(sum(c_total) AS BIGINT) AS n_global FROM wt),
    scored AS (
      SELECT sw.source, sw.w, sw.c,
             CAST(sw.c * 1000000 // st.n_source AS BIGINT) AS rate_src_ppm,
             CAST(wt.c_total * 1000000 // g.n_global AS BIGINT) AS rate_global_ppm
      FROM sw
      JOIN wt ON sw.w = wt.w
      JOIN st ON sw.source = st.source
      CROSS JOIN g
      WHERE sw.c >= 3
    )
    SELECT source, w, c, rate_src_ppm, rate_global_ppm FROM (
      SELECT *, row_number() OVER (
               PARTITION BY source
               ORDER BY rate_src_ppm * 1000000 // greatest(rate_global_ppm, 1) DESC,
                        c DESC, w) AS rnk
      FROM scored
    ) WHERE rnk <= 3
    ORDER BY source, rate_src_ppm * 1000000 // greatest(rate_global_ppm, 1) DESC,
             c DESC, w
    """,
)
def source_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyness analysis: each source's top-3 over-represented words
    (source rate vs corpus rate, exact integer ppm ratio ordering with
    deterministic tie-breaks, min count 3) — the detector for
    source-specific boilerplate ('subscribe', 'cookie', a sister site's
    name) that should enter the stopword/cleaning rules before training.

    Plan: one (source, word) partial-aggregated shuffle; the global word
    table derives from it (no second explode — same trick as
    unigram_freq_score); a word-keyed join (Zipf head absorbed by the
    pre-agg, residual to AQE skew-join), WindowGroupLimit rank ≤ 3 per
    source. Output ≤ 3·|sources| rows."""
    from dbtransfer_spark.queries import broadcast_if_small

    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    tok = docs.select("source", F.explode(F.split("text", " ", -1)).alias("w"))
    sw = tok.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    ).persist()
    wt = sw.groupBy("w").agg(F.sum("c").cast("bigint").alias("c_total"))
    st = sw.groupBy("source").agg(F.sum("c").cast("bigint").alias("n_source"))
    g = wt.agg(F.sum("c_total").cast("bigint").alias("n_global"))
    scored = (
        sw.filter(F.col("c") >= 3)
        .join(wt, "w")
        .join(broadcast_if_small(st), "source")
        .crossJoin(F.broadcast(g))
        .select(
            "source",
            "w",
            "c",
            F.expr("CAST(c * 1000000 div n_source AS BIGINT)").alias("rate_src_ppm"),
            F.expr("CAST(c_total * 1000000 div n_global AS BIGINT)").alias(
                "rate_global_ppm"
            ),
        )
    )
    keyness = F.expr("rate_src_ppm * 1000000 div greatest(rate_global_ppm, 1)")
    w_rank = Window.partitionBy("source").orderBy(
        keyness.desc(), F.desc("c"), "w"
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w_rank))
        .filter(F.col("rnk") <= 3)
        .select("source", "w", "c", "rate_src_ppm", "rate_global_ppm")
        .orderBy("source", keyness.desc(), F.desc("c"), "w")
    )


@register(
    "docsim_term_overlap_topk",
    """
    WITH toks AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents
      WHERE doc_id % 7 = 0
    ), tf AS (
      SELECT doc_id, tok, 1 AS tf FROM toks WHERE tok <> ''
    ), df AS (
      SELECT tok, count(*) AS df FROM tf GROUP BY tok
    ), kept AS (
      SELECT tf.doc_id, tf.tok FROM tf JOIN df USING (tok)
      WHERE df.df <= 100
    ), pair_dot AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             count(*) AS overlap
      FROM kept a JOIN kept b
        ON a.tok = b.tok AND a.doc_id <> b.doc_id
      GROUP BY doc_a, doc_b
    ), ranked AS (
      SELECT doc_a, doc_b, overlap,
             row_number() OVER (PARTITION BY doc_a
                                ORDER BY overlap DESC, doc_b) AS rk
      FROM pair_dot
    )
    SELECT CAST(doc_a AS BIGINT) AS doc_a,
           CAST(doc_b AS BIGINT) AS doc_b,
           CAST(overlap AS BIGINT) AS overlap,
           CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 3
    ORDER BY doc_a, rk
    """,
)
def docsim_term_overlap_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-to-document similarity search over an inverted index:
    for each probe document (a deterministic 1-in-7 slice), the top-3
    most term-overlapping other probe documents — the related-document
    / semantic-dedup-candidate primitive, scored with an EXACT integer
    dot product over distinct-term vectors (floats never enter, so both
    engines agree bit-for-bit).

    Scale shape: the pair generation is the inverted-index self-join —
    cost Σ df(term)² — with the same hot-term cap as
    ngram_jaccard_pairs (df ≤ 100 drops stopword buckets; recall on
    pairs overlapping ONLY in stopwords is the accepted trade — and at
    production scale the cap is a FRACTION of |docs|, not this
    declared-query literal, or growth strips everything). The
    per-probe ranking is a doc-partitioned top-k window, never a global
    sort. BM25 (bm25_rank) scores docs against a QUERY; this is the
    doc×doc counterpart an embedding-free related-items pass uses."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 7 == 0
    )
    toks = (
        docs.select(
            "doc_id", F.explode(F.split("text", " ", -1)).alias("tok")
        )
        .filter(F.col("tok") != "")
        .distinct()
    )
    df = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    kept = toks.join(df.filter(F.col("df") <= 100), "tok").select(
        "doc_id", "tok"
    )
    a = kept.select(F.col("doc_id").alias("doc_a"), "tok")
    b = kept.select(F.col("doc_id").alias("doc_b"), "tok")
    pair_dot = (
        a.join(b, "tok")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("overlap"))
    )
    w = Window.partitionBy("doc_a").orderBy(F.desc("overlap"), "doc_b")
    return (
        pair_dot.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            F.col("doc_a").cast("bigint").alias("doc_a"),
            F.col("doc_b").cast("bigint").alias("doc_b"),
            "overlap",
            F.col("rk").cast("bigint").alias("rk"),
        )
        .orderBy("doc_a", "rk")
    )


@register(
    "kn_continuation_counts",
    """
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
    ), bg AS (
      SELECT ws[i] AS w1, ws[i + 1] AS w2
      FROM toks, unnest(generate_series(1, len(ws) - 1)) AS t(i)
      WHERE ws[i] <> '' AND ws[i + 1] <> ''
    ), pairs AS (
      SELECT DISTINCT w1, w2 FROM bg
    ), left_cont AS (
      SELECT w2 AS word, CAST(count(*) AS BIGINT) AS n1p_left
      FROM pairs GROUP BY w2
    ), right_cont AS (
      SELECT w1 AS word, CAST(count(*) AS BIGINT) AS n1p_right
      FROM pairs GROUP BY w1
    ), uni AS (
      SELECT w1 AS word, CAST(count(*) AS BIGINT) AS n_uni
      FROM bg GROUP BY w1
    )
    SELECT l.word, coalesce(u.n_uni, 0) AS n_uni, l.n1p_left,
           coalesce(r.n1p_right, 0) AS n1p_right
    FROM left_cont l
    LEFT JOIN right_cont r ON l.word = r.word
    LEFT JOIN uni u ON l.word = u.word
    ORDER BY l.n1p_left DESC, l.word LIMIT 20
    """,
)
def kn_continuation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser-Ney smoothing ingredients — the counts a KN-smoothed n-gram
    LM (the classic data-quality scorer: perplexity filters in CCNet /
    RedPajama ride on one) is estimated from: for each word, the DISTINCT
    left-context count N1+(•w) (how many different words precede it — KN's
    replacement for raw frequency, which over-weights words frequent only
    inside one collocation), the distinct right-continuation N1+(w•), and
    the raw unigram count for contrast. Emitted exact (no discounting
    division), top-20 by N1+(•w) — the table a trainer joins against;
    complements bigram_pmi_top (collocations) and unigram_freq_score
    (the un-smoothed LM).

    Plan: adjacent-pair explode (linear), DISTINCT pair aggregate
    (partial-aggregated shuffle on the bigram), then three word-keyed
    pre-aggregated frames join word-to-word (no fact-sized join); the
    global top-20 is TakeOrdered. Same shuffle skeleton as
    bigram_pmi_top — linear at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(F.split(F.lower("text"), " ", -1).alias("ws"))
    bg = (
        words.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ws) - 1),"
                    " i -> struct(ws[i-1] AS w1, ws[i] AS w2))"
                )
            ).alias("bg")
        )
        .select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
    )
    pairs = bg.distinct()
    left_cont = pairs.groupBy(F.col("w2").alias("word")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n1p_left")
    )
    right_cont = pairs.groupBy(F.col("w1").alias("word")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n1p_right")
    )
    uni = bg.groupBy(F.col("w1").alias("word")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_uni")
    )
    return (
        left_cont.join(right_cont, "word", "left")
        .join(uni, "word", "left")
        .select(
            "word",
            F.coalesce(F.col("n_uni"), F.lit(0)).cast("bigint").alias("n_uni"),
            "n1p_left",
            F.coalesce(F.col("n1p_right"), F.lit(0))
            .cast("bigint")
            .alias("n1p_right"),
        )
        .orderBy(F.desc("n1p_left"), "word")
        .limit(20)
    )


def _mask_hash(engine: str, parts_sql: str, mod: int) -> str:
    """Engine-specific md5→BIGINT hash of a concatenated key, mod ``mod``
    (the cross-engine deterministic-randomness idiom: md5 hex prefix to
    int, same as the bloom/bootstrap families)."""
    if engine == "duck":
        return f"(CAST(('0x' || substr(md5({parts_sql}), 1, 15)) AS BIGINT) % {mod})"
    return f"(CAST(conv(substring(md5({parts_sql}), 1, 15), 16, 10) AS BIGINT) % {mod})"


@register(
    "span_corruption_masks",
    f"""
    WITH toks AS (
      SELECT doc_id, len(string_split(lower(text), ' ')) AS n FROM documents
    ), pos AS (
      SELECT doc_id, CAST(i AS BIGINT) AS i, (i - 1) // 7 AS blk
      FROM toks, UNNEST(range(1, n + 1)) AS t(i)
    ), h AS (
      SELECT doc_id, i, blk,
             {_mask_hash("duck", "CAST(doc_id AS VARCHAR) || '#c#' || CAST(blk AS VARCHAR)", 10)} < 4
               AS corrupt,
             1 + {_mask_hash("duck", "CAST(doc_id AS VARCHAR) || '#l#' || CAST(blk AS VARCHAR)", 3)}
               AS span_len
      FROM pos
    ), m AS (
      SELECT doc_id, i, blk,
             corrupt AND ((i - 1) % 7) BETWEEN
               {_mask_hash("duck", "CAST(doc_id AS VARCHAR) || '#o#' || CAST(blk AS VARCHAR)", 8)} % (8 - span_len)
               AND {_mask_hash("duck", "CAST(doc_id AS VARCHAR) || '#o#' || CAST(blk AS VARCHAR)", 8)} % (8 - span_len) + span_len - 1
               AS masked
      FROM h
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(DISTINCT CASE WHEN masked THEN blk END) AS BIGINT)
             AS n_spans,
           CAST(sum(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
           CAST(sum(CASE WHEN masked THEN 1 ELSE 0 END) * 1000000 // count(*)
                AS BIGINT) AS masked_ppm,
           CAST(coalesce(sum(CASE WHEN masked THEN
                {_mask_hash("duck", "CAST(doc_id AS VARCHAR) || '#m#' || CAST(i AS VARCHAR)", 1000000000)}
                END), 0) AS BIGINT) AS mask_checksum
    FROM m GROUP BY doc_id ORDER BY doc_id
    """,
)
def span_corruption_masks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption PLAN (Raffel et al. 2020 §3.1.4's
    denoising objective, as the data-prep operator): for each document,
    deterministically select non-overlapping corruption spans — token
    positions are tiled into 7-token blocks; an md5 coin corrupts ~40%
    of blocks; a corrupted block masks a 1–3-token span at a hashed
    offset (non-overlap by construction, since a span never leaves its
    block). Emits per doc the span count, masked-token count/share
    (≈12% by construction: 40% of blocks × mean span 2 of 7 — the T5 corruption-rate ballpark), and an order-independent
    checksum over the masked positions so a downstream
    sentinel-replacement writer can verify it applied the identical
    plan. All "randomness" is the md5-prefix idiom — bit-identical in
    any engine, replayable forever (the property real pretraining preps
    need for resumable runs).

    Scale: one BLOCK explode (linear in corpus tokens / 7 — r14, guide
    §1.2 per-task work: the coin/length/offset hashes depend only on
    (doc_id, block), so the old per-POSITION explode recomputed each of
    them 7× and hashed every position's mask key even though ~88% of
    positions are never masked; the block form computes the three block
    hashes once per block, derives the masked count arithmetically from
    the span bounds, and evaluates the per-position mask hash ONLY for
    the masked positions, in-array per corrupted block), no joins, one
    doc-keyed rollup over 7× fewer rows. The per-doc outputs are
    position-exact by construction: a block's masked positions are the
    contiguous run (i-1)%7 ∈ [start, start+span_len-1] clipped to the
    tokens the block actually has. The plan is recomputable from
    (doc_id, position) alone — no stored mask state."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.size(F.split(F.lower("text"), " ", -1)).cast("bigint").alias("n")
    )
    blocks = toks.select(
        "doc_id",
        "n",
        F.explode(F.expr("sequence(CAST(0 AS BIGINT), (n - 1) div 7)")).alias(
            "blk"
        ),
    )
    hc = _mask_hash(
        "spark", "concat(CAST(doc_id AS STRING), '#c#', CAST(blk AS STRING))", 10
    )
    hl = _mask_hash(
        "spark", "concat(CAST(doc_id AS STRING), '#l#', CAST(blk AS STRING))", 3
    )
    ho = _mask_hash(
        "spark", "concat(CAST(doc_id AS STRING), '#o#', CAST(blk AS STRING))", 8
    )
    hm_i = _mask_hash(
        "spark",
        "concat(CAST(doc_id AS STRING), '#m#', CAST(i AS STRING))",
        1000000000,
    )
    b = (
        blocks.withColumn("span_len", F.expr(f"1 + {hl}"))
        .withColumn("start", F.expr(f"{ho} % (8 - span_len)"))
        .withColumn("rem", F.expr("least(CAST(7 AS BIGINT), n - blk * 7)"))
        .withColumn(
            "cnt",
            F.expr(
                f"CASE WHEN {hc} < 4 THEN"
                " greatest(CAST(0 AS BIGINT),"
                " least(start + span_len, rem) - start)"
                " ELSE CAST(0 AS BIGINT) END"
            ),
        )
        .withColumn(
            "chk",
            F.expr(
                "CASE WHEN cnt > 0 THEN aggregate("
                "  sequence(blk * 7 + start + 1,"
                "           blk * 7 + least(start + span_len, rem)),"
                f"  CAST(0 AS BIGINT), (acc, i) -> acc + {hm_i})"
                " ELSE CAST(0 AS BIGINT) END"
            ),
        )
    )
    return (
        b.groupBy("doc_id")
        .agg(
            F.max("n").cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("cnt") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_spans"),
            F.sum("cnt").cast("bigint").alias("n_masked"),
            F.expr(
                "CAST(sum(cnt) * 1000000 div max(n) AS BIGINT)"
            ).alias("masked_ppm"),
            F.expr("CAST(coalesce(sum(chk), 0) AS BIGINT)").alias(
                "mask_checksum"
            ),
        )
        .orderBy("doc_id")
    )


@register(
    "token_id_encode_checksum",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
    ), tok AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos, ws[i] AS token
      FROM toks, UNNEST(range(1, len(ws) + 1)) AS t(i)
      WHERE ws[i] <> ''
    ), counts AS (
      SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY token
    ), vocab AS (
      SELECT token,
             CAST(row_number() OVER (ORDER BY cnt DESC, token) - 1 AS BIGINT)
               AS id
      FROM counts
      QUALIFY row_number() OVER (ORDER BY cnt DESC, token) <= 256
    ), enc AS (
      SELECT t.doc_id, t.pos,
             coalesce(v.id,
                      256 + {_mask_hash("duck", "t.token", 64)}) AS id
      FROM tok t LEFT JOIN vocab v ON t.token = v.token
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN id >= 256 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           CAST(sum(CASE WHEN id >= 256 THEN 1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT) AS oov_ppm,
           CAST(sum(pos * (id + 1)) AS BIGINT) AS ids_checksum
    FROM enc GROUP BY doc_id ORDER BY doc_id
    """,
)
def token_id_encode_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize-at-scale audit: encode every document against a
    corpus-derived 256-entry vocabulary (ids by frequency rank,
    deterministic tie-break) with hashed OOV buckets (ids 256–319, the
    fastText/feature-hashing trick that keeps the encoder total — no
    token unrepresentable), and emit a position-weighted checksum of the
    id sequence per document (Σ pos·(id+1), exact BIGINT — order
    SENSITIVE, so a shuffled or truncated encode changes it). This is
    the verification artifact a distributed tokenization run ships with
    its output shards so a consumer can detect drift between tokenizer
    versions without re-reading the text; complements
    tokenizer_fertility (how well a vocab covers) and oov_rate (how
    often it misses) with the per-document id-stream identity.

    Scale: token explode (linear), one token-keyed count shuffle, the
    vocab is a 256-row TakeOrdered + bounded row_number (never a global
    window over data); the encode join is fact ⋈ 256-row broadcast.
    One doc-keyed rollup."""
    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.select(
            "doc_id",
            F.posexplode(F.split(F.lower("text"), " ", -1)).alias("p", "token"),
        )
        .filter(F.col("token") != "")
        .select("doc_id", (F.col("p") + 1).cast("bigint").alias("pos"), "token")
    )
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    vocab = (
        counts.orderBy(F.desc("cnt"), "token")
        .limit(256)
        .withColumn(
            "id",
            (F.row_number().over(Window.orderBy(F.desc("cnt"), "token")) - 1)
            .cast("bigint"),
        )
        .select("token", "id")
    )
    h_oov = _mask_hash("spark", "token", 64)
    enc = tok.join(F.broadcast(vocab), "token", "left").select(
        "doc_id",
        "pos",
        F.expr(f"coalesce(id, 256 + {h_oov})").alias("id"),
    )
    return (
        enc.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("id") >= 256, 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
            F.expr(
                "CAST(sum(CASE WHEN id >= 256 THEN 1 ELSE 0 END) * 1000000"
                " div count(*) AS BIGINT)"
            ).alias("oov_ppm"),
            F.sum(F.col("pos") * (F.col("id") + 1))
            .cast("bigint")
            .alias("ids_checksum"),
        )
        .orderBy("doc_id")
    )


@register(
    "rrf_fusion_topk",
    """
    WITH feat AS (
      SELECT doc_id, source,
             CAST(length(text) AS BIGINT) AS n_chars_calc,
             CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
               AS n_distinct_tokens
      FROM documents WHERE length(text) > 0
    ),
    ranked AS (
      SELECT doc_id, source, n_chars_calc, n_distinct_tokens,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars_calc DESC, doc_id) AS r_len,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_distinct_tokens DESC, doc_id)
               AS r_vocab
      FROM feat
    ),
    fused AS (
      SELECT *,
             CAST(1000000000000 // (60 + r_len)
                + 1000000000000 // (60 + r_vocab) AS BIGINT) AS rrf_e12
      FROM ranked
    )
    SELECT source, doc_id,
           CAST(r_len AS BIGINT) AS r_len,
           CAST(r_vocab AS BIGINT) AS r_vocab,
           rrf_e12,
           CAST(fused_rank AS BIGINT) AS fused_rank
    FROM (
      SELECT *, row_number() OVER (PARTITION BY source
                                   ORDER BY rrf_e12 DESC, doc_id) AS fused_rank
      FROM fused
    ) WHERE fused_rank <= 10
    ORDER BY source, fused_rank
    """,
)
def rrf_fusion_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al., SIGIR'09 — the hybrid-
    retrieval combiner): fuse two per-source document rankings (by
    length and by distinct-token vocabulary — stand-ins for the lexical
    and dense scores a retrieval stack fuses) into one top-10 via
    RRF(d) = Σ 1/(k + rank_i(d)), k = 60. The same operator fuses BM25
    with embedding ANN lists in a production RAG pipeline; only the
    input rankings change.

    Exactness: RRF terms are scaled-integer 10^12 // (60 + r) — the sum
    is BIGINT, so fusion order cannot produce float drift and the fused
    rank has a deterministic doc-id tie-break.

    Scale: both input rankings ride ONE (source)-keyed exchange (two
    row_number windows over the same partitioning — Catalyst collapses
    them into one Window node chain, no second shuffle); the fused
    top-10 is a third window on the same key with WindowGroupLimit
    pushing the cut below any sort. Nothing is global: every window is
    partitioned by source."""
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    feat = docs.select(
        "doc_id",
        "source",
        F.length("text").cast("bigint").alias("n_chars_calc"),
        F.size(F.array_distinct(F.split("text", " ", -1)))
        .cast("bigint")
        .alias("n_distinct_tokens"),
    )
    w_len = Window.partitionBy("source").orderBy(F.desc("n_chars_calc"), "doc_id")
    w_voc = Window.partitionBy("source").orderBy(
        F.desc("n_distinct_tokens"), "doc_id"
    )
    fused = (
        feat.withColumn("r_len", F.row_number().over(w_len))
        .withColumn("r_vocab", F.row_number().over(w_voc))
        .withColumn(
            "rrf_e12",
            (
                F.expr("1000000000000 div (60 + r_len)")
                + F.expr("1000000000000 div (60 + r_vocab)")
            ).cast("bigint"),
        )
    )
    w_fused = Window.partitionBy("source").orderBy(F.desc("rrf_e12"), "doc_id")
    return (
        fused.withColumn("fused_rank", F.row_number().over(w_fused))
        .filter(F.col("fused_rank") <= 10)
        .select(
            "source",
            "doc_id",
            F.col("r_len").cast("bigint").alias("r_len"),
            F.col("r_vocab").cast("bigint").alias("r_vocab"),
            "rrf_e12",
            F.col("fused_rank").cast("bigint").alias("fused_rank"),
        )
        .orderBy("source", "fused_rank")
    )


@register(
    "classifier_agreement_kappa",
    """
    WITH labeled AS (
      SELECT (n_chars >= 300) AS a,
             (length(text) - length(replace(text, ' ', '')) + 1 >= 55) AS b
      FROM documents
    ), cm AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(count(*) FILTER (a AND b) AS BIGINT) AS n11,
             CAST(count(*) FILTER (a AND NOT b) AS BIGINT) AS n10,
             CAST(count(*) FILTER (NOT a AND b) AS BIGINT) AS n01,
             CAST(count(*) FILTER (NOT a AND NOT b) AS BIGINT) AS n00
      FROM labeled
    )
    SELECT n, n11, n10, n01, n00,
           CAST(1000000 * (n11 + n00) // n AS BIGINT) AS po_ppm,
           CAST(1000000 * ((n11+n10)*(n11+n01) + (n01+n00)*(n10+n00))
                // (n*n) AS BIGINT) AS pe_ppm,
           CAST(n * (n11 + n00)
                - ((n11+n10)*(n11+n01) + (n01+n00)*(n10+n00)) AS DOUBLE)
             / CAST(n * n
                - ((n11+n10)*(n11+n01) + (n01+n00)*(n10+n00)) AS DOUBLE)
             AS kappa
    FROM cm
    """,
)
def classifier_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two document-quality classifiers — the
    inter-annotator/heuristic-agreement statistic every labeling
    pipeline reports before trusting a cheap filter as a proxy for an
    expensive one. Classifier A flags long docs (n_chars ≥ 300);
    classifier B flags word-rich docs (whitespace word count ≥ 55).
    The 2×2 confusion counts are one conditional-aggregate pass; kappa's
    exact rational form (n·(n11+n00) − Σ row·col marginal products) over
    (n² − Σ marginals) is kept in BIGINT to the last step and the single
    final division is a correctly-rounded double — bit-identical
    cross-engine, with po/pe also reported as floor-ppm integers (both
    nonnegative, so `div` semantics agree).

    Plan: one scan, one partial-aggregated 1-row reduce — the
    moment-sketch shape; at 100 TB this is a map-side-combined
    scan-only job with a 5-value shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    labeled = docs.select(
        (F.col("n_chars") >= 300).alias("a"),
        (
            F.length("text") - F.length(F.regexp_replace("text", " ", "")) + 1 >= 55
        ).alias("b"),
    )
    cm = labeled.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count_if(F.col("a") & F.col("b")).cast("bigint").alias("n11"),
        F.count_if(F.col("a") & ~F.col("b")).cast("bigint").alias("n10"),
        F.count_if(~F.col("a") & F.col("b")).cast("bigint").alias("n01"),
        F.count_if(~F.col("a") & ~F.col("b")).cast("bigint").alias("n00"),
    )
    pe_raw = "((n11+n10)*(n11+n01) + (n01+n00)*(n10+n00))"
    return cm.select(
        "n", "n11", "n10", "n01", "n00",
        F.expr("CAST(1000000 * (n11 + n00) div n AS BIGINT)").alias("po_ppm"),
        F.expr(f"CAST(1000000 * {pe_raw} div (n*n) AS BIGINT)").alias("pe_ppm"),
        F.expr(
            f"CAST(n * (n11 + n00) - {pe_raw} AS DOUBLE)"
            f" / CAST(n * n - {pe_raw} AS DOUBLE)"
        ).alias("kappa"),
    )


@register(
    "retrieval_mrr_eval",
    """
    WITH probes AS (
      SELECT doc_id, source FROM documents
      WHERE doc_id % 7 = 0 AND doc_id < 3500
    ), toks AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents WHERE doc_id % 7 = 0 AND doc_id < 3500
    ), tf AS (
      SELECT doc_id, tok FROM toks WHERE tok <> ''
    ), df AS (
      SELECT tok, count(*) AS df FROM tf GROUP BY tok
    ), kept AS (
      SELECT tf.doc_id, tf.tok FROM tf JOIN df USING (tok) WHERE df.df <= 100
    ), pair_dot AS (
      SELECT a.doc_id AS q, b.doc_id AS cand, count(*) AS overlap
      FROM kept a JOIN kept b ON a.tok = b.tok AND a.doc_id <> b.doc_id
      GROUP BY q, cand
    ), ranked AS (
      SELECT p.q, p.cand, p.overlap,
             row_number() OVER (PARTITION BY p.q
                                ORDER BY p.overlap DESC, p.cand) AS rk,
             (qs.source = cs.source) AS rel
      FROM pair_dot p
      JOIN probes qs ON qs.doc_id = p.q
      JOIN probes cs ON cs.doc_id = p.cand
    )
    SELECT CAST(q AS BIGINT) AS query_doc,
           CAST(min(CASE WHEN rel THEN rk END) AS BIGINT) AS first_rel_rank,
           CAST(coalesce(1000000 // min(CASE WHEN rel THEN rk END), 0)
                AS BIGINT) AS rr_ppm,
           CAST(count(*) FILTER (rel AND rk <= 5) AS BIGINT) AS rel_at5
    FROM ranked GROUP BY q ORDER BY query_doc
    """,
)
def retrieval_mrr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation over the inverted-index related-docs
    ranker (docsim_term_overlap_topk's scorer, evaluated instead of just
    reported): with same-source membership as the relevance label, each
    probe document gets its first-relevant rank, reciprocal rank in
    exact floor-ppm (1e6 // rank — no float MRR drift), and
    precision@5's numerator. Aggregating rr_ppm over probes IS
    mean-reciprocal-rank; keeping per-query rows is how eval dashboards
    drill into which slices the ranker fails. The pattern generalizes
    verbatim to ANN rankers — knn_recall_eval checks overlap against a
    brute-force oracle, this scores against LABELS. The probe panel is
    FIXED-SIZE (doc_id % 7 = 0, id < 3500 — ≤500 docs at any SF): eval
    sets do not grow with the corpus, which also keeps the df≤100
    literal meaningful as the corpus scales (a growing slice would need
    a fractional cap; see docsim_term_overlap_topk's caveat).

    Scale shape: identical candidate discipline to the ranker under
    eval (df-capped inverted-index self-join — Σ df² bounded, never
    all-pairs), one rank window per probe partition, and the label
    joins are equi-joins on doc_id. Exact integers end to end."""
    docs = load_table(spark, sf_dir, "documents").filter(
        (F.col("doc_id") % 7 == 0) & (F.col("doc_id") < 3500)
    )
    probes = docs.select("doc_id", "source").persist()
    toks = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .distinct()
    )
    df = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    kept = toks.join(df.filter(F.col("df") <= 100), "tok").select("doc_id", "tok")
    a = kept.select(F.col("doc_id").alias("q"), "tok")
    b = kept.select(F.col("doc_id").alias("cand"), "tok")
    pair_dot = (
        a.join(b, "tok")
        .filter(F.col("q") != F.col("cand"))
        .groupBy("q", "cand")
        .agg(F.count(F.lit(1)).alias("overlap"))
    )
    qs = probes.select(F.col("doc_id").alias("q"), F.col("source").alias("q_src"))
    cs = probes.select(
        F.col("doc_id").alias("cand"), F.col("source").alias("c_src")
    )
    w = Window.partitionBy("q").orderBy(F.desc("overlap"), "cand")
    ranked = (
        pair_dot.join(qs, "q")
        .join(cs, "cand")
        .withColumn("rk", F.row_number().over(w))
        .withColumn("rel", F.col("q_src") == F.col("c_src"))
    )
    return (
        ranked.groupBy("q")
        .agg(
            F.min(F.when(F.col("rel"), F.col("rk"))).cast("bigint").alias("first_rel_rank"),
            F.coalesce(
                F.expr("1000000 div min(CASE WHEN rel THEN rk END)"), F.lit(0)
            )
            .cast("bigint")
            .alias("rr_ppm"),
            F.count_if(F.col("rel") & (F.col("rk") <= 5)).cast("bigint").alias("rel_at5"),
        )
        .select(F.col("q").alias("query_doc"), "first_rel_rank", "rr_ppm", "rel_at5")
        .orderBy("query_doc")
    )


@register(
    "bpe_iterative_merges",
    """
    WITH wc AS (
      SELECT w, CAST(count(*) AS BIGINT) AS n
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE w <> '' GROUP BY w
    ), p1 AS (
      SELECT pair, CAST(sum(n) AS BIGINT) AS cnt FROM (
        SELECT unnest(list_transform(range(1, length(w)),
                                     i -> substr(w, i, 2))) AS pair, n
        FROM wc WHERE length(w) >= 2
      ) GROUP BY pair
    ), b1 AS (SELECT pair, cnt FROM p1 ORDER BY cnt DESC, pair LIMIT 1),
    wc2 AS (
      SELECT replace(w, (SELECT pair FROM b1), '0') AS w, n FROM wc
    ), p2 AS (
      SELECT pair, CAST(sum(n) AS BIGINT) AS cnt FROM (
        SELECT unnest(list_transform(range(1, length(w)),
                                     i -> substr(w, i, 2))) AS pair, n
        FROM wc2 WHERE length(w) >= 2
      ) GROUP BY pair
    ), b2 AS (SELECT pair, cnt FROM p2 ORDER BY cnt DESC, pair LIMIT 1)
    SELECT CAST(1 AS BIGINT) AS round, pair AS merged_pair,
           cnt AS weighted_count FROM b1
    UNION ALL
    SELECT 2, pair, cnt FROM b2
    ORDER BY round
    """,
)
def bpe_iterative_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two rounds of the BPE tokenizer-training inner loop: count
    adjacent symbol pairs weighted by word frequency, merge the most
    frequent pair corpus-wide (rewritten with a surrogate symbol '0' —
    the corpus is [a-z]+, so the surrogate is collision-free), recount,
    merge again. This is iterative STRING rewriting by plan extension —
    each round is a pair-explode aggregate (narrow 1→len-1 fanout at
    the scan) plus a 1-row argmax broadcast into the rewrite — the same
    no-driver-round-trip discipline as kmeans/markov/pagerank applied
    to the tokenizer-training domain. bpe_merge_candidates ranks round
    1's table; this EXECUTES the merges, which is where the iteration
    subtlety lives (round 2's pairs include the merged symbol, exactly
    BPE's definition). replace() is leftmost non-overlapping in both
    engines (verified: 'aaa' → '0a'), matching BPE's greedy left-scan.

    Scale: pair tables are vocabulary-bounded (≤ |alphabet|² + rounds);
    the word-count table is the standard one-shuffle wordcount. A real
    30k-merge train is O(rounds) of this plan — production trainers
    keep the pair table in memory for exactly the reason this stays
    tiny here."""
    docs = load_table(spark, sf_dir, "documents")
    wc = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )

    def best_pair(words: DataFrame) -> DataFrame:
        pairs = (
            words.filter(F.length("w") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(1, length(w) - 1),"
                        " i -> substring(w, i, 2))"
                    )
                ).alias("pair"),
                "n",
            )
            .groupBy("pair")
            .agg(F.sum("n").cast("bigint").alias("cnt"))
        )
        return pairs.orderBy(F.desc("cnt"), "pair").limit(1)

    b1 = best_pair(wc)
    wc2 = wc.crossJoin(F.broadcast(b1.select(F.col("pair").alias("__p")))).select(
        F.expr("replace(w, __p, '0')").alias("w"), "n"
    )
    b2 = best_pair(wc2)
    one = b1.select(
        F.lit(1).cast("bigint").alias("round"),
        F.col("pair").alias("merged_pair"),
        F.col("cnt").alias("weighted_count"),
    )
    two = b2.select(
        F.lit(2).cast("bigint").alias("round"),
        F.col("pair").alias("merged_pair"),
        F.col("cnt").alias("weighted_count"),
    )
    return one.unionByName(two).orderBy("round")
