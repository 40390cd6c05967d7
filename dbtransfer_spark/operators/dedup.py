"""Deduplication operators (SURVEY.md §2.10): exact, MinHash-LSH, SimHash,
n-gram Jaccard, embedding-cosine near-dup.

Scale design notes (the whole point of these at 100 TB):
- Exact dedup is a deterministic keep-min-key window, NOT
  ``dropDuplicates`` (which keeps an arbitrary row — non-reproducible
  across runs/cluster layouts). One shuffle on the dedup key; with a
  rank-limit pushdown Spark forwards one row per key per partition.
- MinHash/SimHash/n-gram are *candidate generation by banding*: signatures
  are computed per-row (narrow), then pairs are generated only within
  LSH bands/buckets — never an all-pairs product. Shuffle volume is
  O(rows × bands), pair volume is bounded by bucket collisions.
- Embedding near-dup at scale should go through similarity.py's LSH
  variant; the exact-threshold version here is the correctness anchor.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dbtransfer_spark.catalog import load_table
from dbtransfer_spark.operators.iterative import cut_lineage, free_local_checkpoint
from dbtransfer_spark.registry import ORACLE, register
from dbtransfer_spark.textutil import alnum_lower, normalized_text


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, key_cols: list[str], order_col: str) -> DataFrame:
    """Keep exactly one row per key: the one with the smallest
    ``order_col`` (deterministic, unlike dropDuplicates)."""
    w = Window.partitionBy(*key_cols).orderBy(order_col)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


@register(
    "dedup_exact_fingerprint",
    r"""
    SELECT doc_id, lang, source, n_chars
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY md5(trim(regexp_replace(regexp_replace(lower(text),
                        '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')))
        ORDER BY doc_id) AS rn
      FROM documents
    ) WHERE rn = 1
    """,
)
def dedup_exact_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on the normalized-text fingerprint, keeping the lowest
    doc_id per group (hash-groupBy dedup from BASELINE.json)."""
    norm = normalized_text(F.col("text"))  # fast-path twin of the
    # trim(regexp_replace(regexp_replace(lower, '[^a-z0-9 ]', ''), ' +', ' '))
    # oracle spelling (textutil.py: negated-class regex is ~100x slower)
    df = load_table(spark, sf_dir, "documents").withColumn("__fp", F.md5(norm))
    return exact_dedup(df, ["__fp"], "doc_id").select(
        "doc_id", "lang", "source", "n_chars"
    )


@register(
    "dedup_exact_events",
    """
    SELECT user_id, event_type, event_id, ts
    FROM (
      SELECT user_id, event_type, event_id, ts,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def dedup_exact_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-occurrence dedup on a composite key (earliest event per
    (user, type)) — the 'keep first version of each record' primitive of
    incremental sync."""
    df = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("user_id", "event_type", "event_id", "ts")
    )


# ---------------------------------------------------------------------------
# N-gram Jaccard near-dup (SQL-expressible → exact oracle)
# ---------------------------------------------------------------------------


@register(
    "dedup_ngram_jaccard",
    r"""
    WITH shingled AS (
      SELECT doc_id, unnest(list_distinct([
               array_to_string(words[i:i+2], ' ')
               FOR i IN range(1, greatest(len(words) - 2, 0) + 1)
             ])) AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
    ), sizes AS (
      SELECT doc_id, count(*) AS n_sh FROM shingled GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM shingled a JOIN shingled b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           round(CAST(n_common AS DOUBLE)
                 / (sa.n_sh + sb.n_sh - n_common), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.5
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard similarity join, threshold 0.5 (see
    ``ngram_jaccard_pairs``). The declared query runs uncapped so the
    oracle is an exact replay; production corpora set ``max_doc_freq``."""
    df = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(df, "doc_id", "text")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_len: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Inverted-index n-gram Jaccard join: explode distinct shingles,
    self-join on shingle (pairs only where they co-occur), count
    intersections, compute |A∪B| from per-doc shingle counts. No all-pairs
    product; shuffle is bounded by shingle frequency.

    ``max_doc_freq`` is the 100 TB knob: drop shingles appearing in more
    than that many documents (stopword-gram suppression) before the
    self-join, bounding the hottest inverted-index buckets — the join cost
    is Σ df(s)² over shingles s, so one ubiquitous shingle otherwise
    re-creates the quadratic blowup. Union sizes stay pre-cap, so surviving
    pairs get a conservative (under-)estimate of their true Jaccard; pairs
    whose overlap is exclusively hot shingles may be missed (the standard
    recall trade; MinHash below replaces exact counting entirely).

    Uncapped mode collapses EXACT-duplicate texts first (r7, same
    distinct-first discipline as fuzzy_part_linkage): identical texts
    put identical shingle sets in every inverted-index bucket, squaring
    each replica clique inside the Σ df² join — the r7 sf1 sweep timed
    the row-level plan at 34 s on the 10×-replicated fixture vs ~3 s
    collapsed, with identical output (replica pairs expand to exact
    jaccard 1.0; cross pairs reuse the distinct-pair score). The capped
    path stays row-level because ``max_doc_freq`` is defined over row
    document frequency (capped scores are conservative estimates,
    pinned by tests).
    """
    if max_doc_freq is None:
        groups, m, dpairs = _ngram_jaccard_distinct_parts(
            df, id_col, text_col, shingle_len, threshold
        )
        ma = m.select(F.col("__gid").alias("doc_a"), F.col("__rid").alias("__ra"))
        mb = m.select(F.col("__gid").alias("doc_b"), F.col("__rid").alias("__rb"))
        cross = (
            dpairs.join(ma, "doc_a")
            .join(mb, "doc_b")
            .select(
                F.least("__ra", "__rb").alias("doc_a"),
                F.greatest("__ra", "__rb").alias("doc_b"),
                "jaccard",
            )
        )
        selfp = (
            groups.filter(F.col("__n_members") >= 2)
            .select(F.col("__gid").alias("__g"))
            .join(m.select(F.col("__gid").alias("__g"), F.col("__rid").alias("__ra")), "__g")
            .join(m.select(F.col("__gid").alias("__g"), F.col("__rid").alias("__rb")), "__g")
            .filter(F.col("__ra") < F.col("__rb"))
            .select(
                F.col("__ra").alias("doc_a"),
                F.col("__rb").alias("doc_b"),
                F.lit(1.0).alias("jaccard"),
            )
        )
        return cross.unionByName(selfp)
    return _ngram_jaccard_pairs_rowlevel(
        df, id_col, text_col, shingle_len, threshold, max_doc_freq
    )


def _ngram_jaccard_distinct_parts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_len: int = 3,
    threshold: float = 0.5,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The distinct-first front half of the uncapped n-gram Jaccard join,
    shared by the pair expansion and the text-level clustering path:
    ``groups`` (text → __gid = min id, __n_members, persisted), ``m``
    (row id __rid → __gid membership map), ``dpairs`` (distinct-text
    pairs keyed by __gid with exact jaccard ≥ threshold)."""
    groups = (
        df.groupBy(text_col)
        .agg(
            F.min(id_col).alias("__gid"),
            F.count(F.lit(1)).alias("__n_members"),
        )
        .persist()  # distinct pipeline + membership map + self pairs
    )
    distinct_docs = groups.select(F.col("__gid").alias(id_col), F.col(text_col))
    dpairs = _ngram_jaccard_pairs_rowlevel(
        distinct_docs, id_col, text_col, shingle_len, threshold, None
    )
    m = (
        df.select(F.col(id_col), F.col(text_col))
        .join(groups.select(F.col(text_col), F.col("__gid")), text_col)
        .select(F.col(id_col).alias("__rid"), "__gid")
    )
    return groups, m, dpairs


def _ngram_jaccard_pairs_rowlevel(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_len: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    words = F.split(text_col, " ", -1)
    n = F.size(words)
    # Guard: sequence(0, -1) yields [0, -1] (step inferred -1), not empty —
    # a doc shorter than the shingle length would reach slice(words, 0, k),
    # which always errors.
    idx = F.when(n >= shingle_len, F.sequence(F.lit(0), n - shingle_len)).otherwise(
        F.array().cast("array<int>")
    )
    shingled = (
        df.select(
            F.col(id_col),
            F.explode(
                F.array_distinct(
                    F.transform(
                        idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, shingle_len))
                    )
                )
            ).alias("shingle"),
        )
        .filter(F.col("shingle") != "")
    )
    sizes = shingled.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    if max_doc_freq is not None:
        hot = (
            shingled.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_doc_freq)
            .select("shingle")
        )
        # Hot-shingle set is tiny by construction (only ubiquitous grams
        # exceed the cap) — broadcast anti-join strips them scan-side.
        shingled = shingled.join(F.broadcast(hot), "shingle", "left_anti")
    a = shingled.alias("a")
    b = shingled.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("n_common").cast("double") / (
        F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("n_common")
    )
    # sizes scales with the corpus — no pinned broadcast (AQE converts to
    # broadcast at runtime when the aggregated side actually fits).
    return (
        inter.join(sa, F.col("doc_a") == F.col(f"sa.{id_col}"))
        .join(sb, F.col("doc_b") == F.col(f"sb.{id_col}"))
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------

# Largest prime < 2^32; permutation hashes h_i(x) = (a_i*x + b_i) mod p with
# a < 2^30, x < 2^32, so a*x + b < 2^63 — no signed-64 overflow JVM-side.
_PRIME = 4294967291

# Rolling-polynomial coefficients for combining consecutive word hashes
# into a shingle hash (index [:shingle_len]).
_POLY = [8191, 131, 1, 31, 127, 8209, 524287]


def _minhash_coeffs(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    import random

    rnd = random.Random(seed)
    return [
        (rnd.randrange(1, 1 << 30), rnd.randrange(0, 1 << 31)) for _ in range(num_hashes)
    ]


def _word_hash_fast(w) -> Column:
    """xxhash64-based word hash (JVM-native, fastest; engine-specific)."""
    return F.pmod(F.xxhash64(w), F.lit(_PRIME))


def _word_hash_portable(w) -> Column:
    """md5-based word hash, bit-identical in any engine that has md5 —
    first 15 hex digits (60 bits, < 2^63) parsed as an integer, mod PRIME.
    ~2× the cost of xxhash64; used by the oracle-checked declared query."""
    return F.pmod(F.conv(F.substring(F.md5(w), 1, 15), 16, 10).cast("long"), F.lit(_PRIME))


def shingle_arrays(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_len: int = 3,
    portable_hash: bool = False,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Per-doc DISTINCT shingle-hash array (``__shingles``): words →
    per-word hash → rolling-polynomial combination of each
    ``shingle_len``-gram. The shared front half of MinHash signatures and
    exact set-Jaccard (neardup_jaccard_audit).

    Shingle hashing is arithmetic over per-word hashes, NOT
    xxhash64(concat_ws(slice(words, i, k))): hashing each word once and
    combining consecutive word-hashes with a rolling polynomial avoids
    re-materializing every shingle as a string (O(words × shingle_len)
    string copies per doc) — measured 3.2× faster end-to-end at sf0.1.
    Word hashes are mod-reduced below 2^32 first so coefficient products
    stay under 2^63 (ANSI overflow)."""
    words = F.split(F.col(text_col), " ", -1)
    word_hash = _word_hash_portable if portable_hash else _word_hash_fast
    word_hashes = F.transform(words, word_hash)
    # ``carry`` columns ride along unchanged (narrow op, no cost): lets
    # distinct-first callers keep e.g. the clique ``ids`` array attached to
    # the signature frame instead of re-joining the distinct-text frame
    # later (r11: two whole shuffle joins removed from the LSH expansion).
    hashed = df.select(F.col(id_col), *carry, word_hashes.alias("__wh"))
    if shingle_len > len(_POLY):
        raise ValueError("shingle_len > 7 not supported by the rolling-polynomial hash")
    poly = _POLY[:shingle_len]
    shingle_at = lambda i: F.pmod(
        sum(
            (F.element_at("__wh", i + j + 1) * F.lit(c)) if c != 1 else F.element_at("__wh", i + j + 1)
            for j, c in enumerate(poly)
        ),
        F.lit(_PRIME),
    )
    # Guard: sequence(0, -1) is [0, -1] (inferred step -1), not empty; a doc
    # shorter than shingle_len would hit element_at(__wh, 0) (always errors).
    n = F.size("__wh")
    idx = F.when(n >= shingle_len, F.sequence(F.lit(0), n - shingle_len)).otherwise(
        F.array().cast("array<int>")
    )
    shingles = F.array_distinct(F.transform(idx, shingle_at))
    return hashed.select(F.col(id_col), *carry, shingles.alias("__shingles"))


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    shingle_len: int = 3,
    seed: int = 42,
    portable_hash: bool = False,
) -> DataFrame:
    """Per-doc MinHash signature as array<bigint>.

    Shingles → word hash → for each of ``num_hashes`` affine permutations
    keep the min — all inside built-in higher-order functions
    (transform/aggregate), entirely JVM-side, no UDF. Narrow op: scales
    embarrassingly. ``portable_hash`` swaps xxhash64 for an md5-derived
    word hash replayable in other engines (differential testing)."""
    # Materialize the shingle array as its own projection first: the 32
    # permutation aggregates below then iterate one computed array value.
    # Inlined, each aggregate would re-hash the text (HOFs are interpreted,
    # with no common-subexpression elimination across them) — measured >10×
    # slower.
    shingled = shingle_arrays(df, id_col, text_col, shingle_len, portable_hash)
    return signatures_from_shingles(shingled, id_col, num_hashes=num_hashes, seed=seed)


def signatures_from_shingles(
    shingled: DataFrame,
    id_col: str,
    num_hashes: int = 32,
    seed: int = 42,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """MinHash signature from a precomputed ``__shingles`` frame — split
    out so callers that also need the raw shingle sets (the audit query)
    compute them once."""
    coeffs = _minhash_coeffs(num_hashes, seed)
    # One parsed SQL string instead of num_hashes py4j-built aggregates:
    # identical expression tree after parsing (literal 4294967291 parses
    # as BIGINT exactly like F.lit(_PRIME); a/b stay INT literals), so
    # signatures are bit-identical — but plan build drops ~0.5 s/frame
    # (the same fix as similarity.sql_dot; measured on the release
    # pipeline, which builds two signature frames per probe).
    terms = ", ".join(
        f"aggregate(__shingles, CAST({_PRIME} AS BIGINT), "
        f"(acc, x) -> least(acc, (x * {a} + {b}) % {_PRIME}))"
        for a, b in coeffs
    )
    return shingled.selectExpr(id_col, *carry, f"array({terms}) AS minhash")


def minhash_lsh_pairs(
    sigs: DataFrame,
    id_col: str,
    bands: int = 8,
    rows_per_band: int = 4,
    hashed_buckets: bool = False,
) -> DataFrame:
    """LSH banding: split each signature into ``bands`` bands of
    ``rows_per_band`` values; docs sharing any band land in the same bucket
    → candidate pair. Pair generation is a self-join on (band, bucket),
    deduplicated; cost ∝ bucket collision counts, never |docs|². The
    bucket key is the band slice itself (array<bigint> equality —
    cross-engine reproducible, what the DuckDB oracle replays) or, with
    ``hashed_buckets``, a 32-bit murmur hash of it (narrower shuffle key;
    engine-specific, so the production/bench fast path only).

    The band structs are built as ONE parsed SQL string, not ``bands``
    py4j expression trees (r14, guide §5 — same fix as
    signatures_from_shingles): identical expressions after parsing
    (SQL ``hash``/``slice`` ARE ``F.hash``/``F.slice``), less
    driver-side plan-build latency per banded frame."""

    def bucket_sql(i: int) -> str:
        sl = f"slice(minhash, {i * rows_per_band + 1}, {rows_per_band})"
        return f"hash({sl})" if hashed_buckets else sl

    bands_sql = ", ".join(
        f"struct({i} AS band, {bucket_sql(i)} AS bucket)" for i in range(bands)
    )
    banded = sigs.selectExpr(
        id_col, f"explode(array({bands_sql})) AS bb"
    ).select(id_col, "bb.band", "bb.bucket")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def minhash_agreement(mh_a: str, mh_b: str) -> Column:
    """Estimated Jaccard of two signature columns: the fraction of equal
    positions, rounded to 4 places."""
    est = F.size(
        F.filter(F.zip_with(mh_a, mh_b, lambda x, y: x == y), lambda v: v)
    ).cast("double") / F.size(F.col(mh_a))
    return F.round(est, 4)


def minhash_jaccard_estimate(
    sigs: DataFrame,
    pairs: DataFrame,
    id_col: str,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Estimated Jaccard = fraction of equal signature positions.

    ``carry`` columns from ``sigs`` ride through the two estimate joins as
    ``{c}_a`` / ``{c}_b`` — the estimate must join the signature frame on
    both sides anyway, so attaching e.g. the clique ``ids`` array here is
    free, while recovering it later costs two more shuffle joins."""
    sa = sigs.select(
        F.col(id_col).alias("id_a"),
        F.col("minhash").alias("mh_a"),
        *[F.col(c).alias(f"{c}_a") for c in carry],
    )
    sb = sigs.select(
        F.col(id_col).alias("id_b"),
        F.col("minhash").alias("mh_b"),
        *[F.col(c).alias(f"{c}_b") for c in carry],
    )
    carried = [f"{c}_{s}" for c in carry for s in ("a", "b")]
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a", "id_b", minhash_agreement("mh_a", "mh_b").alias("est_jaccard"), *carried
        )
    )


def _minhash_oracle(num_hashes: int = 32, shingle_len: int = 3, seed: int = 42,
                    bands: int = 8, rows_per_band: int = 4) -> str:
    """DuckDB replay of the full MinHash+LSH pipeline with the portable
    (md5-derived) word hash: identical word hashes → identical rolling-poly
    shingles → identical permutation minima → identical band buckets →
    identical candidate pairs and Jaccard estimates."""
    coeffs = _minhash_coeffs(num_hashes, seed)
    coeff_lit = "[" + ",".join(f"[{a},{b}]" for a, b in coeffs) + "]"
    poly = _POLY[:shingle_len]
    shingle_expr = " + ".join(
        f"wh[i+{j+1}]*{c}" if c != 1 else f"wh[i+{j+1}]" for j, c in enumerate(poly)
    )
    return f"""
    WITH wh AS (
      SELECT doc_id,
             list_transform(string_split(text, ' '),
               w -> CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) % {_PRIME}) AS wh
      FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct([({shingle_expr}) % {_PRIME}
                            FOR i IN range(0, greatest(len(wh) - {shingle_len - 1}, 0))]) AS shingles
      FROM wh
    ), sig AS (
      SELECT doc_id,
             list_transform({coeff_lit},
               c -> coalesce(list_min(list_transform(shingles,
                              s -> (s*c[1] + c[2]) % {_PRIME})), {_PRIME})) AS mh
      FROM sh
    ), banded AS (
      SELECT doc_id, band, mh[band*{rows_per_band}+1 : band*{rows_per_band}+{rows_per_band}] AS bucket, mh
      FROM sig CROSS JOIN (SELECT unnest(range(0, {bands})) AS band) bands
    ), pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.mh AS mh_a, b.mh AS mh_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, round(est, 4) AS est_jaccard FROM (
      SELECT doc_a, doc_b,
             list_sum(list_transform(range(1, {num_hashes + 1}),
               i -> CASE WHEN mh_a[i] = mh_b[i] THEN 1 ELSE 0 END)) / {num_hashes}.0 AS est
      FROM pairs
    ) WHERE est >= 0.5
    """


def _minhash_text_candidates(
    docs: DataFrame,
    portable_hash: bool,
    with_shingles: bool = False,
    carry_ids: bool = False,
) -> tuple[DataFrame, DataFrame | None, DataFrame]:
    """Distinct-first MinHash-LSH candidate generation (the blanket
    SCALE.md rule; promoted here by the ×100-replica octave, which
    caught the doc-level band join squaring 100-cliques — 10,000× the
    bucket pairs of the distinct form). Shingles, signatures, banding,
    and the candidate join all run per DISTINCT text, keyed by the
    clique's min doc_id (injective under the doc_id PK — the
    _simhash_impl keying). Returns ``(dt, shingled, cand_est)``:

    - ``dt``: per-distinct-text frame (th = min doc_id, sorted ids) —
      persisted; callers expand doc-level facts from it;
    - ``shingled``: the (th, __shingles) frame when ``with_shingles``
      (persisted), else None;
    - ``cand_est``: (ta, tb, est_jaccard) candidate DISTINCT-text pairs
      from the banded join. Same-text doc pairs are NOT here — identical
      texts have identical signatures (est exactly 1.0, every band
      collides), so callers recover them algebraically from ``dt``.

    With ``carry_ids`` the clique ``ids`` arrays ride through the
    signature frame and the estimate joins (``ids_a`` / ``ids_b`` on
    ``cand_est``), so doc-expansion callers need NO join back to ``dt``
    (r11: this removed two shuffle joins from the LSH bench row; the
    banding self-join itself never sees the carried column).
    """
    carry = ("ids",) if carry_ids else ()
    dt = (
        docs.groupBy("text")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .withColumn("th", F.element_at("ids", 1))
        .persist()
    )
    shingled = shingle_arrays(dt, "th", "text", portable_hash=portable_hash, carry=carry)
    if with_shingles:
        shingled = shingled.persist()
    sigs = signatures_from_shingles(shingled, "th", carry=carry).persist()
    pairs = minhash_lsh_pairs(sigs, "th", hashed_buckets=not portable_hash)
    cand_est = minhash_jaccard_estimate(sigs, pairs, "th", carry=carry).select(
        F.col("id_a").alias("ta"),
        F.col("id_b").alias("tb"),
        "est_jaccard",
        *(["ids_a", "ids_b"] if carry_ids else []),
    )
    return dt, (shingled if with_shingles else None), cand_est


def _clique_doc_pairs(dt: DataFrame, carry: list[str] | None = None) -> DataFrame:
    """All C(m,2) within-clique (doc_a < doc_b) pairs from a distinct-text
    frame, via the zero-join in-array position-pair explode (the
    _simhash_impl recipe: explode_outer + post-filter keeps the pair
    construction out of the scan filter; the strict doc_a < doc_b guard
    drops self-pairs a duplicated doc_id would create). ``carry`` columns
    ride along unchanged."""
    carry = carry or []
    return (
        dt.filter(F.size("ids") >= 2)
        .selectExpr(
            *carry,
            "flatten(transform(sequence(1, size(ids)-1), i ->"
            " transform(slice(ids, i+1, size(ids)-i), y ->"
            " struct(element_at(ids, i) AS doc_a, y AS doc_b)))) AS prs",
        )
        .select(*carry, F.explode_outer("prs").alias("p"))
        .filter("p IS NOT NULL AND p.doc_a < p.doc_b")
        .select(*carry, "p.doc_a", "p.doc_b")
    )


@register("dedup_minhash_lsh", _minhash_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(32 perms) + LSH(8 bands × 4 rows) candidate pairs with
    estimated Jaccard ≥ 0.5 — the scale path for near-dup dedup; the exact
    n-gram query above is its correctness anchor on small data. Uses the
    portable md5 word hash so DuckDB replays the whole pipeline
    bit-for-bit; bench times the xxhash64 fast path via
    dedup_minhash_lsh_fast (identical plan shape, different scalar hash)."""
    return _minhash_lsh_impl(spark, sf_dir, portable_hash=True)


def dedup_minhash_lsh_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xxhash64 variant: the production/bench path (hash quality equal,
    ~2× cheaper word hashing; not cross-engine replayable)."""
    return _minhash_lsh_impl(spark, sf_dir, portable_hash=False)


def _minhash_lsh_impl(spark: SparkSession, sf_dir: str, portable_hash: bool) -> DataFrame:
    """DISTINCT-FIRST (r10, from the ×100 octave: the doc-level band
    join squared replica cliques inside buckets — 80.8 s at ×100;
    signature and band work is now per distinct text). Cross-text pairs
    expand from matching text pairs only; same-text pairs are the
    algebraic C(m,2) expansion with est exactly 1.0 (identical
    signatures agree in all positions). Output contract — the admitted
    doc-pair list — is unchanged and still scales with the dup rate.

    r11 constant fix (r10 VERDICT #4): the clique ``ids`` arrays are
    carried through the estimate joins (``carry_ids``) instead of being
    re-joined from ``dt`` — two fewer shuffle joins; at sf0.1 the r10
    distinct-first form had ~8 exchanges vs the per-doc form's ~5, which
    was the whole 2.15× bench regression (the groupBy(text) itself
    measures 0.3 s and the digest-keyed alternative is SLOWER at this
    SF: 0.44 s plus a join)."""
    df = load_table(spark, sf_dir, "documents")
    dt, _, cand = _minhash_text_candidates(df, portable_hash, carry_ids=True)
    cross = (
        cand.filter(F.col("est_jaccard") >= 0.5)
        .select(F.explode("ids_a").alias("ida"), "ids_b", "est_jaccard")
        .select("ida", F.explode("ids_b").alias("idb"), "est_jaccard")
        .select(
            F.least("ida", "idb").alias("doc_a"),
            F.greatest("ida", "idb").alias("doc_b"),
            "est_jaccard",
        )
    )
    within = _clique_doc_pairs(dt).select(
        "doc_a", "doc_b", F.lit(1.0).alias("est_jaccard")
    )
    return cross.unionByName(within)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 60) -> DataFrame:
    """SimHash over word tokens: per-bit majority vote of token hashes,
    via higher-order functions (no UDF). Hamming-close signatures ⇒
    similar token multisets. Tokens hash with the md5-derived 60-bit hash,
    so other engines replay signatures exactly (``_simhash_oracle``)."""
    if bits > 60:
        raise ValueError("simhash caps at 60 bits (15 hex digits of md5)")
    tokens = F.split(F.col(text_col), " ", -1)
    hashes = F.transform(
        tokens, lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")
    )
    # Project token hashes once; the per-bit vote aggregates reuse the
    # materialized array (same CSE reasoning as minhash_signatures).
    hashed = df.select(F.col(id_col), hashes.alias("__th"))

    def vote(i: int):
        return lambda acc, h: acc + F.when(
            F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    bit_votes = [F.aggregate("__th", F.lit(0), vote(i)) for i in range(bits)]
    # Assemble the signature with literal shift amounts (shiftleft requires
    # an int, not a Column).
    sig = F.lit(0).cast("long")
    for i, v in enumerate(bit_votes):
        sig = sig.bitwiseOR(
            F.when(v > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
        )
    return hashed.select(F.col(id_col), sig.alias("simhash"))


def _simhash_oracle(bits: int = 60, chunks: int = 4, max_hamming: int = 8) -> str:
    """DuckDB replay of the portable 60-bit SimHash: per-bit majority votes
    over md5-derived token hashes, 4 × 15-bit chunk bucketing, exact
    Hamming filter — identical signatures, identical pairs."""
    chunk_bits = bits // chunks
    mask = (1 << chunk_bits) - 1
    votes = " + ".join(
        f"CASE WHEN sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) > 0 "
        f"THEN {1 << i} ELSE 0 END"
        for i in range(bits)
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, CAST(('0x' || substr(md5(t.tok), 1, 15)) AS BIGINT) AS h
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) t
    ), sig AS (
      SELECT doc_id, ({votes}) AS simhash FROM tok GROUP BY doc_id
    ), chunked AS (
      SELECT doc_id, simhash, chunk, (simhash >> (chunk * {chunk_bits})) & {mask} AS val
      FROM sig CROSS JOIN (SELECT unnest(range(0, {chunks})) AS chunk) c
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM chunked a JOIN chunked b
      ON a.chunk = b.chunk AND a.val = b.val AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    """


@register("dedup_simhash", _simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidates: 60-bit portable signatures bucketed by
    4 × 15-bit chunks (any equal chunk → candidate; guarantees recall for
    Hamming distance ≤ 3), then exact Hamming filter ≤ 8. Same
    band-bucket-join shape as MinHash-LSH — no all-pairs. Uses the
    md5-derived token hash so DuckDB replays signatures exactly."""
    return _simhash_impl(spark, sf_dir)


def _hamming_profile_oracle(bits: int = 60, chunks: int = 4,
                            max_hamming: int = 8) -> str:
    chunk_bits = bits // chunks
    mask = (1 << chunk_bits) - 1
    votes = " + ".join(
        f"CASE WHEN sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) > 0 "
        f"THEN {1 << i} ELSE 0 END"
        for i in range(bits)
    )
    # ORACLE-INTERNAL md5(text) KEY (r10 VERDICT note): the Spark side
    # keys distinct texts by min(doc_id) — injective under the doc_id PK —
    # while this DuckDB twin keys by md5(text). The key never reaches the
    # output columns (only hamming/n_pairs/admitted do), so the two sides
    # can only diverge if two DISTINCT texts share an md5 — a ~2^-128
    # collision on a non-adversarial fixture. Accepted residue; every
    # other oracle in the package keys by min(doc_id) or exposes md5 as
    # the semantic output itself (multimodal checksum, library md5_hex).
    return f"""
    WITH dt AS (
      SELECT md5(text) AS th, text, CAST(count(*) AS BIGINT) AS m
      FROM documents GROUP BY text
    ), tok AS (
      SELECT th, CAST(('0x' || substr(md5(t.tok), 1, 15)) AS BIGINT) AS h
      FROM (SELECT th, unnest(string_split(text, ' ')) AS tok FROM dt) t
    ), sig AS (
      SELECT th, ({votes}) AS simhash FROM tok GROUP BY th
    ), chunked AS (
      SELECT th, simhash, chunk, (simhash >> (chunk * {chunk_bits})) & {mask} AS val
      FROM sig CROSS JOIN (SELECT unnest(range(0, {chunks})) AS chunk) c
    ), cand AS (
      SELECT DISTINCT a.th AS ta, b.th AS tb,
             bit_count(xor(a.simhash, b.simhash)) AS hamming
      FROM chunked a JOIN chunked b
        ON a.chunk = b.chunk AND a.val = b.val AND a.th < b.th
    ), counts AS (
      SELECT c.hamming, ma.m * mb.m AS n
      FROM cand c JOIN dt ma ON ma.th = c.ta JOIN dt mb ON mb.th = c.tb
      UNION ALL
      SELECT 0 AS hamming, m * (m - 1) // 2 AS n FROM dt WHERE m >= 2
    )
    SELECT CAST(hamming AS BIGINT) AS hamming,
           CAST(sum(n) AS BIGINT) AS n_pairs,
           hamming <= {max_hamming} AS admitted
    FROM counts GROUP BY hamming ORDER BY hamming
    """


@register("simhash_hamming_profile", _hamming_profile_oracle())
def simhash_hamming_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-distance histogram of ALL SimHash chunk-collision
    candidates (dedup_simhash BEFORE its ≤8 admission filter) — the
    threshold-calibration readout: where the candidate mass sits tells
    you whether the admission bound is cutting through a dup cluster
    (mass hugging the threshold → raise it or add chunks) or through
    random-collision noise (a clear valley → the bound is safe). The
    4 × 15-bit chunking guarantees every pair with Hamming ≤ 3 appears
    here (pigeonhole: 3 flipped bits cannot touch all 4 chunks), so the
    low-distance histogram is EXACT, not sampled — the property that
    makes this a calibration tool rather than an estimate.

    Plan: DISTINCT-FIRST (the blanket SCALE.md rule) because a
    histogram needs only pair COUNTS, never the pairs: signatures and
    chunk buckets are computed per distinct TEXT, candidate generation
    joins |distinct text|-sized frames, and doc-pair multiplicities are
    recovered algebraically — m_a·m_b per colliding text pair plus
    C(m,2) exact-dup pairs at Hamming 0 (same text ⇒ same signature ⇒
    all chunks collide). The r8 sf1 sweep caught the doc-level form at
    58 s on the ×10-replica fixture (duplicate docs share signatures,
    so every bucket pair multiplied 100×); this form's join volume is
    replica-independent. dedup_simhash itself must still EMIT doc
    pairs, so its output — not its candidate generation — scales with
    the dup rate; the profile is where the scale trap actually bites
    and where the algebra removes it."""
    docs = load_table(spark, sf_dir, "documents")
    # Keyed by MIN doc_id per distinct text (r9 ADVICE, same fix as
    # _simhash_impl): injective under the doc_id PK, so no hash-collision
    # cliff, and a bigint key shuffles cheaper than an md5 digest.
    dt = (
        docs.groupBy("text")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("m"),
            F.min("doc_id").alias("th"),
        )
        .persist()  # signature pass + two multiplicity probes + dup count
    )
    sigs = simhash(dt, "th", "text")
    chunk_bits = 60 // 4
    mask = (1 << chunk_bits) - 1
    chunked = sigs.select(
        "th",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk"),
                        F.shiftright("simhash", i * chunk_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("val"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("c"),
    ).select("th", "simhash", "c.chunk", "c.val")
    a = chunked.alias("a")
    b = chunked.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.th") < F.col("b.th")),
        )
        .select(
            F.col("a.th").alias("ta"),
            F.col("b.th").alias("tb"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias(
                "hamming"
            ),
        )
        .distinct()
    )
    cross = (
        cand.join(dt.select(F.col("th").alias("ta"), F.col("m").alias("ma")), "ta")
        .join(dt.select(F.col("th").alias("tb"), F.col("m").alias("mb")), "tb")
        .select("hamming", (F.col("ma") * F.col("mb")).alias("n"))
    )
    within = dt.filter(F.col("m") >= 2).select(
        F.lit(0).alias("hamming"),
        F.expr("m * (m - 1) div 2").alias("n"),
    )
    return (
        cross.unionByName(within)
        .groupBy("hamming")
        .agg(F.sum("n").cast("bigint").alias("n_pairs"))
        .select(
            F.col("hamming").cast("bigint").alias("hamming"),
            "n_pairs",
            (F.col("hamming") <= 8).alias("admitted"),
        )
        .orderBy("hamming")
    )


def _simhash_impl(
    spark: SparkSession, sf_dir: str, n_chunks: int = 4, max_hamming: int = 8,
) -> DataFrame:
    """DISTINCT-FIRST candidate generation (the blanket SCALE.md rule,
    r9 rewrite): duplicate documents share a signature, so the former
    doc-level chunk-bucket join squared every exact-replica clique
    inside its bucket — 42.1 s on the ×10-replica sf1 fixture, the
    worst non-contract sweep entry of r8. Signatures and chunk buckets
    are now computed per DISTINCT text (the simhash_hamming_profile /
    fuzzy_part_linkage recipe), the Hamming filter runs on the
    |distinct-text|-sized candidate frame, and doc pairs are expanded
    only for text pairs that MATCH — plus the C(m,2) within-clique
    pairs at Hamming 0 (same text ⇒ same signature), generated by an
    in-array position-pair explode with zero joins. Output contract
    (the admitted doc-pair list) is unchanged, so the oracle hash is
    unchanged; only the candidate-generation volume became
    replica-independent. The pair OUTPUT still scales with the dup
    rate — that is the contract, not the plan.

    Distinct texts are keyed by their clique's MIN doc_id (r9 ADVICE):
    doc_id is the table's primary key and each doc belongs to exactly
    one text group, so the key is injective — unlike md5(text), whose
    (theoretical) collision would both drop a candidate pair (the
    a.th < b.th join excludes equal keys) and double-match the
    id-expansion joins. An 8-byte bigint also shuffles cheaper than a
    32-char digest in the candidate join."""
    bits = 60  # the md5-derived token hash DuckDB replays
    chunk_bits = bits // n_chunks
    mask = (1 << chunk_bits) - 1
    df = load_table(spark, sf_dir, "documents")
    dt = (
        df.groupBy("text")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .withColumn("th", F.element_at("ids", 1))
        .persist()  # signature pass + two id-expansion joins + within-pairs
    )
    sigs = simhash(dt, "th", "text", bits=bits)
    chunks = sigs.select(
        "th",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk"),
                        F.shiftright("simhash", i * chunk_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("val"),
                    )
                    for i in range(n_chunks)
                ]
            )
        ).alias("c"),
    ).select("th", "simhash", "c.chunk", "c.val")
    a = chunks.alias("a")
    b = chunks.alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    cand = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.th") < F.col("b.th")),
        )
        .select(
            F.col("a.th").alias("ta"),
            F.col("b.th").alias("tb"),
            hamming.alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
    # Cross-text expansion: every (doc of ta) × (doc of tb) combination.
    # Each doc pair maps to exactly one unordered text pair and cand is
    # distinct per text pair, so no post-expansion distinct is needed.
    cross = (
        cand.join(
            dt.select(F.col("th").alias("ta"), F.col("ids").alias("ids_a")), "ta"
        )
        .join(dt.select(F.col("th").alias("tb"), F.col("ids").alias("ids_b")), "tb")
        .select(F.explode("ids_a").alias("ida"), "ids_b", "hamming")
        .select("ida", F.explode("ids_b").alias("idb"), "hamming")
        .select(
            F.least("ida", "idb").alias("doc_a"),
            F.greatest("ida", "idb").alias("doc_b"),
            F.col("hamming"),
        )
    )
    # Within-clique pairs: identical text ⇒ identical signature ⇒ every
    # chunk collides and Hamming is 0 (always admitted). Sorted ids give
    # doc_a < doc_b directly; explode_outer + post-filter keeps the pair
    # construction out of the scan filter (InferFiltersFromGenerate).
    # The strict doc_a < doc_b guard (r9 ADVICE) discards self-pairs a
    # duplicated doc_id would otherwise create — the oracle's strict
    # doc_a < doc_b join can never emit them. No-op while doc_id is a PK.
    within = (
        dt.filter(F.size("ids") >= 2)
        .selectExpr(
            "flatten(transform(sequence(1, size(ids)-1), i ->"
            " transform(slice(ids, i+1, size(ids)-i), y ->"
            " struct(element_at(ids, i) AS doc_a, y AS doc_b)))) AS prs"
        )
        .select(F.explode_outer("prs").alias("p"))
        .filter("p IS NOT NULL AND p.doc_a < p.doc_b")
        .select(
            "p.doc_a", "p.doc_b", F.lit(0).cast("int").alias("hamming")
        )
    )
    return cross.unionByName(within)


# ---------------------------------------------------------------------------
# Near-dup clustering: candidate pairs → connected components
# ---------------------------------------------------------------------------


def connected_components(
    edges: DataFrame, src: str, dst: str, max_iter: int = 20
) -> DataFrame:
    """Label propagation to a fixpoint: every vertex ends with the minimum
    vertex id reachable in its component — the canonical-representative
    assignment that turns pairwise near-dup matches into dedup groups.

    Iterative DataFrame algorithm (the one class Catalyst can't express in
    a single plan): each round joins current labels across edges, takes
    the per-vertex min of own and neighbor labels, and stops when a round
    changes nothing. Each round's result is localCheckpoint-ed (eager) —
    this cuts LINEAGE, not just recomputation: a round references the
    previous labels three times (neighbor join, left join, changed-count),
    so with persist alone the logical plan grows ~3× per round and
    Catalyst re-analyzes all of it every action (the kcore_peel_rounds
    r10 lesson: 17 s of pure analysis on an empty round-3 frame). Once a
    round's changed-count action lands, the PREVIOUS round's checkpoint
    blocks are freed explicitly (r10 ADVICE — they would otherwise stay
    pinned in executor storage for the whole job); see
    ``iterative.free_local_checkpoint`` for the executor-loss trade-off
    localCheckpoint carries. Converges in O(component diameter)
    rounds; near-dup components are shallow (diameter ≲ 10) even on
    100 TB corpora, and every round is one shuffle on vertex id. Round
    state cuts lineage via ``iterative.cut_lineage`` — set the
    ``spark.dbtransfer.checkpointDir`` conf to make each round a
    RELIABLE checkpoint that survives executor loss (r11 VERDICT #5);
    unset, it stays executor-local.

    The edge frame is persisted ONCE at entry (r11): `sym` feeds every
    round's neighbor join, and without the persist each round recomputed
    the caller's entire upstream candidate-generation lineage — measured
    9.5 s of fixpoint wall on a 241-edge sf1 graph, all of it upstream
    recompute (partially masked by shuffle-file reuse), vs the actual
    ~468-row join work. Freed before returning; the returned labels are
    checkpoint-cut, so they never reach back into it."""
    sym = edges.select(
        F.col(src).alias("e_src"), F.col(dst).alias("e_dst")
    ).unionByName(
        edges.select(F.col(dst).alias("e_src"), F.col(src).alias("e_dst"))
    ).persist()
    # try/finally (r11 ADVICE): a mid-fixpoint raise (job cancellation,
    # ANSI error in upstream lineage) must not leak the persisted edge
    # frame for the life of the session.
    try:
        labels = cut_lineage(
            sym.select(F.col("e_src").alias("id"))
            .distinct()
            .withColumn("label", F.col("id")),
            eager=True,
        )
        for _ in range(max_iter):
            neighbor_min = (
                sym.join(labels, sym.e_src == labels.id)
                .groupBy("e_dst")
                .agg(F.min("label").alias("nlabel"))
            )
            new_labels = cut_lineage(
                labels.join(neighbor_min, labels.id == neighbor_min.e_dst, "left")
                .select(
                    "id",
                    F.least(
                        F.col("label"), F.coalesce("nlabel", "label")
                    ).alias("label"),
                ),
                eager=True,
            )
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "id")
                .filter(F.col("n.label") != F.col("o.label"))
                .count()
            )
            free_local_checkpoint(labels)  # superseded round's blocks
            labels = new_labels
            if changed == 0:
                break
    finally:
        sym.unpersist()
    return labels


@register(
    "dedup_clusters",
    r"""
    WITH RECURSIVE shingled AS (
      SELECT doc_id, unnest(list_distinct([
               array_to_string(words[i:i+2], ' ')
               FOR i IN range(1, greatest(len(words) - 2, 0) + 1)
             ])) AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
    ), sizes AS (
      SELECT doc_id, count(*) AS n_sh FROM shingled GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM shingled a JOIN shingled b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ), pairs AS (
      SELECT doc_a, doc_b FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.5
    ), edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs
    ), reach AS (
      SELECT DISTINCT src AS node, src AS lab FROM edges
      UNION
      SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node
    )
    SELECT node AS doc_id, CAST(min(lab) AS BIGINT) AS cluster_id
    FROM reach GROUP BY node
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup groups: n-gram Jaccard pairs (≥ 0.5) → connected
    components → each clustered doc labeled with its component's minimum
    doc_id (the canonical survivor a dedup pass would keep). The oracle
    computes the same components with a recursive CTE — the SQL-engine
    formulation of the same fixpoint.

    Scale (r10, from the ×100 octave): label propagation runs on the
    DISTINCT-TEXT graph — nodes are clique heads (min doc_id per text),
    edges are the distinct-pair jaccard matches — then labels expand to
    docs in one membership join. Replica cliques are complete subgraphs
    whose C(m,2) edges say nothing the clique head doesn't: at ×100 they
    were 27M of the 27M edges the fixpoint iterated over (29.5 s); the
    text-level graph is replica-independent. A doc clusters iff its
    text has a jaccard partner (label from the component, whose min gid
    IS the component's min doc_id — every doc is ≥ its clique head) or
    shares its text with another doc (label = clique head)."""
    df = load_table(spark, sf_dir, "documents")
    groups, m, dpairs = _ngram_jaccard_distinct_parts(df, "doc_id", "text")
    tlabels = connected_components(dpairs, "doc_a", "doc_b").select(
        F.col("id").alias("__gid"), "label"
    )
    return (
        m.join(groups.select("__gid", "__n_members"), "__gid")
        .join(tlabels, "__gid", "left")
        .filter((F.col("__n_members") >= 2) | F.col("label").isNotNull())
        .select(
            F.col("__rid").alias("doc_id"),
            F.coalesce("label", "__gid").cast("bigint").alias("cluster_id"),
        )
    )


@register(
    "fuzzy_name_pairs",
    """
    WITH names AS (SELECT DISTINCT p_name FROM part)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           levenshtein(a.p_name, b.p_name) AS dist
    FROM names a JOIN names b
      ON split_part(a.p_name, ' ', 2) = split_part(b.p_name, ' ', 2)
     AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    ORDER BY name_a, name_b
    """,
)
def fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string matching over the part-name DICTIONARY: close
    levenshtein pairs ('red widget' ↔ 'hot widget') found inside blocks
    keyed on the head noun — the blocked edit-distance join record-linkage
    pipelines use for typo/variant canonicalization. Both engines ship
    the same classic Wagner-Fischer levenshtein, so distances replay
    exactly.

    Scale: fuzzy-match the distinct-VALUE dictionary, never the rows —
    the dictionary is bounded by the value domain, not SF, and the
    blocking key turns the quadratic all-pairs into per-block
    comparisons (the n-gram/LSH analogue for short strings). Applying
    the resulting canonical mapping back to fact rows is a broadcast
    map-join. The inequality a.name < b.name halves the candidate set
    and dedupes (a,b)/(b,a)."""
    part = load_table(spark, sf_dir, "part")
    names = part.select("p_name").distinct()
    a = names.select(
        F.col("p_name").alias("name_a"),
        F.expr("split_part(p_name, ' ', 2)").alias("block_a"),
    )
    b = names.select(
        F.col("p_name").alias("name_b"),
        F.expr("split_part(p_name, ' ', 2)").alias("block_b"),
    )
    return (
        a.join(
            b,
            (F.col("block_a") == F.col("block_b"))
            & (F.col("name_a") < F.col("name_b")),
        )
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= 3)
        .select("name_a", "name_b", "dist")
        .orderBy("name_a", "name_b")
    )


def _jaccard_audit_oracle(num_hashes: int = 32, shingle_len: int = 3, seed: int = 42,
                          bands: int = 8, rows_per_band: int = 4) -> str:
    """DuckDB replay of the MinHash estimate AND the exact shingle-set
    Jaccard for every LSH candidate pair (portable md5 word hash; same
    pipeline as _minhash_oracle plus a list_intersect/union tail)."""
    coeffs = _minhash_coeffs(num_hashes, seed)
    coeff_lit = "[" + ",".join(f"[{a},{b}]" for a, b in coeffs) + "]"
    poly = _POLY[:shingle_len]
    shingle_expr = " + ".join(
        f"wh[i+{j+1}]*{c}" if c != 1 else f"wh[i+{j+1}]" for j, c in enumerate(poly)
    )
    return f"""
    WITH wh AS (
      SELECT doc_id,
             list_transform(string_split(text, ' '),
               w -> CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) % {_PRIME}) AS wh
      FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct([({shingle_expr}) % {_PRIME}
                            FOR i IN range(0, greatest(len(wh) - {shingle_len - 1}, 0))]) AS shingles
      FROM wh
    ), sig AS (
      SELECT doc_id, shingles,
             list_transform({coeff_lit},
               c -> coalesce(list_min(list_transform(shingles,
                              s -> (s*c[1] + c[2]) % {_PRIME})), {_PRIME})) AS mh
      FROM sh
    ), banded AS (
      SELECT doc_id, band, mh[band*{rows_per_band}+1 : band*{rows_per_band}+{rows_per_band}] AS bucket,
             mh, shingles
      FROM sig CROSS JOIN (SELECT unnest(range(0, {bands})) AS band) bands
    ), pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.mh AS mh_a, b.mh AS mh_b,
             a.shingles AS sh_a, b.shingles AS sh_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           round(est, 4) AS est_jaccard,
           round(CAST(n_inter AS DOUBLE) / n_union, 4) AS exact_jaccard,
           CAST(n_inter AS BIGINT) AS n_inter,
           CAST(n_union AS BIGINT) AS n_union
    FROM (
      SELECT doc_a, doc_b,
             list_sum(list_transform(range(1, {num_hashes + 1}),
               i -> CASE WHEN mh_a[i] = mh_b[i] THEN 1 ELSE 0 END)) / {num_hashes}.0 AS est,
             len(list_intersect(sh_a, sh_b)) AS n_inter,
             len(list_distinct(list_concat(sh_a, sh_b))) AS n_union
      FROM pairs
    ) WHERE est >= 0.25 AND n_union > 0
    ORDER BY doc_a, doc_b
    """


@register("neardup_jaccard_audit", _jaccard_audit_oracle())
def neardup_jaccard_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimation-quality audit: for every LSH candidate pair,
    the signature-agreement ESTIMATE next to the EXACT shingle-set
    Jaccard (|A∩B| / |A∪B|) — the QA readout that tells you whether 32
    permutations and an 8×4 banding are adequate before trusting the
    dedup pass on a full corpus (est−exact spread wide → raise
    num_hashes; candidates with low exact Jaccard → banding too loose).

    Scale: DISTINCT-FIRST end-to-end (r10, from the ×100 octave — the
    doc-level band join and exact-intersection tail both squared replica
    cliques; this was the octave's worst timeout). Shingles, signatures,
    banding, estimate, AND the exact intersection are all text-level
    facts, so they run once per distinct-text pair; doc pairs expand
    LAST. Same-text pairs never touch a join: est and exact Jaccard are
    both exactly 1.0 and the set sizes are the clique's own shingle
    count, emitted by the zero-join C(m,2) expansion (empty-shingle
    cliques drop, matching the n_union > 0 filter). The exact
    intersection on candidates-only remains the single affordable place
    for it at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    dt, shingled, cand = _minhash_text_candidates(
        docs, portable_hash=True, with_shingles=True, carry_ids=True
    )
    sa = shingled.select(F.col("th").alias("ta"), F.col("__shingles").alias("sh_a"))
    sb = shingled.select(F.col("th").alias("tb"), F.col("__shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    cross_text = (
        cand.filter(F.col("est_jaccard") >= 0.25)
        .join(sa, "ta")
        .join(sb, "tb")
        .withColumn("n_inter", inter.cast("bigint"))
        .withColumn("n_union", union.cast("bigint"))
        .filter(F.col("n_union") > 0)
        .withColumn(
            "exact_jaccard",
            F.round(F.col("n_inter").cast("double") / F.col("n_union"), 4),
        )
    )
    # Clique ids arrive carried on the candidate frame (carry_ids) — no
    # join back to dt for the doc expansion.
    cross = (
        cross_text.select(
            F.explode("ids_a").alias("ida"),
            "ids_b", "est_jaccard", "exact_jaccard", "n_inter", "n_union",
        )
        .select(
            "ida", F.explode("ids_b").alias("idb"),
            "est_jaccard", "exact_jaccard", "n_inter", "n_union",
        )
        .select(
            F.least("ida", "idb").alias("doc_a"),
            F.greatest("ida", "idb").alias("doc_b"),
            "est_jaccard", "exact_jaccard", "n_inter", "n_union",
        )
    )
    within_src = dt.join(
        shingled.select(
            F.col("th"), F.size("__shingles").cast("bigint").alias("n_sh")
        ),
        "th",
    ).filter(F.col("n_sh") > 0)
    within = _clique_doc_pairs(within_src, carry=["n_sh"]).select(
        "doc_a",
        "doc_b",
        F.lit(1.0).alias("est_jaccard"),
        F.lit(1.0).alias("exact_jaccard"),
        F.col("n_sh").alias("n_inter"),
        F.col("n_sh").alias("n_union"),
    )
    return cross.unionByName(within).orderBy("doc_a", "doc_b")


def _incremental_oracle(num_hashes: int = 32, shingle_len: int = 3,
                        seed: int = 42, bands: int = 8,
                        rows_per_band: int = 4) -> str:
    """DuckDB replay of the new-vs-corpus incremental dedup: identical
    md5 word hashes / rolling-poly shingles / permutation minima as
    _minhash_oracle, but the banded join pairs ONLY odd (new) against
    even (corpus) doc ids."""
    coeffs = _minhash_coeffs(num_hashes, seed)
    coeff_lit = "[" + ",".join(f"[{a},{b}]" for a, b in coeffs) + "]"
    poly = _POLY[:shingle_len]
    shingle_expr = " + ".join(
        f"wh[i+{j+1}]*{c}" if c != 1 else f"wh[i+{j+1}]" for j, c in enumerate(poly)
    )
    return f"""
    WITH wh AS (
      SELECT doc_id,
             list_transform(string_split(text, ' '),
               w -> CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) % {_PRIME}) AS wh
      FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct([({shingle_expr}) % {_PRIME}
                            FOR i IN range(0, greatest(len(wh) - {shingle_len - 1}, 0))]) AS shingles
      FROM wh
    ), sig AS (
      SELECT doc_id,
             list_transform({coeff_lit},
               c -> coalesce(list_min(list_transform(shingles,
                              s -> (s*c[1] + c[2]) % {_PRIME})), {_PRIME})) AS mh
      FROM sh
    ), banded AS (
      SELECT doc_id, band,
             mh[band*{rows_per_band}+1 : band*{rows_per_band}+{rows_per_band}] AS bucket,
             mh
      FROM sig CROSS JOIN (SELECT unnest(range(0, {bands})) AS band) bands
    ), pairs AS (
      SELECT DISTINCT a.doc_id AS new_doc, b.doc_id AS corpus_doc,
             a.mh AS mh_a, b.mh AS mh_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bucket = b.bucket
      WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
    ), est AS (
      SELECT new_doc, corpus_doc,
             list_sum(list_transform(range(1, {num_hashes + 1}),
               i -> CASE WHEN mh_a[i] = mh_b[i] THEN 1 ELSE 0 END))
               / {num_hashes}.0 AS e
      FROM pairs
    )
    SELECT new_doc,
           CAST(count(*) AS BIGINT) AS n_candidates,
           round(max(e), 4) AS best_est,
           max(e) >= 0.5 AS is_dup
    FROM est WHERE e >= 0.25
    GROUP BY new_doc ORDER BY new_doc
    """


@register("dedup_incremental_new_vs_corpus", _incremental_oracle())
def dedup_incremental_new_vs_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus dedup — the PRODUCTION shape: a new batch of
    documents (odd doc_ids here) is checked against an existing corpus
    (even doc_ids) without ever comparing corpus-to-corpus. For each new
    doc with any LSH candidate: candidate count, best signature-estimate
    Jaccard, and the ≥0.5 duplicate verdict.

    DISTINCT-FIRST (r11, from the ×100 octave: the r10 per-doc band join
    was the family's last clique-squarer — replica cliques multiplied
    inside every band bucket, 28.9 s at ×100 vs 4-13 s for the rewritten
    siblings). Signatures, banding, and the candidate join all run once
    per DISTINCT text via the shared ``_minhash_text_candidates``; LSH
    collision is symmetric, so BOTH orientations of each unordered
    distinct-text pair feed the directed new→corpus view. Per-doc facts
    are recovered algebraically, never by pairing docs:

    - same-text candidates: a new doc whose text also has ``m_corp``
      corpus copies gets ``m_corp`` candidates at est exactly 1.0
      (identical texts ⇒ identical signatures ⇒ every band collides);
    - cross-text candidates: Σ ``m_corp(T')`` over matched distinct
      texts T′ with est ≥ 0.25, best-est the max over them;
    - the verdict row then expands to each new doc in the text's clique.

    This keeps the asymmetric batch×corpus economics (the banded
    equi-join shape is shared with the full-dedup pass) while making
    cost linear in DISTINCT texts + output, independent of dup rate —
    at a 100 TB corpus with crawl-typical 30-50% duplication that is
    the difference between a bounded band join and a squared one."""
    docs = load_table(spark, sf_dir, "documents")
    dt, _, cand = _minhash_text_candidates(docs, portable_hash=True)
    # Per distinct text: the clique's new (odd) doc ids and corpus (even) count.
    tt = dt.select(
        "th",
        F.filter("ids", lambda i: i % 2 == 1).alias("new_ids"),
        F.size(F.filter("ids", lambda i: i % 2 == 0)).alias("m_corp"),
    )
    # est_jaccard from minhash_jaccard_estimate is round(k/32, 4): the 0.25
    # and 0.5 thresholds are exact multiples of 1/32 (no k/32 rounds across
    # them), and round is monotone, so filtering/max over rounded values
    # matches the oracle's raw-then-round order exactly.
    c = cand.filter(F.col("est_jaccard") >= 0.25)
    directed = c.select(
        F.col("ta").alias("tn"), F.col("tb").alias("tc"), "est_jaccard"
    ).unionByName(
        c.select(F.col("tb").alias("tn"), F.col("ta").alias("tc"), "est_jaccard")
    )
    cross = (
        directed.join(
            tt.filter("m_corp > 0").select(F.col("th").alias("tc"), "m_corp"), "tc"
        )
        .groupBy("tn")
        .agg(
            F.sum("m_corp").alias("cand_cross"),
            F.max("est_jaccard").alias("best_cross"),
        )
    )
    per_text = (
        tt.filter(F.size("new_ids") > 0)
        .join(cross, tt["th"] == cross["tn"], "left")
        .select(
            "new_ids",
            (F.coalesce("cand_cross", F.lit(0)) + F.col("m_corp"))
            .cast("long")
            .alias("n_candidates"),
            F.when(F.col("m_corp") > 0, F.lit(1.0))
            .otherwise(F.col("best_cross"))
            .alias("best"),
        )
        .filter("n_candidates > 0")
    )
    return (
        per_text.select(
            F.explode("new_ids").alias("new_doc"),
            "n_candidates",
            F.round("best", 4).alias("best_est"),
            (F.col("best") >= 0.5).alias("is_dup"),
        )
        .orderBy("new_doc")
    )


def _degree_hist_oracle(num_hashes: int = 32, shingle_len: int = 3,
                        seed: int = 42, bands: int = 8,
                        rows_per_band: int = 4) -> str:
    """DuckDB replay: LSH pair graph (est ≥ 0.5) → per-doc degree →
    degree histogram."""
    coeffs = _minhash_coeffs(num_hashes, seed)
    coeff_lit = "[" + ",".join(f"[{a},{b}]" for a, b in coeffs) + "]"
    poly = _POLY[:shingle_len]
    shingle_expr = " + ".join(
        f"wh[i+{j+1}]*{c}" if c != 1 else f"wh[i+{j+1}]" for j, c in enumerate(poly)
    )
    return f"""
    WITH wh AS (
      SELECT doc_id,
             list_transform(string_split(text, ' '),
               w -> CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) % {_PRIME}) AS wh
      FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct([({shingle_expr}) % {_PRIME}
                            FOR i IN range(0, greatest(len(wh) - {shingle_len - 1}, 0))]) AS shingles
      FROM wh
    ), sig AS (
      SELECT doc_id,
             list_transform({coeff_lit},
               c -> coalesce(list_min(list_transform(shingles,
                              s -> (s*c[1] + c[2]) % {_PRIME})), {_PRIME})) AS mh
      FROM sh
    ), banded AS (
      SELECT doc_id, band,
             mh[band*{rows_per_band}+1 : band*{rows_per_band}+{rows_per_band}] AS bucket,
             mh
      FROM sig CROSS JOIN (SELECT unnest(range(0, {bands})) AS band) bands
    ), pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.mh AS mh_a, b.mh AS mh_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ), dup_pairs AS (
      SELECT doc_a, doc_b FROM (
        SELECT doc_a, doc_b,
               list_sum(list_transform(range(1, {num_hashes + 1}),
                 i -> CASE WHEN mh_a[i] = mh_b[i] THEN 1 ELSE 0 END))
                 / {num_hashes}.0 AS est
        FROM pairs
      ) WHERE est >= 0.5
    ), degrees AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS degree FROM (
        SELECT doc_a AS doc_id FROM dup_pairs
        UNION ALL SELECT doc_b FROM dup_pairs
      ) GROUP BY doc_id
    )
    SELECT degree, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS example_doc
    FROM degrees GROUP BY degree ORDER BY degree
    """


@register("neardup_degree_histogram", _degree_hist_oracle())
def neardup_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the near-duplicate graph (MinHash-LSH
    pairs with estimated Jaccard ≥ 0.5): how many documents have 1, 2,
    … near-dup partners, with a deterministic example doc per bucket.
    The shape diagnostic run BEFORE connected-components dedup — a heavy
    tail here means giant template families that deserve a dedicated
    rule rather than generic clustering (and would dominate cluster
    diameter).

    Scale: fully ALGEBRAIC over distinct texts (r10, from the ×100
    octave — the doc-level pair list is quadratic in clique size, 101.7 s
    at ×100, yet a histogram needs only COUNTS): every doc of text T has
    the same degree, (m_T − 1) within-clique partners plus Σ m_U over
    candidate text partners U with est ≥ 0.5, so degrees are computed
    once per distinct text and the histogram weights each by m_T. No
    doc-level pair is ever materialized; example_doc = min clique head
    per degree (every clique member shares the degree, and the head is
    the clique minimum). Join volume is replica-independent."""
    docs = load_table(spark, sf_dir, "documents")
    dt, _, cand = _minhash_text_candidates(docs, portable_hash=True)
    sized = dt.select("th", F.size("ids").cast("bigint").alias("m"))
    dup = cand.filter(F.col("est_jaccard") >= 0.5)
    partner_mass = (
        dup.select(F.col("ta").alias("t"), F.col("tb").alias("u"))
        .unionAll(dup.select(F.col("tb").alias("t"), F.col("ta").alias("u")))
        .join(sized.select(F.col("th").alias("u"), F.col("m").alias("mu")), "u")
        .groupBy("t")
        .agg(F.sum("mu").alias("cross_deg"))
    )
    deg = (
        sized.join(partner_mass.withColumnRenamed("t", "th"), "th", "left")
        .select(
            "th",
            "m",
            (F.col("m") - 1 + F.coalesce(F.col("cross_deg"), F.lit(0))).alias(
                "degree"
            ),
        )
        .filter(F.col("degree") > 0)
    )
    return (
        deg.groupBy("degree")
        .agg(
            F.sum("m").alias("n_docs"),
            F.min("th").alias("example_doc"),
        )
        .orderBy("degree")
    )


_BLOCK = 10  # tokens per non-overlapping block (a "paragraph" unit)


@register(
    "duplicate_block_ratio",
    rf"""
    WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS t,
             len(string_split(text, ' ')) AS n
      FROM documents WHERE length(text) > 0
    ),
    blocks AS (
      SELECT doc_id, i.i AS block_idx,
             md5(array_to_string(list_slice(t, i.i * {_BLOCK} + 1,
                                            i.i * {_BLOCK} + {_BLOCK}), ' ')) AS bk
      FROM base, UNNEST(range(n // {_BLOCK})) AS i(i)
    ),
    freq AS (
      SELECT bk, CAST(count(*) AS BIGINT) AS occ FROM blocks GROUP BY bk
    ),
    per_doc AS (
      SELECT b.doc_id,
             CAST(count(*) AS BIGINT) AS n_blocks,
             CAST(sum(CASE WHEN f.occ >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_blocks
      FROM blocks b JOIN freq f ON b.bk = f.bk
      GROUP BY b.doc_id
    )
    SELECT d.doc_id,
           coalesce(p.n_blocks, 0) AS n_blocks,
           coalesce(p.n_dup_blocks, 0) AS n_dup_blocks,
           CAST(coalesce(p.n_dup_blocks, 0) * 1000000
                // greatest(coalesce(p.n_blocks, 0), 1) AS BIGINT) AS dup_ppm,
           (coalesce(p.n_dup_blocks, 0) * 2 <= coalesce(p.n_blocks, 0)
            OR coalesce(p.n_blocks, 0) = 0) AS keep
    FROM (SELECT doc_id FROM documents WHERE length(text) > 0) d
    LEFT JOIN per_doc p ON d.doc_id = p.doc_id
    """,
)
def duplicate_block_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level (block) dedup signal, the CommonCrawl/CCNet
    "remove documents made of duplicated paragraphs" rule: split each
    document into non-overlapping {block}-token blocks, count global
    occurrences of each block across the corpus, and flag documents whose
    duplicated-block share exceeds 50%. Complements whole-doc MinHash
    (which misses partial copies) and contamination (cross-corpus): this
    is the *within-corpus partial-copy* detector.

    Plan: narrow scan-stage block expansion (sequence/slice, fanout
    n/{block}), md5 block keys, one block-keyed partial-aggregated count
    shuffle, one block-keyed equi-join back, one doc-keyed re-aggregate,
    then a left join to re-attach blockless short docs. Every shuffle is
    keyed and linear; hot blocks (the Zipf head of boilerplate) are
    absorbed by map-side partial aggregation, and the join fanout equals
    the original block count. Same inverted-index scale shape as
    contamination_check (dedup.py) — proven at the 100 TB design point.
    """
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    t = F.split("text", " ", -1)
    base = docs.select("doc_id", t.alias("t"), F.size(t).alias("n"))
    blocks = base.filter(F.col("n") >= _BLOCK).select(
        "doc_id",
        F.explode(F.expr(f"sequence(0, n div {_BLOCK} - 1)")).alias("block_idx"),
        "t",
    ).select(
        "doc_id",
        "block_idx",
        F.md5(
            F.concat_ws(" ", F.slice(F.col("t"), F.col("block_idx") * _BLOCK + 1, _BLOCK))
        ).alias("bk"),
    ).persist()  # reused by freq + rejoin: one split/md5 pass, not three
    freq = blocks.groupBy("bk").agg(F.count(F.lit(1)).cast("bigint").alias("occ"))
    per_doc = (
        blocks.join(freq, "bk")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
            F.sum((F.col("occ") >= 2).cast("bigint")).cast("bigint").alias("n_dup_blocks"),
        )
    )
    n_blocks = F.coalesce(F.col("n_blocks"), F.lit(0).cast("bigint"))
    n_dup = F.coalesce(F.col("n_dup_blocks"), F.lit(0).cast("bigint"))
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            n_blocks.alias("n_blocks"),
            n_dup.alias("n_dup_blocks"),
            F.expr(
                "CAST(coalesce(n_dup_blocks, 0) * 1000000 "
                "div greatest(coalesce(n_blocks, 0), 1) AS BIGINT)"
            ).alias("dup_ppm"),
            ((n_dup * 2 <= n_blocks) | (n_blocks == 0)).alias("keep"),
        )
    )


duplicate_block_ratio.__doc__ = duplicate_block_ratio.__doc__.format(block=_BLOCK)


_CONTAIN_DF_CAP = 20     # drop blocks present in more docs (boilerplate)
_CONTAIN_MIN_PPM = 500_000  # report pairs covering ≥50% of the smaller doc


@register(
    "block_containment_pairs",
    rf"""
    WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS t,
             len(string_split(text, ' ')) AS n
      FROM documents WHERE length(text) > 0
    ),
    blocks AS (
      SELECT DISTINCT doc_id,
             md5(array_to_string(list_slice(t, i.i * {_BLOCK} + 1,
                                            i.i * {_BLOCK} + {_BLOCK}), ' ')) AS bk
      FROM base, UNNEST(range(n // {_BLOCK})) AS i(i)
    ),
    nb AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_blocks FROM blocks GROUP BY doc_id
    ),
    rare AS (
      SELECT bk FROM blocks GROUP BY bk
      HAVING count(*) BETWEEN 2 AND {_CONTAIN_DF_CAP}
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS shared_blocks
      FROM blocks a
      JOIN rare r ON a.bk = r.bk
      JOIN blocks b ON a.bk = b.bk AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT p.doc_a, p.doc_b, p.shared_blocks,
           na.n_blocks AS nb_a, nbb.n_blocks AS nb_b,
           CAST(p.shared_blocks * 1000000
                // least(na.n_blocks, nbb.n_blocks) AS BIGINT) AS containment_ppm
    FROM pairs p
    JOIN nb na ON p.doc_a = na.doc_id
    JOIN nb nbb ON p.doc_b = nbb.doc_id
    WHERE p.shared_blocks * 1000000 >= {_CONTAIN_MIN_PPM} * least(na.n_blocks, nbb.n_blocks)
    """,
)
def block_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-containment detection: pairs where one document's
    block set is largely CONTAINED in the other's (quotes, mirrors,
    page-plus-boilerplate wrappers) — the partial-copy case symmetric
    Jaccard under-scores (a 10-block doc fully quoted inside a 1000-block
    doc has Jaccard ≈ 1%, containment 100%). Candidate generation is the
    contamination-check inverted index: only blocks shared by 2..{cap}
    docs join (the document-frequency cap drops corpus-wide boilerplate
    AND bounds per-block pair fanout at {cap}²); containment is
    shared/min(|A|,|B|) in exact ppm.

    Scale: distinct per-doc blocks → block-keyed partial-agg shuffle →
    capped self-join → pair-keyed count — every stage keyed, fanout
    bounded by the cap, the proven 100 TB inverted-index shape. The
    integer cross-multiplied threshold avoids float division entirely."""
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    t = F.split("text", " ", -1)
    base = docs.select("doc_id", t.alias("t"), F.size(t).alias("n"))
    blocks = (
        base.filter(F.col("n") >= _BLOCK)
        .select(
            "doc_id",
            F.explode(F.expr(f"sequence(0, n div {_BLOCK} - 1)")).alias("i"),
            "t",
        )
        .select(
            "doc_id",
            F.md5(
                F.concat_ws(" ", F.slice(F.col("t"), F.col("i") * _BLOCK + 1, _BLOCK))
            ).alias("bk"),
        )
        .distinct()
        .persist()  # consumed 4x (nb, rare, both join sides): one pass
    )
    nb = blocks.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("n_blocks"))
    rare = (
        blocks.groupBy("bk")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df").between(2, _CONTAIN_DF_CAP))
        .select("bk")
    )
    a = blocks.join(rare, "bk").select("bk", F.col("doc_id").alias("doc_a"))
    b = blocks.select("bk", F.col("doc_id").alias("doc_b"))
    pairs = (
        a.join(b, "bk")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_blocks"))
    )
    na = nb.select(F.col("doc_id").alias("doc_a"), F.col("n_blocks").alias("nb_a"))
    nbb = nb.select(F.col("doc_id").alias("doc_b"), F.col("n_blocks").alias("nb_b"))
    return (
        pairs.join(na, "doc_a")
        .join(nbb, "doc_b")
        .filter(
            F.col("shared_blocks") * 1_000_000
            >= _CONTAIN_MIN_PPM * F.least(F.col("nb_a"), F.col("nb_b"))
        )
        .select(
            "doc_a",
            "doc_b",
            "shared_blocks",
            "nb_a",
            "nb_b",
            F.expr(
                "CAST(shared_blocks * 1000000 div least(nb_a, nb_b) AS BIGINT)"
            ).alias("containment_ppm"),
        )
    )


block_containment_pairs.__doc__ = block_containment_pairs.__doc__.format(
    cap=_CONTAIN_DF_CAP
)


def _source_dup_matrix_oracle() -> str:
    return f"""
    WITH dup_pairs AS ({_minhash_oracle()}),
    labeled AS (
      SELECT least(da.source, db.source) AS source_a,
             greatest(da.source, db.source) AS source_b
      FROM dup_pairs p
      JOIN documents da ON p.doc_a = da.doc_id
      JOIN documents db ON p.doc_b = db.doc_id
    )
    SELECT source_a, source_b,
           CAST(count(*) AS BIGINT) AS n_dup_pairs
    FROM labeled
    GROUP BY source_a, source_b
    ORDER BY n_dup_pairs DESC, source_a, source_b
    """


@register("source_dup_matrix", _source_dup_matrix_oracle())
def source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: near-dup pairs (the verified
    MinHash+LSH pipeline) rolled up by unordered source pair — the
    mirror-site / scraper-overlap detector that tells a crawl pipeline
    which source pairs to deduplicate against each other FIRST (and which
    single source is internally redundant: the diagonal).

    Plan: the near-dup pair pipeline (banded equi-join, persisted
    signatures) plus two id-keyed joins against the pruned (doc_id,
    source) projection and a ≤|sources|²-row aggregate. Costs one more
    join pass than dedup_minhash_lsh itself; no new shuffle shapes."""
    pairs = dedup_minhash_lsh(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    da = docs.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa"))
    db = docs.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb"))
    return (
        pairs.join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_dup_pairs"))
        .orderBy(F.desc("n_dup_pairs"), "source_a", "source_b")
    )


@register(
    "setjoin_prefix_jaccard",
    """
    WITH dt AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), dfreq AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS df FROM dt GROUP BY tok
    ), keyed AS (
      SELECT dt.doc_id, lpad(CAST(f.df AS VARCHAR), 10, '0') || ':' || dt.tok AS k
      FROM dt JOIN dfreq f USING (tok)
    ), sets AS (
      SELECT doc_id, list_sort(list(k)) AS ks, CAST(len(list(k)) AS BIGINT) AS sz
      FROM keyed GROUP BY doc_id
    ), pref AS (
      SELECT doc_id, unnest(list_slice(ks, 1,
               CAST(sz - ((7 * sz + 9) // 10) + 1 AS BIGINT))) AS k
      FROM sets
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM pref a JOIN pref b ON a.k = b.k AND a.doc_id < b.doc_id
    ), v AS (
      SELECT id_a, id_b,
             CAST(len(list_intersect(sa.ks, sb.ks)) AS BIGINT) AS n_inter,
             sa.sz AS za, sb.sz AS zb
      FROM cand
      JOIN sets sa ON sa.doc_id = cand.id_a
      JOIN sets sb ON sb.doc_id = cand.id_b
    )
    SELECT id_a, id_b, n_inter,
           CAST(za + zb - n_inter AS BIGINT) AS n_union,
           round(CAST(n_inter AS DOUBLE) / (za + zb - n_inter), 4) AS jaccard
    FROM v
    WHERE CAST(n_inter AS DOUBLE) / (za + zb - n_inter) >= 0.7
    """,
)
def setjoin_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join (token-set Jaccard ≥ 0.7) via
    prefix filtering — the deterministic complement to MinHash-LSH:
    zero false negatives, no probability knobs. Canonical order sorts
    each document's tokens rarest-document-frequency-first (df-padded
    string keys, so both engines sort identically); two sets can reach
    Jaccard t only if their first ``|s| − ⌈t·|s|⌉ + 1`` canonical
    tokens share an element, so ONLY those prefix tokens are exploded
    into the candidate equi-join. Candidate volume is Σ df(tok)² over
    the RAREST tokens — the ppjoin-style bound that keeps the join
    linear-ish where a naive token join is quadratic in the Zipf head.
    The ⌈⌉ is integer arithmetic ((7·sz+9) div 10), so prefix lengths
    are bit-stable across engines; verification is exact
    array_intersect counting on the candidate pairs only.

    Output caveat: a PAIR listing is inherently quadratic in duplicate
    CLIQUE size (k near-identical docs → k·(k−1)/2 rows — this
    template-heavy fixture yields 5M pairs at sf0.1). That is the
    correct contract for audit/threshold-tuning consumers; dedup
    decisions at 100 TB should consume the clique-safe
    ``dedup_clusters`` (connected components) instead of enumerating
    pairs."""
    docs = load_table(spark, sf_dir, "documents")
    dt = (
        docs.select("doc_id", F.explode(F.split("text", " ", -1)).alias("tok"))
        .distinct()
    )
    dfreq = dt.groupBy("tok").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    keyed = dt.join(dfreq, "tok").select(
        "doc_id",
        F.concat(F.lpad(F.col("df").cast("string"), 10, "0"), F.lit(":"), F.col("tok")).alias("k"),
    )
    sets = (
        keyed.groupBy("doc_id")
        .agg(F.array_sort(F.collect_list("k")).alias("ks"))
        .withColumn("sz", F.size("ks").cast("bigint"))
        .persist()  # prefix explode + two verification joins
    )
    pref = sets.select(
        "doc_id",
        F.explode(
            F.expr("slice(ks, 1, CAST(sz - ((7 * sz + 9) div 10) + 1 AS INT))")
        ).alias("k"),
    )
    a = pref.select(F.col("doc_id").alias("id_a"), "k")
    b = pref.select(F.col("doc_id").alias("id_b"), "k")
    cand = (
        a.join(b, "k")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sa = sets.select(F.col("doc_id").alias("id_a"), F.col("ks").alias("ka"), F.col("sz").alias("za"))
    sb = sets.select(F.col("doc_id").alias("id_b"), F.col("ks").alias("kb"), F.col("sz").alias("zb"))
    v = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("ka", "kb")).cast("bigint").alias("n_inter"),
            "za",
            "zb",
        )
    )
    jac = F.col("n_inter").cast("double") / (F.col("za") + F.col("zb") - F.col("n_inter"))
    return (
        v.filter(jac >= 0.7)
        .select(
            "id_a",
            "id_b",
            "n_inter",
            (F.col("za") + F.col("zb") - F.col("n_inter")).cast("bigint").alias("n_union"),
            F.round(jac, 4).alias("jaccard"),
        )
    )


# golden-record oracle composes the dedup_clusters component CTE verbatim
# (same fixpoint, same threshold) and applies the survivorship rules on top
_SURVIVORSHIP_ORACLE = (
    "WITH clusters AS (\n" + ORACLE["dedup_clusters"] + "\n)\n"
    + """
    , members AS (
      SELECT c.cluster_id, d.doc_id, d.n_chars, d.source,
             row_number() OVER (PARTITION BY c.cluster_id
                                ORDER BY d.n_chars DESC, d.doc_id) AS rn
      FROM clusters c JOIN documents d ON d.doc_id = c.doc_id
    )
    SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(max(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT)
             AS survivor_doc_id,
           CAST(max(CASE WHEN rn = 1 THEN n_chars END) AS BIGINT)
             AS survivor_chars,
           array_to_string(list_sort(list_distinct(list(source))), ',')
             AS sources
    FROM members GROUP BY cluster_id
    ORDER BY cluster_id
    """
)


@register("golden_record_survivorship", _SURVIVORSHIP_ORACLE)
def golden_record_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship — the step after duplicate clustering that every
    entity-resolution pipeline ends with: each near-dup cluster
    (dedup_clusters' components, same threshold) collapses to ONE golden
    record by explicit precedence rules (longest text wins, doc_id
    breaks ties) plus merged lineage (member count, total chars, the
    sorted distinct source systems that contributed). Reference parity:
    the reference keeps whichever row upserts last (mysql.go ON
    DUPLICATE KEY); this makes the survivor choice deterministic and
    auditable instead of arrival-ordered.

    Scale: clustering cost is dedup_clusters' (banded candidate join +
    label-propagation fixpoint); survivorship itself is one
    cluster-keyed window + one aggregate — both shuffles keyed on
    cluster_id, whose cardinality is bounded by the dup rate, never the
    corpus. Sources merge as a sorted-distinct string (arrays crash the
    driver's canonicalization, r4 lesson)."""
    docs = load_table(spark, sf_dir, "documents")
    clusters = dedup_clusters(spark, sf_dir)
    members = clusters.join(docs, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.col("doc_id")
    )
    ranked = members.withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.max(F.when(F.col("rn") == 1, F.col("doc_id")))
            .cast("bigint")
            .alias("survivor_doc_id"),
            F.max(F.when(F.col("rn") == 1, F.col("n_chars")))
            .cast("bigint")
            .alias("survivor_chars"),
            F.array_join(
                F.array_sort(F.collect_set("source")), ","
            ).alias("sources"),
        )
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------------------------
# Winnowing (local document fingerprinting, MOSS-style)
# ---------------------------------------------------------------------------

_WN_K = 8   # k-gram length over the normalized alnum stream
_WN_W = 4   # winnowing window (guarantee: any match >= k+w-1 chars shares a fp)

# Exact base-128 gram packing (r8, replacing per-gram md5 — r7 VERDICT #3):
# norm is strictly [a-z0-9] (ascii 48-122 < 128), so Σ ascii(c_j)·128^(k-1-j)
# is an INJECTIVE 56-bit encoding of the k=8-gram — a collision-free
# "hash", cheaper than md5 by an order of magnitude, and spelled as the
# same integer arithmetic in both engines (max value ≈ 6.9e16 < 2^63).
# the Spark-side zip ladder below is specialized to these widths
# (three pack-doubling rounds = k 8, two least-rounds = w 4)
assert _WN_K == 8 and _WN_W == 4

_WN_POW = [128**e for e in range(_WN_K - 1, -1, -1)]
_WN_ORACLE_GRAM = " + ".join(
    f"ascii(substr(norm, CAST(pos + {j} AS INT), 1)) * CAST({p} AS BIGINT)"
    for j, p in enumerate(_WN_POW)
)


def gram_hash_arrays(
    content: DataFrame, key: str, carry: tuple[str, ...] = ()
) -> DataFrame:
    """Per-row packed 8-gram hash array ``hs`` over ``norm`` (requires
    ``n_grams`` = length - 7): the zip_with pack-doubling ladder
    (chars → 2-gram → 4-gram → 8-gram packs), each stage its own
    projection (HOF rule, SCALE.md). Shared by winnowing fingerprints
    and content-defined chunking; the base-128 packing is injective
    over [a-z0-9] and spelled as the same integer arithmetic in DuckDB
    (_WN_ORACLE_GRAM). ``carry`` columns ride every projection
    unchanged (r15 — winnow_fingerprints threads its per-content
    multiplicity through the ladder instead of joining it back)."""
    cols = [c for c in (key, *carry) if c not in ("norm", "n_grams")]
    chars = content.selectExpr(*cols, "norm", "n_grams", "split(norm, '') AS ch")
    g2 = chars.selectExpr(
        *cols,
        "norm",
        "n_grams",
        "zip_with(ch, slice(ch, 2, size(ch)),"
        " (x, y) -> ascii(x) * 128L + ascii(y)) AS a1",
    )
    g4 = g2.selectExpr(
        *cols,
        "norm",
        "n_grams",
        "zip_with(a1, slice(a1, 3, size(a1)),"
        " (x, y) -> x * 16384L + y) AS a2",
    )
    return g4.selectExpr(
        *cols,
        "norm",
        "n_grams",
        "slice(zip_with(a2, slice(a2, 5, size(a2)),"
        " (x, y) -> x * 268435456L + y), 1, n_grams) AS hs",
    )


def winnow_select_fps(
    content: DataFrame, key: str, carry: tuple[str, ...] = ()
) -> DataFrame:
    """Winnowing fingerprint selection, entirely in-array per row:
    ``content`` carries ``key``, ``norm`` ([a-z0-9] stream) and
    ``n_grams`` (= length - k + 1, ≥ w); returns the exploded
    (``key``, ``fp``) selected-fingerprint pairs.

    A ZIP LADDER, each stage its own projection (HOF rule, SCALE.md):
    pack 2-grams, then 4-grams (shift 2), then 8-grams (shift 4) — the
    doubling construction — and take the width-4 winnowing min the same
    way (two least-rounds at shifts 1 and 2). ~6n simple lambda evals
    per doc vs 13n for the naive per-position forms (measured 2.6s →
    1.2s on the sf0.1 candidate stage). zip_with pads the shorter
    (sliced) side with NULLs; every slot inside the final
    slice(1, n_grams−w+1) bound is provably NULL-free, and the tail
    slots the NULLs can corrupt are exactly the ones sliced off.

    The final explode is explode_OUTER, deliberately: plain explode
    makes the optimizer infer ``size(fps) > 0``
    (InferFiltersFromGenerate) and push it to the SCAN with the whole
    nested HOF chain inlined — the inferred filter then re-evaluates
    the inner arrays per element_at, an exponential-shaped blowup
    (measured: 500 docs went from >110 s to ~1 s). fps is provably
    non-empty here (n_grams ≥ w), so OUTER changes nothing
    semantically; it just suppresses the inferred filter.

    ``carry`` columns ride the ladder and the explode unchanged."""
    g8 = gram_hash_arrays(content, key, carry)
    cols = [key, *carry]
    m1_cols = [c for c in cols if c != "n_grams"]
    m1 = g8.selectExpr(
        *m1_cols,
        "n_grams",
        "zip_with(hs, slice(hs, 2, size(hs)), (x, y) -> least(x, y)) AS m1",
    )
    fps = m1.selectExpr(
        *cols,
        "array_distinct(slice(zip_with(m1, slice(m1, 3, size(m1)),"
        f" (x, y) -> least(x, y)), 1, n_grams - {_WN_W - 1})) AS fps",
    )
    return fps.select(*cols, F.explode_outer("fps").alias("fp"))


@register(
    "winnow_fingerprints",
    f"""
    WITH d AS (
      SELECT doc_id, source,
             regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS norm
      FROM documents
    ), m AS (
      SELECT doc_id, source, norm, length(norm) - {_WN_K} + 1 AS n_grams
      FROM d WHERE length(norm) >= {_WN_K + _WN_W - 1}
    ), g AS (
      SELECT doc_id, source, n_grams, pos,
             {_WN_ORACLE_GRAM} AS h
      FROM m, UNNEST(range(1, n_grams + 1)) AS t(pos)
    ), wmins AS (
      SELECT doc_id, source, n_grams, pos,
             min(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND {_WN_W - 1} FOLLOWING) AS fp
      FROM g
    ), sel AS (
      SELECT DISTINCT doc_id, source, fp
      FROM wmins WHERE pos <= n_grams - {_WN_W} + 1
    ), doc_stats AS (
      SELECT source, count(*) AS n_docs,
             sum(n_grams - {_WN_W} + 1) AS n_windows
      FROM m GROUP BY source
    ), fp_global AS (
      SELECT fp, count(DISTINCT doc_id) AS nd FROM sel GROUP BY fp
    ), src_fp AS (
      SELECT s.source,
             count(*) AS n_fp,
             sum(CASE WHEN fg.nd > 1 THEN 1 ELSE 0 END) AS n_fp_shared
      FROM sel s JOIN fp_global fg USING (fp)
      GROUP BY s.source
    )
    SELECT d.source,
           CAST(d.n_docs AS BIGINT) AS n_docs,
           CAST(d.n_windows AS BIGINT) AS n_windows,
           CAST(f.n_fp AS BIGINT) AS n_fp,
           CAST(f.n_fp_shared AS BIGINT) AS n_fp_shared,
           CAST(f.n_fp * 1000000 // d.n_windows AS BIGINT) AS density_ppm
    FROM doc_stats d JOIN src_fp f USING (source)
    ORDER BY d.source
    """,
)
def winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken, the
    MOSS algorithm): hash every {k}-gram of the normalized alnum
    stream, slide a window of {w} consecutive hashes, and keep the
    window MINIMUM — the provably-robust local fingerprinting scheme:
    any verbatim overlap of at least k+w-1 = {kw} characters between two
    documents is guaranteed to share a selected fingerprint, while only
    ~2/(w+1) = {exp} ppm of grams are kept. Reported per source: window
    count, selected-fingerprint count, the achieved density (ppm,
    against the 2/(w+1) theoretical rate), and how many selected
    fingerprints also occur in another document (the cross-doc overlap
    signal a containment/plagiarism pass would chase).

    Plan shape at 100 TB: DISTINCT-FIRST — fingerprint selection runs
    once per distinct normalized content; documents join the
    per-content fingerprint set back by content hash, so
    duplicate-heavy corpora pay |distinct content|, not |docs| (the
    ×10-replicated sf1 rehearsal GC-thrashed the row-level form). The
    gram hashing + winnowing min run ENTIRELY IN-ARRAY per content row
    (a zip_with pack-doubling ladder: chars → 2-gram → 4-gram → 8-gram
    packs, two least-rounds → array_distinct → explode of only the
    SELECTED ~2/(w+1) share):
    no gram explode, no winnowing Window shuffle — the r8 rewrite of
    the r7 shape, which exploded |chars| rows and shuffled them into a
    content-keyed Window (6.1s sf0.1, the slowest headline query; r7
    VERDICT #3). Per the HOF rule (SCALE.md) each array stage is its
    own projection. Cross-doc sharing is an fp-keyed equi-join of the
    selected set against its own |distinct fp|-sized histogram — no
    pair explosion anywhere; candidate *pairs* are deliberately left to
    the banded pipelines (`dedup_ngram_jaccard`,
    `block_containment_pairs`), this operator is the fingerprint layer
    under them. The gram hash is an exact base-128 packing (injective
    over the [a-z0-9] alphabet — see _WN_POW), identical integer
    arithmetic in DuckDB; it replaced the r7 per-gram md5, which was
    the measured cost floor."""
    docs = load_table(spark, sf_dir, "documents")
    m = (
        docs.select(
            "source",
            alnum_lower(F.col("text")).alias("norm"),
        )
        .withColumn("n_grams", F.length("norm") - _WN_K + 1)
        .filter(F.length("norm") >= _WN_K + _WN_W - 1)
    )
    # distinct-first (SCALE.md blanket rule): fingerprints depend only
    # on the normalized content, so selection runs once per DISTINCT
    # norm. r15 restructure (guide §2.4/§6 — the r14 shape scanned
    # documents THREE times, running the alnum normalization per scan
    # and shipping full norm strings through a standalone DISTINCT):
    # ONE scan feeds a two-level aggregate chain —
    #   groupBy(nh, source): doc multiplicity m_cnt + one representative
    #     norm per group (partial first() dedups map-side, so the
    #     exchange carries ~|distinct (content, source)| norms);
    #   groupBy(nh): total multiplicity m_tot + the per-source counts
    #     collected in-array (bounded by |sources|).
    # The winnowing ladder then runs once per distinct content with
    # (m_tot, n_grams, src_cnts) riding as carry columns, so every
    # downstream statistic is recovered from the ladder output alone —
    # no per_nh rejoin, no separate doc_stats scan, no final join.
    # first(norm) is deterministic: nh = md5(norm) is injective over the
    # corpus (the same collision-free assumption the r12 distinct-first
    # form already keyed on), so all norms in a group are identical.
    per_nh_src = (
        m.withColumn("nh", F.md5("norm"))
        .groupBy("nh", "source")
        .agg(
            F.count(F.lit(1)).alias("m_cnt"),
            F.first("norm").alias("norm"),
            F.first("n_grams").alias("n_grams"),
        )
    )
    content = per_nh_src.groupBy("nh").agg(
        F.first("norm").alias("norm"),
        F.first("n_grams").alias("n_grams"),
        F.sum("m_cnt").alias("m_tot"),
        F.collect_list(F.struct("source", "m_cnt")).alias("src_cnts"),
    )
    # r12 algebra, unchanged values (the ×100 octave measured the
    # row-expanded (doc, fp) incidence at ~15 s of 18 s): every doc with
    # content nh carries exactly the selected fp set of nh once, so
    # nd(fp) = Σ_{nh ∋ fp} m_tot(nh), n_fp(src) = Σ m_cnt·|fps(nh)|,
    # n_fp_shared(src) = Σ m_cnt·|{fp ∈ nh : nd(fp) > 1}|.
    cfp = winnow_select_fps(
        content, key="nh", carry=("m_tot", "n_grams", "src_cnts")
    ).persist()  # consumed by the nd aggregate + the stats rejoin
    nd = cfp.groupBy("fp").agg(F.sum("m_tot").alias("nd"))
    fp_stats = (
        cfp.join(nd, "fp")
        .groupBy("nh")
        .agg(
            F.count(F.lit(1)).alias("k_fp"),
            F.sum(F.when(F.col("nd") > 1, 1).otherwise(0)).alias("k_shared"),
            F.first("n_grams").alias("n_grams"),
            F.first("src_cnts").alias("src_cnts"),
        )
    )
    # Every nh survives to fp_stats: n_grams ≥ w makes fps non-empty and
    # the nd join is key-complete, so the per-source rollup (including
    # the old doc_stats totals) unpivots from fp_stats alone.
    src = fp_stats.select(
        "k_fp",
        "k_shared",
        "n_grams",
        F.explode("src_cnts").alias("sc"),
    ).select("k_fp", "k_shared", "n_grams", "sc.source", "sc.m_cnt")
    rollup = src.groupBy("source").agg(
        F.sum("m_cnt").cast("bigint").alias("n_docs"),
        F.sum(F.col("m_cnt") * (F.col("n_grams") - _WN_W + 1))
        .cast("bigint")
        .alias("n_windows"),
        F.sum(F.col("m_cnt") * F.col("k_fp")).cast("bigint").alias("n_fp"),
        F.sum(F.col("m_cnt") * F.col("k_shared"))
        .cast("bigint")
        .alias("n_fp_shared"),
    )
    return (
        rollup.select(
            "source",
            "n_docs",
            "n_windows",
            "n_fp",
            "n_fp_shared",
            F.expr("CAST(n_fp * 1000000 div n_windows AS BIGINT)").alias(
                "density_ppm"
            ),
        )
        .orderBy("source")
    )


winnow_fingerprints.__doc__ = winnow_fingerprints.__doc__.format(
    k=_WN_K, w=_WN_W, kw=_WN_K + _WN_W - 1, exp=2 * 1000000 // (_WN_W + 1)
)


# ---------------------------------------------------------------------------
# Content-defined chunking (Gear/rsync-style boundaries)
# ---------------------------------------------------------------------------

# Boundary when gram_hash % MOD == 0 → expected chunk ~MOD chars. MOD
# must be COPRIME with the packing base: 128 ≡ 0 (mod 64), so a
# power-of-two modulus collapses h % MOD to ascii(last char) % MOD —
# which is never 0 for [a-z0-9] and fires NO boundary at all (caught by
# test_cdc_chunking_boundary_resync, not by the oracle diff: both
# engines agreed on the degenerate single-chunk split). A prime modulus
# mixes every character of the gram.
_CDC_MOD = 61


def cdc_chunks(content: DataFrame, key: str) -> DataFrame:
    """Content-defined chunk split: ``content`` carries ``key``,
    ``norm`` and ``n_grams``; returns exploded (``key``, ``ch`` chunk
    md5, ``clen`` chunk length). A boundary closes after gram position
    p (at char p+k-1) wherever the packed gram hash ≡ 0 mod _CDC_MOD;
    the final chunk always ends at the string end. Boundary selection
    and chunk slicing run in-array; one md5 per CHUNK. explode_outer +
    post-filter: the InferFiltersFromGenerate lesson (winnow_select_fps)
    — cks is never empty, OUTER just suppresses the inferred filter."""
    g = gram_hash_arrays(content, key)
    # Iterate transform(hs, ...) — NOT element_at(hs, p) over a position
    # sequence: `hs` is referenced exactly once here, so CollapseProject
    # legally inlines the whole zip-ladder expression into this
    # projection; with element_at the inlined ladder would re-evaluate
    # per POSITION inside the lambda (O(n²) per content — measured 50 s
    # at sf1), while transform evaluates its input array once per row.
    # Gram position p = i+1 (0-based lambda index), boundary closes at
    # char p + k - 1 = i + 8.
    ends = g.selectExpr(
        key,
        "norm",
        f"concat(filter(transform(hs, (h, i) -> IF(h % {_CDC_MOD} = 0,"
        f" CAST(i + {_WN_K} AS BIGINT), CAST(NULL AS BIGINT))),"
        " e -> e IS NOT NULL AND e < length(norm)),"
        " array(CAST(length(norm) AS BIGINT))) AS ends",
    )
    chunks = ends.selectExpr(
        key,
        "transform(sequence(1, size(ends)), i -> struct("
        " md5(substring(norm, CAST(IF(i = 1, 1, element_at(ends, i-1) + 1) AS INT),"
        " CAST(element_at(ends, i) - IF(i = 1, 0, element_at(ends, i-1)) AS INT)))"
        " AS ch,"
        " element_at(ends, i) - IF(i = 1, 0, element_at(ends, i-1)) AS clen)) AS cks",
    )
    return (
        chunks.select(key, F.explode_outer("cks").alias("c"))
        .filter("c IS NOT NULL")
        .select(key, F.col("c.ch").alias("ch"), F.col("c.clen").alias("clen"))
    )


@register(
    "content_defined_chunking",
    f"""
    WITH d AS (
      SELECT doc_id, source,
             regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS norm
      FROM documents
    ), m AS (
      SELECT doc_id, source, norm, length(norm) - {_WN_K} + 1 AS n_grams
      FROM d WHERE length(norm) >= {_WN_K}
    ), c AS (
      SELECT DISTINCT norm, n_grams FROM m
    ), g AS (
      SELECT norm, pos, {_WN_ORACLE_GRAM} AS h
      FROM c, UNNEST(range(1, n_grams + 1)) AS t(pos)
    ), b AS (
      SELECT norm, list_sort(list(pos + {_WN_K - 1})) AS bounds
      FROM g WHERE h % {_CDC_MOD} = 0 GROUP BY norm
    ), e AS (
      SELECT c.norm,
             list_append(
               list_filter(coalesce(b.bounds, CAST([] AS BIGINT[])),
                           x -> x < length(c.norm)),
               CAST(length(c.norm) AS BIGINT)) AS ends
      FROM c LEFT JOIN b USING (norm)
    ), ck AS (
      SELECT norm, unnest([
               struct_pack(
                 ch := md5(substr(norm,
                    CAST(CASE WHEN i = 1 THEN 1 ELSE ends[i-1] + 1 END AS INT),
                    CAST(ends[i] - CASE WHEN i = 1 THEN 0 ELSE ends[i-1] END AS INT))),
                 clen := ends[i] - CASE WHEN i = 1 THEN 0 ELSE ends[i-1] END)
               FOR i IN range(1, len(ends) + 1)]) AS s
      FROM e
    ), sel AS (
      SELECT m.doc_id, m.source, ck.s.ch AS ch, ck.s.clen AS clen
      FROM m JOIN ck ON ck.norm = m.norm
    ), per_chunk AS (
      SELECT source, ch,
             count(*) AS cnt, sum(clen) AS len_sum,
             count(DISTINCT doc_id) AS nd
      FROM sel GROUP BY source, ch
    ), docs_per_source AS (
      SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
      FROM m GROUP BY source
    )
    SELECT p.source,
           d.n_docs,
           CAST(sum(p.cnt) AS BIGINT) AS n_chunks,
           CAST(count(*) AS BIGINT) AS n_distinct_chunks,
           CAST(sum(CASE WHEN p.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared_chunks,
           CAST(sum(p.len_sum) * 1000000 // sum(p.cnt) AS BIGINT)
             AS avg_chunk_len_ppm
    FROM per_chunk p JOIN docs_per_source d USING (source)
    GROUP BY p.source, d.n_docs
    ORDER BY p.source
    """,
)
def content_defined_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (the rsync/Gear/FastCDC family): a chunk
    boundary wherever the rolling 8-gram hash ≡ 0 mod {mod} (expected
    chunk ~{mod} chars), so chunk boundaries RESYNCHRONIZE after an
    insertion — the property fixed-size blocks lack and the reason CDC
    chunking is the standard sub-document dedup unit for long-document
    corpora (only the chunks containing an edit change; the rest dedup
    away). Reported per source: chunk count, distinct/shared chunk
    hashes (shared = the sub-document redundancy a chunk-level store
    would reclaim), and the achieved mean chunk length against the
    1/{mod} boundary-probability design point.

    Plan shape at 100 TB: DISTINCT-FIRST (chunks depend only on
    normalized content); the gram-hash ladder is the shared
    `gram_hash_arrays` zip ladder (one projection chain per distinct
    content, no explode, no window); boundary selection + chunk slicing
    run in-array, exploding only the ~len/{mod} chunks per content; one
    md5 per CHUNK (not per gram). Rollups are two partial-aggregated
    shuffles (source×chunk, then source). The boundary hash and chunk
    hashes are engine-portable (base-128 packing + md5), so DuckDB
    replays the exact chunking."""
    docs = load_table(spark, sf_dir, "documents")
    m = (
        docs.select(
            "doc_id",
            "source",
            alnum_lower(F.col("text")).alias("norm"),
        )
        .withColumn("n_grams", F.length("norm") - _WN_K + 1)
        .filter(F.length("norm") >= _WN_K)
    )
    content = m.select("norm", "n_grams").distinct().withColumn("nh", F.md5("norm"))
    ex = cdc_chunks(content.select("nh", "norm", "n_grams"), "nh")
    sel = (
        m.withColumn("nh", F.md5("norm"))
        .select("doc_id", "source", "nh")
        .join(ex, "nh")
    )
    per_chunk = sel.groupBy("source", "ch").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("clen").alias("len_sum"),
        F.countDistinct("doc_id").alias("nd"),
    )
    docs_per_source = m.groupBy("source").agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_docs")
    )
    return (
        per_chunk.groupBy("source")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_chunks"),
            F.count(F.lit(1)).cast("bigint").alias("n_distinct_chunks"),
            F.count_if(F.col("nd") >= 2).cast("bigint").alias("n_shared_chunks"),
            F.expr("CAST(sum(len_sum) * 1000000 div sum(cnt) AS BIGINT)").alias(
                "avg_chunk_len_ppm"
            ),
        )
        .join(docs_per_source, "source")
        .select(
            "source",
            "n_docs",
            "n_chunks",
            "n_distinct_chunks",
            "n_shared_chunks",
            "avg_chunk_len_ppm",
        )
        .orderBy("source")
    )


content_defined_chunking.__doc__ = content_defined_chunking.__doc__.format(
    mod=_CDC_MOD
)


# ---------------------------------------------------------------------------
# MinHash mergeability proof (the algebra incremental dedup relies on)
# ---------------------------------------------------------------------------


def _union_merge_oracle(num_hashes: int = 32, shingle_len: int = 3,
                        seed: int = 42) -> str:
    coeffs = _minhash_coeffs(num_hashes, seed)
    coeff_lit = "[" + ",".join(f"[{a},{b}]" for a, b in coeffs) + "]"
    poly = _POLY[:shingle_len]
    shingle_expr = " + ".join(
        f"wh[i+{j+1}]*{c}" if c != 1 else f"wh[i+{j+1}]" for j, c in enumerate(poly)
    )
    return f"""
    WITH wh AS (
      SELECT doc_id, source,
             list_transform(string_split(text, ' '),
               w -> CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) % {_PRIME}) AS wh
      FROM documents
    ), sh AS (
      SELECT doc_id, source,
             list_distinct([({shingle_expr}) % {_PRIME}
                            FOR i IN range(0, greatest(len(wh) - {shingle_len - 1}, 0))]) AS shingles
      FROM wh
    ), doc_sig AS (
      SELECT doc_id, source,
             list_transform({coeff_lit},
               c -> coalesce(list_min(list_transform(shingles,
                              s -> (s*c[1] + c[2]) % {_PRIME})), {_PRIME})) AS mh
      FROM sh
    ), merged_pos AS (
      SELECT source, i, min(mh[CAST(i AS INT)]) AS mn
      FROM doc_sig, UNNEST(range(1, {num_hashes + 1})) AS t(i)
      GROUP BY source, i
    ), merged AS (
      SELECT source, list(mn ORDER BY i) AS merged_sig FROM merged_pos
      GROUP BY source
    ), uni AS (
      SELECT source, list_distinct(flatten(list(shingles))) AS u_shingles,
             CAST(count(*) AS BIGINT) AS n_docs
      FROM sh GROUP BY source
    ), uni_sig AS (
      SELECT source, n_docs,
             CAST(len(u_shingles) AS BIGINT) AS n_union_shingles,
             list_transform({coeff_lit},
               c -> coalesce(list_min(list_transform(u_shingles,
                              s -> (s*c[1] + c[2]) % {_PRIME})), {_PRIME})) AS u_sig
      FROM uni
    )
    SELECT m.source, u.n_docs, u.n_union_shingles,
           CAST(list_sum(list_transform(range(1, {num_hashes + 1}),
             i -> CASE WHEN m.merged_sig[CAST(i AS INT)] <> u.u_sig[CAST(i AS INT)]
                       THEN 1 ELSE 0 END)) AS BIGINT) AS n_mismatch_positions,
           CAST(list_sum(m.merged_sig) AS BIGINT) AS merged_sig_sum
    FROM merged m JOIN uni_sig u USING (source)
    ORDER BY m.source
    """


@register("minhash_union_merge_proof", _union_merge_oracle())
def minhash_union_merge_proof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash MERGEABILITY theorem, proven as dataflow: the
    signature of a UNION of shingle sets equals the elementwise MIN of
    the member signatures — sig(∪ᵢ Aᵢ)[k] = minᵢ sig(Aᵢ)[k]. This
    algebra is what lets the incremental release pipeline
    (pipelines.py) maintain a corpus-level signature index by merging
    per-batch signatures WITHOUT ever re-reading the corpus, and what
    makes MinHash sketches partial-aggregable (map-side combine) in a
    distributed group-by. Per source: the member-merged signature and
    the recomputed union signature, with the mismatch count (must be 0)
    and a signature checksum the oracle replays exactly.

    Plan: per-doc signatures are the existing narrow shingle→permute
    pass; the merge is ONE partial-aggregated shuffle on source
    (zip_with(least) over collected signatures — commutative, so
    collect order is irrelevant); the union side dedups shingles with a
    source-keyed explode+distinct, the only row-multiplying step, then
    signs |union| rows once. Nothing here is quadratic; both sides ride
    the same source partitioning.

    r14 (guide §2.4 — remove shuffles outright): ``source`` rides the
    shingle projection via ``carry`` instead of TWO doc_id equi-joins
    (shingled×docs, then sigs×docs again — each a fact-to-fact shuffle
    of the wide ``__shingles``/``minhash`` array column just to
    re-attach one string), and the union side's shingle count comes out
    of the SAME source-keyed aggregate that collects the union list
    (``size`` of the collected array ≡ count(*) of the distinct rows by
    construction), where the old form re-ran the whole explode+distinct
    exchange a second time to count it. 2 joins + 1 duplicate
    distinct-explode exchange removed; values identical because every
    removed operator was a pure re-attachment/re-count of data already
    present."""
    docs = load_table(spark, sf_dir, "documents")
    with_src = shingle_arrays(
        docs, "doc_id", "text", portable_hash=True, carry=("source",)
    ).persist()
    sigs = signatures_from_shingles(with_src, "doc_id", carry=("source",))
    init = ", ".join(["CAST(%d AS BIGINT)" % _PRIME] * 32)
    merged = sigs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.expr(
            f"aggregate(collect_list(minhash), array({init}),"
            " (acc, x) -> zip_with(acc, x, (a, b) -> least(a, b)))"
        ).alias("merged_sig"),
    )
    union_sh = (
        with_src.select("source", F.explode("__shingles").alias("s"))
        .distinct()
        .groupBy("source")
        .agg(F.collect_list("s").alias("__shingles"))
        .select(
            "source",
            "__shingles",
            F.size("__shingles").cast("bigint").alias("n_union_shingles"),
        )
    )
    uni_sig = signatures_from_shingles(
        union_sh, "source", carry=("n_union_shingles",)
    ).withColumnRenamed("minhash", "u_sig")
    return (
        merged.join(uni_sig, "source")
        .select(
            "source",
            "n_docs",
            "n_union_shingles",
            F.expr(
                "CAST(size(filter(zip_with(merged_sig, u_sig,"
                " (a, b) -> a <> b), v -> v)) AS BIGINT)"
            ).alias("n_mismatch_positions"),
            F.expr(
                "CAST(aggregate(merged_sig, CAST(0 AS BIGINT),"
                " (acc, x) -> acc + x) AS BIGINT)"
            ).alias("merged_sig_sum"),
        )
        .orderBy("source")
    )


@register(
    "neardup_transitivity_audit",
    r"""
    WITH contents AS (
      SELECT min(doc_id) AS cid, text FROM documents GROUP BY text
    ), shingled AS (
      SELECT cid, unnest(list_distinct([
               array_to_string(words[i:i+2], ' ')
               FOR i IN range(1, greatest(len(words) - 2, 0) + 1)
             ])) AS shingle
      FROM (SELECT cid, string_split(text, ' ') AS words FROM contents)
    ), sizes AS (
      SELECT cid, count(*) AS n_sh FROM shingled GROUP BY cid
    ), inter AS (
      SELECT a.cid AS x, b.cid AS y, count(*) AS n_common
      FROM shingled a JOIN shingled b
        ON a.shingle = b.shingle AND a.cid < b.cid
      GROUP BY a.cid, b.cid
    ), edges AS (
      SELECT x, y FROM inter
      JOIN sizes sa ON sa.cid = x
      JOIN sizes sb ON sb.cid = y
      WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.5
    ), sym AS (
      SELECT x AS c, y AS nb FROM edges UNION ALL SELECT y, x FROM edges
    ), wedges AS (
      SELECT w1.nb AS x1, w2.nb AS x2
      FROM sym w1 JOIN sym w2 ON w1.c = w2.c AND w1.nb < w2.nb
    )
    SELECT CAST((SELECT count(*) FROM contents) AS BIGINT) AS n_contents,
           CAST((SELECT count(*) FROM edges) AS BIGINT) AS n_edges,
           CAST((SELECT count(*) FROM wedges) AS BIGINT) AS n_wedges,
           CAST((SELECT count(*) FROM wedges w
                 JOIN edges e ON e.x = w.x1 AND e.y = w.x2) AS BIGINT)
             AS n_closed,
           CAST(CASE WHEN (SELECT count(*) FROM wedges) = 0 THEN 0
                ELSE (SELECT count(*) FROM wedges w
                      JOIN edges e ON e.x = w.x1 AND e.y = w.x2) * 1000000
                     // (SELECT count(*) FROM wedges) END AS BIGINT)
             AS closure_ppm
    """,
)
def neardup_transitivity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitivity audit of the near-duplicate relation — the number
    that decides whether CLUSTER-level dedup (dedup_clusters: connected
    components, one survivor per component) is safe: near-duplicate is
    not transitive (a~b and b~c at Jaccard 0.5 can leave a,c at 0.2),
    and a LOW closure rate means components chain together documents
    that are NOT near-duplicates of each other — the classic
    over-merging failure of CC-based dedup on sliding content. Computed
    on the DISTINCT-CONTENT graph (exact replicas collapse to one node
    first — the r7 distinct-first rule; replica cliques would otherwise
    inflate wedges CUBICALLY), as global clustering coefficient:
    closed wedges / all wedges, exact ppm.

    Scale: content collapse (one hash shuffle), the verified
    inverted-index Jaccard join builds edges, the edge list is persisted
    (graph-sized, tiny relative to the corpus) and wedges come from the
    degree-bounded neighbor self-join — Σ deg² on the content graph,
    the copurchase_triangles bound; at 100 TB a degree cap on hub
    contents bounds the worst case. Report assembly is four 1-row
    aggregates crossed (whitelisted fixed-size)."""
    docs = load_table(spark, sf_dir, "documents")
    contents = (
        docs.groupBy("text")
        .agg(F.min("doc_id").alias("cid"))
        .select("cid", "text")
        .persist()
    )
    edges = _ngram_jaccard_pairs_rowlevel(
        contents, "cid", "text", shingle_len=3, threshold=0.5
    ).select(F.col("doc_a").alias("x"), F.col("doc_b").alias("y")).persist()
    sym = edges.select(F.col("x").alias("c"), F.col("y").alias("nb")).unionByName(
        edges.select(F.col("y").alias("c"), F.col("x").alias("nb"))
    )
    w1 = sym.alias("w1")
    w2 = sym.alias("w2")
    wedges = w1.join(
        w2,
        (F.col("w1.c") == F.col("w2.c")) & (F.col("w1.nb") < F.col("w2.nb")),
    ).select(F.col("w1.nb").alias("x1"), F.col("w2.nb").alias("x2")).persist()
    n_contents = contents.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_contents")
    )
    n_edges = edges.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    n_wedges = wedges.agg(F.count(F.lit(1)).cast("bigint").alias("n_wedges"))
    n_closed = (
        wedges.join(
            edges,
            (F.col("x") == F.col("x1")) & (F.col("y") == F.col("x2")),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_closed"))
    )
    return (
        n_contents.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(n_wedges))
        .crossJoin(F.broadcast(n_closed))
        .select(
            "n_contents",
            "n_edges",
            "n_wedges",
            "n_closed",
            F.expr(
                "CAST(CASE WHEN n_wedges = 0 THEN 0"
                " ELSE n_closed * 1000000 div n_wedges END AS BIGINT)"
            ).alias("closure_ppm"),
        )
    )
