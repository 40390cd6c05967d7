"""Similarity search over the ``embeddings`` table (array<float>, dim 64).

Two tiers, per BASELINE.json:
- Brute-force cosine top-k — the exactness baseline. Dot products via
  built-in higher-order functions (zip_with + aggregate), entirely
  JVM-side; top-k via per-query window rank with rank-limit pushdown.
  Cost O(|Q|·|N|·d): correct tool when |Q| is small (probe queries) or
  data fits a partition.
- LSH-bucketed (random hyperplane signatures, Hamming banding) — the scale
  path: candidates only within matching signature bands, so the join is
  |Q|·bucket_size instead of |Q|·|N|. Recall tunable by bands/bits. Same
  shape as an IVF coarse quantizer (bucket = inverted list).

Embedding-cosine near-dup pairs (dedup use-case) reuse the same kernels.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dbtransfer_spark.catalog import load_table
from dbtransfer_spark.registry import ORACLE, QUERIES, register


def dot(a: Column | str, b: Column | str) -> Column:
    """Σ aᵢ·bᵢ in double precision (JVM codegen; no UDF)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column | str) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column | str, b: Column | str) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def sql_dot(a: str, b: str) -> str:
    """SQL-text twin of :func:`dot` — identical expression tree after
    parsing (same casts, same fold), so the doubles are bit-equal.
    Building hot-path expressions as ONE parsed string instead of ~100
    py4j Column calls cuts per-query plan-build time ~10× (measured
    0.6 s → 0.05 s on the IVF plan; driver-side cost, but bench pays it
    three times per query)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0.0 AS DOUBLE), (acc, w) -> acc + w)"
    )


def sql_norm(a: str) -> str:
    """SQL-text twin of :func:`norm` (see :func:`sql_dot`)."""
    return (
        f"sqrt(aggregate(transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
        "CAST(0.0 AS DOUBLE), (acc, w) -> acc + w))"
    )


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    q_id: str = "q_id",
    c_id: str = "c_id",
    q_vec: str = "q_vec",
    c_vec: str = "c_vec",
) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query set against the
    corpus, per-query rank window. Tie-break on neighbor id for
    determinism."""
    joined = corpus.crossJoin(F.broadcast(queries))
    scored = joined.select(
        q_id,
        c_id,
        cosine(F.col(q_vec), F.col(c_vec)).alias("cos_sim"),
    ).filter(F.col(q_id) != F.col(c_id))
    w = Window.partitionBy(q_id).orderBy(F.desc("cos_sim"), c_id)
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


@register(
    "knn_bruteforce_cosine",
    """
    WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec
               FROM embeddings WHERE vec_id < 10),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             list_inner_product(
               list_transform(q.q_vec, x -> CAST(x AS DOUBLE)),
               list_transform(e.embedding, x -> CAST(x AS DOUBLE)))
             / (sqrt(list_inner_product(list_transform(q.q_vec, x -> CAST(x AS DOUBLE)),
                                        list_transform(q.q_vec, x -> CAST(x AS DOUBLE))))
              * sqrt(list_inner_product(list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
                                        list_transform(e.embedding, x -> CAST(x AS DOUBLE)))))
               AS cos_sim
      FROM embeddings e, q WHERE e.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, round(cos_sim, 4) AS cos_sim, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def knn_bruteforce_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for probe queries (vec_id < 10)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    )
    corpus = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_vec"))
    out = brute_force_topk(
        queries, corpus, k=5, q_id="query_id", c_id="neighbor_id", q_vec="q_vec", c_vec="c_vec"
    )
    return out.select("query_id", "neighbor_id", F.round("cos_sim", 4).alias("cos_sim"), "rank")


@register(
    "embedding_neardup_pairs",
    """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(
             list_inner_product(
               list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
               list_transform(b.embedding, x -> CAST(x AS DOUBLE)))
             / (sqrt(list_inner_product(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                                        list_transform(a.embedding, x -> CAST(x AS DOUBLE))))
              * sqrt(list_inner_product(list_transform(b.embedding, x -> CAST(x AS DOUBLE)),
                                        list_transform(b.embedding, x -> CAST(x AS DOUBLE))))),
             4) AS cos_sim,
           (a.label = b.label) AS same_label
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_inner_product(
            list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
            list_transform(b.embedding, x -> CAST(x AS DOUBLE)))
          / (sqrt(list_inner_product(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                                     list_transform(a.embedding, x -> CAST(x AS DOUBLE))))
           * sqrt(list_inner_product(list_transform(b.embedding, x -> CAST(x AS DOUBLE)),
                                     list_transform(b.embedding, x -> CAST(x AS DOUBLE))))) >= 0.4
    """,
)
def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: all pairs ≥ 0.4 (fixture vectors are
    cluster-sampled; 0.4 is the meaningful near-dup band there). The exact (quadratic)
    correctness anchor for the LSH variant below; at scale the LSH
    candidates feed this same exact filter."""
    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"), F.col("label").alias("la")
    )
    b = emb.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"), F.col("label").alias("lb")
    )
    sim = cosine(F.col("va"), F.col("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cos_sim_raw", sim)
        .filter(F.col("cos_sim_raw") >= 0.4)
        .select(
            "id_a",
            "id_b",
            F.round("cos_sim_raw", 4).alias("cos_sim"),
            (F.col("la") == F.col("lb")).alias("same_label"),
        )
    )


# ---------------------------------------------------------------------------
# LSH / IVF scale path (no SQL oracle: hyperplane-seed specific)
# ---------------------------------------------------------------------------


def _hyperplanes(bits: int, dim: int, seed: int) -> list[list[float]]:
    """Deterministic pseudo-random Gaussian hyperplanes — shared between
    the Spark signature pass and the DuckDB oracle (same literals)."""
    import random

    rnd = random.Random(seed)
    return [[rnd.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(bits)]


def hyperplane_signatures(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    bits: int = 16,
    dim: int = 64,
    seed: int = 42,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Random-hyperplane (sign) LSH: bit i = sign(v · rᵢ). Deterministic
    pseudo-random planes derived from ``seed`` driver-side. cos(θ) close ⇒
    signatures Hamming-close (SimHash for vectors). ``keep_cols`` ride
    along so downstream candidate joins don't need a second pass over the
    (SF-scaling) input."""
    planes = _hyperplanes(bits, dim, seed)
    sig = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        proj = F.aggregate(
            F.zip_with(
                F.col(vec_col),
                F.array(*[F.lit(c) for c in plane]),
                lambda x, c: x.cast("double") * c,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        sig = sig.bitwiseOR(
            F.when(proj > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(F.lit(0).cast("long"))
        )
    extra = [F.col(c) for c in (keep_cols or [])]
    return df.select(F.col(id_col), F.col(vec_col), *extra, sig.alias("sig"))


def _knn_lsh_oracle(
    bits: int = 16, dim: int = 64, seed: int = 42, bands: int = 4,
    band_bits: int = 4, k: int = 5, n_queries: int = 10,
) -> str:
    """DuckDB replay of the hyperplane-LSH kNN: the seed-derived plane
    constants are embedded as literal arrays (full-precision repr →
    bit-identical doubles), so signatures, band buckets, candidates and
    the exact cosine re-rank all match the Spark path."""
    planes = _hyperplanes(bits, dim, seed)
    mask = (1 << band_bits) - 1
    sig_terms = " + ".join(
        "CASE WHEN list_inner_product(v, ["
        + ",".join(repr(c) for c in plane)
        + f"]) > 0 THEN {1 << i} ELSE 0 END"
        for i, plane in enumerate(planes)
    )
    return f"""
    WITH ve AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), sig AS (
      SELECT vec_id, v, ({sig_terms}) AS sig FROM ve
    ), banded AS (
      SELECT vec_id, v, band, (sig >> (band * {band_bits})) & {mask} AS val
      FROM sig CROSS JOIN (SELECT unnest(range(0, {bands})) AS band) b
    ), cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                      q.v AS qv, c.v AS cv
      FROM banded q JOIN banded c ON q.band = c.band AND q.val = c.val
      WHERE q.vec_id < {n_queries} AND q.vec_id <> c.vec_id
    ), scored AS (
      SELECT query_id, neighbor_id,
             list_inner_product(qv, cv)
               / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(cv, cv)))
               AS cos_raw
      FROM cand
    )
    SELECT query_id, neighbor_id, round(cos_raw, 4) AS cos_sim, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_raw DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


@register("knn_lsh_cosine", _knn_lsh_oracle())
def knn_lsh_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5: 16-bit hyperplane signatures, candidates = pairs
    sharing any of 4 × 4-bit bands (multi-probe analog), exact cosine
    re-rank of candidates only. At 100 TB: signatures are one narrow pass;
    the band join touches only colliding buckets — this is the IVF-list
    pattern with hyperplane buckets."""
    emb = load_table(spark, sf_dir, "embeddings")
    sigs = hyperplane_signatures(emb, "vec_id", "embedding")
    queries = sigs.filter(F.col("vec_id") < 10)

    def banded(df: DataFrame, prefix: str) -> DataFrame:
        return df.select(
            F.col("vec_id").alias(f"{prefix}_id"),
            F.col("embedding").alias(f"{prefix}_vec"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("band"),
                            F.shiftright("sig", i * 4).bitwiseAND(F.lit(0xF)).alias("val"),
                        )
                        for i in range(4)
                    ]
                )
            ).alias("bb"),
        ).select(f"{prefix}_id", f"{prefix}_vec", "bb.band", "bb.val")

    qb = banded(queries, "q")
    cb = banded(sigs, "c")
    candidates = (
        qb.join(cb, ["band", "val"])
        .filter(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id", "q_vec", "c_vec")
        .distinct()
    )
    scored = candidates.select(
        F.col("q_id").alias("query_id"),
        F.col("c_id").alias("neighbor_id"),
        cosine(F.col("q_vec"), F.col("c_vec")).alias("cos_sim_raw"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim_raw"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", F.round("cos_sim_raw", 4).alias("cos_sim"), "rank")
    )


# ---------------------------------------------------------------------------
# IVF: coarse quantizer → inverted lists → nprobe probe → exact re-rank
# ---------------------------------------------------------------------------


def ivf_centroids(emb: DataFrame, vec_col: str, label_col: str) -> DataFrame:
    """Coarse-quantizer training: per-list centroid = dimension-wise mean.
    Sums go through DECIMAL(30,10) so the result is order-independent and
    bit-identical across engines (float addition is not associative; a
    Spark partial-agg tree and DuckDB's sequential sum would otherwise
    drift in the last ulp). One posexplode shuffle of |rows|·dim narrow
    rows — at 100 TB this is the k-means-assignment-shaped pass every IVF
    build pays, and it partitions on (label, pos) with no skew."""
    pe = emb.select(label_col, F.posexplode(vec_col).alias("pos", "x"))
    per_dim = pe.groupBy(label_col, "pos").agg(
        (F.sum(F.col("x").cast("decimal(30,10)")).cast("double") / F.count(F.lit(1))).alias("c")
    )
    return per_dim.groupBy(label_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s.getField("c")
        ).alias("centroid")
    )


def ivf_materialized_index(emb: DataFrame, nprobe: int) -> DataFrame:
    """The IVF build shared by search and index-manifest queries: one
    narrow row per vector — (vec_id, v, norm, top-``nprobe`` list ids).

    Centroid norms are computed ONCE in a 1-row broadcast fold
    (n_lists·dim doubles) instead of per (vector, centroid) pair, and
    each vector scores/sorts its centroid list INSIDE the row — zero
    shuffle for assignment, vs the former |N|·n_lists-row window
    exchange. The fold and the output frame are persisted: multiple
    consumers (assignment side, query-probe side, manifest aggregate)
    would otherwise re-train the quantizer per branch — no
    ReusedExchange materializes across the differently-filtered
    crossJoins. Expressions are parsed SQL text (see sql_dot): one
    parse instead of a py4j call storm.

    Float discipline: score = dot(v, c)/norm(c), the exact expression
    the DuckDB oracles replay; the in-row sort uses the same total
    order as the former window (cos_c DESC, list_id ASC), so ranks are
    bit-equal."""
    vecs = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    cent_one = (
        ivf_centroids(emb, "embedding", "label")
        .select(
            F.col("label").alias("list_id"),
            "centroid",
            norm(F.col("centroid")).alias("cnorm"),
        )
        .agg(
            F.collect_list(F.struct("list_id", "centroid", "cnorm")).alias("cents")
        )
        .persist()
    )
    scored_sql = (
        "transform(cents, c -> named_struct("
        f"'cos_c', {sql_dot('v', 'c.centroid')} / c.cnorm, "
        "'list_id', c.list_id))"
    )
    ranked_sql = (
        f"array_sort({scored_sql}, (l, r) -> "
        "CASE WHEN l.cos_c > r.cos_c THEN -1 WHEN l.cos_c < r.cos_c THEN 1 "
        "WHEN l.list_id < r.list_id THEN -1 WHEN l.list_id > r.list_id THEN 1 "
        "ELSE 0 END)"
    )
    return (
        vecs.crossJoin(F.broadcast(cent_one))
        .selectExpr(
            "vec_id",
            "v",
            f"{sql_norm('v')} AS nv",
            f"transform(slice({ranked_sql}, 1, {nprobe}), s -> s.list_id)"
            " AS probe_lists",
        )
        .persist()
    )


def _ivf_oracle(nprobe: int = 3, k: int = 5, n_queries: int = 10, dim: int = 64) -> str:
    """DuckDB replay of the IVF search: identical centroid math
    (decimal-exact means), identical assignment/probe/re-rank tie-breaks."""
    return f"""
    WITH pe AS (
      SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
             unnest(embedding) AS x
      FROM embeddings
    ), per_dim AS (
      SELECT label, pos,
             CAST(sum(CAST(x AS DECIMAL(30,10))) AS DOUBLE) / count(*) AS c
      FROM pe GROUP BY label, pos
    ), cent AS (
      SELECT label AS list_id, list(c ORDER BY pos) AS centroid
      FROM per_dim GROUP BY label
    ), ve AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), scored_cent AS (
      -- Ranking score: cosine scaled by the per-vector constant norm(v)
      -- (order-identical per vec_id, one aggregate pass cheaper).
      SELECT ve.vec_id, ve.v, cent.list_id,
             list_inner_product(ve.v, cent.centroid)
               / sqrt(list_inner_product(cent.centroid, cent.centroid)) AS cos_c
      FROM ve CROSS JOIN cent
    ), assigned AS (
      SELECT vec_id, v, list_id FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cos_c DESC, list_id) AS rn
        FROM scored_cent
      ) WHERE rn = 1
    ), probes AS (
      SELECT vec_id AS query_id, v AS qv, list_id FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cos_c DESC, list_id) AS rn
        FROM scored_cent WHERE vec_id < {n_queries}
      ) WHERE rn <= {nprobe}
    ), cand AS (
      SELECT DISTINCT p.query_id, p.qv, a.vec_id AS neighbor_id, a.v AS cv
      FROM probes p JOIN assigned a ON a.list_id = p.list_id
      WHERE a.vec_id <> p.query_id
    ), scored AS (
      SELECT query_id, neighbor_id,
             list_inner_product(qv, cv)
               / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(cv, cv)))
               AS cos_raw
      FROM cand
    )
    SELECT query_id, neighbor_id, round(cos_raw, 4) AS cos_sim, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_raw DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


@register("knn_ivf_cosine", _ivf_oracle())
def knn_ivf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-5: train a coarse quantizer (per-label
    decimal-exact mean centroids), assign every vector to its nearest
    list, probe the ``nprobe=3`` nearest lists per query, exact cosine
    re-rank inside the probed lists only.

    100 TB shape: the centroid table is O(n_lists·dim) — CONSTANT in SF —
    so it is folded into ONE row holding an array of (list_id, centroid)
    structs and broadcast (a ~n_lists·dim·8-byte value). Assignment and
    probe selection then become per-row expressions (score + sort
    ≤n_lists structs inside each row): ZERO shuffle and zero cached
    state where the previous plan shuffled |N|·n_lists rows carrying
    dim-wide vectors through a window and persisted ~|N|·nprobe vectors
    (r6, replacing the r4/r5 window-based assignment — the knn_ivf
    bench regression chase, VERDICT r5 #4). The only SF-scaling
    shuffles left are the posexplode centroid build and the final
    candidates exchange, each linear and skew-free; the whole search
    stays one lazy job (the centroid fold is a broadcast-exchange
    subplan reused by both branches). Search cost stays
    |Q|·(nprobe/n_lists)·|N|.

    Float discipline: the per-row score is the identical expression tree
    (zip_with/aggregate dot, then ÷ norm(centroid)) over the identical
    double values, so ranks — and the DuckDB oracle hashes — are
    bit-equal to the window formulation.
    """
    nprobe, k, n_queries = 3, 5, 10
    emb = load_table(spark, sf_dir, "embeddings")
    rk = ivf_materialized_index(emb, nprobe)
    assigned = rk.selectExpr(
        "vec_id", "v", "nv", "element_at(probe_lists, 1) AS list_id"
    )
    probes = rk.filter(F.col("vec_id") < n_queries).selectExpr(
        "vec_id AS query_id",
        "v AS qv",
        "nv AS nq",
        "explode(probe_lists) AS list_id",
    )
    # |Q|·nprobe broadcast rows; one assignment row per vec_id and
    # distinct probed list_ids per query make (query, neighbor) pairs
    # unique by construction — no dedup pass needed. Norms ride along
    # from the single per-vector computation above; cos_raw keeps the
    # dot/(nq·nc) grouping of cosine() so the doubles stay bit-equal.
    candidates = (
        assigned.join(F.broadcast(probes), "list_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "qv",
            "nq",
            F.col("vec_id").alias("neighbor_id"),
            F.col("v").alias("cv"),
            F.col("nv").alias("nc"),
        )
    )
    scored = candidates.selectExpr(
        "query_id",
        "neighbor_id",
        f"{sql_dot('qv', 'cv')} / (nq * nc) AS cos_raw",
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("cos_raw", 4).alias("cos_sim"), "rank")
    )


def _neardup_lsh_oracle(
    bits: int = 16, dim: int = 64, seed: int = 42, bands: int = 4,
    band_bits: int = 4, threshold: float = 0.4,
) -> str:
    """DuckDB replay of the LSH-bucketed near-dup pass (literal planes,
    same banding, same exact-cosine confirm)."""
    planes = _hyperplanes(bits, dim, seed)
    mask = (1 << band_bits) - 1
    sig_terms = " + ".join(
        "CASE WHEN list_inner_product(v, ["
        + ",".join(repr(c) for c in plane)
        + f"]) > 0 THEN {1 << i} ELSE 0 END"
        for i, plane in enumerate(planes)
    )
    return f"""
    WITH ve AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), sig AS (
      SELECT vec_id, label, v, ({sig_terms}) AS sig FROM ve
    ), banded AS (
      SELECT vec_id, label, v, band, (sig >> (band * {band_bits})) & {mask} AS val
      FROM sig CROSS JOIN (SELECT unnest(range(0, {bands})) AS band) b
    ), cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
                      a.v AS va, b.v AS vb, a.label AS la, b.label AS lb
      FROM banded a JOIN banded b ON a.band = b.band AND a.val = b.val
      WHERE a.vec_id < b.vec_id
    )
    SELECT id_a, id_b,
           round(list_inner_product(va, vb)
             / (sqrt(list_inner_product(va, va)) * sqrt(list_inner_product(vb, vb))),
             4) AS cos_sim,
           (la = lb) AS same_label
    FROM cand
    WHERE list_inner_product(va, vb)
            / (sqrt(list_inner_product(va, va)) * sqrt(list_inner_product(vb, vb)))
          >= {threshold}
    """


@register("embedding_neardup_lsh", _neardup_lsh_oracle())
def embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup at scale: candidates from the hyperplane band
    join (cost ∝ bucket collisions, never |N|²), exact cosine ≥ 0.4
    confirm on candidates only. The production-scale counterpart of the
    exact ``embedding_neardup_pairs`` anchor — same output schema, recall
    traded for a linear-in-collisions plan; bands/bits are the recall
    knobs.

    r7 rewrite (same distinct-first discipline as fuzzy_part_linkage):
    signatures, banding, and the cosine confirm all run per DISTINCT
    vector — identical vectors share every band bucket, so row-level
    LSH squares each replica clique inside every bucket (the r7 sf1
    sweep timed the row-level plan out at >120 s on the 10×-replicated
    rehearsal fixture). Candidate volume is now bounded by distinct
    content; member-pair expansion joins run only for confirmed groups
    (within-group replicas, cross-group cos ≥ 0.4), so the expansion
    fanout equals the OUTPUT — the irreducible part. Output identical
    (oracle-verified)."""
    emb = load_table(spark, sf_dir, "embeddings")
    members = emb.select("vec_id", "label", "embedding")
    groups = (
        emb.groupBy("embedding")
        .agg(
            F.min("vec_id").alias("gid"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .persist()  # signature pass + self-pair scan consume it twice
    )
    sigs = hyperplane_signatures(groups, "gid", "embedding")

    def banded(prefix: str) -> DataFrame:
        return sigs.select(
            F.col("gid").alias(f"gid_{prefix}"),
            F.col("embedding").alias(f"v{prefix}"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("band"),
                            F.shiftright("sig", i * 4).bitwiseAND(F.lit(0xF)).alias("val"),
                        )
                        for i in range(4)
                    ]
                )
            ).alias("bb"),
        ).select(f"gid_{prefix}", f"v{prefix}", "bb.band", "bb.val")

    cross = (
        banded("a")
        .join(banded("b"), ["band", "val"])
        .filter(F.col("gid_a") < F.col("gid_b"))
        .select("gid_a", "gid_b", "va", "vb")
        .distinct()
        .withColumn("cos_raw", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("cos_raw") >= 0.4)
        .select("gid_a", "gid_b", "cos_raw")
    )
    ma = members.join(
        groups.select(F.col("embedding"), F.col("gid").alias("gid_a")),
        "embedding",
    ).select("gid_a", F.col("vec_id").alias("ra"), F.col("label").alias("la"))
    mb = members.join(
        groups.select(F.col("embedding"), F.col("gid").alias("gid_b")),
        "embedding",
    ).select("gid_b", F.col("vec_id").alias("rb"), F.col("label").alias("lb"))
    cross_pairs = (
        cross.join(ma, "gid_a")
        .join(mb, "gid_b")
        .select(
            F.least("ra", "rb").alias("id_a"),
            F.greatest("ra", "rb").alias("id_b"),
            "cos_raw",
            (F.col("la") == F.col("lb")).alias("same_label"),
        )
    )
    # replica groups: identical vectors always collide in every band;
    # cos computed with the SAME expression on (v, v) so the emitted
    # double matches the oracle's row-level arithmetic bit-for-bit
    self_groups = groups.filter(F.col("n_members") >= 2).select(
        F.col("gid").alias("gid_a"),
        cosine(F.col("embedding"), F.col("embedding")).alias("cos_raw"),
    )
    self_pairs = (
        self_groups.join(ma, "gid_a")
        .join(
            ma.select(
                F.col("gid_a"),
                F.col("ra").alias("rb"),
                F.col("la").alias("lb"),
            ),
            "gid_a",
        )
        .filter(F.col("ra") < F.col("rb"))
        .select(
            F.col("ra").alias("id_a"),
            F.col("rb").alias("id_b"),
            "cos_raw",
            (F.col("la") == F.col("lb")).alias("same_label"),
        )
    )
    return cross_pairs.unionByName(self_pairs).select(
        "id_a",
        "id_b",
        F.round("cos_raw", 4).alias("cos_sim"),
        "same_label",
    )


@register(
    "embedding_centroids",
    """
    SELECT label, count(*) AS n,
           round(CAST(sum(CAST(emb_norm AS DECIMAL(30,10))) AS DOUBLE) / count(*), 4) AS avg_norm
    FROM (
      SELECT label,
             sqrt(list_inner_product(
               list_transform(embedding, x -> CAST(x AS DOUBLE)),
               list_transform(embedding, x -> CAST(x AS DOUBLE)))) AS emb_norm
      FROM embeddings
    ) GROUP BY label
    """,
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster stats (norms by label) — the coarse-quantizer training
    aggregate of an IVF index, SQL-checkable."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", norm(F.col("embedding")).alias("emb_norm"))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum(F.col("emb_norm").cast("decimal(30,10)")).cast("double") / F.count(F.lit(1)), 4).alias("avg_norm"))
    )


@register(
    "embedding_quantize_int8",
    """
    WITH xd AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), scaled AS (
      SELECT vec_id, v,
             CASE WHEN list_max(list_transform(v, x -> abs(x))) = 0 THEN 1.0
                  ELSE list_max(list_transform(v, x -> abs(x))) / 127 END AS scale
      FROM xd
    ), quant AS (
      SELECT vec_id, v, scale,
             list_transform(v, x -> CAST(floor(x / scale + 0.5) AS INTEGER)) AS q
      FROM scaled
    )
    SELECT vec_id,
           round(scale, 8) AS scale,
           array_to_string(q, ',') AS q_str,
           round(list_max([abs(v[i] - q[i] * scale)
                           FOR i IN range(1, len(v) + 1)]), 6) AS max_abs_err
    FROM quant
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embedding column:
    scale = max|x|/127, q = round-half-up(x/scale), plus the max absolute
    reconstruction error — the storage/bandwidth lever for ANN at scale
    (4× smaller vectors, int8 SIMD dot products downstream).

    Cross-engine determinism: rounding is floor(x/scale + 0.5), not
    round() (identical in every engine; round() ties can differ), and
    the error metric is a max (order-independent), not a sum. All math
    is built-in higher-order functions in the scan stage — no UDF, no
    shuffle. The declared query stringifies the int8 array (driver
    canonicalizer cannot sort array cells); library callers get the
    typed array from ``quantize_int8``."""
    emb = load_table(spark, sf_dir, "embeddings")
    return quantize_int8(emb, "embedding").select(
        "vec_id",
        F.round("q_scale", 8).alias("scale"),
        F.concat_ws(
            ",", F.transform("q_vec", lambda v: v.cast("string"))
        ).alias("q_str"),
        F.round("q_max_abs_err", 6).alias("max_abs_err"),
    )


def quantize_int8(df: DataFrame, vec_col: str) -> DataFrame:
    """Add ``q_vec`` (array<int>), ``q_scale`` (double) and
    ``q_max_abs_err`` (double) columns — symmetric linear quantization
    with deterministic round-half-up.

    Each intermediate (double vector, scale, quantized vector) is
    materialized as its own projection BEFORE any lambda references it:
    higher-order functions are interpreted with no common-subexpression
    elimination, so inlining `scale` (itself an array_max over the
    vector) into the per-element lambda would evaluate it once per
    element — O(d²) per row, measured ~17× slower end-to-end at sf0.1."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    staged = df.withColumn("__qv64", v)
    maxabs = F.array_max(F.transform("__qv64", lambda x: F.abs(x)))
    staged = staged.withColumn(
        "q_scale", F.when(maxabs == 0, F.lit(1.0)).otherwise(maxabs / 127)
    )
    staged = staged.withColumn(
        "q_vec",
        F.transform(
            "__qv64", lambda x: F.floor(x / F.col("q_scale") + 0.5).cast("int")
        ),
    )
    return staged.withColumn(
        "q_max_abs_err",
        F.array_max(
            F.zip_with(
                "__qv64", "q_vec", lambda x, q: F.abs(x - q * F.col("q_scale"))
            )
        ),
    ).drop("__qv64")


# ---------------------------------------------------------------------------
# K-means (Lloyd) — iterative algorithm on DataFrames, fully oracle-checked
# ---------------------------------------------------------------------------

_KMEANS_K = 8
_KMEANS_DIM = 64  # fixture embedding dimension (embeddings.parquet)

# Fixed-point kmeans: every coordinate is quantized ONCE to integer
# micro-units via floor(x * 1e6) — floor is bit-identical on both engines
# (unlike double→decimal casts, whose tie rounding is HALF_UP in Spark but
# HALF_EVEN in DuckDB, and embedding floats are coarse dyadics that do hit
# exact ties). From there every distance, sum, and centroid is exact
# integer arithmetic, so the full two-iteration trace is reproducible
# bit-for-bit in SQL.

_KMEANS_ORACLE = f"""
    WITH pts AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS v
      FROM embeddings
    ),
    c0 AS (SELECT vec_id AS cluster, v AS c FROM pts WHERE vec_id < {_KMEANS_K}),
    d1 AS (
      SELECT p.vec_id, p.v, c.cluster,
             CAST(list_sum(list_transform(range(1, {_KMEANS_DIM + 1}),
               i -> (p.v[i] - c.c[i]) * (p.v[i] - c.c[i]))) AS BIGINT) AS dist
      FROM pts p CROSS JOIN c0 c
    ),
    a1 AS (
      SELECT vec_id, v, cluster FROM d1
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) = 1
    ),
    m1 AS (
      SELECT cluster, dims.i,
             CAST(sum(v[dims.i]) AS BIGINT) AS s, count(*) AS n
      FROM a1 CROSS JOIN (SELECT unnest(range(1, {_KMEANS_DIM + 1})) AS i) dims
      GROUP BY cluster, dims.i
    ),
    u1 AS (
      SELECT cluster, i, (s - ((s % n + n) % n)) // n AS cq FROM m1
    ),
    c1 AS (SELECT cluster, list(cq ORDER BY i) AS c FROM u1 GROUP BY cluster),
    d2 AS (
      SELECT p.vec_id, c.cluster,
             CAST(list_sum(list_transform(range(1, {_KMEANS_DIM + 1}),
               i -> (p.v[i] - c.c[i]) * (p.v[i] - c.c[i]))) AS BIGINT) AS dist
      FROM pts p CROSS JOIN c1 c
    )
    SELECT vec_id, cluster, dist AS dist_fp2
    FROM d2
    QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) = 1
"""


def _sqdist_fp(v, c) -> Column:
    """Squared L2 distance in squared micro-units — pure BIGINT arithmetic
    (terms ≤ (8·10⁶)², 64 of them: far inside long range), so the sum is
    exact and order-independent and every argmin decision is bit-identical
    on any engine or partitioning."""
    terms = F.zip_with(v, c, lambda x, y: (x - y) * (x - y))
    return F.aggregate(terms, F.lit(0).cast("long"), lambda acc, t: acc + t)


def _kmeans_assign(points: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: collapse the k×d centroid table to a
    ONE-ROW sorted array (k·d longs — fixed size, never SF-scaling),
    broadcast it beside every point, and pick the argmin IN-ARRAY:
    array_min over struct(dist, cluster) reproduces the old
    row_number()-over-(dist, cluster) tie-break exactly (struct ordering
    is lexicographic by field). r14 (guide §2.4): the old form exploded
    k rows per point through a crossJoin and re-collapsed them with a
    vec_id-partitioned window — a full k·|points| shuffle + sort per
    Lloyd iteration; assignment is now a narrow scan-stage projection
    with NO shuffle at all."""
    carr = cents.agg(
        F.array_sort(F.collect_list(F.struct("cluster", "c"))).alias("__cs")
    )
    best = F.array_min(
        F.transform(
            F.col("__cs"),
            lambda s: F.struct(
                _sqdist_fp(F.col("v"), s.getField("c")).alias("dist"),
                s.getField("cluster").alias("cluster"),
            ),
        )
    )
    return (
        points.crossJoin(F.broadcast(carr))
        .withColumn("__best", best)
        .select(
            *points.columns,
            F.col("__best.cluster").alias("cluster"),
            F.col("__best.dist").alias("dist"),
        )
    )


def _kmeans_update(assigned: DataFrame) -> DataFrame:
    """Centroid recompute: posexplode to (cluster, dim, value), per-dim
    integer sum + count (map-side partial aggregation applies — the
    shuffle carries k·d partial sums per task, not rows), then the new
    coordinate is the floor-division mean in micro-units. Floor division
    is spelled out via the sign-safe mod identity because Spark's DIV
    truncates toward zero while DuckDB's // floors — subtracting the
    non-negative remainder first makes the dividend exactly divisible, so
    both spellings agree. Empty clusters drop out, as in canonical
    Lloyd."""
    per_dim = (
        assigned.select("cluster", F.posexplode("v").alias("pos", "x"))
        .groupBy("cluster", "pos")
        .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    m = (F.col("s") % F.col("n") + F.col("n")) % F.col("n")
    per_dim = per_dim.withColumn(
        "cq", ((F.col("s") - m) / F.col("n")).cast("long")
    )
    return per_dim.groupBy("cluster").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "cq"))),
            lambda s: s.getField("cq"),
        ).alias("c")
    )


@register("kmeans_lloyd", _KMEANS_ORACLE)
def kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means via Lloyd\'s algorithm, two iterations, k=8: deterministic
    init (the first k vec_ids), assign → recompute means → reassign.
    The demonstration that *iterative* ML algorithms run as plain
    DataFrame programs — and, unusually, with a full cross-engine oracle:
    fixed-point coordinates (floor(x·10⁶)) make every distance, mean, and
    assignment decision exact integer arithmetic (see module comment
    above _KMEANS_ORACLE), so DuckDB replays the whole trace bit-for-bit.

    Scale: per iteration, one broadcast of the k×d centroid table (fixed
    size — never grows with SF), one scan of the points, one argmin
    window on vec_id, and a k·d-wide partial-aggregated mean shuffle.
    Nothing driver-side between iterations — the loop just extends the
    logical plan, so Catalyst sees one DAG; the quantized points are
    persisted across the three passes they feed."""
    emb = load_table(spark, sf_dir, "embeddings")
    points = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * 1000000.0).cast("long"),
        ).alias("v"),
    ).persist()
    cents = points.filter(F.col("vec_id") < _KMEANS_K).select(
        F.col("vec_id").alias("cluster"), F.col("v").alias("c")
    )
    assigned = _kmeans_assign(points, cents)
    cents = _kmeans_update(assigned)
    assigned = _kmeans_assign(points, cents)
    return assigned.select("vec_id", "cluster", F.col("dist").alias("dist_fp2"))


def _recall_oracle() -> str:
    """Composed replay: both already-verified knn oracles as CTEs, joined
    into per-query recall."""
    return f"""
    WITH bf AS ({ORACLE["knn_bruteforce_cosine"]}),
    lsh AS ({ORACLE["knn_lsh_cosine"]})
    SELECT bf.query_id,
           count(lsh.neighbor_id) AS n_hits,
           count(*) AS k,
           CAST(count(lsh.neighbor_id) AS DOUBLE) / count(*) AS recall_at_k
    FROM bf LEFT JOIN lsh
      ON bf.query_id = lsh.query_id AND bf.neighbor_id = lsh.neighbor_id
    GROUP BY bf.query_id ORDER BY bf.query_id
    """


@register("knn_recall_eval", _recall_oracle())
def knn_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation: recall@k of the hyperplane-LSH index
    against the brute-force exact ground truth, per query — the metric
    that justifies (or vetoes) shipping an approximate index at scale.
    Both sides are the exact production operators; the oracle composes
    their two already-verified SQL replays, so the hash verifies the
    COMPOSITION (ground truth ⋈ candidates → recall), not a
    re-derivation.

    Scale: ground truth over a FIXED probe set (|Q| constant, the
    documented exactness-anchor scoping), LSH side banded; the recall
    join keys on (query, neighbor) — |Q|·k rows each side. This is the
    offline eval job pattern: sample queries, compute both, publish
    recall."""
    bf = QUERIES["knn_bruteforce_cosine"](spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("bf_neighbor")
    )
    lsh = QUERIES["knn_lsh_cosine"](spark, sf_dir).select(
        F.col("query_id").alias("lq"), F.col("neighbor_id").alias("lsh_neighbor")
    )
    joined = bf.join(
        lsh,
        (F.col("query_id") == F.col("lq"))
        & (F.col("bf_neighbor") == F.col("lsh_neighbor")),
        "left",
    )
    return (
        joined.groupBy("query_id")
        .agg(
            F.count("lsh_neighbor").alias("n_hits"),
            F.count(F.lit(1)).alias("k"),
            (F.count("lsh_neighbor").cast("double") / F.count(F.lit(1))).alias(
                "recall_at_k"
            ),
        )
        .orderBy("query_id")
    )


@register(
    "embedding_norm_profile",
    """
    WITH norms AS (
      SELECT vec_id,
             sqrt(list_inner_product(
               list_transform(embedding, x -> CAST(x AS DOUBLE)),
               list_transform(embedding, x -> CAST(x AS DOUBLE)))) AS l2
      FROM embeddings
    )
    SELECT CAST(floor(l2 / 0.5) AS BIGINT) AS bucket,
           count(*) AS n_vecs,
           min(l2) AS min_norm,
           max(l2) AS max_norm
    FROM norms GROUP BY bucket ORDER BY bucket
    """,
)
def embedding_norm_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding L2-norm distribution profile — the vector-QA pass that
    catches unnormalized/degenerate embeddings before they poison
    cosine search (a zero-norm vector breaks cosine; wildly varying
    norms mean dot-product ≠ cosine ranking). Norms are computed by the
    same in-array-order dot product both engines evaluate
    left-to-right, so the doubles (and their bucket floors) are
    bit-identical.

    Scale: a narrow HOF projection in the scan stage + one
    partial-aggregated shuffle of ≤|buckets| rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    sq = F.aggregate(
        F.col("embedding"),
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    norms = emb.select(F.sqrt(sq).alias("l2"))
    return (
        norms.groupBy(
            F.floor(F.col("l2") / 0.5).cast("bigint").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.min("l2").alias("min_norm"),
            F.max("l2").alias("max_norm"),
        )
        .orderBy("bucket")
    )


def _pair_hist_oracle(bits: int = 16, dim: int = 64, seed: int = 42,
                      bands: int = 2, band_bits: int = 8) -> str:
    """DuckDB replay of the LSH-candidate cosine histogram (same literal
    hyperplanes as _knn_lsh_oracle, pair-wise banding, floor binning)."""
    planes = _hyperplanes(bits, dim, seed)
    mask = (1 << band_bits) - 1
    sig_terms = " + ".join(
        "CASE WHEN list_inner_product(v, ["
        + ",".join(repr(c) for c in plane)
        + f"]) > 0 THEN {1 << i} ELSE 0 END"
        for i, plane in enumerate(planes)
    )
    return f"""
    WITH ve AS (
      SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), sig AS (
      SELECT vec_id, label, v, ({sig_terms}) AS sig FROM ve
    ), banded AS (
      SELECT vec_id, label, v, band, (sig >> (band * {band_bits})) & {mask} AS val
      FROM sig CROSS JOIN (SELECT unnest(range(0, {bands})) AS band) b
    ), pairs AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
             a.v AS va, b.v AS vb, a.label = b.label AS same_label
      FROM banded a JOIN banded b ON a.band = b.band AND a.val = b.val
        AND a.vec_id < b.vec_id
    ), scored AS (
      SELECT CAST(floor(list_inner_product(va, vb)
               / (sqrt(list_inner_product(va, va)) * sqrt(list_inner_product(vb, vb)))
               * 20) AS BIGINT) AS bin,
             same_label
      FROM pairs
    )
    SELECT bin,
           count(*) AS n_pairs,
           CAST(sum(CASE WHEN same_label THEN 1 ELSE 0 END) AS BIGINT)
             AS n_same_label
    FROM scored GROUP BY bin ORDER BY bin
    """


@register("embedding_pair_distance_histogram", _pair_hist_oracle())
def embedding_pair_distance_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine-similarity histogram over LSH candidate pairs (0.05-wide
    bins via floor(cos·20)) with a same-label purity count per bin — the
    threshold-tuning readout for embedding near-dup: where the
    same-label mass separates from the cross-label mass is where the
    dedup/link threshold belongs. Runs ONLY on banded candidates (2
    bands × 8 bits of the 16-bit hyperplane signature), never all pairs
    — at 100 TB the histogram costs what the candidate join costs, and
    the 41-bin output is constant-size.

    The 2×8-bit constants are the declared-query/oracle-replay values
    and saturate at ~100× this fixture (256 buckets/band): a larger
    corpus needs more band bits, about log2(bands·n / 64) per band, to
    keep candidates per item flat (VERDICT r5 #3).

    Scale: one narrow signature pass, one banded equi-join (the plan
    test's no-cartesian sweep covers it), one ≤41-row aggregate."""
    emb = load_table(spark, sf_dir, "embeddings")
    # distinct-first (r7): the banded join and the cosine run per
    # DISTINCT vector; member multiplicities enter as WEIGHTS (na*nb per
    # cross group pair, C(n,2) / C(c_label,2) for replica self-pairs),
    # so the histogram counts exactly the row-level pairs without ever
    # materializing them — the weighted twin of the
    # embedding_neardup_lsh expansion (sf1 sweep: 23 s -> ~2 s).
    groups = (
        emb.groupBy("embedding")
        .agg(F.min("vec_id").alias("gid"), F.count(F.lit(1)).alias("n"))
        .persist()
    )
    glab = (
        emb.join(groups.select("embedding", "gid"), "embedding")
        .groupBy("gid", "label")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sigs = hyperplane_signatures(groups, "gid", "embedding")

    def banded(prefix: str) -> DataFrame:
        return sigs.select(
            F.col("gid").alias(f"{prefix}_id"),
            F.col("embedding").alias(f"{prefix}_vec"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("band"),
                            F.shiftright("sig", i * 8)
                            .bitwiseAND(F.lit(0xFF))
                            .alias("val"),
                        )
                        for i in range(2)
                    ]
                )
            ).alias("bb"),
        ).select(f"{prefix}_id", f"{prefix}_vec", "bb.band", "bb.val")

    dcand = (
        banded("a")
        .join(banded("b"), ["band", "val"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", "a_vec", "b_vec")
        .distinct()
        .select(
            "a_id",
            "b_id",
            F.floor(cosine(F.col("a_vec"), F.col("b_vec")) * 20)
            .cast("bigint")
            .alias("bin"),
        )
    )
    sa = groups.select(F.col("gid").alias("a_id"), F.col("n").alias("na"))
    sb = groups.select(F.col("gid").alias("b_id"), F.col("n").alias("nb"))
    same_w = (
        dcand.join(
            glab.select(F.col("gid").alias("a_id"), "label", F.col("c").alias("ca")),
            "a_id",
        )
        .join(
            glab.select(F.col("gid").alias("b_id"), "label", F.col("c").alias("cb")),
            ["b_id", "label"],
        )
        .groupBy("a_id", "b_id")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("same"))
    )
    cross = (
        dcand.join(sa, "a_id")
        .join(sb, "b_id")
        .join(same_w, ["a_id", "b_id"], "left")
        .select(
            "bin",
            (F.col("na") * F.col("nb")).alias("w_pairs"),
            F.coalesce("same", F.lit(0)).alias("w_same"),
        )
    )
    self_same = glab.groupBy("gid").agg(
        F.sum(F.expr("c * (c - 1) div 2")).alias("same")
    )
    selfp = (
        groups.filter(F.col("n") >= 2)
        .join(self_same, "gid")
        .select(
            F.floor(cosine(F.col("embedding"), F.col("embedding")) * 20)
            .cast("bigint")
            .alias("bin"),
            F.expr("n * (n - 1) div 2").alias("w_pairs"),
            F.col("same").alias("w_same"),
        )
    )
    return (
        cross.unionByName(selfp)
        .groupBy("bin")
        .agg(
            F.sum("w_pairs").alias("n_pairs"),
            F.sum("w_same").cast("bigint").alias("n_same_label"),
        )
        .orderBy("bin")
    )


@register(
    "embedding_dim_stats",
    f"""
    WITH ex AS (
      SELECT i AS dim,
             CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5)
                  AS BIGINT) AS micro
      FROM embeddings
      CROSS JOIN (SELECT unnest(range(1, {_KMEANS_DIM + 1})) AS i) dims
    )
    SELECT CAST(dim AS BIGINT) AS dim,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(micro) AS DOUBLE) / count(*) AS mean_micro,
           CAST(min(micro) AS BIGINT) AS min_micro,
           CAST(max(micro) AS BIGINT) AS max_micro,
           CAST(count(CASE WHEN micro = 0 THEN 1 END) AS BIGINT) AS n_zero
    FROM ex GROUP BY dim ORDER BY dim
    """,
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension profile of the embedding column (mean/min/max/zero
    count) — the feature-scaling and dead-dimension diagnostic run
    before quantization or IVF training. Values are fixed-pointed to
    exact integer micro-units with the codebase's deterministic
    floor(x·1e6 + 0.5) (float32→double is exact; one correctly-rounded
    multiply; round() ties differ cross-engine, floor(+0.5) never does),
    so sums are exact BIGINTs and the mean is ONE IEEE division.

    Scale: posexplode is a linear d-fold fanout fused into the scan
    stage; the aggregate partial-combines to d=64 rows per partition
    before the shuffle, so the exchange moves |partitions|·d tiny rows
    regardless of corpus size. (Per-dim micro² sums would overflow
    BIGINT at ~5e9 rows, so variance is deliberately left to the
    DECIMAL-based correlation_matrix pattern.)"""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        F.posexplode("embedding").alias("pos", "x")
    ).select(
        (F.col("pos") + 1).cast("bigint").alias("dim"),
        F.floor(F.col("x").cast("double") * 1000000 + 0.5)
        .cast("bigint")
        .alias("micro"),
    )
    return (
        ex.groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum("micro").cast("double") / F.count(F.lit(1))).alias(
                "mean_micro"
            ),
            F.min("micro").alias("min_micro"),
            F.max("micro").alias("max_micro"),
            F.count(F.when(F.col("micro") == 0, 1)).alias("n_zero"),
        )
        .orderBy("dim")
    )


@register(
    "embedding_centroid_drift",
    f"""
    WITH ex AS (
      SELECT label, vec_id % 2 AS half, i AS dim,
             CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5)
                  AS BIGINT) AS micro
      FROM embeddings
      CROSS JOIN (SELECT unnest(range(1, {_KMEANS_DIM + 1})) AS i) dims
    ),
    means AS (
      SELECT label, dim,
             CAST(sum(CASE WHEN half = 0 THEN micro END) AS DOUBLE)
               / count(CASE WHEN half = 0 THEN 1 END) AS mean_a,
             CAST(sum(CASE WHEN half = 1 THEN micro END) AS DOUBLE)
               / count(CASE WHEN half = 1 THEN 1 END) AS mean_b
      FROM ex GROUP BY label, dim
    )
    SELECT label,
           CAST(max(abs(mean_a - mean_b)) AS DOUBLE) AS max_dim_drift_micro,
           CAST(count(CASE WHEN abs(mean_a - mean_b) > 10000 THEN 1 END)
                AS BIGINT) AS n_drifted_dims
    FROM means GROUP BY label ORDER BY label
    """,
)
def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift check between two embedding snapshots (even
    vs odd vec_ids stand in for old/new): per label, the largest
    per-dimension centroid shift and the count of dimensions shifted by
    more than 0.01 — the cheap pre-deploy monitor that catches encoder
    or pipeline drift before an ANN index is rebuilt against it.

    Determinism at double precision: per-dim means are single IEEE
    divisions of exact integer micro-sums; the cross-dimension reduction
    is max/count (ORDER-INDEPENDENT — deliberately not an L2 norm, whose
    64-term float sum would depend on aggregation order and break
    cross-engine hashing; max-abs is the Chebyshev drift norm).

    Scale: linear d-fold explode fused into the scan, one (label, dim)
    partial-aggregated shuffle (|labels|·d rows), one |labels|-row
    rollup."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode("embedding").alias("pos", "x"),
    ).select(
        "label",
        "half",
        (F.col("pos") + 1).alias("dim"),
        F.floor(F.col("x").cast("double") * 1000000 + 0.5)
        .cast("bigint")
        .alias("micro"),
    )
    means = ex.groupBy("label", "dim").agg(
        (
            F.sum(F.when(F.col("half") == 0, F.col("micro"))).cast("double")
            / F.count(F.when(F.col("half") == 0, 1))
        ).alias("mean_a"),
        (
            F.sum(F.when(F.col("half") == 1, F.col("micro"))).cast("double")
            / F.count(F.when(F.col("half") == 1, 1))
        ).alias("mean_b"),
    )
    diff = F.abs(F.col("mean_a") - F.col("mean_b"))
    return (
        means.groupBy("label")
        .agg(
            F.max(diff).alias("max_dim_drift_micro"),
            F.count(F.when(diff > 10000, 1)).alias("n_drifted_dims"),
        )
        .orderBy("label")
    )


@register(
    "knn_label_accuracy",
    """
    WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec, label AS true_label
               FROM embeddings WHERE vec_id < 50),
    scored AS (
      SELECT q.query_id, q.true_label, e.label AS n_label,
             list_inner_product(
               list_transform(q.q_vec, x -> CAST(x AS DOUBLE)),
               list_transform(e.embedding, x -> CAST(x AS DOUBLE)))
             / (sqrt(list_inner_product(list_transform(q.q_vec, x -> CAST(x AS DOUBLE)),
                                        list_transform(q.q_vec, x -> CAST(x AS DOUBLE))))
              * sqrt(list_inner_product(list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
                                        list_transform(e.embedding, x -> CAST(x AS DOUBLE)))))
               AS cos_sim,
             e.vec_id AS neighbor_id
      FROM embeddings e, q WHERE e.vec_id <> q.query_id
    ),
    topk AS (
      SELECT query_id, true_label, n_label FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos_sim DESC, neighbor_id) AS rank
        FROM scored
      ) WHERE rank <= 5
    ),
    votes AS (
      SELECT query_id, true_label, n_label,
             CAST(count(*) AS BIGINT) AS n_votes
      FROM topk GROUP BY query_id, true_label, n_label
    ),
    pred AS (
      SELECT query_id, true_label, n_label AS pred_label FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY n_votes DESC, n_label) AS vr
        FROM votes
      ) WHERE vr = 1
    )
    SELECT true_label,
           CAST(count(*) AS BIGINT) AS n_probes,
           CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct,
           CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT) AS accuracy_ppm
    FROM pred GROUP BY true_label ORDER BY true_label
    """,
)
def knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN-classifier label agreement — the standard embedding-quality
    eval: predict each probe's label by majority vote of its top-5
    cosine neighbors (deterministic tie-breaks: neighbor id within the
    rank window, smallest label among tied votes) and report per-class
    accuracy. Low agreement = embeddings don't cluster by label = the
    encoder (or the labels) need attention before any ANN index is
    built on them.

    Plan: the probe set is a fixed-size broadcast against the corpus
    (same bounded cross as knn_bruteforce_cosine — never corpus×corpus),
    then two narrow windows and a ≤ |classes|-row aggregate. At 100 TB
    the probe set stays O(100s) and the scan dominates — linear, one
    pass over the embeddings.

    DISTINCT-FIRST (r10): the cosine — an interpreted 64-dim HOF, the
    measured cost center — is evaluated once per DISTINCT vector, not
    per row (10× fewer on the ×10-replica fixture; 20.3 s → the scan
    bound). The top-5 window stays EXACT under the collapse: the
    ranking key is (cos desc, neighbor_id asc) and every copy of a
    vector shares its cos, so a gid's copies rank consecutively by id —
    a global top-5 row must be among its gid's 5 lowest-id copies (else
    5 lower copies would all outrank it), plus one spare copy because
    the probe's own row is excluded after expansion. Per-copy labels
    ride through the expansion untouched (copies of one vector may be
    labeled differently)."""
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
        F.col("label").alias("true_label"),
    )
    groups = emb.groupBy("embedding").agg(
        F.slice(
            F.sort_array(
                F.collect_list(
                    F.struct(F.col("vec_id").alias("nid"), F.col("label").alias("nl"))
                )
            ),
            1,
            6,
        ).alias("copies")
    )
    scored = (
        groups.crossJoin(F.broadcast(probes))
        .select(
            "query_id",
            "true_label",
            "copies",
            cosine(F.col("q_vec"), F.col("embedding")).alias("cos_sim"),
        )
        .select(
            "query_id", "true_label", "cos_sim",
            F.explode("copies").alias("nc"),
        )
        .filter(F.col("nc.nid") != F.col("query_id"))
        .select(
            "query_id",
            "true_label",
            F.col("nc.nl").alias("n_label"),
            F.col("nc.nid").alias("neighbor_id"),
            "cos_sim",
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    topk = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "true_label", "n_label")
    )
    votes = topk.groupBy("query_id", "true_label", "n_label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_votes")
    )
    vw = Window.partitionBy("query_id").orderBy(F.desc("n_votes"), "n_label")
    pred = (
        votes.withColumn("vr", F.row_number().over(vw))
        .filter(F.col("vr") == 1)
        .select("query_id", "true_label", F.col("n_label").alias("pred_label"))
    )
    correct = (F.col("pred_label") == F.col("true_label")).cast("bigint")
    return (
        pred.groupBy("true_label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_probes"),
            F.sum(correct).cast("bigint").alias("n_correct"),
        )
        .select(
            "true_label",
            "n_probes",
            "n_correct",
            F.expr("CAST(n_correct * 1000000 div n_probes AS BIGINT)").alias(
                "accuracy_ppm"
            ),
        )
        .orderBy("true_label")
    )


def _index_build_oracle(dim: int = 64) -> str:
    return f"""
    WITH pe AS (
      SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
             unnest(embedding) AS x
      FROM embeddings
    ), per_dim AS (
      SELECT label, pos,
             CAST(sum(CAST(x AS DECIMAL(30,10))) AS DOUBLE) / count(*) AS c
      FROM pe GROUP BY label, pos
    ), cent AS (
      SELECT label AS list_id, list(c ORDER BY pos) AS centroid
      FROM per_dim GROUP BY label
    ), ve AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), scored_cent AS (
      SELECT ve.vec_id, cent.list_id,
             list_inner_product(ve.v, cent.centroid)
               / sqrt(list_inner_product(cent.centroid, cent.centroid)) AS cos_c
      FROM ve CROSS JOIN cent
    ), assigned AS (
      SELECT vec_id, list_id FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cos_c DESC, list_id) AS rn
        FROM scored_cent
      ) WHERE rn = 1
    ), lists AS (
      SELECT list_id,
             CAST(count(*) AS BIGINT) AS n_vectors,
             CAST(min(vec_id) AS BIGINT) AS min_vec_id
      FROM assigned GROUP BY list_id
    ), total AS (SELECT CAST(sum(n_vectors) AS BIGINT) AS n_total FROM lists)
    SELECT l.list_id, l.n_vectors, l.min_vec_id,
           CAST(l.n_vectors * 1000000 // t.n_total AS BIGINT) AS share_ppm,
           CAST(l.n_vectors * ({dim} + 8) AS BIGINT) AS bytes_int8
    FROM lists l, total t
    ORDER BY l.list_id
    """


@register("embedding_index_build", _index_build_oracle())
def embedding_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end ANN index BUILD as one plan: train the coarse quantizer
    (decimal-exact centroids), assign every vector to its nearest list,
    and emit the index manifest — per-list vector counts, share (ppm),
    and the int8-quantized storage footprint (dim + 8 id bytes per
    vector). The manifest is what a serving layer loads and what decides
    whether the lists are balanced enough to meet nprobe latency (a list
    at 10× mean share means re-training with more centroids).

    Plan: the same per-row assignment over the broadcast centroid fold
    as knn_ivf_cosine (ivf_materialized_index, its verified front
    half — zero-shuffle assignment, r6), then a list-keyed aggregate to
    |lists| rows and a 1-row total broadcast. Linear in |vectors| at
    any SF."""
    dim = 64
    emb = load_table(spark, sf_dir, "embeddings")
    assigned = ivf_materialized_index(emb, nprobe=1).selectExpr(
        "vec_id", "element_at(probe_lists, 1) AS list_id"
    )
    lists = assigned.groupBy("list_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        F.min("vec_id").cast("bigint").alias("min_vec_id"),
    ).persist()  # consumed by the total aggregate AND the final projection
    total = lists.agg(F.sum("n_vectors").cast("bigint").alias("n_total"))
    return (
        lists.crossJoin(F.broadcast(total))
        .select(
            "list_id",
            "n_vectors",
            "min_vec_id",
            F.expr("CAST(n_vectors * 1000000 div n_total AS BIGINT)").alias(
                "share_ppm"
            ),
            (F.col("n_vectors") * (dim + 8)).cast("bigint").alias("bytes_int8"),
        )
        .orderBy("list_id")
    )


@register(
    "embedding_exact_dup_summary",
    """
    WITH keyed AS (
      SELECT vec_id,
             md5(array_to_string(list_transform(embedding,
                   x -> CAST(CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
                             AS VARCHAR)), ',')) AS content_id
      FROM embeddings
    ),
    groups AS (
      SELECT content_id, CAST(count(*) AS BIGINT) AS n FROM keyed GROUP BY content_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(n) AS BIGINT) AS n_vectors,
           CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups,
           CAST(sum(CASE WHEN n > 1 THEN n - 1 ELSE 0 END) AS BIGINT)
             AS n_redundant_vectors
    FROM groups
    """,
)
def embedding_exact_dup_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate embedding detection: content id = md5 over the
    µ-quantized coordinates (floats rounded to 1e-6 — byte-stable across
    engines, and the tolerance at which two 'different' vectors are
    operationally the same). Duplicate embeddings in a corpus mean the
    encoder ran twice on the same doc or an upstream join fanned out —
    either way a pipeline bug this 1-row audit surfaces before the ANN
    index doubles its storage.

    Plan: scan-stage hash + one content-keyed partial-aggregated shuffle
    + a 1-row rollup. The vectors themselves never shuffle."""
    emb = load_table(spark, sf_dir, "embeddings")
    content = F.md5(
        F.concat_ws(
            ",",
            F.transform(
                "embedding",
                lambda x: F.round(x.cast("double") * 1000000)
                .cast("bigint")
                .cast("string"),
            ),
        )
    )
    groups = (
        emb.select(content.alias("content_id"))
        .groupBy("content_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    return groups.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum("n").cast("bigint").alias("n_vectors"),
        F.sum((F.col("n") > 1).cast("bigint")).cast("bigint").alias("n_dup_groups"),
        F.sum(F.when(F.col("n") > 1, F.col("n") - 1).otherwise(0))
        .cast("bigint")
        .alias("n_redundant_vectors"),
    )


def _hard_negative_oracle(
    bits: int = 16, dim: int = 64, seed: int = 42, bands: int = 4,
    band_bits: int = 4, lo: float = 0.05, hi: float = 0.35, k: int = 3,
) -> str:
    """DuckDB replay of the hard-negative miner (same literal planes and
    banding as _neardup_lsh_oracle, cosine band filter, per-anchor
    top-k window)."""
    planes = _hyperplanes(bits, dim, seed)
    mask = (1 << band_bits) - 1
    sig_terms = " + ".join(
        "CASE WHEN list_inner_product(v, ["
        + ",".join(repr(c) for c in plane)
        + f"]) > 0 THEN {1 << i} ELSE 0 END"
        for i, plane in enumerate(planes)
    )
    return f"""
    WITH ve AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), sig AS (
      SELECT vec_id, label, v, ({sig_terms}) AS sig FROM ve
    ), banded AS (
      SELECT vec_id, label, v, band, (sig >> (band * {band_bits})) & {mask} AS val
      FROM sig CROSS JOIN (SELECT unnest(range(0, {bands})) AS band) b
    ), cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
                      a.v AS va, b.v AS vb, a.label AS la, b.label AS lb
      FROM banded a JOIN banded b ON a.band = b.band AND a.val = b.val
      WHERE a.vec_id < b.vec_id
    ), scored AS (
      SELECT id_a, id_b, la, lb,
             list_inner_product(va, vb)
               / (sqrt(list_inner_product(va, va))
                  * sqrt(list_inner_product(vb, vb))) AS cos_raw
      FROM cand
    ), both_dirs AS (
      SELECT id_a AS anchor_id, id_b AS negative_id, la AS anchor_label,
             lb AS negative_label, cos_raw FROM scored
      UNION ALL
      SELECT id_b, id_a, lb, la, cos_raw FROM scored
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY anchor_id
                                   ORDER BY cos_raw DESC, negative_id) AS rk
      FROM both_dirs
      WHERE cos_raw >= {lo} AND cos_raw < {hi}
    )
    SELECT anchor_id, negative_id,
           round(cos_raw, 4) AS cos_sim,
           (anchor_label = negative_label) AS same_label,
           CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= {k}
    """


@register("hard_negative_mining", _hard_negative_oracle())
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive/triplet training: for each
    anchor vector, the top-3 candidates that share an LSH bucket (so the
    index considers them plausibly similar — that's what makes them
    HARD) but whose exact cosine falls in the negative band
    [0.05, 0.35) — semantically distinct, yet close enough to carry
    gradient. Random negatives are trivial at scale; the valuable ones
    are exactly these bucket-colliding near-misses, which the dedup
    index surfaces for free.

    Plan: the SAME banded hyperplane candidate join as
    embedding_neardup_lsh (cost ∝ bucket collisions, never |N|²), exact
    cosine on candidates only, then a per-anchor top-k window
    (partitioned by anchor — bounded frames, no global sort). Both pair
    orientations feed the ranking so every anchor sees its full
    candidate set. same_label flags label-collisions for downstream
    filtering (a same-class 'negative' may be a labeling error — the
    audit consumers want them visible, not dropped)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # distinct-first candidates (same collapse as embedding_neardup_lsh):
    # LSH banding and the cosine run once per distinct vector pair; only
    # pairs already inside the negative band expand to row pairs, so the
    # window input is band-filtered output, not raw bucket collisions.
    # NOTE the deliberate asymmetry vs the near-dup pass: identical
    # vectors (cos 1.0) can never be negatives, so replica SELF-pairs are
    # skipped entirely instead of expanded.
    groups = emb.groupBy("embedding").agg(F.min("vec_id").alias("gid")).persist()
    sigs = hyperplane_signatures(groups, "gid", "embedding")

    def banded(prefix: str) -> DataFrame:
        return sigs.select(
            F.col("gid").alias(f"gid_{prefix}"),
            F.col("embedding").alias(f"v{prefix}"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("band"),
                            F.shiftright("sig", i * 4).bitwiseAND(F.lit(0xF)).alias("val"),
                        )
                        for i in range(4)
                    ]
                )
            ).alias("bb"),
        ).select(f"gid_{prefix}", f"v{prefix}", "bb.band", "bb.val")

    dcand = (
        banded("a")
        .join(banded("b"), ["band", "val"])
        .filter(F.col("gid_a") < F.col("gid_b"))
        .select("gid_a", "gid_b", "va", "vb")
        .distinct()
        .withColumn("cos_raw", cosine(F.col("va"), F.col("vb")))
        .filter((F.col("cos_raw") >= 0.05) & (F.col("cos_raw") < 0.35))
        .select("gid_a", "gid_b", "cos_raw")
    )
    # Rank at the DISTINCT-vector level, expand anchors LAST (r10 — the
    # ×100 octave caught the old copy×copy expansion: every dcand pair
    # blew up m_a·m_b before the top-3 window, 10,000× per pair on
    # 100-cliques). Every copy of an anchor vector has the same candidate
    # set and cosines, so its top-3 is a gid-level fact; and within one
    # partner gid only its 3 LOWEST-id copies can ever reach a global
    # top-3 (equal cos ranks by negative_id), so the per-partner
    # expansion is capped at 3 rows. Total: ≤3 rows per (anchor gid,
    # partner) into the window, then one linear anchor-copy join —
    # replica-independent candidate work, output linear in |emb|.
    m = emb.join(groups.select("embedding", "gid"), "embedding").select(
        "gid", "vec_id", "label"
    )
    partners = dcand.select(
        F.col("gid_a").alias("ag"), F.col("gid_b").alias("ng"), "cos_raw"
    ).unionByName(
        dcand.select(
            F.col("gid_b").alias("ag"), F.col("gid_a").alias("ng"), "cos_raw"
        )
    )
    copies3 = m.groupBy("gid").agg(
        F.slice(F.sort_array(F.collect_list(F.struct("vec_id", "label"))), 1, 3)
        .alias("c3")
    )
    cand3 = (
        partners.join(copies3.select(F.col("gid").alias("ng"), "c3"), "ng")
        .select("ag", "cos_raw", F.explode("c3").alias("nc"))
        .select(
            "ag",
            F.col("nc.vec_id").alias("negative_id"),
            F.col("nc.label").alias("negative_label"),
            "cos_raw",
        )
    )
    w = Window.partitionBy("ag").orderBy(F.desc("cos_raw"), F.col("negative_id"))
    neg3 = cand3.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 3)
    anchors = m.select(
        F.col("gid").alias("ag"),
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
    )
    return anchors.join(neg3, "ag").select(
        "anchor_id",
        "negative_id",
        F.round("cos_raw", 4).alias("cos_sim"),
        (F.col("anchor_label") == F.col("negative_label")).alias("same_label"),
        F.col("rk").cast("bigint").alias("rk"),
    )


# ---------------------------------------------------------------------------
# Product-quantization codebook (PQ — the ANN compression layer)
# ---------------------------------------------------------------------------

_PQ_M = 4                      # subspaces
_PQ_D = _KMEANS_DIM // _PQ_M   # dims per subspace (16)
_PQ_K = 4                      # codes per subspace

_PQ_CTE = f"""
    WITH pts AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS v
      FROM embeddings
    ), sub AS (
      SELECT vec_id, s.sub,
             v[s.sub * {_PQ_D} + 1 : s.sub * {_PQ_D} + {_PQ_D}] AS sv
      FROM pts CROSS JOIN (SELECT unnest(range(0, {_PQ_M})) AS sub) s
    ),
    c0 AS (SELECT sub, vec_id AS code, sv AS c FROM sub WHERE vec_id < {_PQ_K}),
    d1 AS (
      SELECT p.vec_id, p.sub, p.sv, c.code,
             CAST(list_sum(list_transform(range(1, {_PQ_D + 1}),
               i -> (p.sv[i] - c.c[i]) * (p.sv[i] - c.c[i]))) AS BIGINT) AS dist
      FROM sub p JOIN c0 c ON p.sub = c.sub
    ),
    a1 AS (
      SELECT vec_id, sub, sv, code FROM d1
      QUALIFY row_number() OVER (PARTITION BY vec_id, sub
                                 ORDER BY dist, code) = 1
    ),
    m1 AS (
      SELECT sub, code, dims.i,
             CAST(sum(sv[dims.i]) AS BIGINT) AS s, count(*) AS n
      FROM a1 CROSS JOIN (SELECT unnest(range(1, {_PQ_D + 1})) AS i) dims
      GROUP BY sub, code, dims.i
    ),
    u1 AS (
      SELECT sub, code, i, (s - ((s % n + n) % n)) // n AS cq FROM m1
    ),
    c1 AS (SELECT sub, code, list(cq ORDER BY i) AS c FROM u1 GROUP BY sub, code),
    d2 AS (
      SELECT p.vec_id, p.sub, c.code,
             CAST(list_sum(list_transform(range(1, {_PQ_D + 1}),
               i -> (p.sv[i] - c.c[i]) * (p.sv[i] - c.c[i]))) AS BIGINT) AS dist
      FROM sub p JOIN c1 c ON p.sub = c.sub
    ),
    a2 AS (
      SELECT vec_id, sub, code, dist FROM d2
      QUALIFY row_number() OVER (PARTITION BY vec_id, sub
                                 ORDER BY dist, code) = 1
    )
"""

_PQ_ORACLE = _PQ_CTE + """
    SELECT CAST(sub AS BIGINT) AS subspace,
           CAST(code AS BIGINT) AS code,
           CAST(count(*) AS BIGINT) AS n_assigned,
           CAST(sum(dist) AS BIGINT) AS distortion_fp2,
           CAST(sum(dist) // count(*) AS BIGINT) AS mean_distortion_fp2
    FROM a2 GROUP BY sub, code ORDER BY subspace, code
"""


def _pq_train(spark: SparkSession, sf_dir: str):
    """Shared PQ training dataflow: fixed-point points, subspace slices,
    one Lloyd round; returns (points, sub, c1 codebook, a2 codes) as
    lazy frames — consumed by embedding_pq_codebook and pq_adc_topk."""
    emb = load_table(spark, sf_dir, "embeddings")
    points = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * 1000000.0).cast("long"),
        ).alias("v"),
    )
    sub = points.select(
        "vec_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {_PQ_M - 1}),"
                f" s -> struct(s AS sub, slice(v, s * {_PQ_D} + 1, {_PQ_D}) AS sv))"
            )
        ).alias("e"),
    ).select("vec_id", F.col("e.sub").alias("sub"), F.col("e.sv").alias("sv"))
    c0 = sub.filter(F.col("vec_id") < _PQ_K).select(
        "sub", F.col("vec_id").alias("code"), F.col("sv").alias("c")
    )
    w = Window.partitionBy("vec_id", "sub").orderBy("dist", "code")

    def assign(cents):
        return (
            sub.join(F.broadcast(cents), "sub")
            .withColumn("dist", _sqdist_fp(F.col("sv"), F.col("c")))
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "c")
        )

    a1 = assign(c0)
    per_dim = (
        a1.select("sub", "code", F.posexplode("sv").alias("pos", "x"))
        .groupBy("sub", "code", "pos")
        .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    mod = (F.col("s") % F.col("n") + F.col("n")) % F.col("n")
    c1 = (
        per_dim.withColumn("cq", ((F.col("s") - mod) / F.col("n")).cast("long"))
        .groupBy("sub", "code")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cq"))),
                lambda st: st.getField("cq"),
            ).alias("c")
        )
    )
    a2 = assign(c1)
    return points, sub, c1, a2


@register("embedding_pq_codebook", _PQ_ORACLE)
def embedding_pq_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codebook training (Jégou et al. — the
    compression layer under IVF-PQ ANN indexes): split each {dim}-d
    vector into {m} subspaces of {d} dims, run one Lloyd round per
    subspace ({k} codes, deterministic seeds = the first {k} vectors'
    sub-slices), and report the trained codebook's occupancy and
    distortion per (subspace, code). A vector is then representable in
    {m}·log2({k}) bits instead of {dim} floats; the per-cell
    distortion is exactly the quantization error an IVF-PQ search
    would see. Production scales k to 256 and iterates — the dataflow
    below is round-for-round that pipeline.

    Determinism (the kmeans_lloyd recipe): micro-unit fixed point
    (floor(x·1e6)), BIGINT squared distances, floor-division means via
    the sign-safe mod identity, ties on code id — bit-identical on any
    engine/partitioning. Plan: the subspace explode is a {m}× narrow
    fanout in the scan stage; each Lloyd phase is ONE broadcast of the
    {m}·{k}-row codebook (fixed size at any SF), a (vec, sub)-window
    argmin, and a ({m}·{k}·{d})-group partial-aggregated mean shuffle —
    the same shuffle shapes as kmeans_lloyd, ×{m} narrower vectors."""
    _, _, _, a2 = _pq_train(spark, sf_dir)
    return (
        a2.groupBy(
            F.col("sub").cast("bigint").alias("subspace"),
            F.col("code").cast("bigint").alias("code"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_assigned"),
            F.sum("dist").cast("bigint").alias("distortion_fp2"),
            F.expr("CAST(sum(dist) div count(*) AS BIGINT)").alias(
                "mean_distortion_fp2"
            ),
        )
        .orderBy("subspace", "code")
    )


embedding_pq_codebook.__doc__ = embedding_pq_codebook.__doc__.format(
    dim=_KMEANS_DIM, m=_PQ_M, d=_PQ_D, k=_PQ_K
)


# ---------------------------------------------------------------------------
# PQ asymmetric-distance (ADC) top-k search over the trained codebook
# ---------------------------------------------------------------------------

_ADC_NQ = 5    # probe queries: vec_id < 5
_ADC_TOPK = 3

_PQ_ADC_ORACLE = _PQ_CTE + f"""
    , q AS (
      SELECT vec_id AS qid, sub, sv FROM sub WHERE vec_id < {_ADC_NQ}
    ), dtab AS (
      SELECT q.qid, c.sub, c.code,
             CAST(list_sum(list_transform(range(1, {_PQ_D + 1}),
               i -> (q.sv[i] - c.c[i]) * (q.sv[i] - c.c[i]))) AS BIGINT) AS dq
      FROM q JOIN c1 c ON q.sub = c.sub
    ), adc AS (
      SELECT d.qid, a.vec_id, CAST(sum(d.dq) AS BIGINT) AS adc_dist
      FROM a2 a JOIN dtab d ON a.sub = d.sub AND a.code = d.code
      WHERE a.vec_id <> d.qid
      GROUP BY d.qid, a.vec_id
    ), top AS (
      SELECT qid, vec_id, adc_dist,
             row_number() OVER (PARTITION BY qid
                                ORDER BY adc_dist, vec_id) AS rank
      FROM adc
      QUALIFY rank <= {_ADC_TOPK}
    )
    SELECT CAST(t.qid AS BIGINT) AS query_id,
           CAST(t.rank AS BIGINT) AS rank,
           CAST(t.vec_id AS BIGINT) AS neighbor_id,
           CAST(t.adc_dist AS BIGINT) AS adc_dist_fp2,
           CAST(list_sum(list_transform(range(1, {_KMEANS_DIM + 1}),
             i -> (pq.v[i] - pv.v[i]) * (pq.v[i] - pv.v[i]))) AS BIGINT)
             AS exact_dist_fp2
    FROM top t
    JOIN pts pq ON pq.vec_id = t.qid
    JOIN pts pv ON pv.vec_id = t.vec_id
    ORDER BY query_id, rank
"""


@register("pq_adc_topk", _PQ_ADC_ORACLE)
def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance (ADC) top-{topk} search over the trained PQ
    codebook — how an IVF-PQ index actually answers queries: each query
    precomputes an m×k DISTANCE TABLE against the codebook ({m}·{k}
    BIGINT entries), and every database vector's approximate distance
    is just the SUM of {m} table lookups keyed by its stored codes —
    no float math, no original vectors touched. The exact 64-d
    distance is joined on for the reported top-{topk} only, giving the
    ADC-vs-exact gap per neighbor (the quantization error a recall
    metric would integrate).

    Scale shape: the distance table is |queries|×{m}×{k} rows —
    broadcast, fixed size per query batch; the scan side touches only
    the {m} codes per vector (the 100× I/O win PQ exists for), as one
    broadcast-join + (query, vector)-keyed partial aggregate. Exact
    re-scoring joins the {topk}-per-query winners back to the full
    vectors — |output|-sized, never corpus-sized. Ties break on
    vec_id; all arithmetic is the kmeans fixed-point recipe, so ranks
    are bit-stable in both engines."""
    points, sub, c1, a2 = _pq_train(spark, sf_dir)
    q = sub.filter(F.col("vec_id") < _ADC_NQ).select(
        F.col("vec_id").alias("qid"), "sub", F.col("sv").alias("qsv")
    )
    dtab = q.join(F.broadcast(c1), "sub").select(
        "qid", "sub", "code", _sqdist_fp(F.col("qsv"), F.col("c")).alias("dq")
    )
    adc = (
        a2.select("vec_id", "sub", "code")
        .join(F.broadcast(dtab), ["sub", "code"])
        .filter(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", "vec_id")
        .agg(F.sum("dq").cast("bigint").alias("adc_dist"))
    )
    wq = Window.partitionBy("qid").orderBy("adc_dist", "vec_id")
    top = adc.withColumn("rank", F.row_number().over(wq)).filter(
        F.col("rank") <= _ADC_TOPK
    )
    pq_ = points.select(F.col("vec_id").alias("qid"), F.col("v").alias("qv"))
    pv = points.select(F.col("vec_id").alias("vec_id"), F.col("v").alias("nv"))
    return (
        top.join(pq_, "qid")
        .join(pv, "vec_id")
        .select(
            F.col("qid").cast("bigint").alias("query_id"),
            F.col("rank").cast("bigint").alias("rank"),
            F.col("vec_id").cast("bigint").alias("neighbor_id"),
            F.col("adc_dist").cast("bigint").alias("adc_dist_fp2"),
            _sqdist_fp(F.col("qv"), F.col("nv"))
            .cast("bigint")
            .alias("exact_dist_fp2"),
        )
        .orderBy("query_id", "rank")
    )


pq_adc_topk.__doc__ = pq_adc_topk.__doc__.format(
    m=_PQ_M, k=_PQ_K, topk=_ADC_TOPK
)


@register(
    "embedding_matryoshka_recall",
    """
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qv FROM embeddings
      WHERE vec_id < 10
    ),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             list_inner_product(
               list_transform(q.qv, x -> CAST(x AS DOUBLE)),
               list_transform(e.embedding, x -> CAST(x AS DOUBLE)))
             / (sqrt(list_inner_product(list_transform(q.qv, x -> CAST(x AS DOUBLE)),
                                        list_transform(q.qv, x -> CAST(x AS DOUBLE))))
              * sqrt(list_inner_product(list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
                                        list_transform(e.embedding, x -> CAST(x AS DOUBLE)))))
               AS cos_full,
             list_inner_product(
               list_transform(q.qv[1:16], x -> CAST(x AS DOUBLE)),
               list_transform(e.embedding[1:16], x -> CAST(x AS DOUBLE)))
             / (sqrt(list_inner_product(list_transform(q.qv[1:16], x -> CAST(x AS DOUBLE)),
                                        list_transform(q.qv[1:16], x -> CAST(x AS DOUBLE))))
              * sqrt(list_inner_product(list_transform(e.embedding[1:16], x -> CAST(x AS DOUBLE)),
                                        list_transform(e.embedding[1:16], x -> CAST(x AS DOUBLE)))))
               AS cos_trunc
      FROM embeddings e, q WHERE e.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT query_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_full DESC, neighbor_id) AS r_full,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_trunc DESC, neighbor_id) AS r_trunc
      FROM scored
    )
    SELECT query_id,
           CAST(sum(CASE WHEN r_full <= 5 AND r_trunc <= 5 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_overlap,
           CAST(20 * sum(CASE WHEN r_full <= 5 AND r_trunc <= 5 THEN 1 ELSE 0 END)
                AS BIGINT) AS recall_pct
    FROM ranked GROUP BY query_id ORDER BY query_id
    """,
)
def embedding_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation audit (Kusupati et al., NeurIPS'22 — the
    MRL serving trick): recall@5 of cosine top-k computed on the FIRST
    16 of 64 dimensions against the full-dimension ranking, per query.
    This is the go/no-go measurement before switching an ANN serving
    tier to truncated prefixes (4x less memory/bandwidth): if prefix
    recall holds, the cheap index serves candidates and the full vector
    only re-ranks.

    ONE scored pass: a single corpus x broadcast(queries) join computes
    BOTH cosines per row (the truncated vector is a zero-copy slice —
    no second embedding scan, no second shuffle), then two row_number
    windows over the SAME (query_id)-keyed exchange rank both metrics.
    Overlap therefore needs no self-join: it is a conditional aggregate
    over rows where both ranks clear k. Recall is exact integer
    (n_overlap, 20*n_overlap percent).

    Ranking determinism: both engines order by raw double cosine with
    neighbor-id tie-break; the dot products fold left-to-right over the
    same values in both engines (the knn_bruteforce_cosine discipline).

    Scale: identical shape to knn_bruteforce_cosine — the exact-anchor
    path (O(n·q)); a production sweep would run it on a stratified
    query sample, then flip serving to knn_ivf/knn_lsh with the prefix
    dims once the recall clears the bar."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    scored = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                F.expr(sql_dot("qv", "embedding"))
                / (F.expr(sql_norm("qv")) * F.expr(sql_norm("embedding")))
            ).alias("cos_full"),
            (
                F.expr(sql_dot("slice(qv, 1, 16)", "slice(embedding, 1, 16)"))
                / (
                    F.expr(sql_norm("slice(qv, 1, 16)"))
                    * F.expr(sql_norm("slice(embedding, 1, 16)"))
                )
            ).alias("cos_trunc"),
        )
    )
    w_full = Window.partitionBy("query_id").orderBy(
        F.desc("cos_full"), "neighbor_id"
    )
    w_trunc = Window.partitionBy("query_id").orderBy(
        F.desc("cos_trunc"), "neighbor_id"
    )
    both = (
        (F.col("r_full") <= 5) & (F.col("r_trunc") <= 5)
    )
    return (
        scored.withColumn("r_full", F.row_number().over(w_full))
        .withColumn("r_trunc", F.row_number().over(w_trunc))
        .groupBy("query_id")
        .agg(
            F.sum(F.when(both, 1).otherwise(0)).cast("bigint").alias("n_overlap"),
            (20 * F.sum(F.when(both, 1).otherwise(0))).cast("bigint").alias(
                "recall_pct"
            ),
        )
        .orderBy("query_id")
    )


_SEMDEDUP_ORACLE = f"""
    WITH g AS (
      SELECT embedding, list_sort(list(vec_id)) AS ids, min(vec_id) AS rep
      FROM embeddings GROUP BY embedding
    ),
    pts AS (
      SELECT rep, ids,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS v
      FROM g
    ),
    c0 AS (
      SELECT vec_id AS cluster,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS c
      FROM embeddings WHERE vec_id < {_KMEANS_K}
    ),
    d1 AS (
      SELECT p.rep, p.ids, p.v, c.cluster,
             CAST(list_sum(list_transform(range(1, {_KMEANS_DIM + 1}),
               i -> (p.v[i] - c.c[i]) * (p.v[i] - c.c[i]))) AS BIGINT) AS dist
      FROM pts p CROSS JOIN c0 c
    ),
    a1 AS (
      SELECT rep, ids, v, cluster,
             CAST(list_sum(list_transform(range(1, {_KMEANS_DIM + 1}),
               i -> v[i] * v[i])) AS BIGINT) AS na
      FROM d1
      QUALIFY row_number() OVER (PARTITION BY rep ORDER BY dist, cluster) = 1
    ),
    w AS (
      SELECT a.rep, min(b.rep) AS wmin
      FROM a1 a JOIN a1 b
        ON a.cluster = b.cluster AND a.rep <> b.rep
      WHERE CAST(list_sum(list_transform(range(1, {_KMEANS_DIM + 1}),
              i -> a.v[i] * b.v[i])) AS BIGINT) > 0
        AND CAST(list_sum(list_transform(range(1, {_KMEANS_DIM + 1}),
              i -> a.v[i] * b.v[i])) AS DECIMAL(38,0))
            * CAST(list_sum(list_transform(range(1, {_KMEANS_DIM + 1}),
              i -> a.v[i] * b.v[i])) AS BIGINT) * 100
          > CAST(list_sum(list_transform(range(1, {_KMEANS_DIM + 1}),
              i -> a.v[i] * a.v[i])) AS DECIMAL(38,0))
            * CAST(list_sum(list_transform(range(1, {_KMEANS_DIM + 1}),
              i -> b.v[i] * b.v[i])) AS BIGINT) * 16
      GROUP BY a.rep
    ),
    expanded AS (
      SELECT unnest(a.ids) AS x, a.ids[1] AS first_id, a.cluster, a.na, w.wmin
      FROM a1 a LEFT JOIN w ON w.rep = a.rep
    )
    SELECT x AS vec_id,
           CAST(cluster AS BIGINT) AS cluster,
           CAST(least(CASE WHEN x > first_id AND na > 0 THEN first_id END,
                      CASE WHEN wmin < x THEN wmin END) AS BIGINT)
             AS kept_witness
    FROM expanded
    WHERE (x > first_id AND na > 0) OR wmin < x
    ORDER BY vec_id
"""


@register("semdedup_cluster_prune", _SEMDEDUP_ORACLE)
def semdedup_cluster_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al., 2023 — semantic deduplication for LLM
    training data): cluster the embeddings, then drop every vector that
    has a higher-cosine-than-threshold neighbor WITH A LOWER ID inside
    its own cluster (keep-the-minimum survivorship). Clustering is what
    makes semantic dedup tractable: the quadratic pair scan runs within
    clusters only — Σ|cluster|² work instead of N², the same bound the
    blocked linkage ops live by. Emits the dropped ids with their
    cluster and the minimal kept witness.

    Determinism: the cluster assignment is kmeans_lloyd's fixed-point
    integer argmin (first-k seed centroids, floor·10⁶ quantization); the
    cosine test cross-multiplies to DECIMAL(38,0) — cos(a,b) > 0.4 ⟺
    dot>0 ∧ dot²·100 > |a|²·|b|²·16 — no sqrt, no float. (0.4 suits the
    synthetic fixture's random vectors, whose max intra-cluster cosine
    is ~0.49; production text embeddings run 0.95+. The threshold is the
    one tunable.)

    Scale: DISTINCT-FIRST (the blanket SCALE.md rule — r8): duplicate
    embeddings are collapsed to one representative BEFORE clustering
    and the pairwise pass, so the cluster-keyed self-equi-join is
    bounded by DISTINCT-vector cluster sizes (Σ|cluster∩distinct|²),
    and the per-id verdicts are recovered algebraically: identical
    copies always exceed any cosine threshold (cos = 1 when non-zero),
    so copy x drops against the group's first id, and a distinct
    passing neighbor contributes its own min id as the alternative
    witness — kept_witness = least of the two candidates, exactly the
    doc-level min. The r8 sf1 sweep caught the id-level form at >120 s
    on the ×10-replica fixture (clusters grew 10×, pairs 100×); this
    form's join volume is replica-independent. At 100 TB k additionally
    scales with N to cap clusters (oversized cluster → width cap +
    re-cluster, the documented guard)."""
    emb = load_table(spark, sf_dir, "embeddings")
    groups = (
        emb.groupBy("embedding")
        .agg(F.sort_array(F.collect_list("vec_id")).alias("ids"))
        .withColumn("vec_id", F.element_at("ids", 1))  # representative id
    )
    points = groups.select(
        "vec_id",
        "ids",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * 1000000.0).cast("long"),
        ).alias("v"),
    ).persist()
    # seed centroids come from the ORIGINAL id space (vec_id < k), like
    # kmeans_lloyd — a seed id that happens to be a duplicate copy still
    # contributes its (identical) vector
    cents = emb.filter(F.col("vec_id") < _KMEANS_K).select(
        F.col("vec_id").alias("cluster"),
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * 1000000.0).cast("long"),
        ).alias("c"),
    )
    na = F.aggregate(
        F.transform("v", lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )
    assigned = (
        _kmeans_assign(points, cents)
        .select("vec_id", "ids", "v", "cluster")
        .withColumn("na", na)
        .persist()  # pair pass (both sides) + expansion
    )
    a = assigned.select(
        "cluster", F.col("vec_id").alias("ra"), F.col("v").alias("va")
    )
    b = assigned.select(
        "cluster", F.col("vec_id").alias("rb"), F.col("v").alias("vb")
    )
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )
    naa = F.aggregate(
        F.transform("va", lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )
    nbb = F.aggregate(
        F.transform("vb", lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )
    w = (
        a.join(b, "cluster")
        .filter(F.col("ra") != F.col("rb"))
        .withColumn("dot", dot)
        .withColumn("naa", naa)
        .withColumn("nbb", nbb)
        .filter(
            (F.col("dot") > 0)
            & (
                F.col("dot").cast("decimal(38,0)") * F.col("dot") * 100
                > F.col("naa").cast("decimal(38,0)") * F.col("nbb") * 16
            )
        )
        .groupBy(F.col("ra").alias("vec_id"))
        .agg(F.min("rb").alias("wmin"))
    )
    expanded = (
        assigned.join(w, "vec_id", "left")
        .select(
            "cluster",
            "na",
            "wmin",
            F.element_at("ids", 1).alias("first_id"),
            F.explode("ids").alias("x"),
        )
    )
    witness = F.least(
        F.when((F.col("x") > F.col("first_id")) & (F.col("na") > 0), F.col("first_id")),
        F.when(F.col("wmin") < F.col("x"), F.col("wmin")),
    )
    return (
        expanded.withColumn("kept_witness", witness)
        .filter(F.col("kept_witness").isNotNull())
        .select(
            F.col("x").alias("vec_id"),
            F.col("cluster").cast("bigint").alias("cluster"),
            F.col("kept_witness").cast("bigint").alias("kept_witness"),
        )
        .orderBy("vec_id")
    )


def _kcenter_oracle() -> str:
    sqd = (
        "CAST(list_sum(list_transform(range(1, {d}), "
        "i -> (p.v[i] - c.v[i]) * (p.v[i] - c.v[i]))) AS BIGINT)"
    ).format(d=_KMEANS_DIM + 1)
    rounds = []
    prev = "c1"
    rounds.append(
        "c1 AS (SELECT CAST(1 AS BIGINT) AS round, vec_id,"
        " CAST(0 AS BIGINT) AS mind, v FROM pts WHERE vec_id = 0)"
    )
    for t in range(2, 6):
        rounds.append(
            f"""m{t} AS (
      SELECT p.vec_id, p.v, min({sqd}) AS mind
      FROM pts p JOIN {prev} c ON TRUE
      WHERE p.vec_id NOT IN (SELECT vec_id FROM {prev})
      GROUP BY p.vec_id, p.v
    ),
    c{t} AS (
      SELECT round, vec_id, mind, v FROM {prev}
      UNION ALL
      SELECT CAST({t} AS BIGINT), vec_id, mind, v FROM m{t}
      QUALIFY row_number() OVER (ORDER BY mind DESC, vec_id) = 1
    )"""
        )
        prev = f"c{t}"
    return (
        """
    WITH pts AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS v
      FROM embeddings
    ),
    """
        + ",\n    ".join(rounds)
        + """
    SELECT round, vec_id, mind AS dist_fp2 FROM c5 ORDER BY round
    """
    )


@register("coreset_kcenter_greedy", _kcenter_oracle())
def coreset_kcenter_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center / farthest-first traversal (Gonzalez 1985 — the
    2-approximation behind coreset selection, diverse-subset sampling,
    and k-means++-style seeding for training-data curation): start from
    vec_id 0, then four times pick the point FARTHEST from the chosen
    set (max over points of min squared distance to any center, vec_id
    tie-break). Emits the 5 centers in selection order with the covering
    radius each one closed — the radius sequence IS the coverage curve a
    curation pipeline reads to choose k.

    Determinism: fixed-point integer coordinates and exact BIGINT
    squared distances (the kmeans_lloyd discipline) make every argmax
    decision engine-stable.

    Scale: each round is one scan of the persisted quantized points
    against a BROADCAST ≤k-row center set (min-dist partial aggregate,
    then a 1-row TakeOrdered argmax — no global sort, no driver
    round-trip between rounds: the next center joins back into the plan
    as a 1-row frame). k rounds = k such passes, the standard
    distributed farthest-first; at 100 TB swap the exact argmax for the
    sampled variant (argmax over a per-partition top-1 union), same
    plan shape."""
    emb = load_table(spark, sf_dir, "embeddings")
    points = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * 1000000.0).cast("long"),
        ).alias("v"),
    ).persist()
    centers = points.filter(F.col("vec_id") == 0).select(
        F.lit(1).cast("bigint").alias("round"),
        "vec_id",
        F.lit(0).cast("bigint").alias("mind"),
        "v",
    )
    for t in range(2, 6):
        cand = (
            points.join(
                centers.select(F.col("vec_id").alias("cid")),
                points.vec_id == F.col("cid"),
                "left_anti",
            )
            .crossJoin(
                F.broadcast(centers.select(F.col("v").alias("cv")))
            )
            .withColumn("d", _sqdist_fp(F.col("v"), F.col("cv")))
            .groupBy("vec_id", "v")
            .agg(F.min("d").alias("mind"))
        )
        chosen = (
            cand.orderBy(F.desc("mind"), "vec_id")
            .limit(1)
            .select(
                F.lit(t).cast("bigint").alias("round"), "vec_id", "mind", "v"
            )
        )
        centers = centers.unionByName(chosen)
    return centers.select(
        "round", "vec_id", F.col("mind").alias("dist_fp2")
    ).orderBy("round")


_COV_DIMS = 8
_COV_PAIRS = [(i, j) for i in range(1, _COV_DIMS + 1) for j in range(i, _COV_DIMS + 1)]


def _cov_oracle() -> str:
    terms = []
    for i in range(1, _COV_DIMS + 1):
        terms.append(
            f"CAST(floor(CAST(embedding[{i}] AS DOUBLE) * 1000 + 0.5)"
            f" AS BIGINT) AS q{i}"
        )
    aggs = ["CAST(count(*) AS BIGINT) AS n"]
    for i in range(1, _COV_DIMS + 1):
        aggs.append(f"CAST(sum(q{i}) AS BIGINT) AS s{i}")
    for i, j in _COV_PAIRS:
        aggs.append(f"CAST(sum(q{i} * q{j}) AS BIGINT) AS s{i}_{j}")
    rows = []
    for i, j in _COV_PAIRS:
        rows.append(
            f"SELECT {i} AS dim_i, {j} AS dim_j, n,"
            f" s{i} AS sx, s{j} AS sy, s{i}_{j} AS sxy,"
            f" CAST(n * s{i}_{j} - s{i} * s{j} AS DOUBLE)"
            f" / CAST(n * n AS DOUBLE) AS cov FROM m"
        )
    return (
        "WITH q AS (SELECT "
        + ", ".join(terms)
        + " FROM embeddings), m AS (SELECT "
        + ", ".join(aggs)
        + " FROM q) "
        + " UNION ALL ".join(rows)
        + " ORDER BY dim_i, dim_j"
    )


@register("embedding_covariance_quantized", _cov_oracle())
def embedding_covariance_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle covariance block of the first 8 embedding
    dimensions — the co-moment matrix PCA/whitening/ZCA starts from,
    computed the way a 100 TB embedding lake has to: ONE
    partial-aggregated scan accumulating n + 8 sums + 36 exact product
    sums (map-side combine reduces every partition to a 45-value row),
    never a per-pair shuffle or a d²-fanout explode. Dimensions are
    quantized to exact integers first (floor(x·1000 + 0.5) — the
    round-half-up idiom from embedding_quantize_int8, bit-stable
    cross-engine), so every co-moment is a BIGINT and only the final
    covariance closed form (n·Sxy − SxSy)/n² drops to two
    correctly-rounded double ops.

    At full d=64 the same plan carries d(d+1)/2 = 2080 sums — wide but
    still one scan-reduce; the quantized-int trick is what keeps the
    result reproducible across engines, executors, and retry orders
    (float sums are order-dependent; integer sums are not)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qcols = [
        F.expr(
            f"CAST(floor(CAST(element_at(embedding, {i}) AS DOUBLE) * 1000 + 0.5)"
            f" AS BIGINT)"
        ).alias(f"q{i}")
        for i in range(1, _COV_DIMS + 1)
    ]
    q = emb.select(*qcols)
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n")]
    for i in range(1, _COV_DIMS + 1):
        aggs.append(F.sum(F.col(f"q{i}")).cast("bigint").alias(f"s{i}"))
    for i, j in _COV_PAIRS:
        aggs.append(
            F.sum(F.col(f"q{i}") * F.col(f"q{j}")).cast("bigint").alias(f"s{i}_{j}")
        )
    m = q.agg(*aggs)
    stack_args = []
    for i, j in _COV_PAIRS:
        stack_args.append(
            f"{i}L, {j}L, n, s{i}, s{j}, s{i}_{j},"
            f" CAST(n * s{i}_{j} - s{i} * s{j} AS DOUBLE) / CAST(n * n AS DOUBLE)"
        )
    out = m.select(
        F.expr(
            f"stack({len(_COV_PAIRS)}, {', '.join(stack_args)})"
            " AS (dim_i, dim_j, n, sx, sy, sxy, cov)"
        )
    )
    return out.orderBy("dim_i", "dim_j")


def _pca_oracle() -> str:
    d = _COV_DIMS
    qterms = ", ".join(
        f"CAST(floor(CAST(embedding[{i}] AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS q{i}"
        for i in range(1, d + 1)
    )
    aggs = ["CAST(count(*) AS BIGINT) AS n"] + [
        f"CAST(sum(q{i}) AS BIGINT) AS s{i}" for i in range(1, d + 1)
    ] + [f"CAST(sum(q{i} * q{j}) AS BIGINT) AS s{i}_{j}" for i, j in _COV_PAIRS]
    mat_rows = []
    for i, j in _COV_PAIRS:
        mat_rows.append(f"SELECT {i} AS i, {j} AS j, n*s{i}_{j} - s{i}*s{j} AS c FROM m")
        if i != j:
            mat_rows.append(
                f"SELECT {j}, {i}, n*s{i}_{j} - s{i}*s{j} FROM m"
            )
    v0_rows = " UNION ALL ".join(
        f"SELECT {i} AS dim, CAST(1000000 AS BIGINT) AS v" for i in range(1, d + 1)
    )
    its = []
    prev = "v0"
    for t in (1, 2, 3):
        its.append(
            f"it{t} AS (SELECT matn.i AS dim, CAST(sum(matn.mval * {prev}.v) AS BIGINT) AS u"
            f" FROM matn JOIN {prev} ON matn.j = {prev}.dim GROUP BY matn.i),"
            f" mx{t} AS (SELECT greatest(max(abs(u)), 1) AS mx FROM it{t}),"
            f" v{t} AS (SELECT dim, CAST(u * 1000000 // mx AS BIGINT) AS v"
            f" FROM it{t}, mx{t})"
        )
        prev = f"v{t}"
    return (
        f"WITH q AS (SELECT {qterms} FROM embeddings),"
        f" m AS (SELECT {', '.join(aggs)} FROM q),"
        f" mat AS ({' UNION ALL '.join(mat_rows)}),"
        " mxc AS (SELECT greatest(max(abs(c)) // 1000000 + 1, 1) AS dvr FROM mat),"
        " matn AS (SELECT i, j, CAST(c // dvr AS BIGINT) AS mval FROM mat, mxc),"
        f" v0 AS ({v0_rows}),"
        f" {', '.join(its)}"
        " SELECT dim, v AS eigvec_e6 FROM v3 ORDER BY dim"
    )


def _pca_comoment_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The heavy half of embedding_pca_power_top1, exposed for plan
    audits (same pattern as the eager 1-row graph queries): ONE
    partial-aggregated scan reducing the embedding table to a single
    row of 1 + d + d(d+1)/2 exact BIGINT co-moments."""
    emb = load_table(spark, sf_dir, "embeddings")
    d = _COV_DIMS
    qcols = [
        F.expr(
            f"CAST(floor(CAST(element_at(embedding, {i}) AS DOUBLE) * 1000 + 0.5)"
            f" AS BIGINT)"
        ).alias(f"q{i}")
        for i in range(1, d + 1)
    ]
    q = emb.select(*qcols)
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n")]
    for i in range(1, d + 1):
        aggs.append(F.sum(F.col(f"q{i}")).cast("bigint").alias(f"s{i}"))
    for i, j in _COV_PAIRS:
        aggs.append(
            F.sum(F.col(f"q{i}") * F.col(f"q{j}")).cast("bigint").alias(f"s{i}_{j}")
        )
    return q.agg(*aggs)


def _trunc_div(a: int, b: int) -> int:
    """Spark SQL's BIGINT ``div``: integral division truncating toward
    zero (Python ``//`` floors, which differs on negative numerators)."""
    q = abs(a) // b
    return -q if a < 0 else q


@register("embedding_pca_power_top1", _pca_oracle())
def embedding_pca_power_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the (8-dim block) embedding covariance
    by THREE fixed-point power-iteration steps — PCA's inner loop, run
    entirely as integer arithmetic so the eigenvector trace is
    bit-identical cross-engine and across executor/retry orders. Builds
    on embedding_covariance_quantized's one-scan co-moment sketch: the
    64 exact c_ij = n·Sij − SiSj entries self-normalize through divisor
    (max|c| div 1e6 + 1) — the OVERFLOW GOVERNOR that keeps every later
    product ≤ 8e18 inside BIGINT at ANY scale factor (matrix entries
    grow ∝ n², so a fixed divisor would overflow at 100 TB; dividing by
    the matrix's own magnitude is scale-free).

    The heavy lifting — the co-moment scan — is ONE partial-aggregated
    pass over the vectors (``_pca_comoment_plan``, plan-test-pinned);
    iterations cost O(d²) regardless of data size. r14 (guide §5: the
    driver should do almost no data work — and an 8×8 integer matrix is
    almost none): the r7-r13 form kept the power iteration IN DATAFLOW
    (three join+aggregate+rescale rounds over 64-row frames plus two
    persists), a ~45-micro-stage / ~50-exchange plan whose scheduling
    and planning overhead dwarfed its arithmetic at every SF. Now the
    1-row sketch is collected and the iteration runs in exact Python
    ints — a strict superset of BIGINT arithmetic, with Spark's
    truncating ``div`` replicated explicitly (``_trunc_div``) — and the
    8-row result returns as a literal frame, hash-identical (verified
    sf0.001/sf0.01/sf0.1). Like copurchase_triangles, the query is
    EAGER: it executes the scan at call time."""
    d = _COV_DIMS
    row = _pca_comoment_plan(spark, sf_dir).collect()[0]
    n = row["n"]
    s = {i: row[f"s{i}"] for i in range(1, d + 1)}
    c: dict[tuple[int, int], int] = {}
    for i, j in _COV_PAIRS:
        cij = n * row[f"s{i}_{j}"] - s[i] * s[j]
        c[(i, j)] = cij
        if i != j:
            c[(j, i)] = cij
    dvr = max(max(abs(x) for x in c.values()) // 1000000 + 1, 1)
    m = {k: _trunc_div(x, dvr) for k, x in c.items()}
    v = {i: 1000000 for i in range(1, d + 1)}
    for _ in range(3):
        u = {
            i: sum(m[(i, j)] * v[j] for j in range(1, d + 1))
            for i in range(1, d + 1)
        }
        mx = max(max(abs(x) for x in u.values()), 1)
        v = {i: _trunc_div(u[i] * 1000000, mx) for i in u}
    return spark.createDataFrame(
        sorted((i, v[i]) for i in v), "dim bigint, eigvec_e6 bigint"
    ).orderBy("dim")
