"""Multimodal column support: opaque binary payloads + typed metadata.

Design (BASELINE.json): image/audio/video travel as ``binary`` columns
with struct metadata beside them; decode / feature-extract / resize /
frame-sample run as Arrow-batched pandas functions over ``mapInPandas``.
The decode kernels themselves are STUBBED (no PIL/ffmpeg in this
container — they raise NotImplementedError unless a deterministic fake is
requested), but everything Spark-side is real and tested: schema, batch
iteration, partitioning, and the UDF signatures.

The ``multimodal_payload_stats`` query is the SQL-checkable part of the
plumbing: binary construction, byte lengths, content hashes — DuckDB
verifies them exactly.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dbtransfer_spark.catalog import load_table
from dbtransfer_spark.registry import register


MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("checksum", T.StringType()),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)


def decode_media(payload: bytes, media_type: str, fake: bool = False) -> dict:
    """Decode stub. Real pipelines plug PIL/torchaudio/ffmpeg here; this
    container has none, so either raise (default) or produce a
    deterministic fake derived from the payload bytes."""
    if not fake:
        raise NotImplementedError(
            "media decoding requires image/audio libs not present in this "
            "container; pass fake=True for the deterministic test double"
        )
    h = sum(payload[:64]) if payload else 0
    return {
        "width": 16 + h % 32,
        "height": 16 + (h // 32) % 32,
        "n_frames": 1 + h % 4,
        "feature": [float((b % 17)) / 17.0 for b in payload[:8]],
    }


def extract_features(df: DataFrame, fake: bool = True) -> DataFrame:
    """mapInPandas feature extraction: Arrow batches in, Arrow batches out.
    One Python worker per partition; batch size bounded by
    spark.sql.execution.arrow.maxRecordsPerBatch — memory-safe for large
    payload columns because batches stream."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [decode_media(p, m, fake=fake) for p, m in zip(pdf["payload"], pdf["media_type"])]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "width": [f["width"] for f in feats],
                    "height": [f["height"] for f in feats],
                    "n_frames": [f["n_frames"] for f in feats],
                    "feature": [f["feature"] for f in feats],
                }
            )

    return df.mapInPandas(run, FEATURE_SCHEMA)


def documents_as_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a media table from the documents fixture: text bytes stand in
    for an opaque payload (the container ships no real media); media_type
    assigned deterministically."""
    df = load_table(spark, sf_dir, "documents")
    payload = F.encode("text", "utf-8")
    return df.select(
        "doc_id",
        payload.alias("payload"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("media_type"),
        F.length(payload).cast("long").alias("n_bytes"),
        F.md5(payload).alias("checksum"),
    )


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("checksum", T.StringType()),
    ]
)


def fake_resize(payload: bytes, w: int, h: int) -> bytes:
    """Deterministic resize stand-in: stride-sample the payload down to at
    most w*h bytes (a real kernel would be PIL ``Image.resize``; the
    byte-level contract — smaller payload, new checksum, target dims — is
    what the Spark plumbing must preserve)."""
    n = len(payload)
    if n == 0:
        return b""
    stride = max(1, n // (w * h))
    return payload[::stride][: w * h]


def resize_media(df: DataFrame, w: int = 32, h: int = 32, fake: bool = True) -> DataFrame:
    """mapInPandas resize pass: payload in, strided payload out with
    refreshed byte-count/checksum metadata. Streams Arrow batches, so
    executor memory is bounded by maxRecordsPerBatch regardless of payload
    size — the shape a real PIL/ffmpeg kernel drops into."""
    if not fake:
        raise NotImplementedError(
            "real resize requires image libs not present in this container"
        )
    import hashlib

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            resized = [fake_resize(p, w, h) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "width": w,
                    "height": h,
                    "n_bytes": [len(r) for r in resized],
                    "checksum": [hashlib.md5(r).hexdigest() for r in resized],
                }
            )

    return df.mapInPandas(run, RESIZED_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_bytes", T.LongType()),
        T.StructField("frame_checksum", T.StringType()),
    ]
)


def sample_frames(df: DataFrame, every: int = 2, fake: bool = True) -> DataFrame:
    """Frame sampling for video payloads: split the payload into
    ``n_frames`` equal chunks (frame count from the deterministic decoder)
    and keep every ``every``-th frame — one output row per sampled frame,
    the 1→N mapInPandas shape a real ffmpeg keyframe sampler has."""
    if not fake:
        raise NotImplementedError(
            "real frame sampling requires ffmpeg, not present in this container"
        )
    import hashlib

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "doc_id": [], "frame_idx": [], "frame_bytes": [], "frame_checksum": []
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                meta = decode_media(payload, "video", fake=True)
                chunk = len(payload) // meta["n_frames"]
                for i in range(0, meta["n_frames"], every):
                    frame = payload[i * chunk : (i + 1) * chunk]
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(i)
                    out["frame_bytes"].append(len(frame))
                    out["frame_checksum"].append(hashlib.md5(frame).hexdigest())
            yield pd.DataFrame(out)

    return df.mapInPandas(run, FRAME_SCHEMA)


@register(
    "multimodal_resize",
    # Replays fake_resize byte-for-byte: stride-sampled characters of the
    # (pure-ASCII) fixture text, md5 of the reconstruction.
    """
    WITH src AS (
      SELECT doc_id,
             ['image','audio','video'][(doc_id % 3 + 1)] AS media_type,
             text, length(text) AS n
      FROM documents
    ), strided AS (
      SELECT doc_id, media_type, n,
             CASE WHEN n = 0 THEN '' ELSE
               list_aggregate(
                 list_transform(
                   range(1, n + 1, greatest(1, n // 1024)),
                   i -> text[i]),
                 'string_agg', '')[:1024]
             END AS resized
      FROM src
    )
    SELECT doc_id, media_type,
           CAST(32 AS INTEGER) AS width, CAST(32 AS INTEGER) AS height,
           CAST(length(resized) AS BIGINT) AS n_bytes,
           md5(resized) AS checksum
    FROM strided
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize pass over the media table (32×32 fake kernel), metadata
    refreshed in the same Arrow-batched stream."""
    return resize_media(documents_as_media(spark, sf_dir), w=32, h=32)


@register(
    "multimodal_frame_sample",
    """
    WITH hashed AS (
      SELECT doc_id, text, length(text) AS n,
             list_sum(list_transform(range(1, least(64, length(text)) + 1),
                                     i -> ascii(text[i]))) AS h
      FROM documents
    ), meta AS (
      SELECT doc_id, text, n, CAST(1 + h % 4 AS INTEGER) AS n_frames
      FROM hashed
    )
    SELECT doc_id,
           CAST(frame_idx AS INTEGER) AS frame_idx,
           CAST(length(frame) AS BIGINT) AS frame_bytes,
           md5(frame) AS frame_checksum
    FROM (
      SELECT doc_id, unnest(range(0, n_frames, 2)) AS frame_idx,
             n // n_frames AS chunk, text
      FROM meta
    ) f
    CROSS JOIN LATERAL (SELECT substr(text, frame_idx * chunk + 1, chunk) AS frame) s
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every-2nd-frame sampling over video-typed payloads — the 1→N
    mapInPandas shape (one input row fans out to its sampled frames)."""
    media = documents_as_media(spark, sf_dir)
    return sample_frames(media, every=2)


@register(
    "multimodal_payload_stats",
    """
    SELECT media_type, count(*) AS n_items,
           CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
           count(DISTINCT checksum) AS n_distinct_payloads
    FROM (
      SELECT doc_id,
             ['image','audio','video'][(doc_id % 3 + 1)] AS media_type,
             octet_length(encode(text)) AS n_bytes,
             md5(text) AS checksum
      FROM documents
    ) GROUP BY media_type
    """,
)
def multimodal_payload_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing, SQL-checkable: encode → byte length → md5
    checksum → per-modality aggregates."""
    media = documents_as_media(spark, sf_dir)
    return media.groupBy("media_type").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("n_bytes").alias("total_bytes"),
        F.countDistinct("checksum").alias("n_distinct_payloads"),
    )


@register(
    "multimodal_features_fake",
    # The deterministic fake decoder is pure arithmetic over payload bytes,
    # so DuckDB can replay it exactly (fixture text is pure ASCII, so
    # ascii(char) == utf-8 byte value; verified in tests).
    """
    WITH hashed AS (
      SELECT doc_id, text,
             list_sum(list_transform(range(1, least(64, length(text)) + 1),
                                     i -> ascii(text[i]))) AS h
      FROM documents
    )
    SELECT doc_id,
           ['image','audio','video'][(doc_id % 3 + 1)] AS media_type,
           CAST(16 + h % 32 AS INTEGER) AS width,
           CAST(16 + (h // 32) % 32 AS INTEGER) AS height,
           CAST(1 + h % 4 AS INTEGER) AS n_frames,
           list_aggregate(
             list_transform(range(1, least(8, length(text)) + 1),
                            i -> printf('%.4f', (ascii(text[i]) % 17) / 17.0)),
             'string_agg', ',') AS feature_csv
    FROM hashed
    """,
)
def multimodal_features_fake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end mapInPandas feature extraction with the deterministic
    fake decoder — proves schema/batching/partitioning; swap the decoder
    for a real one without touching the Spark plumbing.

    The declared query stringifies the feature vector (the harness
    canonicalizer sorts cells and cannot order list values); library
    callers use extract_features() directly and keep array<float>."""
    media = documents_as_media(spark, sf_dir)
    feats = extract_features(media, fake=True)
    return feats.select(
        "doc_id",
        "media_type",
        "width",
        "height",
        "n_frames",
        F.concat_ws(
            ",", F.transform("feature", lambda x: F.format_number(x, 4))
        ).alias("feature_csv"),
    )


@register(
    "multimodal_payload_dedup",
    """
    WITH media AS (
      SELECT doc_id,
             ['image','audio','video'][(doc_id % 3 + 1)] AS media_type,
             sha256(text) AS content_id,
             octet_length(encode(text)) AS n_bytes
      FROM documents
    ),
    keep AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY content_id
                                     ORDER BY doc_id) AS rn
        FROM media
      ) WHERE rn = 1
    )
    SELECT m.media_type,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(count(DISTINCT m.content_id) AS BIGINT) AS n_unique,
           CAST(count(*) - count(DISTINCT m.content_id) AS BIGINT) AS n_dups_removed,
           CAST(sum(m.n_bytes) AS BIGINT) AS raw_bytes,
           CAST((SELECT sum(k.n_bytes) FROM keep k
                 WHERE k.media_type = m.media_type) AS BIGINT) AS deduped_bytes
    FROM media m GROUP BY m.media_type ORDER BY m.media_type
    """,
)
def multimodal_payload_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed dedup of binary media payloads: sha256 over the
    raw bytes is the content id (the standard image/audio dedup key —
    byte-exact copies collapse regardless of filename or metadata), keep
    the lowest doc id per content id, and report per-modality storage
    savings. At 100 TB of media the payload bytes never shuffle: only
    (content_id, n_bytes, keys) move, and the keep-min is the same
    deterministic window as exact_dedup.

    Plan: scan-stage sha256 + two content-keyed partial-aggregated
    passes (dedup + rollup); output ≤ |modalities| rows."""
    media = documents_as_media(spark, sf_dir)
    hashed = media.select(
        "doc_id",
        "media_type",
        F.sha2(F.col("payload"), 256).alias("content_id"),
        "n_bytes",
    ).persist()  # consumed by the totals rollup AND the keep-min pass
    keep = (
        hashed.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("content_id").orderBy("doc_id")
            ),
        )
        .filter(F.col("rn") == 1)
        .groupBy("media_type")
        .agg(F.sum("n_bytes").cast("bigint").alias("deduped_bytes"))
    )
    totals = hashed.groupBy("media_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.countDistinct("content_id").cast("bigint").alias("n_unique"),
        (F.count(F.lit(1)) - F.countDistinct("content_id"))
        .cast("bigint")
        .alias("n_dups_removed"),
        F.sum("n_bytes").cast("bigint").alias("raw_bytes"),
    )
    return totals.join(keep, "media_type").select(
        "media_type",
        "n_items",
        "n_unique",
        "n_dups_removed",
        "raw_bytes",
        "deduped_bytes",
    ).orderBy("media_type")


_CHUNK_BYTES, _HOP_BYTES = 64, 48


@register(
    "multimodal_audio_chunks",
    f"""
    WITH media AS (
      SELECT doc_id, encode(text) AS payload
      FROM documents WHERE doc_id % 3 = 1
    ), hexed AS (
      SELECT doc_id, hex(payload) AS hx,
             CAST(octet_length(payload) AS BIGINT) AS n_bytes
      FROM media
    )
    SELECT doc_id,
           CAST(s.s / {_HOP_BYTES} AS BIGINT) AS chunk_idx,
           CAST(s.s AS BIGINT) AS start_byte,
           CAST(least({_CHUNK_BYTES}, n_bytes - s.s) AS BIGINT) AS chunk_len,
           md5(substring(hx, CAST(s.s * 2 + 1 AS BIGINT),
                         CAST(least({_CHUNK_BYTES}, n_bytes - s.s) * 2 AS BIGINT)))
             AS chunk_checksum
    FROM hexed, UNNEST(range(0, n_bytes, {_HOP_BYTES})) AS s(s)
    """,
)
def multimodal_audio_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-window segmentation of audio payloads — the chunking
    pass a speech pipeline runs before batch transcription/embedding:
    fixed {chunk}-byte windows advancing by {hop} bytes (25% overlap so
    no boundary is ever unheard), each chunk addressed by (doc, index,
    byte offset, length) with a content checksum for cache-keyed
    downstream decode.

    All built-ins, no UDF: the windows come from a narrow
    sequence-explode (1→⌈n/hop⌉ fanout at the scan, exactly like the
    range-join binner), and the slice checksums hash the hex encoding —
    byte-exact in both engines without BLOB-slicing support on the
    oracle side. The decode that would consume these chunks stays
    behind the stubbed kernel (decode_media); what this verifies is the
    Spark-side plumbing a 100 TB media lake actually schedules: opaque
    bytes, deterministic addressing, linear fanout, zero Python."""
    media = documents_as_media(spark, sf_dir).filter(
        (F.col("media_type") == "audio") & (F.col("n_bytes") > 0)
    )
    # the n_bytes > 0 guard matters: sequence(0, -1, hop) throws on an
    # empty payload, whereas the oracle's range(0, 0, hop) emits no rows
    hexed = media.select(
        "doc_id",
        F.hex("payload").alias("hx"),
        F.col("n_bytes"),
    )
    return (
        hexed.select(
            "doc_id",
            "n_bytes",
            "hx",
            F.explode(
                F.expr(f"sequence(0, n_bytes - 1, {_HOP_BYTES})")
            ).alias("start_byte"),
        )
        .select(
            "doc_id",
            (F.col("start_byte") / _HOP_BYTES).cast("bigint").alias("chunk_idx"),
            F.col("start_byte").cast("bigint").alias("start_byte"),
            F.least(F.lit(_CHUNK_BYTES), F.col("n_bytes") - F.col("start_byte"))
            .cast("bigint")
            .alias("chunk_len"),
            F.md5(
                F.expr(
                    f"substring(hx, CAST(start_byte * 2 + 1 AS BIGINT), "
                    f"CAST(least({_CHUNK_BYTES}, n_bytes - start_byte) * 2 AS BIGINT))"
                )
            ).alias("chunk_checksum"),
        )
    )


multimodal_audio_chunks.__doc__ = multimodal_audio_chunks.__doc__.format(
    chunk=_CHUNK_BYTES, hop=_HOP_BYTES
)


_GRID_W, _PATCH = 32, 8  # raster width (bytes) and square patch edge


# a patch concatenates 8 row-slices of 8 bytes; in hex space each slice
# is substring(hx, byte_offset*2 + 1, 16). Both sides are generated from
# the same term list so the checksums replay byte-exactly.
def _patch_hex_concat(dialect: str) -> str:
    parts = []
    for r in range(_PATCH):
        off = f"((pr * {_PATCH} + {r}) * {_GRID_W} + pc * {_PATCH})"
        parts.append(f"substring(hx, CAST({off} * 2 + 1 AS BIGINT), 16)")
    sep = " || " if dialect == "duckdb" else ", "
    return ("(" + sep.join(parts) + ")") if dialect == "duckdb" else (
        "concat(" + sep.join(parts) + ")"
    )


@register(
    "multimodal_patch_grid",
    f"""
    WITH media AS (
      SELECT doc_id,
             hex(CAST(text AS BLOB)) AS hx,
             n_chars AS n_bytes
      FROM documents
      WHERE doc_id % 3 = 2 AND n_chars >= {_GRID_W * _PATCH}
    ), grids AS (
      SELECT doc_id, hx,
             (n_bytes // {_GRID_W}) // {_PATCH} AS patch_rows
      FROM media
    ), cells AS (
      SELECT doc_id, hx,
             i // {_GRID_W // _PATCH} AS pr,
             i % {_GRID_W // _PATCH} AS pc
      FROM grids,
           UNNEST(range(0, patch_rows * {_GRID_W // _PATCH})) AS t(i)
    )
    SELECT doc_id,
           CAST(pr AS BIGINT) AS patch_row,
           CAST(pc AS BIGINT) AS patch_col,
           CAST((pr * {_PATCH}) * {_GRID_W} + pc * {_PATCH} AS BIGINT)
             AS start_byte,
           md5({_patch_hex_concat('duckdb')}) AS patch_checksum
    FROM cells
    """,
)
def multimodal_patch_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ViT-style patch addressing for image payloads: treat each image
    payload as a {w}-byte-wide raster and address non-overlapping
    {p}x{p} patches by (row, col, byte offset) with a content checksum
    per patch — the spatial twin of multimodal_audio_chunks' temporal
    chunking, and the exact batch shape a patch-embedding stage consumes
    (one row per patch, deterministic addressing, cache-keyed decode).

    All built-ins: a single 2-D index explode (1 → patch_rows*{c}
    fanout, linear in payload size) and {p} hex-space slice
    concatenations per patch; the stubbed decode kernel stays the only
    thing between these addresses and real pixels (sandbox has no
    codecs). Incomplete trailing rows are dropped (only whole patches
    are addressed), and payloads under one patch row emit nothing —
    same guard discipline as the audio chunker's n_bytes > 0.

    Scale: narrow fanout at the scan, zero shuffles, zero Python; the
    oracle replays the identical hex-space arithmetic."""
    media = documents_as_media(spark, sf_dir).filter(
        (F.col("media_type") == "video")
        & (F.col("n_bytes") >= _GRID_W * _PATCH)
    )
    cols = _GRID_W // _PATCH
    grids = media.select(
        "doc_id",
        F.hex("payload").alias("hx"),
        F.expr(f"(n_bytes div {_GRID_W}) div {_PATCH}").alias("patch_rows"),
    )
    return (
        grids.select(
            "doc_id",
            "hx",
            F.explode(
                F.expr(f"sequence(0, CAST(patch_rows * {cols} AS INT) - 1)")
            ).alias("i"),
        )
        .select(
            "doc_id",
            F.expr(f"i div {cols}").alias("pr"),
            F.expr(f"i % {cols}").alias("pc"),
            F.col("hx"),
        )
        .select(
            "doc_id",
            F.col("pr").cast("bigint").alias("patch_row"),
            F.col("pc").cast("bigint").alias("patch_col"),
            F.expr(f"CAST((pr * {_PATCH}) * {_GRID_W} + pc * {_PATCH} AS BIGINT)")
            .alias("start_byte"),
            F.md5(F.expr(_patch_hex_concat("spark"))).alias("patch_checksum"),
        )
    )


multimodal_patch_grid.__doc__ = multimodal_patch_grid.__doc__.format(
    w=_GRID_W, p=_PATCH, c=_GRID_W // _PATCH
)


# ---------------------------------------------------------------------------
# Perceptual (average-hash) near-duplicate detection for image payloads
# ---------------------------------------------------------------------------

_AH_N = 48          # leading payload bytes hashed -> 48-bit fingerprint
_AH_BANDS = 4       # LSH bands over the fingerprint (12 bits each)
_AH_HAMMING_MAX = 12
_AH_TOPK = 5        # neighbors reported per fingerprint (bounds output)


def _ah_byte(dialect: str, i: int) -> str:
    off = 2 * i + 1
    if dialect == "duckdb":
        return f"CAST(('0x' || substr(hx, {off}, 2)) AS BIGINT)"
    return f"CAST(conv(substring(hx, {off}, 2), 16, 10) AS BIGINT)"


def _ah_sum(dialect: str) -> str:
    return " + ".join(_ah_byte(dialect, i) for i in range(_AH_N))


def _ah_bits(dialect: str) -> str:
    return " + ".join(
        f"(CASE WHEN {_AH_N} * {_ah_byte(dialect, i)} >= s"
        f" THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for i in range(_AH_N)
    )


@register(
    "image_ahash_neardup",
    f"""
    WITH media AS (
      SELECT doc_id, hex(CAST(text AS BLOB)) AS hx
      FROM documents
      WHERE doc_id % 3 = 0 AND octet_length(CAST(text AS BLOB)) >= {_AH_N}
    ), s1 AS (
      SELECT doc_id, hx, ({_ah_sum('duckdb')}) AS s FROM media
    ), sig AS (
      SELECT doc_id, ({_ah_bits('duckdb')}) AS fp FROM s1
    ), grp AS (
      SELECT fp, min(doc_id) AS rep, count(*) AS n_docs FROM sig GROUP BY fp
    ), bands AS (
      SELECT fp, rep, n_docs, j, (fp >> CAST(12 * j AS INT)) & 4095 AS bv
      FROM grp, UNNEST(range(0, {_AH_BANDS})) AS t(j)
    ), cand AS (
      SELECT DISTINCT a.rep AS doc_a, a.n_docs AS n_docs_a, a.fp AS fp_a,
                      b.rep AS doc_b, b.n_docs AS n_docs_b, b.fp AS fp_b
      FROM bands a JOIN bands b ON a.j = b.j AND a.bv = b.bv AND a.fp < b.fp
    ), scored AS (
      SELECT doc_a, doc_b, bit_count(xor(fp_a, fp_b)) AS hamming,
             n_docs_a, n_docs_b,
             row_number() OVER (PARTITION BY fp_a
                                ORDER BY bit_count(xor(fp_a, fp_b)), doc_b)
               AS rank
      FROM cand
      WHERE bit_count(xor(fp_a, fp_b)) <= {_AH_HAMMING_MAX}
    )
    SELECT CAST(doc_a AS BIGINT) AS doc_a,
           CAST(doc_b AS BIGINT) AS doc_b,
           CAST(hamming AS BIGINT) AS hamming,
           CAST(rank AS BIGINT) AS rank,
           CAST(n_docs_a AS BIGINT) AS n_docs_a,
           CAST(n_docs_b AS BIGINT) AS n_docs_b
    FROM scored
    WHERE rank <= {_AH_TOPK}
    ORDER BY doc_a, rank
    """,
)
def image_ahash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-duplicate detection for image payloads via an
    average-hash (aHash) fingerprint: threshold each of the first 48
    payload bytes against the payload mean (integer-exact: 48*byte >=
    sum avoids the division), pack the bits into a 48-bit BIGINT, and
    find fingerprint pairs within Hamming distance 12 through a 4-band
    LSH join — the classic image-dedup recipe (aHash/pHash + banded
    hamming search) expressed entirely in JVM built-ins on an opaque
    binary column (the sandbox's deterministic stand-in for a real
    decoded-thumbnail kernel; a production decode swaps in via
    mapInPandas exactly like resize_media).

    Scale shape (the part that matters at 100 TB): fingerprints are
    computed per row in the scan stage (zero shuffle), then collapsed
    to DISTINCT fingerprints BEFORE any pair work — the distinct-first
    rule that keeps duplicate cliques from squaring inside LSH buckets
    (SCALE.md) — so the band join touches |distinct fp| * 4 rows and
    emits only genuine near-miss pairs with their clique sizes
    (n_docs_a/b) carried as weights. Hamming confirm is one
    bit_count(xor) per candidate, and the OUTPUT is bounded to the
    top-5 neighbors per fingerprint (fp-partitioned row_number — near
    perceptual-duplicate cliques are themselves dense in hamming
    space, so the unbounded pair list grows quadratically in clique
    diameter; sf0.1 measured 128k pairs vs 1.4k at sf0.01 before the
    bound)."""
    docs = load_table(spark, sf_dir, "documents")
    payload = F.encode("text", "utf-8")
    # r14 (guide §2.3 — don't materialize bytes you never read): only the
    # first _AH_N payload bytes feed the fingerprint, so hex() runs on the
    # 48-byte binary prefix (96 hex chars) instead of the whole payload —
    # the old form hex-doubled every document's full byte length per scan
    # row. _ah_byte reads chars 1..96 only, so fp is bit-identical.
    media = (
        docs.filter(F.col("doc_id") % 3 == 0)
        .select(
            "doc_id",
            F.hex(F.expr(f"substring(encode(text, 'utf-8'), 1, {_AH_N})")).alias(
                "hx"
            ),
            F.length(payload).alias("nb"),
        )
        .filter(F.col("nb") >= _AH_N)
    )
    s1 = media.selectExpr("doc_id", "hx", f"({_ah_sum('spark')}) AS s")
    sig = s1.selectExpr("doc_id", f"({_ah_bits('spark')}) AS fp")
    grp = sig.groupBy("fp").agg(
        F.min("doc_id").alias("rep"), F.count(F.lit(1)).alias("n_docs")
    )
    bands = grp.select(
        "fp",
        "rep",
        "n_docs",
        F.explode(F.sequence(F.lit(0), F.lit(_AH_BANDS - 1))).alias("j"),
    ).withColumn("bv", F.expr("shiftright(fp, CAST(12 * j AS INT)) & 4095"))
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            F.expr("a.j = b.j AND a.bv = b.bv AND a.fp < b.fp"),
        )
        .select(
            F.col("a.rep").alias("doc_a"),
            F.col("a.n_docs").alias("n_docs_a"),
            F.col("a.fp").alias("fp_a"),
            F.col("b.rep").alias("doc_b"),
            F.col("b.n_docs").alias("n_docs_b"),
            F.col("b.fp").alias("fp_b"),
        )
        .distinct()
    )
    scored = (
        cand.withColumn(
            "hamming", F.expr("CAST(bit_count(fp_a ^ fp_b) AS BIGINT)")
        )
        .filter(F.col("hamming") <= _AH_HAMMING_MAX)
        .withColumn(
            "rank",
            F.row_number()
            .over(Window.partitionBy("fp_a").orderBy("hamming", "doc_b"))
            .cast("bigint"),
        )
        .filter(F.col("rank") <= _AH_TOPK)
    )
    return scored.select(
        F.col("doc_a").cast("bigint"),
        F.col("doc_b").cast("bigint"),
        "hamming",
        "rank",
        F.col("n_docs_a").cast("bigint"),
        F.col("n_docs_b").cast("bigint"),
    ).orderBy("doc_a", "rank")


_SHOT_FRAME_BYTES = 32
_SHOT_THRESHOLD = 200

_SHOT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("luma", T.LongType()),
    ]
)


@register(
    "multimodal_shot_boundaries",
    f"""
    WITH media AS (
      SELECT doc_id, text, length(text) AS n FROM documents
      WHERE doc_id % 3 = 2 AND length(text) > 0
    ), frames AS (
      SELECT doc_id, CAST(s // {_SHOT_FRAME_BYTES} AS BIGINT) AS frame_idx,
             CAST(list_sum(list_transform(
                    range(s + 1, least(s + {_SHOT_FRAME_BYTES}, n) + 1),
                    i -> ascii(text[i]))) AS BIGINT) AS luma
      FROM media, UNNEST(range(0, n, {_SHOT_FRAME_BYTES})) AS t(s)
    ), d AS (
      SELECT doc_id, frame_idx, luma,
             luma - lag(luma) OVER (PARTITION BY doc_id
                                    ORDER BY frame_idx) AS delta
      FROM frames
    )
    SELECT doc_id, frame_idx, luma, delta
    FROM d WHERE abs(delta) > {_SHOT_THRESHOLD}
    ORDER BY doc_id, frame_idx
    """,
)
def multimodal_shot_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot-boundary detection over video payloads — the two-stage shape
    a real media pipeline schedules: an Arrow-batched Python kernel
    extracts a per-frame feature (here the fake decoder's byte-sum
    "luma" over fixed {fb}-byte frames; a real one runs the codec), then
    DECLARATIVE temporal logic finds the cuts — a doc-partitioned lag
    window flags frames whose luma jumps past the threshold, exactly
    how ffmpeg-based keyframe pickers threshold inter-frame histogram
    distance. Keeping the analytics out of the kernel matters at
    100 TB: the UDF stays a stateless 1→N fanout (no cross-frame state
    in Python), and Catalyst owns the window, the filter, and anything
    composed downstream.

    Oracle replays the byte sums via ascii() over the pure-ASCII
    fixture text (same trick as multimodal_features_fake) and the same
    SQL window — exact integers end to end."""
    media = documents_as_media(spark, sf_dir).filter(
        (F.col("media_type") == "video") & (F.col("n_bytes") > 0)
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        fb = _SHOT_FRAME_BYTES
        for pdf in batches:
            out: dict[str, list] = {"doc_id": [], "frame_idx": [], "luma": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                for idx in range(0, len(payload), fb):
                    chunk = payload[idx : idx + fb]
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(idx // fb)
                    out["luma"].append(sum(chunk))
            yield pd.DataFrame(out)

    frames = media.select("doc_id", "payload").mapInPandas(run, _SHOT_SCHEMA)
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    d = frames.withColumn("delta", F.col("luma") - F.lag("luma").over(w))
    return (
        d.filter(F.abs("delta") > _SHOT_THRESHOLD)
        .select("doc_id", "frame_idx", "luma", "delta")
        .orderBy("doc_id", "frame_idx")
    )


multimodal_shot_boundaries.__doc__ = multimodal_shot_boundaries.__doc__.format(
    fb=_SHOT_FRAME_BYTES
)
