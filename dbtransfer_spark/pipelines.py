"""Composed production pipelines — the glue layer that turns individual
operators into the release workflows a training-data platform actually
runs. Each function is a thin, deterministic composition of already-
verified operators; nothing here introduces new math.

``incremental_release`` is the canonical one: new crawl batch → exact
self-dedup → MinHash-LSH near-dup check against the *current corpus
release* (asymmetric: batch×corpus bucket probes, never corpus×corpus)
→ atomic versioned commit, all in one write: the probe runs inside the
commit. Re-running the same batch is idempotent at the content level:
every kept doc would be caught as its own duplicate on replay.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from dbtransfer_spark.operators.dedup import (
    exact_dedup,
    minhash_agreement,
    shingle_arrays,
    signatures_from_shingles,
)
from dbtransfer_spark.observe import observe_count
from dbtransfer_spark.sources.versioned import VersionedDatasetStore

_BANDS, _ROWS_PER_BAND = 8, 4


def _banded(sigs: DataFrame, prefix: str, id_col: str, *keep: str) -> DataFrame:
    """Explode a signature frame into (band, band-slice hash) bucket keys
    — the standard LSH candidate-generation side of a banded equi-join.
    ``keep`` columns ride along on every band row.

    One parsed SQL string instead of ``_BANDS`` py4j-built struct/hash
    expression trees (r14, guide §5 — the driver should do almost no
    work): identical expression tree after parsing (SQL ``hash`` IS
    ``F.hash``, Murmur3), so buckets are bit-identical, but plan build
    drops ~0.25 s per banded frame — the release pipeline builds two per
    probe, and the probe runs per release."""
    bands_sql = ", ".join(
        f"struct({i} AS band,"
        f" hash(slice(minhash, {i * _ROWS_PER_BAND + 1}, {_ROWS_PER_BAND}))"
        " AS bucket)"
        for i in range(_BANDS)
    )
    return sigs.selectExpr(
        f"{id_col} AS {prefix}_id", *keep, f"explode(array({bands_sql})) AS bb"
    ).select(f"{prefix}_id", *keep, "bb.band", "bb.bucket")


def _spread(corpus: DataFrame) -> DataFrame:
    """``corpus`` over at least cluster width partitions, for signing.

    The corpus usually arrives from the versioned store, whose batch
    commits are sized ~1M rows/file — a small corpus can therefore be a
    single scan task, serializing the signature pass. Repartition only
    when under cluster width (a cheap shuffle exactly when the corpus is
    small; a no-op branch at real scale, where file count already
    exceeds core count)."""
    sc_par = corpus.sparkSession.sparkContext.defaultParallelism
    if corpus.rdd.getNumPartitions() < sc_par:
        corpus = corpus.repartition(sc_par)
    return corpus


def _signed(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """``docs`` with its MinHash signature appended as ``minhash``: the
    id first, then the other columns in their order."""
    carry = tuple(c for c in docs.columns if c != id_col)
    shingled = shingle_arrays(docs, id_col, text_col, carry=carry)
    return signatures_from_shingles(shingled, id_col, carry=carry)


def near_dup_probe(
    sig_new: DataFrame,
    sig_corpus: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Batch ids judged near-duplicate of ANY corpus doc: banded LSH
    candidates (batch×corpus only, never corpus×corpus) refined by the
    signature Jaccard estimate. It takes PRE-BUILT signatures (the
    ``minhash`` column of every release the pipeline commits), so a
    release skips the O(corpus) re-signing — at 100 TB that pass, not
    the banded join, is what made per-release cost O(corpus). Both frames
    need ``id_col`` and ``minhash``; other columns are ignored.

    One rejoin: the batch's band rows carry its signature, the corpus
    band rows only ids, and the candidates join the corpus signature
    once by corpus id. A pair sharing several bands is estimated once
    per shared band; the final distinct collapses the repeats."""
    corpus_sigs = sig_corpus.selectExpr(f"{id_col} AS corp_id", "minhash AS mh_corp")
    return (
        _banded(sig_new, "new", id_col, "minhash")
        .join(_banded(sig_corpus, "corp", id_col), ["band", "bucket"])
        .join(corpus_sigs, "corp_id")
        .filter(minhash_agreement("minhash", "mh_corp") >= threshold)
        .selectExpr(f"new_id AS {id_col}")
        .distinct()
    )


def incremental_release(
    spark: SparkSession,
    store: VersionedDatasetStore,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    note: str = "",
) -> dict:
    """One incremental corpus release: exact-dedup the batch on content
    fingerprint, drop near-dups of the current release, commit
    corpus ∪ survivors as the next version. Returns counts + version.

    Signatures in the data: every version stores each doc's MinHash
    signature as its ``minhash`` column. A release signs ONLY the batch
    and probes the signatures read from the latest version's files, so
    per-release cost is O(batch) + the banded probe, never O(corpus)
    re-signing (the 100 TB killer). When the latest version has no
    ``minhash`` column (an out-of-band commit), the release signs the
    corpus once and commits the signed corpus ∪ survivors as a full
    snapshot, so every later version is signed again.

    One write per release: the commit writes the signed batch
    anti-joined with the probe, so the probe's stages run inside the
    commit's write; no drop set is cached or counted first. The counts
    cost no job: ``n_batch`` is an Observation on the signed batch, read
    after the write, and ``n_kept`` is the rows the new version adds to
    its parent, read from the two manifests (the store counts the rows
    it writes)."""
    # n_batch rides the commit's write, which reads the signed batch: no
    # count action of its own
    signed, n_batch_observed = observe_count(
        _signed(
            exact_dedup(
                new_docs.selectExpr("*", f"md5({text_col}) AS __fp"), ["__fp"], id_col
            ).drop("__fp"),
            id_col,
            text_col,
        ),
        "incremental_release batch rows",
    )
    latest = store.latest_version()
    if latest is None:
        v = store.commit(signed, note or "initial release")
        n_batch = n_batch_observed()
        return {"version": v, "n_batch": n_batch, "n_kept": n_batch, "n_dropped": 0}
    signed = signed.persist()  # read by the probe and by the kept side
    corpus = store.read(latest)
    try:
        resign = "minhash" not in corpus.columns
        if resign:
            corpus = _signed(_spread(corpus), id_col, text_col).persist()
        kept = signed.join(
            near_dup_probe(signed, corpus, id_col, threshold), id_col, "left_anti"
        )
        if resign:
            v = store.commit(corpus.unionByName(kept), note)
        else:
            # append-commit: writes ONLY the survivors and references the
            # parent release's data dirs — O(|batch|) per release, never
            # O(corpus)
            v = store.commit_append(kept, note)
        n_batch = n_batch_observed()
        n_kept = store.manifest(v)["n_rows"] - store.manifest(latest)["n_rows"]
        return {
            "version": v,
            "n_batch": n_batch,
            "n_kept": n_kept,
            "n_dropped": n_batch - n_kept,
        }
    finally:
        # the commit has materialized everything — release the cache so
        # repeated releases in one session don't accumulate entries (a
        # stored corpus was never persisted; unpersisting it is a no-op)
        signed.unpersist()
        corpus.unpersist()
