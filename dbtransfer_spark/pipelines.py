"""Composed production pipelines — the glue layer that turns individual
operators into the release workflows a training-data platform actually
runs. Each function is a thin, deterministic composition of already-
verified operators; nothing here introduces new math.

``incremental_release`` is the canonical one: new crawl batch → exact
self-dedup → MinHash-LSH near-dup check against the *current corpus
release* (asymmetric: batch×corpus bucket probes, never corpus×corpus)
→ atomic versioned commit. Re-running the same batch is idempotent at
the content level: every kept doc would be caught as its own duplicate
on replay.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbtransfer_spark.operators.dedup import (
    exact_dedup,
    minhash_jaccard_estimate,
    minhash_signatures,
)
from dbtransfer_spark.observe import observe_count
from dbtransfer_spark.sources.versioned import VersionedDatasetStore

_BANDS, _ROWS_PER_BAND = 8, 4


def _banded(sigs: DataFrame, prefix: str, id_col: str = "doc_id") -> DataFrame:
    """Explode a signature frame into (band, band-slice hash) bucket keys
    — the standard LSH candidate-generation side of a banded equi-join.

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
        f"{id_col} AS {prefix}_id", f"explode(array({bands_sql})) AS bb"
    ).select(f"{prefix}_id", "bb.band", "bb.bucket")


def _sign_corpus(corpus: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Persisted MinHash signatures of a whole corpus (consumed twice by
    the probe: banding + estimate rejoin).

    The corpus usually arrives from the versioned store, whose batch
    commits are sized ~1M rows/file — a small corpus can therefore be a
    single scan task, serializing the signature pass. Repartition only
    when under cluster width (a cheap shuffle exactly when the corpus is
    small; a no-op branch at real scale, where file count already
    exceeds core count)."""
    sc_par = corpus.sparkSession.sparkContext.defaultParallelism
    if corpus.rdd.getNumPartitions() < sc_par:
        corpus = corpus.repartition(sc_par)
    return minhash_signatures(corpus, id_col, text_col).persist()


def near_dup_against_corpus(
    new_docs: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """New-batch docs judged near-duplicate of ANY corpus doc: banded
    LSH candidates (batch×corpus only) refined by the signature Jaccard
    estimate. Returns the distinct new-doc ids to DROP.

    Scale: |batch|·bands bucket probes against the corpus index — the
    asymmetric join of dedup_incremental_new_vs_corpus (dedup.py), reused
    verbatim; candidate refinement touches only bucket-colliding pairs."""
    # signatures are consumed twice each (banding + estimate rejoin):
    # persist so the shingle/hash pass runs once per side
    sig_new = minhash_signatures(new_docs, id_col, text_col).persist()
    sig_corpus = _sign_corpus(corpus, id_col, text_col)
    return near_dup_probe(sig_new, sig_corpus, id_col, threshold)


def near_dup_probe(
    sig_new: DataFrame,
    sig_corpus: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """The signature-level probe behind :func:`near_dup_against_corpus`,
    split out so callers holding a PRE-BUILT corpus signature index
    (the index the release pipeline commits with each corpus version)
    skip the O(corpus) re-signing entirely — at 100 TB that pass, not
    the banded join, is what made per-release cost O(corpus).

    INPUT CONTRACT (r14 ADVICE): a doc_id names ONE document — if an id
    ever appeared on both sides with different text, the sided estimate
    below would pin id_a to the batch signature where the pre-r14 union
    form let it match either side. The release pipeline guarantees this
    (batch ids are exact-deduped and the store append drops near-dups);
    external callers must uphold it."""
    cand = (
        _banded(sig_new, "new", id_col)
        .join(_banded(sig_corpus, "corp", id_col), ["band", "bucket"])
        .select(F.col("new_id").alias("id_a"), F.col("corp_id").alias("id_b"))
        .distinct()
    )
    # Sided estimate (r14, guide §2.3 — shuffle fewer bytes): id_a only
    # ever names a NEW-side doc and id_b a CORPUS doc, so the estimate
    # joins each candidate side against ITS OWN signature frame instead
    # of the old new∪corpus union (which shipped both frames into both
    # probe joins, and double-matched ids present on both sides — extra
    # rows the final distinct then had to collapse). Same drop set: a
    # doc_id names one document, so the double-matched rows carried the
    # identical signature/estimate.
    est = minhash_jaccard_estimate(sig_new, cand, id_col, sigs_b=sig_corpus)
    return (
        est.filter(F.col("est_jaccard") >= threshold)
        .select(F.col("id_a").alias(id_col))
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

    Signature index: every release commits the MinHash signatures of
    what it adds as the version's sidecar index (``store.read_index``),
    in the same manifest as the data — the two cannot drift apart. A
    release signs ONLY the batch and probes the stored corpus
    signatures, so per-release cost is O(batch) + the banded probe,
    never O(corpus) re-signing (the 100 TB killer). When the latest
    version has no index (an out-of-band commit, or a store written
    before indexes existed), the release signs the corpus once and
    commits the full index with its survivors."""
    # n_batch rides whichever job first materializes the cached batch
    # (guide §1.4/§5 — no standalone count action): the seed path still
    # counts eagerly (its commit needs the number before any other job
    # has run), but the incremental path reads the metric off the probe
    # job that materializes batch_sigs anyway, removing one full job
    # wave per release.
    batch, n_batch_observed = observe_count(
        exact_dedup(
            new_docs.withColumn("__fp", F.md5(F.col(text_col))), ["__fp"], id_col
        ).drop("__fp"),
        "incremental_release batch rows",
    )
    batch = batch.persist()  # counted, probed, anti-joined, committed
    batch_sigs = sig_corpus = drops = None
    try:
        # sign the batch once; probed, anti-joined, committed as the index
        batch_sigs = minhash_signatures(batch, id_col, text_col).persist()
        latest = store.latest_version()
        if latest is None:
            n_batch = batch.count()
            v = store.commit(
                batch, note or "initial release", n_batch, index=batch_sigs
            )
        else:
            sig_corpus = store.read_index(latest)
            resigned = sig_corpus is None
            if resigned:
                sig_corpus = _sign_corpus(store.read(latest), id_col, text_col)
            # persist the (small, ids-only) drop set: both commit writes
            # (kept, kept_sigs) anti-join it and would otherwise each re-run
            # the whole signature probe — and MATERIALIZE it eagerly so the
            # two overlapped writes read the cached result instead of
            # racing to compute an unmaterialized persist twice.
            drops = near_dup_probe(batch_sigs, sig_corpus, id_col, threshold).persist()
            drops.count()
            # the probe job materialized batch/batch_sigs, so the batch-size
            # metric is available without its own count action (when an
            # empty probe skipped the batch, the reader counts the persisted
            # batch, which fills the cache the commit write then reads)
            n_batch = n_batch_observed()
            kept = batch.join(drops, id_col, "left_anti")
            kept_sigs = batch_sigs.join(drops, id_col, "left_anti")
            # append-commit: writes ONLY the survivors and references the
            # parent release's data dirs — O(|batch|) per release, never
            # O(corpus). n_kept rides the commit write as an Observation
            # metric (no separate count job); n_batch bounds the file
            # sizing from above.
            v = store.commit_append(
                kept,
                note,
                n_rows_hint=n_batch,
                index=sig_corpus.unionByName(kept_sigs) if resigned else kept_sigs,
            )
        n_kept = int(store.manifest(v)["n_new_rows"])
        return {
            "version": v,
            "n_batch": n_batch,
            "n_kept": n_kept,
            "n_dropped": n_batch - n_kept,
        }
    finally:
        # the commits have materialized everything — release the cache so
        # repeated releases in one session don't accumulate entries (a
        # stored index was never persisted; unpersisting it is a no-op)
        for frame in (batch, batch_sigs, sig_corpus, drops):
            if frame is not None:
                frame.unpersist()
