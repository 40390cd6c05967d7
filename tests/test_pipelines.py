"""Composed release pipeline: incremental dedup-and-publish against the
versioned store — exactness of the drop/keep decisions on constructed
duplicates, version lineage, and content-level idempotence on replay."""

from __future__ import annotations

import pytest

from dbtransfer_spark.pipelines import incremental_release, near_dup_against_corpus
from dbtransfer_spark.sources.versioned import VersionedDatasetStore


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture()
def store(spark, tmp_path):
    return VersionedDatasetStore(spark, str(tmp_path), "corpus")


BASE = " ".join(f"w{i}" for i in range(60))


def test_near_dup_against_corpus_flags_only_dups(spark):
    corpus = _docs(spark, [(1, BASE), (2, " ".join(f"c{i}" for i in range(60)))])
    batch = _docs(
        spark,
        [
            (101, BASE.replace("w59", "zz")),            # near-dup of corpus 1
            (102, " ".join(f"n{i}" for i in range(60))),  # novel
        ],
    )
    drops = {r["doc_id"] for r in near_dup_against_corpus(batch, corpus).collect()}
    assert drops == {101}


def test_incremental_release_flow(spark, store):
    r1 = incremental_release(
        spark, store, _docs(spark, [(1, BASE), (2, BASE), (3, "short doc here")])
    )
    # exact dedup inside the first batch: doc 2 is a byte-dup of doc 1
    assert r1 == {"version": 1, "n_batch": 2, "n_kept": 2, "n_dropped": 0}
    assert store.read().count() == 2

    r2 = incremental_release(
        spark,
        store,
        _docs(
            spark,
            [
                (101, BASE.replace("w59", "zz")),             # near-dup of v1 doc
                (102, " ".join(f"x{i}" for i in range(60))),  # novel
            ],
        ),
        note="batch 2",
    )
    assert r2["version"] == 2
    assert r2["n_dropped"] == 1 and r2["n_kept"] == 1
    v2 = store.read(2)
    assert v2.count() == 3
    assert {r["doc_id"] for r in v2.collect()} == {1, 3, 102}
    # v1 unchanged (time travel)
    assert store.read(1).count() == 2

    # replaying batch 2 is content-idempotent: everything drops
    r3 = incremental_release(
        spark,
        store,
        _docs(spark, [(201, BASE.replace("w59", "zz")), (202, " ".join(f"x{i}" for i in range(60)))]),
    )
    assert r3["n_kept"] == 0
    assert store.read(3).count() == 3


def test_release_maintains_signature_index(spark, store, monkeypatch):
    """r6: aligned releases sign ONLY the batch (the O(corpus)
    re-signing is gone) and the stored index stays bit-equal to a fresh
    signing of the corpus."""
    import dbtransfer_spark.pipelines as P

    orig = P.minhash_signatures
    signed = []
    monkeypatch.setattr(
        P, "minhash_signatures",
        lambda df, *a, **k: (signed.append(df), orig(df, *a, **k))[1],
    )
    incremental_release(spark, store, _docs(spark, [(1, BASE), (3, "short doc here")]))
    r2 = incremental_release(
        spark, store,
        _docs(spark, [(101, BASE.replace("w59", "zz")),
                      (102, " ".join(f"x{i}" for i in range(60)))]),
    )
    assert r2["n_dropped"] == 1 and r2["n_kept"] == 1
    # one signing per release (the batch); the corpus was never re-signed
    assert len(signed) == 2
    sig_store = P._sig_store(store)
    sv = sig_store.latest_version()
    assert sig_store.manifest(sv)["note"] == P._sig_note(r2["version"])
    stored = {(r["doc_id"], tuple(r["minhash"])) for r in sig_store.read().collect()}
    fresh = {
        (r["doc_id"], tuple(r["minhash"]))
        for r in orig(store.read(), "doc_id", "text").collect()
    }
    assert stored == fresh


def test_release_self_heals_stale_signature_index(spark, store):
    """An out-of-band corpus commit desyncs the index; the next release
    must still judge near-dups correctly (against the TRUE corpus) and
    re-publish an aligned full signature snapshot."""
    import dbtransfer_spark.pipelines as P

    incremental_release(spark, store, _docs(spark, [(1, BASE)]))
    other = " ".join(f"q{i}" for i in range(60))
    store.commit_append(_docs(spark, [(500, other)]), note="out-of-band")
    r = incremental_release(
        spark, store,
        _docs(spark, [(601, other.replace("q59", "zz")),     # near-dup of 500
                      (602, " ".join(f"y{i}" for i in range(60)))]),
    )
    assert r["n_dropped"] == 1 and r["n_kept"] == 1
    sig_store = P._sig_store(store)
    sv = sig_store.latest_version()
    assert sig_store.manifest(sv)["note"] == P._sig_note(r["version"])
    assert sig_store.read().count() == store.read().count()


def test_compacting_release_counts_only_the_batch(spark, tmp_path):
    """On the release whose commit auto-compacts, n_kept/n_dropped
    describe the batch, not the rewritten corpus: 0 <= n_dropped <=
    n_batch, and the corpus grows by exactly n_kept."""
    store = VersionedDatasetStore(spark, str(tmp_path), "corpus", max_data_dirs=2)
    incremental_release(spark, store, _docs(spark, [(1, BASE)]))
    incremental_release(
        spark, store, _docs(spark, [(2, " ".join(f"a{i}" for i in range(60)))])
    )
    size = store.read().count()
    r = incremental_release(
        spark,
        store,
        _docs(
            spark,
            [
                (301, BASE.replace("w59", "zz")),             # near-dup of doc 1
                (302, " ".join(f"b{i}" for i in range(60))),  # novel
            ],
        ),
    )
    assert store.manifest(r["version"])["compaction"]
    assert 0 <= r["n_dropped"] <= r["n_batch"]
    assert (r["n_batch"], r["n_kept"], r["n_dropped"]) == (2, 1, 1)
    assert store.read(r["version"]).count() == size + r["n_kept"]


def test_release_without_candidates_computes_the_batch_once(spark, store):
    """A batch with no near-dup candidates leaves the probe empty, so
    adaptive execution skips the batch and its row-count metric arrives
    empty. The count that replaces it must fill the batch cache the
    commit write reads, not compute the batch a second time."""
    from pyspark.sql import functions as F

    incremental_release(spark, store, _docs(spark, [(1, BASE)]))
    evaluated = spark.sparkContext.accumulator(0)

    def keep(_id):
        evaluated.add(1)
        return True

    novel = [(400 + i, " ".join(f"n{i}x{j}" for j in range(60))) for i in range(3)]
    batch = _docs(spark, novel).filter(F.udf(keep, "boolean")("doc_id"))
    r = incremental_release(spark, store, batch)
    assert (r["n_batch"], r["n_kept"], r["n_dropped"]) == (3, 3, 0)
    assert store.read(r["version"]).count() == 4
    assert evaluated.value == len(novel)
