"""Composed release pipeline: incremental dedup-and-publish against the
versioned store — exactness of the drop/keep decisions on constructed
duplicates, version lineage, and content-level idempotence on replay."""

from __future__ import annotations

import pytest

from dbtransfer_spark.operators.dedup import minhash_signatures
from dbtransfer_spark.pipelines import _signed, incremental_release, near_dup_probe
from dbtransfer_spark.sources.versioned import VersionedDatasetStore


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture()
def store(spark, tmp_path):
    return VersionedDatasetStore(spark, str(tmp_path), "corpus")


BASE = " ".join(f"w{i}" for i in range(60))


def test_near_dup_probe_flags_only_dups(spark):
    corpus = _docs(spark, [(1, BASE), (2, " ".join(f"c{i}" for i in range(60)))])
    batch = _docs(
        spark,
        [
            (101, BASE.replace("w59", "zz")),            # near-dup of corpus 1
            (102, " ".join(f"n{i}" for i in range(60))),  # novel
        ],
    )
    probe = near_dup_probe(_signed(batch, "doc_id", "text"), _signed(corpus, "doc_id", "text"))
    assert {r["doc_id"] for r in probe.collect()} == {101}


def test_releases_leave_no_cached_frames(spark, store):
    """A seed, an incremental and a re-signing release each unpersist
    every frame they cache, so no entry outlives the release."""
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    incremental_release(spark, store, _docs(spark, [(1, BASE)]))
    r = incremental_release(
        spark, store,
        _docs(spark, [(101, BASE.replace("w59", "zz")),
                      (102, " ".join(f"x{i}" for i in range(60)))]),
    )
    assert r["n_dropped"] == 1
    # an out-of-band commit leaves the latest version unsigned
    store.commit(store.read().select("doc_id", "text"), note="out-of-band")
    r = incremental_release(
        spark, store, _docs(spark, [(201, BASE.replace("w58", "yy"))])
    )
    assert (r["n_batch"], r["n_dropped"]) == (1, 1)
    assert jsc.getPersistentRDDs().size() == before


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


def _sig_rows(sigs):
    return sorted((r["doc_id"], tuple(r["minhash"])) for r in sigs.collect())


def _assert_signed(store, *versions):
    """Each version's ``minhash`` column equals a fresh signing of it."""
    for v in versions:
        data = store.read(v)
        assert _sig_rows(data.select("doc_id", "minhash")) == _sig_rows(
            minhash_signatures(data, "doc_id", "text")
        ), f"version {v}"


def _sign_spy(monkeypatch):
    """Make the pipeline's signer record each frame it signs; returns
    the record list."""
    import dbtransfer_spark.pipelines as P

    signed, sign = [], P._signed
    monkeypatch.setattr(
        P, "_signed", lambda df, *a, **k: (signed.append(df), sign(df, *a, **k))[1]
    )
    return signed


def test_release_maintains_signature_index(spark, store, monkeypatch):
    """Releases sign ONLY the batch (the O(corpus) re-signing is gone),
    and every version stores a signature column bit-equal to a fresh
    signing of its docs."""
    signed = _sign_spy(monkeypatch)
    incremental_release(spark, store, _docs(spark, [(1, BASE), (3, "short doc here")]))
    r2 = incremental_release(
        spark, store,
        _docs(spark, [(101, BASE.replace("w59", "zz")),
                      (102, " ".join(f"x{i}" for i in range(60)))]),
    )
    assert r2["n_dropped"] == 1 and r2["n_kept"] == 1
    # one signing per release (the batch); the corpus was never re-signed
    assert len(signed) == 2
    assert store.read().columns == ["doc_id", "text", "minhash"]
    _assert_signed(store, 1, 2)


def test_release_self_heals_stale_signature_index(spark, store, monkeypatch):
    """An out-of-band full commit leaves the latest version unsigned; the
    next release must still judge near-dups correctly (against the TRUE
    corpus), publish the signed corpus ∪ survivors as a full snapshot,
    and the release after it signs only its batch."""
    incremental_release(spark, store, _docs(spark, [(1, BASE)]))
    other = " ".join(f"q{i}" for i in range(60))
    v = store.commit(
        store.read().select("doc_id", "text").unionByName(_docs(spark, [(500, other)])),
        note="out-of-band",
    )
    assert "minhash" not in store.read(v).columns
    signed = _sign_spy(monkeypatch)
    r = incremental_release(
        spark, store,
        _docs(spark, [(601, other.replace("q59", "zz")),     # near-dup of 500
                      (602, " ".join(f"y{i}" for i in range(60)))]),
    )
    assert (r["n_batch"], r["n_kept"], r["n_dropped"]) == (2, 1, 1)
    assert len(signed) == 2  # the batch, then the corpus once
    assert len(store.manifest(r["version"])["data_dirs"]) == 1
    assert sorted(x["doc_id"] for x in store.read().collect()) == [1, 500, 602]
    healed = r["version"]
    r = incremental_release(
        spark, store, _docs(spark, [(701, " ".join(f"z{i}" for i in range(60)))])
    )
    assert r["n_kept"] == 1
    assert len(signed) == 3  # only the batch
    assert store.manifest(r["version"])["data_dirs"][0] == store.manifest(healed)["data_dirs"][0]
    _assert_signed(store, 1, healed, r["version"])


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
    assert len(store.manifest(r["version"])["data_dirs"]) == 1
    _assert_signed(store, *store.versions())


def test_incremental_release_runs_at_most_9_jobs(spark, store):
    """Pins the job waves of one incremental release (17 at the
    sidecar-index design, 11 while the drop set was cached and counted
    before the commit): an extra wave fails here loudly. No cached RDD
    outlives the release."""
    incremental_release(spark, store, _docs(spark, [(1, BASE), (3, "short doc here")]))
    batch = _docs(
        spark,
        [(101, BASE.replace("w59", "zz")), (102, " ".join(f"x{i}" for i in range(60)))],
    )
    sc = spark.sparkContext
    cached = sc._jsc.sc().getPersistentRDDs().size()
    sc.setJobGroup("release", "incremental release")
    try:
        r = incremental_release(spark, store, batch)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    assert (r["n_kept"], r["n_dropped"]) == (1, 1)
    assert len(sc.statusTracker().getJobIdsForGroup("release")) <= 9
    assert sc._jsc.sc().getPersistentRDDs().size() == cached


def test_small_append_release_writes_one_file(spark, store):
    """The append writes the kept rows in the partitions the batch
    already has, with no sizing shuffle: a small batch is one file."""
    import os

    incremental_release(spark, store, _docs(spark, [(1, BASE)]))
    novel = [(10 + i, " ".join(f"s{i}x{j}" for j in range(60))) for i in range(5)]
    r = incremental_release(spark, store, _docs(spark, novel).repartition(4))
    assert (r["n_batch"], r["n_kept"]) == (5, 5)
    new_dir = os.path.join(store.ddir, store.manifest(r["version"])["data_dirs"][-1])
    assert len([n for n in os.listdir(new_dir) if n.endswith(".parquet")]) == 1


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
