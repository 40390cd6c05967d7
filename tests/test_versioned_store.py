"""Versioned dataset store: snapshot isolation, time travel, atomic
latest-pointer swap, diff, and vacuum retention."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from dbtransfer_spark.sources.versioned import VersionedDatasetStore


@pytest.fixture()
def store(spark, tmp_path):
    return VersionedDatasetStore(spark, str(tmp_path), "corpus")


def _df(spark, ids):
    return spark.createDataFrame([(i, f"d{i}") for i in ids], "doc_id long, text string")


def test_commit_read_time_travel(spark, store):
    v1 = store.commit(_df(spark, range(10)), note="first release")
    v2 = store.commit(_df(spark, range(5, 20)), note="second release")
    assert (v1, v2) == (1, 2)
    assert store.latest_version() == 2
    assert store.read().count() == 15          # latest
    assert store.read(1).count() == 10         # time travel
    assert store.manifest(1)["note"] == "first release"
    assert store.manifest(2)["parent"] == 1


def test_old_version_is_frozen_after_new_commit(spark, store):
    store.commit(_df(spark, range(10)))
    pinned = store.read(1)                     # plan against v1 BEFORE v2 lands
    store.commit(_df(spark, range(100, 103)))
    assert pinned.count() == 10                # snapshot isolation
    assert store.read().count() == 3


def test_diff_reports_adds_and_removes(spark, store):
    store.commit(_df(spark, range(10)))
    store.commit(_df(spark, range(5, 12)))
    d = store.diff(1, 2, ["doc_id"])
    assert d == {"added": 2, "removed": 5}     # +{10,11}, -{0..4}


def test_crash_before_pointer_swap_leaves_previous_latest(spark, store):
    store.commit(_df(spark, range(4)))
    # simulate a writer that died after writing data but before the swap:
    # an orphaned data dir + no manifest/pointer update
    orphan = os.path.join(store.ddir, "v99-deadbeef")
    _df(spark, range(2)).write.parquet(orphan)
    assert store.latest_version() == 1
    assert store.read().count() == 4
    # default vacuum SKIPS the young orphan — it is indistinguishable
    # from an in-flight commit's data dir (written before its manifest)
    store.vacuum(keep_last=1)
    assert os.path.exists(orphan)
    # grace_seconds=0 (single-writer, no commit in flight) reclaims it
    store.vacuum(keep_last=1, grace_seconds=0)
    assert not os.path.exists(orphan)
    assert store.read().count() == 4


def test_vacuum_retention(spark, store):
    for k in range(4):
        store.commit(_df(spark, range(k + 1)))
    dropped = store.vacuum(keep_last=2, grace_seconds=0)
    assert dropped == [1, 2]
    assert store.versions() == [3, 4]
    assert store.read(4).count() == 4
    assert store.read(3).count() == 3
    with pytest.raises(FileNotFoundError):
        store.manifest(1)
    # latest pointer survives and still resolves
    with open(store._latest_path()) as f:
        assert json.load(f)["version"] == 4


def test_commit_append_writes_only_batch_and_shares_parent_dirs(spark, store):
    store.commit(_df(spark, range(10)))
    v2 = store.commit_append(_df(spark, range(100, 105)), note="append")
    assert v2 == 2
    m1, m2 = store.manifest(1), store.manifest(2)
    # v2 references v1's data dir + exactly one new dir; wrote only 5 rows
    assert m1["data_dirs"][0] in m2["data_dirs"]
    assert len(m2["data_dirs"]) == 2
    assert m2["n_new_rows"] == 5
    assert store.read(2).count() == 15
    assert store.read(1).count() == 10
    # vacuum keeping only v2 must NOT delete the shared parent dir
    store.vacuum(keep_last=1, grace_seconds=0)
    assert store.versions() == [2]
    assert store.read(2).count() == 15


def test_append_auto_compaction_bounds_read_plan(spark, tmp_path):
    """VERDICT r5 #2: after many commit_appends, read() never plans over
    more than max_data_dirs directories, and every version's content
    (time travel) is byte-identical to the unbounded-append model."""
    store = VersionedDatasetStore(spark, str(tmp_path), "corpus", max_data_dirs=3)
    batches = [list(range(k * 10, k * 10 + 3)) for k in range(9)]
    store.commit(_df(spark, batches[0]))
    for b in batches[1:]:
        store.commit_append(_df(spark, b))

    expected_rows: set[tuple] = set()
    compactions = 0
    for v, b in zip(store.versions(), batches):
        expected_rows |= {(i, f"d{i}") for i in b}
        man = store.manifest(v)
        # the invariant the compaction exists for
        assert len(man["data_dirs"]) <= 3, (v, man["data_dirs"])
        compactions += bool(man.get("compaction"))
        # a compaction rewrites its parent too, but adds only the batch
        assert man["n_new_rows"] == len(b), (v, man)
        got = {tuple(r) for r in store.read(v).collect()}
        assert got == expected_rows, f"version {v} content drifted"
    assert compactions >= 2  # 9 versions at bound 3 must have compacted
    # diff across a compaction boundary still reports pure adds
    assert store.diff(3, 4, ["doc_id"]) == {"added": 3, "removed": 0}


def test_compaction_preserves_vacuumed_storage_bound(spark, tmp_path):
    """After vacuum, superseded pre-compaction small files are reclaimed
    and the surviving read plans stay bounded."""
    store = VersionedDatasetStore(spark, str(tmp_path), "corpus", max_data_dirs=2)
    store.commit(_df(spark, [0]))
    for k in range(1, 7):
        store.commit_append(_df(spark, [k]))
    store.vacuum(keep_last=1, grace_seconds=0)
    (v,) = store.versions()
    assert store.read(v).count() == 7
    # only the dirs the kept manifest references remain on disk
    assert sorted(os.listdir(store.ddir)) == sorted(store.manifest(v)["data_dirs"])
    assert len(os.listdir(store.ddir)) <= 2
