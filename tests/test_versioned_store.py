"""Versioned dataset store: snapshot isolation, time travel, the
manifest link as the one atomic commit (crashes and a second writer),
the recorded schema and row counts, diff, and vacuum retention."""

from __future__ import annotations

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


def test_crash_before_manifest_leaves_previous_latest(spark, store):
    store.commit(_df(spark, range(4)))
    # simulate a writer that died after writing data but before its
    # manifest: an orphaned data dir + no manifest
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
    assert store.latest_version() == 4


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


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_append_of_a_column_the_parent_lacks_raises(spark, store):
    store.commit(_df(spark, [0, 1]))
    wider = _df(spark, [2]).withColumn("minhash", F.array(F.lit(1).cast("long")))
    with pytest.raises(ValueError, match="full snapshot"):
        store.commit_append(wider)
    assert store.versions() == [1]
    assert _rows(store.read()) == _rows(_df(spark, [0, 1]))


def test_append_without_a_column_of_the_parent_raises(spark, store):
    wide = _df(spark, [0, 1]).withColumn("minhash", F.array(F.col("doc_id")))
    store.commit(wide)
    with pytest.raises(ValueError, match="full snapshot"):
        store.commit_append(_df(spark, [2]))
    with pytest.raises(ValueError, match="full snapshot"):  # same names, another type
        store.commit_append(_df(spark, [2]).withColumn("minhash", F.array(F.lit("x"))))
    assert store.versions() == [1]
    # a full snapshot may change the schema; appends then follow it
    store.commit(_df(spark, [2]))
    store.commit_append(_df(spark, [3]))
    assert _rows(store.read()) == _rows(_df(spark, [2, 3]))


def test_manifest_records_schema_and_total_rows(spark, tmp_path):
    store = VersionedDatasetStore(spark, str(tmp_path), "corpus", max_data_dirs=2)
    store.commit(_df(spark, range(4)))
    store.commit_append(_df(spark, [10, 11]))
    v3 = store.commit_append(_df(spark, [12]))  # compacts
    totals = [(store.manifest(v)["n_new_rows"], store.manifest(v)["n_rows"]) for v in (1, 2, 3)]
    assert totals == [(4, 4), (2, 6), (1, 7)]
    assert store.manifest(v3)["compaction"]
    assert store.read(v3).schema.simpleString() == "struct<doc_id:bigint,text:string>"
    assert store.read(v3).count() == 7


def test_compaction_of_small_dirs_writes_one_file(spark, tmp_path):
    store = VersionedDatasetStore(spark, str(tmp_path), "corpus", max_data_dirs=3)
    store.commit(_df(spark, range(8)).repartition(4))
    for k in (1, 2):
        store.commit_append(_df(spark, range(10 * k, 10 * k + 4)).repartition(3))
    v = store.commit_append(_df(spark, [99]).repartition(2))
    man = store.manifest(v)
    assert man["compaction"] and len(man["data_dirs"]) == 1
    parts = [
        n for n in os.listdir(os.path.join(store.ddir, man["data_dirs"][0]))
        if n.endswith(".parquet")
    ]
    assert len(parts) == 1
    assert store.read(v).count() == man["n_rows"] == 17


def test_write_failure_publishes_nothing(spark, store):
    store.commit(_df(spark, range(3)))

    def boom(_):
        raise RuntimeError("data write failed")

    bad = _df(spark, [7]).withColumn("text", F.udf(boom, "string")("doc_id"))
    with pytest.raises(Exception, match="data write failed"):
        store.commit_append(bad)
    assert store.versions() == [1]
    assert store.latest_version() == 1
    assert len(os.listdir(store.ddir)) == 2  # the failed commit's orphan
    store.vacuum(keep_last=1, grace_seconds=0)
    assert os.listdir(store.ddir) == store.manifest(1)["data_dirs"]
    assert _rows(store.read()) == _rows(_df(spark, range(3)))


def test_crash_before_manifest_link_leaves_previous_version(spark, store, monkeypatch):
    """A writer that dies after writing its temp manifest but before the
    link leaves only a hidden temp file: no version, nothing visible."""
    store.commit(_df(spark, range(4)))

    class Died(BaseException):
        pass

    def die(src, dst):
        raise Died

    real_unlink = os.unlink
    monkeypatch.setattr(os, "link", die)
    # the process is gone: nothing cleans the temp manifest up
    monkeypatch.setattr(
        os, "unlink", lambda p, *a, **k: None if p.endswith(".tmp") else real_unlink(p, *a, **k)
    )
    with pytest.raises(Died):
        store.commit_append(_df(spark, [9]))
    monkeypatch.undo()
    (tmp,) = [n for n in os.listdir(store.vdir) if n.endswith(".tmp")]
    assert tmp.startswith(".v00000002.")
    assert store.versions() == [1]
    assert store.latest_version() == 1
    assert store.read().count() == 4
    assert store.commit_append(_df(spark, [9])) == 2


def test_vacuum_reclaims_a_dead_writers_temp_manifest(spark, store):
    """A temp manifest older than the grace window is a dead writer's and
    vacuum deletes it; a younger one may be in flight and stays."""
    import time

    store.commit(_df(spark, range(2)))
    dead = os.path.join(store.vdir, ".v00000002.dead.tmp")
    live = os.path.join(store.vdir, ".v00000002.live.tmp")
    for path in (dead, live):
        with open(path, "w") as f:
            f.write("{}")
    an_hour_ago = time.time() - 3600
    os.utime(dead, (an_hour_ago, an_hour_ago))
    store.vacuum(keep_last=1, grace_seconds=60)
    assert sorted(os.listdir(store.vdir)) == [".v00000002.live.tmp", "v00000001.json"]
    assert store.read().count() == 2


def test_racing_writer_raises_and_keeps_first_manifest(spark, store, tmp_path, monkeypatch):
    """Two writers that mint the same version: the second one's publish
    raises instead of overwriting the first's manifest."""
    other = VersionedDatasetStore(spark, str(tmp_path), "corpus")
    store.commit(_df(spark, range(2)))
    # ``other`` read the latest version before ``store`` committed v2
    monkeypatch.setattr(other, "latest_version", lambda: 1)
    store.commit_append(_df(spark, [5]), note="first writer")
    with open(store._manifest_path(2), "rb") as f:
        published = f.read()
    with pytest.raises(FileExistsError):
        other.commit_append(_df(spark, [6]), note="second writer")
    with open(store._manifest_path(2), "rb") as f:
        assert f.read() == published
    assert store.versions() == [1, 2]
    assert not [n for n in os.listdir(store.vdir) if n.endswith(".tmp")]
    assert sorted(r["doc_id"] for r in store.read().collect()) == [0, 1, 5]


def test_vacuum_keeps_the_dirs_of_kept_versions(spark, store):
    store.commit(_df(spark, [0]))
    store.commit(_df(spark, [1]))
    store.commit_append(_df(spark, [2]))
    m1 = store.manifest(1)
    assert store.vacuum(keep_last=2, grace_seconds=0) == [1]
    m2, m3 = store.manifest(2), store.manifest(3)
    kept = set(m2["data_dirs"] + m3["data_dirs"])
    assert set(os.listdir(store.ddir)) == kept
    assert not set(m1["data_dirs"]) & kept
    assert _rows(store.read(2)) == _rows(_df(spark, [1]))
    assert _rows(store.read(3)) == _rows(_df(spark, [1, 2]))


def test_commit_is_one_job_in_the_callers_job_group(spark, store):
    """A commit is one write, and it runs in the caller's job group, so
    cancelling the group stops it."""
    sc = spark.sparkContext
    sc.setJobGroup("commit", "commit")
    try:
        store.commit(_df(spark, range(3)))
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    assert len(sc.statusTracker().getJobIdsForGroup("commit")) == 1
