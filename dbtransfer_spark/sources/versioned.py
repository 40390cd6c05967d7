"""Versioned dataset store — snapshot isolation + time travel for
training-data releases, on plain parquet directories.

A 100 TB corpus release is rebuilt incrementally (new crawl batches,
re-run quality filters), but training jobs must read a FROZEN version:
"v12 is what run 47 trained on" has to stay answerable forever. Delta /
Iceberg solve this with manifest-tracked snapshots; this module gives the
engine the same contract without any external table-format dependency,
using the one primitive object stores and POSIX both make atomic: a
single small manifest file created only if absent.

Layout::

    <root>/<table>/
        _versions/v00000001.json   # immutable: data/index dirs, rows added, parent
        _versions/v00000002.json
        data/v2-<uuid>/part-*.parquet
        data/v2-<uuid>-index/part-*.parquet   # optional sidecar index

Semantics:

- ``commit(df)`` writes a NEW data directory (never touches previous
  files), then publishes the manifest, and that IS the commit: fsynced
  under a hidden temp name, then ``os.link``-ed to ``v%08d.json`` —
  readers see the old or the new version, never a half-written one
  (one atomic file save per step, like checkpoint.py and the
  reference's pkg/utils/checkpoint). The latest version is the highest
  published manifest.
- ``commit(df, index=...)`` also writes a sidecar index frame (the
  release pipeline's MinHash signatures) listed in the SAME manifest,
  so data and index commit together by construction;
  ``read_index(version)`` returns it, or ``None`` for a version
  committed without one.
- ``read(version=None)`` loads the pinned file list of that manifest —
  concurrent commits cannot change what an in-flight training job reads
  (snapshot isolation), because data directories are append-only.
- ``diff(a, b)`` reports row-level adds/removes between two versions by
  key — the release-notes query ("what changed between v11 and v12").
- ``vacuum(keep_last)`` deletes data and index directories unreferenced
  by the kept manifests — storage reclamation decoupled from
  publishing, so a crashed writer can never strand readers.

Scale: the manifest holds directory names, not per-row state — commits
are O(new data) writes plus one O(1) link; reads plan directly from
the pinned parquet paths, so partition pruning / pushdown work
unchanged. The store is a layout convention, not a service.

Small-file control: without a bound, a year of daily ``commit_append``
batches leaves ``read()`` planning over ~365 directories of
progressively tiny files — the classic 100 TB small-file failure this
store exists to avoid. ``commit_append`` therefore auto-compacts: when
the parent already references ``max_data_dirs`` directories, the commit
is published as a full snapshot (parent ∪ batch rewritten into ONE
fresh directory, and likewise its index) instead of another incremental
reference. The compaction is just another version — older manifests
keep pinning the pre-compaction directories, so time travel and
``diff`` are unchanged; ``vacuum`` reclaims the superseded small files
once their versions age out. Invariant: every manifest's ``data_dirs``
(and ``index_dirs``) has at most ``max_data_dirs`` entries.

Concurrency contract: the store is SINGLE-WRITER (like the reference's
one-process-per-table checkpoint files, pkg/utils/checkpoint), and
enforces it: ``os.link`` refuses an existing name, so a second writer
that minted the same version raises ``FileExistsError`` and leaves the
first one's manifest untouched — Delta/Iceberg's put-if-absent rule.
Readers are unaffected (snapshot isolation). A crash leaves at most an
orphan directory or a hidden temp manifest, never a visible version;
``vacuum`` reclaims both. It skips those younger than ``grace_seconds``
so a cleanup running beside an in-flight commit (data is written before
its manifest exists) cannot clobber it — the standard orphan-cleanup
guard.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from concurrent import futures
from typing import Callable

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession

from dbtransfer_spark.observe import observe_count


class VersionedDatasetStore:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        table: str,
        max_data_dirs: int = 16,
    ):
        if max_data_dirs < 1:
            raise ValueError("max_data_dirs must be >= 1")
        self.spark = spark
        self.base = os.path.join(root, table)
        self.vdir = os.path.join(self.base, "_versions")
        self.ddir = os.path.join(self.base, "data")
        self.max_data_dirs = max_data_dirs
        os.makedirs(self.vdir, exist_ok=True)
        os.makedirs(self.ddir, exist_ok=True)

    # -- manifest bookkeeping -------------------------------------------
    def latest_version(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.vdir, f"v{version:08d}.json")

    def manifest(self, version: int) -> dict:
        with open(self._manifest_path(version)) as f:
            return json.load(f)

    def versions(self) -> list[int]:
        # hidden ``.v*.tmp`` files are unpublished manifests, never versions
        out = []
        for name in os.listdir(self.vdir):
            if name.startswith("v") and name.endswith(".json"):
                out.append(int(name[1:-5]))
        return sorted(out)

    # -- write path ------------------------------------------------------
    def _publish(
        self,
        df: DataFrame,
        note: str,
        parent: int | None,
        parent_dirs: list[str],
        index: DataFrame | None = None,
        parent_index_dirs: list[str] | None = None,
        compaction: bool = False,
        n_rows: int | None = None,
        n_rows_hint: int | None = None,
        n_new_rows: Callable[[], int] | None = None,
    ) -> int:
        """Write a new data directory (and, given ``index``, a new index
        directory beside it), then publish a manifest whose file lists
        are ``parent_dirs + [new]`` and ``parent_index_dirs + [new
        index]``. The data is written FIRST; only after every write
        succeeded does the manifest appear — a crash or a failed write
        at any point leaves the previous version intact and at worst
        orphaned directories for vacuum().

        ``n_rows``: callers that already counted the frame pass it to
        size the output file count by data volume (~1M rows/file)
        instead of cluster width — a 1k-row daily batch written by a
        1000-task cluster would otherwise strew 1000 near-empty files
        per commit. ``n_rows_hint`` sizes files the same way when only
        an upper bound is known (e.g. pre-dedup batch size). The index
        takes the same sizing. When the exact count is unknown it rides
        the write itself as an ``Observation`` metric — one job total,
        never a read-back count scan over the just-written files.

        ``n_new_rows``: reader of the manifest's ``n_new_rows`` when the
        rows this version adds are fewer than the rows it writes (a
        compaction rewrites its parent too); called after the write."""
        version = (parent or 0) + 1
        data_name = f"v{version}-{uuid.uuid4().hex[:8]}"
        index_name = f"{data_name}-index"
        size_rows = n_rows if n_rows is not None else n_rows_hint
        if size_rows is not None:
            # repartition, not coalesce: a narrow coalesce(1) would pull
            # the whole upstream compute (dedup/anti-join) into one task;
            # the round-robin shuffle costs O(batch) and keeps it parallel
            n_files = max(1, min(1 + size_rows // 1_000_000, 10_000))
            df = df.repartition(n_files)
            if index is not None:
                index = index.repartition(n_files)
        if n_rows is None and n_new_rows is None:
            df, n_new_rows = observe_count(
                df, f"rows of {os.path.join(self.ddir, data_name)}"
            )

        def write(frame: DataFrame, name: str) -> None:
            frame.write.mode("error").parquet(os.path.join(self.ddir, name))

        if index is None:
            write(df, data_name)
        else:
            # the two writes share no data: from two driver threads the
            # second job's tasks back-fill the first's tail (one after the
            # other, the release benchmark ran ~16% fewer ops/s, 4 cores).
            # Both jobs keep the caller's local properties (job group,
            # scheduler pool), so cancelling the caller's group stops them.
            write = inheritable_thread_target(self.spark)(write)
            with futures.ThreadPoolExecutor(max_workers=2) as pool:
                writes = [
                    pool.submit(write, df, data_name),
                    pool.submit(write, index, index_name),
                ]
            for w in writes:
                w.result()
        man = {
            "version": version,
            "parent": parent,
            "data_dirs": parent_dirs + [data_name],
            "n_new_rows": n_rows if n_rows is not None else n_new_rows(),
            "note": note,
            "compaction": compaction,
        }
        if index is not None:
            man["index_dirs"] = (parent_index_dirs or []) + [index_name]
        # the manifest is the commit: fsync it under a hidden name, then
        # link it in — link publishes the full content atomically, or
        # raises FileExistsError when another writer minted this version
        tmp = os.path.join(self.vdir, f".v{version:08d}.{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            json.dump(man, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, self._manifest_path(version))
        finally:
            os.unlink(tmp)
        return version

    def commit(
        self,
        df: DataFrame,
        note: str = "",
        n_rows: int | None = None,
        index: DataFrame | None = None,
    ) -> int:
        """Publish ``df`` as a FULL-snapshot version (one fresh data
        directory, no parent references), with ``index`` as its sidecar
        index when given. O(|df|) write — use for initial loads and
        compactions."""
        return self._publish(
            df, note, self.latest_version(), [], index, n_rows=n_rows
        )

    def commit_append(
        self,
        df: DataFrame,
        note: str = "",
        n_rows: int | None = None,
        n_rows_hint: int | None = None,
        index: DataFrame | None = None,
    ) -> int:
        """Publish ``current ∪ df`` as the next version by writing ONLY
        the new rows and referencing the parent's data directories in
        the manifest — O(|batch|) regardless of corpus size, the only
        commit shape that survives a 100 TB corpus with daily batches.
        Old versions keep resolving: data dirs are append-only and every
        manifest pins its own list.

        ``index``: the sidecar index rows of ``df``; the new version's
        index is the parent's index (if it has one) plus these. Without
        ``index`` the new version has no index, since the parent's does
        not cover ``df``.

        Auto-compaction: once the parent manifest already references
        ``max_data_dirs`` directories, this commit is published as a
        full snapshot instead (parent ∪ batch rewritten into one fresh
        directory, and parent index ∪ ``index`` into another;
        ``compaction: true`` in the manifest, whose ``n_new_rows`` still
        counts only the batch) — amortized O(|corpus| / max_data_dirs)
        per append, bounding every read plan to ``max_data_dirs``
        directories forever. Time travel is untouched: pre-compaction
        manifests keep their own dir lists.
        """
        parent = self.latest_version()
        man = self.manifest(parent) if parent is not None else {}
        parent_dirs = man.get("data_dirs", [])
        parent_index_dirs = man.get("index_dirs", []) if index is not None else []
        if len(parent_dirs) >= self.max_data_dirs:
            # the manifest counts the batch, not the compacted corpus
            batch, n_batch = observe_count(df, f"batch rows of {self.base}")
            full = self.read(parent).unionByName(batch)
            if parent_index_dirs:
                index = self._read_dirs(parent_index_dirs).unionByName(index)
            return self._publish(
                full, note, parent, [], index, compaction=True, n_new_rows=n_batch
            )
        return self._publish(
            df,
            note,
            parent,
            parent_dirs,
            index,
            parent_index_dirs,
            n_rows=n_rows,
            n_rows_hint=n_rows_hint,
        )

    # -- read path -------------------------------------------------------
    def _read_dirs(self, names: list[str]) -> DataFrame:
        # Spark's schema inference, on purpose: a prototype that routed
        # this read through sources.parquet.read_files (a footer read on
        # the driver, no job) made the release_incremental benchmark
        # slower in 3 of 3 alternating pairs (ops/s 0.426/0.538/0.488 ->
        # 0.308/0.444/0.332), cause not found. Measure before switching.
        return self.spark.read.parquet(*(os.path.join(self.ddir, d) for d in names))

    def _resolve(self, version: int | None) -> int:
        if version is None:
            version = self.latest_version()
            if version is None:
                raise FileNotFoundError(f"no committed version under {self.base}")
        return version

    def read(self, version: int | None = None) -> DataFrame:
        return self._read_dirs(self.manifest(self._resolve(version))["data_dirs"])

    def read_index(self, version: int | None = None) -> DataFrame | None:
        """The sidecar index committed with ``version`` (default latest),
        or ``None`` when that version was committed without one."""
        dirs = self.manifest(self._resolve(version)).get("index_dirs")
        return self._read_dirs(dirs) if dirs else None

    def diff(self, version_a: int, version_b: int, key_columns: list[str]) -> dict:
        """Row-level release notes: keys added/removed between versions
        (two left-anti joins — key-partitioned, no full materialization)."""
        a, b = self.read(version_a), self.read(version_b)
        ka = a.select(*key_columns)
        kb = b.select(*key_columns)
        return {
            "added": kb.join(ka, key_columns, "left_anti").count(),
            "removed": ka.join(kb, key_columns, "left_anti").count(),
        }

    # -- retention -------------------------------------------------------
    def vacuum(self, keep_last: int = 2, grace_seconds: float = 86400.0) -> list[int]:
        """Drop all but the newest ``keep_last`` versions (never the
        latest): delete their manifests and any data or index directory
        no kept manifest references.

        Unreferenced directories younger than ``grace_seconds`` are SKIPPED:
        ``_publish`` writes data before its manifest exists, so without
        the grace window a vacuum running beside an in-flight commit
        would delete the half-published data dir (the same
        orphan-retention rule as Delta's ``VACUUM ... RETAIN``). Pass
        ``grace_seconds=0`` only when no writer can be active. Hidden
        temp manifests (``.v*.tmp``, left by a writer that died before
        its link) older than the grace window are deleted too."""
        vs = self.versions()
        keep = set(vs[-max(keep_last, 1):])
        dropped = [v for v in vs if v not in keep]
        kept_dirs = set()
        for v in keep:
            man = self.manifest(v)
            kept_dirs.update(man["data_dirs"], man.get("index_dirs", []))
        for v in dropped:
            os.remove(self._manifest_path(v))
        cutoff = time.time() - grace_seconds
        orphans = [
            os.path.join(self.ddir, n) for n in os.listdir(self.ddir) if n not in kept_dirs
        ]
        orphans += [
            os.path.join(self.vdir, n)
            for n in os.listdir(self.vdir)
            if n.startswith(".v") and n.endswith(".tmp")
        ]
        for path in orphans:
            try:
                if os.path.getmtime(path) > cutoff:
                    continue  # possibly an in-flight commit's data or manifest
                if os.path.isdir(path):
                    shutil.rmtree(path, ignore_errors=True)
                else:
                    os.remove(path)
            except OSError:
                continue
        return dropped
