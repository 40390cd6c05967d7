"""Versioned dataset store — snapshot isolation + time travel for
training-data releases, on plain parquet directories.

A 100 TB corpus release is rebuilt incrementally (new crawl batches,
re-run quality filters), but training jobs must read a FROZEN version:
"v12 is what run 47 trained on" has to stay answerable forever. Delta /
Iceberg solve this with manifest-tracked snapshots; this module gives the
engine the same contract without any external table-format dependency,
using the one primitive object stores and POSIX both make atomic: a
single small manifest-file rename.

Layout::

    <root>/<table>/
        _versions/v00000001.json   # immutable: file list + rows added + parent
        _versions/v00000002.json
        _latest.json               # atomically-swapped pointer {"version": 2}
        data/v2-<uuid>/part-*.parquet

Semantics:

- ``commit(df)`` writes a NEW data directory (never touches previous
  files), records the manifest, then swaps ``_latest.json`` via
  write-tmp + ``os.replace`` — readers see the old or the new version,
  never a half-written one (the same tmp+rename discipline as
  checkpoint.py:78, which mirrors the reference's atomic checkpoint
  save, pkg/utils/checkpoint).
- ``read(version=None)`` loads the pinned file list of that manifest —
  concurrent commits cannot change what an in-flight training job reads
  (snapshot isolation), because data directories are append-only.
- ``diff(a, b)`` reports row-level adds/removes between two versions by
  key — the release-notes query ("what changed between v11 and v12").
- ``vacuum(keep_last)`` deletes data directories unreferenced by the
  kept manifests — storage reclamation decoupled from publishing, so a
  crashed writer can never strand readers.

Scale: the manifest holds directory names, not per-row state — commits
are O(new data) writes plus one O(1) rename; reads plan directly from
the pinned parquet paths, so partition pruning / pushdown work
unchanged. The store is a layout convention, not a service.

Small-file control: without a bound, a year of daily ``commit_append``
batches leaves ``read()`` planning over ~365 directories of
progressively tiny files — the classic 100 TB small-file failure this
store exists to avoid. ``commit_append`` therefore auto-compacts: when
the parent already references ``max_data_dirs`` directories, the commit
is published as a full snapshot (parent ∪ batch rewritten into ONE
fresh directory) instead of another incremental reference. The
compaction is just another version — older manifests keep pinning the
pre-compaction directories, so time travel and ``diff`` are unchanged;
``vacuum`` reclaims the superseded small files once their versions age
out. Invariant: every manifest's ``data_dirs`` has at most
``max_data_dirs`` entries.

Concurrency contract: the store is SINGLE-WRITER (like the reference's
one-process-per-table checkpoint files, pkg/utils/checkpoint).
``_publish`` derives the next version number from the latest pointer
with no lock, so two concurrent writers could both mint v+1; readers
are unaffected (any number, any time — snapshot isolation holds).
``vacuum`` additionally skips unreferenced data directories younger
than ``grace_seconds`` so a cleanup running beside an in-flight commit
(data is written before its manifest exists) cannot clobber it — the
standard orphan-cleanup guard.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from typing import Callable

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
    def _latest_path(self) -> str:
        return os.path.join(self.base, "_latest.json")

    def latest_version(self) -> int | None:
        try:
            with open(self._latest_path()) as f:
                return int(json.load(f)["version"])
        except FileNotFoundError:
            return None

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.vdir, f"v{version:08d}.json")

    def manifest(self, version: int) -> dict:
        with open(self._manifest_path(version)) as f:
            return json.load(f)

    def versions(self) -> list[int]:
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
        parent_dirs: list[str],
        compaction: bool = False,
        n_rows: int | None = None,
        n_rows_hint: int | None = None,
        n_new_rows: Callable[[], int] | None = None,
    ) -> int:
        """Write a new data directory, record a manifest whose file list
        is ``parent_dirs + [new]``, swap the latest pointer. The data is
        written FIRST; only after a successful write does the manifest
        appear and the pointer swap make it visible — a crash at any
        point leaves the previous version intact and at worst an
        orphaned data dir for vacuum().

        ``n_rows``: callers that already counted the frame pass it to
        size the output file count by data volume (~1M rows/file)
        instead of cluster width — a 1k-row daily batch written by a
        1000-task cluster would otherwise strew 1000 near-empty files
        per commit. ``n_rows_hint`` sizes files the same way when only
        an upper bound is known (e.g. pre-dedup batch size). When the
        exact count is unknown it rides the write itself as an
        ``Observation`` metric — one job total, never a read-back
        count scan over the just-written files.

        ``n_new_rows``: reader of the manifest's ``n_new_rows`` when the
        rows this version adds are fewer than the rows it writes (a
        compaction rewrites its parent too); called after the write."""
        parent = self.latest_version()
        version = (parent or 0) + 1
        data_name = f"v{version}-{uuid.uuid4().hex[:8]}"
        data_path = os.path.join(self.ddir, data_name)
        size_rows = n_rows if n_rows is not None else n_rows_hint
        if size_rows is not None:
            # repartition, not coalesce: a narrow coalesce(1) would pull
            # the whole upstream compute (dedup/anti-join) into one task;
            # the round-robin shuffle costs O(batch) and keeps it parallel
            df = df.repartition(max(1, min(1 + size_rows // 1_000_000, 10_000)))
        if n_rows is None and n_new_rows is None:
            df, n_new_rows = observe_count(df, f"rows of {data_path}")
        df.write.mode("error").parquet(data_path)
        n_new = n_rows if n_rows is not None else n_new_rows()
        man = {
            "version": version,
            "parent": parent,
            "data_dirs": parent_dirs + [data_name],
            "n_new_rows": n_new,
            "note": note,
            "compaction": compaction,
        }
        # manifest is immutable once written; pointer swap is the commit
        with open(self._manifest_path(version), "w") as f:
            json.dump(man, f)
            f.flush()
            os.fsync(f.fileno())
        tmp = self._latest_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"version": version}, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._latest_path())
        return version

    def commit(self, df: DataFrame, note: str = "", n_rows: int | None = None) -> int:
        """Publish ``df`` as a FULL-snapshot version (one fresh data
        directory, no parent references). O(|df|) write — use for
        initial loads and compactions."""
        return self._publish(df, note, [], n_rows=n_rows)

    def commit_append(
        self,
        df: DataFrame,
        note: str = "",
        n_rows: int | None = None,
        n_rows_hint: int | None = None,
    ) -> int:
        """Publish ``current ∪ df`` as the next version by writing ONLY
        the new rows and referencing the parent's data directories in
        the manifest — O(|batch|) regardless of corpus size, the only
        commit shape that survives a 100 TB corpus with daily batches.
        Old versions keep resolving: data dirs are append-only and every
        manifest pins its own list.

        Auto-compaction: once the parent manifest already references
        ``max_data_dirs`` directories, this commit is published as a
        full snapshot instead (parent ∪ batch rewritten into one fresh
        directory, ``compaction: true`` in the manifest, whose
        ``n_new_rows`` still counts only the batch) — amortized
        O(|corpus| / max_data_dirs) per append, bounding every read
        plan to ``max_data_dirs`` directories forever. Time travel is
        untouched: pre-compaction manifests keep their own dir lists.
        """
        parent = self.latest_version()
        parent_dirs = list(self.manifest(parent)["data_dirs"]) if parent else []
        if len(parent_dirs) >= self.max_data_dirs:
            # the manifest counts the batch, not the compacted corpus
            batch, n_batch = observe_count(df, f"batch rows of {self.base}")
            full = self.read(parent).unionByName(batch)
            return self._publish(full, note, [], compaction=True, n_new_rows=n_batch)
        return self._publish(
            df, note, parent_dirs, n_rows=n_rows, n_rows_hint=n_rows_hint
        )

    # -- read path -------------------------------------------------------
    def read(self, version: int | None = None) -> DataFrame:
        if version is None:
            version = self.latest_version()
            if version is None:
                raise FileNotFoundError(f"no committed version under {self.base}")
        man = self.manifest(version)
        paths = [os.path.join(self.ddir, d) for d in man["data_dirs"]]
        return self.spark.read.parquet(*paths)

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
        """Drop all but the newest ``keep_last`` versions: delete their
        manifests and any data directory no kept manifest references.
        Never touches the latest pointer's target.

        Unreferenced directories younger than ``grace_seconds`` are
        SKIPPED: ``_publish`` writes data before its manifest exists, so
        without the grace window a vacuum running beside an in-flight
        commit would delete the half-published data dir (the same
        orphan-retention rule as Delta's ``VACUUM ... RETAIN``). Pass
        ``grace_seconds=0`` only when no writer can be active."""
        vs = self.versions()
        keep = set(vs[-keep_last:]) if keep_last > 0 else set()
        latest = self.latest_version()
        if latest is not None:
            keep.add(latest)
        dropped = [v for v in vs if v not in keep]
        kept_dirs = {d for v in keep for d in self.manifest(v)["data_dirs"]}
        for v in dropped:
            os.remove(self._manifest_path(v))
        cutoff = time.time() - grace_seconds
        for name in os.listdir(self.ddir):
            if name in kept_dirs:
                continue
            path = os.path.join(self.ddir, name)
            try:
                if os.path.getmtime(path) > cutoff:
                    continue  # possibly an in-flight commit's data
            except OSError:
                continue
            shutil.rmtree(path, ignore_errors=True)
        return dropped
