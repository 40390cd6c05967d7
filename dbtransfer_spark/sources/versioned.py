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
        _versions/v00000001.json   # immutable: data dirs, schema, row counts, parent
        _versions/v00000002.json
        data/v1-<uuid>/part-*.parquet
        data/v2-<uuid>/part-*.parquet

Semantics:

- ``commit(df)`` writes a NEW data directory (never touches previous
  files), then publishes the manifest, and that IS the commit: fsynced
  under a hidden temp name, then ``os.link``-ed to ``v%08d.json`` —
  readers see the old or the new version, never a half-written one
  (one atomic file save per step, like checkpoint.py and the
  reference's pkg/utils/checkpoint). The latest version is the highest
  published manifest.
- The manifest records the committed frame's schema and the version's
  rows: ``n_new_rows`` (what this commit adds) and ``n_rows`` (the
  version's total). ``read`` plans with that schema instead of
  inferring one, and ``commit_append`` raises ``ValueError`` for a
  frame whose columns or types differ from its parent's: one version's
  directories would otherwise read back under one directory's schema,
  with the other's extra columns NULL or dropped.
- ``read(version=None)`` loads the pinned file list of that manifest —
  concurrent commits cannot change what an in-flight training job reads
  (snapshot isolation), because data directories are append-only.
- ``diff(a, b)`` reports row-level adds/removes between two versions by
  key — the release-notes query ("what changed between v11 and v12").
- ``vacuum(keep_last)`` deletes data directories unreferenced by the
  kept manifests — storage reclamation decoupled from publishing, so a
  crashed writer can never strand readers.

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
fresh directory of ``1 + rows // 1M`` files, ``rows`` being the
parent's ``n_rows``) instead of another incremental reference. The
compaction is just another version — older manifests keep pinning the
pre-compaction directories, so time travel and ``diff`` are unchanged;
``vacuum`` reclaims the superseded small files once their versions age
out. Invariant: every manifest's ``data_dirs`` has at most
``max_data_dirs`` entries.

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
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from dbtransfer_spark.observe import observe_count


def _n_files(rows: int) -> int:
    # ~1M rows per file, whatever the cluster width
    return max(1, min(1 + rows // 1_000_000, 10_000))


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
        parent_rows: int = 0,
        compaction: bool = False,
        n_new_rows: Callable[[], int] | None = None,
    ) -> int:
        """Write a new data directory, then publish a manifest whose file
        list is ``parent_dirs + [new]``. The data is written FIRST; only
        after the write succeeded does the manifest appear — a crash or
        a failed write at any point leaves the previous version intact
        and at worst an orphaned directory for vacuum().

        File count: a commit or an append writes one file per non-empty
        partition of ``df``, with no sizing shuffle. The release hands
        in its cached batch anti-joined with the probe. When adaptive
        execution turns that join into a broadcast of the (small) drop
        set, the kept rows keep the batch cache's partitions, which are
        the exact-dedup shuffle's coalesced by bytes (64 MB each by
        default), so a small append writes one file; a drop set too
        large to broadcast leaves the join's own coalesced partitions.
        A ``compaction`` rewrites its parent too and is coalesced to
        ``1 + parent_rows // 1M`` files (narrow: the parent's rows are
        not shuffled).

        The rows written ride the write itself as an ``Observation``
        metric — one job total, never a read-back count scan over the
        just-written files. ``n_new_rows``: reader of the manifest's
        ``n_new_rows`` when the rows this version adds are fewer than
        the rows it writes (a compaction rewrites its parent too);
        called after the write. The manifest's ``n_rows`` is
        ``parent_rows``, the rows of the parent this version keeps, plus
        the rows added."""
        version = (parent or 0) + 1
        data_name = f"v{version}-{uuid.uuid4().hex[:8]}"
        if compaction:
            # the batch's own upstream compute runs in these few tasks too
            df = df.coalesce(_n_files(parent_rows))
        if n_new_rows is None:
            df, n_new_rows = observe_count(
                df, f"rows of {os.path.join(self.ddir, data_name)}"
            )
        df.write.mode("error").parquet(os.path.join(self.ddir, data_name))
        added = n_new_rows()
        man = {
            "version": version,
            "parent": parent,
            "data_dirs": parent_dirs + [data_name],
            "schema": df.schema.jsonValue(),
            "n_new_rows": added,
            "n_rows": parent_rows + added,
            "note": note,
            "compaction": compaction,
        }
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

    def commit(self, df: DataFrame, note: str = "") -> int:
        """Publish ``df`` as a FULL-snapshot version (one fresh data
        directory, no parent references). O(|df|) write — use for
        initial loads and compactions."""
        return self._publish(df, note, self.latest_version(), [])

    def commit_append(self, df: DataFrame, note: str = "") -> int:
        """Publish ``current ∪ df`` as the next version by writing ONLY
        the new rows and referencing the parent's data directories in
        the manifest — O(|batch|) regardless of corpus size, the only
        commit shape that survives a 100 TB corpus with daily batches.
        Old versions keep resolving: data dirs are append-only and every
        manifest pins its own list. The batch is written in the
        partitions ``df`` already has (see ``_publish``).

        ``df`` must have the parent's schema (column names, order and
        types; nullability aside), else ``ValueError``: commit a full
        snapshot to change the schema.

        Auto-compaction: once the parent manifest already references
        ``max_data_dirs`` directories, this commit is published as a
        full snapshot instead (parent ∪ batch rewritten into one fresh
        directory; ``compaction: true`` in the manifest, whose
        ``n_new_rows`` still counts only the batch) — amortized
        O(|corpus| / max_data_dirs) per append, bounding every read plan
        to ``max_data_dirs`` directories forever. Time travel is
        untouched: pre-compaction manifests keep their own dir lists.
        """
        parent = self.latest_version()
        if parent is None:
            return self._publish(df, note, None, [])
        man = self.manifest(parent)
        have = "schema" in man and StructType.fromJson(man["schema"]).simpleString()
        if df.schema.simpleString() != have:
            raise ValueError(
                f"commit_append of {df.schema.simpleString()} onto version {parent}"
                f" of {have or 'unrecorded schema'}: commit a full snapshot instead"
            )
        if len(man["data_dirs"]) >= self.max_data_dirs:
            # the manifest counts the batch, not the compacted corpus
            batch, n_batch = observe_count(df, f"batch rows of {self.base}")
            return self._publish(
                self.read(parent).unionByName(batch),
                note,
                parent,
                [],
                man["n_rows"],
                compaction=True,
                n_new_rows=n_batch,
            )
        return self._publish(df, note, parent, man["data_dirs"], man["n_rows"])

    # -- read path -------------------------------------------------------
    def _resolve(self, version: int | None) -> int:
        if version is None:
            version = self.latest_version()
            if version is None:
                raise FileNotFoundError(f"no committed version under {self.base}")
        return version

    def read(self, version: int | None = None) -> DataFrame:
        man = self.manifest(self._resolve(version))
        reader = self.spark.read
        if "schema" in man:  # manifests written before schemas were recorded infer it
            reader = reader.schema(StructType.fromJson(man["schema"]))
        return reader.parquet(*(os.path.join(self.ddir, d) for d in man["data_dirs"]))

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
        latest): delete their manifests and any data directory no kept
        manifest references.

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
            kept_dirs.update(self.manifest(v)["data_dirs"])
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
