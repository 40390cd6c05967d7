"""Checkpoint store: resumable-transfer state, reference-compatible shape.

File format matches the reference exactly (/root/reference/internal/
migration/migration.go:30-34): ``{"last_key": {<pk_column>: <value>},
"last_updated": <RFC3339>, "complete": bool}``, one JSON file per table
named ``<engine>_<table>.checkpoint`` (mysql.go:550), written atomically
via tmp-file + fsync + rename (mysql.go:553-575). A checkpoint written by
the reference tool is found and resumed from, and vice versa.

The checkpoint is *driver-side* state: the watermark it records becomes a
``pk > watermark`` filter that Catalyst pushes into the source scan (P4-P6
in SURVEY.md §2.3), so resume costs one pruned scan, not a replay — the same
keyset-resume design as the reference, but executed as a partitioned
parallel read. The streaming path (streaming/) uses Spark's own
checkpointLocation instead.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Any


@dataclass
class Checkpoint:
    """migration.go:30-34. ``last_key`` maps table name → last PK value
    as a string (stringified, like the reference's map[string]string)."""

    last_key: dict[str, str] = field(default_factory=dict)
    last_updated: str = ""
    complete: bool = False

    def to_json(self) -> dict[str, Any]:
        return {
            "last_key": self.last_key,
            "last_updated": self.last_updated,
            "complete": self.complete,
        }

    @classmethod
    def from_json(cls, data: dict[str, Any]) -> "Checkpoint":
        return cls(
            last_key=dict(data.get("last_key") or {}),
            last_updated=data.get("last_updated", ""),
            complete=bool(data.get("complete", False)),
        )


class CheckpointStore:
    def __init__(self, checkpoint_dir: str, engine: str = "parquet"):
        self.dir = checkpoint_dir
        self.engine = engine or "parquet"
        os.makedirs(self.dir, exist_ok=True)

    def _path(self, table: str) -> str:
        # mysql.go:550 naming: <engine>_<table>.checkpoint
        return os.path.join(self.dir, f"{self.engine}_{table}.checkpoint")

    def load(self, table: str) -> Checkpoint | None:
        """mysql.go:509-531: missing file → no checkpoint (fresh start)."""
        path = self._path(table)
        if not os.path.exists(path):
            return None
        try:
            with open(path) as fh:
                return Checkpoint.from_json(json.load(fh))
        except (json.JSONDecodeError, OSError):
            return None  # corrupt checkpoint == no checkpoint; restart safely

    def save(self, table: str, ckpt: Checkpoint) -> None:
        """Atomic write: tmp + fsync + rename (mysql.go:553-575). Each
        save has its own temp file, so concurrent saves never share one."""
        ckpt.last_updated = datetime.now(timezone.utc).isoformat()
        path = self._path(table)
        tmp = f"{path}.{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as fh:
            json.dump(ckpt.to_json(), fh, indent=2)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, path)

    def mark_complete(self, table: str, last_key: dict[str, str] | None = None) -> None:
        ckpt = self.load(table) or Checkpoint()
        if last_key:
            ckpt.last_key.update(last_key)
        ckpt.complete = True
        self.save(table, ckpt)

    def is_complete(self, table: str) -> bool:
        """Skip-complete semantics (mysql.go:222-229)."""
        ckpt = self.load(table)
        return ckpt is not None and ckpt.complete

    def watermark(self, table: str, key: str) -> str | None:
        """Last transferred value for ``key`` — the primary-key column, as
        the reference stores it (mysql.go:539 keys last_key by PK name)."""
        ckpt = self.load(table)
        if ckpt is None:
            return None
        return ckpt.last_key.get(key)

