"""Throughput governance: rate limiting + progress stats.

The reference holds a process-wide rows/sec cap with a windowed token
account (InitGlobalLimiter/EnforceGlobalRateLimit, /root/reference/internal/
migration/migration.go:211-268, 10 s window reset) plus per-engine token
buckets (mysql.go:92-101). In a distributed engine a single token bucket
would serialize executors, so the cap is factored: the driver divides the
global rows/sec across the writer's partitions
(cap_per_partition = rate_limit / num_partitions) and each partition paces
itself locally — same aggregate ceiling, no cross-executor coordination
(SURVEY.md §7 hard-part #4). The driver-side limiter below is used for
chunked (driver-sequenced) transfers; the per-partition pacing lives in the
foreachPartition writers (sources/jdbc.py).

Stats mirror MigrationStats (migration.go:37-176): totals plus an
interval-windowed rows/sec.
"""

from __future__ import annotations

import threading
import time
from dataclasses import dataclass, field


class RateLimiter:
    """Windowed rows/sec limiter (migration.go:232-268 semantics:
    sleep long enough that rows_in_window / elapsed ≤ rate; window resets
    every ``window_s`` seconds)."""

    def __init__(self, rows_per_sec: int, window_s: float = 10.0):
        self.rows_per_sec = max(1, rows_per_sec)
        self.window_s = window_s
        self._lock = threading.Lock()
        self._window_start = time.monotonic()
        self._window_rows = 0

    def acquire(self, rows: int) -> float:
        """Account ``rows``; sleep if over rate. Returns seconds slept."""
        with self._lock:
            now = time.monotonic()
            if now - self._window_start >= self.window_s:  # migration.go:262-265
                self._window_start = now
                self._window_rows = 0
            self._window_rows += rows
            expected = self._window_rows / self.rows_per_sec
            elapsed = now - self._window_start
            delay = expected - elapsed
        if delay > 0:
            time.sleep(delay)
            return delay
        return 0.0


@dataclass
class TableStats:
    total_rows: int = 0
    processed_rows: int = 0
    start_time: float = field(default_factory=time.monotonic)

    @property
    def percent(self) -> float:
        return 100.0 * self.processed_rows / self.total_rows if self.total_rows else 0.0

    @property
    def rows_per_sec(self) -> float:
        elapsed = time.monotonic() - self.start_time
        return self.processed_rows / elapsed if elapsed > 0 else 0.0


class MigrationStats:
    """migration.go:37-176, minus the i18n ticker goroutine."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.tables: dict[str, TableStats] = {}

    def init_table(self, table: str, total_rows: int) -> None:
        with self._lock:
            self.tables[table] = TableStats(total_rows=total_rows)

    def set_total(self, table: str, total_rows: int) -> None:
        """The denominator of a table whose row count is only known once
        its transfer ends; keeps the start time ``init_table`` set."""
        with self._lock:
            self.tables.setdefault(table, TableStats()).total_rows = total_rows

    def add_processed(self, table: str, rows: int) -> None:
        with self._lock:
            self.tables.setdefault(table, TableStats()).processed_rows += rows

    def snapshot(self) -> dict[str, dict[str, float]]:
        with self._lock:
            return {
                t: {
                    "processed": s.processed_rows,
                    "total": s.total_rows,
                    "percent": round(s.percent, 2),
                    "rows_per_sec": round(s.rows_per_sec, 1),
                }
                for t, s in self.tables.items()
            }
