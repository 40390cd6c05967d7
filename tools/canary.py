"""Frozen environment-canary probes shared by the timing tools
(r13 VERDICT #2).

Round 13's lesson: this sandbox suffers multi-hour BURSTY CPU steal that
is invisible to loadavg — the frozen canary read 0.15-0.52 s against a
0.065-0.074 s calm baseline while 1-min load sat near 0, and the same
byte-identical physical plan measured 24.5-67.4 s run-to-run during a
burst vs ~7 s calm. A start-of-run canary under-corrects a sweep whose
MIDDLE hits a burst, so every committed timing row that can drive a
"regression vs steal" adjudication must carry its OWN bracket: a probe
before and after the measurement. This module is that probe; the sweep
tools (tools/sf1_sweep.py, tools/dedup_octave.py) record the bracket in
their JSON artifacts and re-queue slow entries whose bracket exceeds the
calm threshold, so no future round has to adjudicate steal-vs-regression
from git archaeology.

The workload is FROZEN and identical to bench.py's ``canary_sec``
component (range → sum through the noop sink; pure CPU, no shuffle, no
data dependency) — never change it, cross-round ratios depend on it.

The sweep tools also share ``drain_to_idle`` (kill the sweep JVM and wait
for an idle machine before the fresh-JVM tail) and ``update_scale_md``
(rewrite their generated section of SCALE.md) from here.
"""

from __future__ import annotations

import os
import statistics
import time

# Calm threshold for the probe median, in seconds. 0.09 is the gate the
# r13 calm-window protocol used (calm baseline 0.065-0.074 s across
# rounds 11-13; steal bursts read 0.15-0.52 s — the bands don't overlap).
CALM_SEC = float(os.environ.get("SPARK_GRAFT_CANARY_CALM", "0.09"))


def probe(spark, runs: int = 3) -> float:
    """Median of ``runs`` executions of the frozen canary workload."""
    from pyspark.sql import functions as F

    samples = []
    for _ in range(runs):
        t0 = time.monotonic()
        (
            spark.range(0, 2_000_000, 1, 8)
            .agg(F.sum("id"))
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        samples.append(time.monotonic() - t0)
    return round(statistics.median(samples), 3)


def warm(spark) -> None:
    """Absorb first-touch JIT/codegen for the canary shape (a fresh JVM's
    first canary run costs ~3 s of compilation; calm runs are ~0.07 s)."""
    probe(spark, runs=1)


def rolling_probe(spark) -> float:
    """Cheap rolling probe for per-entry bracketing: one run, escalated
    to a median-of-3 confirmation only when the single reading looks
    degraded (single runs occasionally hiccup ~0.2 s on a calm machine;
    a burst reads degraded on the re-probe too)."""
    val = probe(spark, runs=1)
    if val > CALM_SEC:
        val = probe(spark, runs=3)
    return val


def is_calm(bracket) -> bool:
    """True when every probe in the bracket is inside the calm band."""
    return all(v <= CALM_SEC for v in bracket if v is not None)


# Degraded fresh-JVM re-runs wait this long before retrying (steal
# arrives in multi-minute bursts; an immediate retry usually lands in
# the same burst), up to RETRIES extra attempts. The best (minimum)
# median across attempts is kept — steal only ever ADDS time.
RETRY_WAIT_SEC = float(os.environ.get("SPARK_GRAFT_CANARY_RETRY_WAIT", "120"))
RETRIES = int(os.environ.get("SPARK_GRAFT_CANARY_RETRIES", "2"))


def fresh_jvm_qtime(name: str, sf_dir: str, repo_root: str) -> dict | None:
    """Run one query through tools/qtime.py in its own subprocess JVM
    (median of 3 after an sf0.001 warm-up) with canary bracketing, and
    RE-QUEUE the attempt (up to ``RETRIES`` extra times, waiting
    ``RETRY_WAIT_SEC`` between) while the bracket exceeds the calm
    threshold (r13 VERDICT #2). Returns::

        {"fresh_jvm_median_sec": float,
         "fresh_jvm_canary": [before, after],   # of the KEPT attempt
         "canary_degraded": bool,               # kept attempt still hot
         "fresh_jvm_attempts": int}

    or None when every attempt failed. The kept attempt is the one with
    the MINIMUM median (steal only adds time), so a calm retry replaces
    a burst reading and a still-degraded final row says so explicitly
    instead of leaving the adjudication to git archaeology."""
    import re
    import subprocess
    import sys as _sys

    env = dict(os.environ, QTIME_RUNS="3", QTIME_CANARY="1")
    best: dict | None = None
    attempts = 0
    for attempt in range(1 + RETRIES):
        attempts += 1
        try:
            proc = subprocess.run(
                [
                    _sys.executable,
                    os.path.join(repo_root, "tools", "qtime.py"),
                    sf_dir,
                    name,
                ],
                capture_output=True,
                text=True,
                env=env,
                timeout=900,
            )
            m = re.search(
                rf"{re.escape(name)}: median=([\d.]+).*?"
                rf"canary=\[([\d.]+),\s*([\d.]+)\]",
                proc.stdout,
            )
        except subprocess.TimeoutExpired:
            m = None
        if m:
            cur = {
                "fresh_jvm_median_sec": float(m.group(1)),
                "fresh_jvm_canary": [float(m.group(2)), float(m.group(3))],
            }
            if (
                best is None
                or cur["fresh_jvm_median_sec"] < best["fresh_jvm_median_sec"]
            ):
                best = cur
            if is_calm(best["fresh_jvm_canary"]):
                break
        if attempt < RETRIES:
            time.sleep(RETRY_WAIT_SEC)
    if best is None:
        return None
    best["canary_degraded"] = not is_calm(best["fresh_jvm_canary"])
    best["fresh_jvm_attempts"] = attempts
    return best


def drain_to_idle(max_wait: float = 300.0, threshold: float = 4.0) -> None:
    """Cancelled O(n²) straggler tasks can keep spinning in the stopped
    sweep session's JVM long after spark.stop() returns (local mode:
    tight-loop task threads shrug off interrupts) — fresh-JVM tail
    timings taken while they drain measured 5-10× standalone (r12: the
    octave tail recorded dedup_exact_fingerprint at 10.6 s vs 1.6 s on
    the drained machine). Kill the gateway JVM outright, then wait for
    the 1-minute load average to fall below `threshold` before timing
    anything else."""
    try:
        import pyspark

        gw = pyspark.SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.terminate()
            # r12 ADVICE: clear the dangling refs so any later
            # get_spark() in this process relaunches a fresh JVM instead
            # of failing on the dead gateway
            pyspark.SparkContext._gateway = None
            pyspark.SparkContext._jvm = None
    except Exception:
        pass
    t0 = time.monotonic()
    while time.monotonic() - t0 < max_wait:
        try:
            with open("/proc/loadavg") as f:
                if float(f.read().split()[0]) < threshold:
                    return
        except OSError:
            return
        time.sleep(10)


def update_scale_md(section: str, begin: str, end: str, heading: str) -> None:
    """Replace the ``begin``..``end`` section of SCALE.md with ``section``,
    or append it under ``heading`` when the markers are not there yet."""
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SCALE.md")
    with open(path) as f:
        doc = f.read()
    if begin in doc and end in doc:
        doc = doc[: doc.index(begin)] + section + doc[doc.index(end) + len(end):]
    else:
        doc = doc.rstrip() + f"\n\n## {heading}\n\n" + section + "\n"
    with open(path, "w") as f:
        f.write(doc)
