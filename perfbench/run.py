"""Benchmark entry point: one workload, one closed loop, one JSON line.

    python3 perfbench/run.py --workload transfer_upsert --seed 1 --seconds 8 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` under a
scratch root in the working directory (``.perfbench_run/``), which is
removed at exit together with the Spark JVM. ``--trace 0`` prints the
end-to-end metrics; ``--trace 1`` is a separate run that installs timing
wrappers, records Spark's event log and prints the per-layer metrics.
The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(1, os.path.dirname(HERE))  # the repository root, after HERE

# scale factor of the generated inputs per workload (sf1 = 6 M lineitem rows)
SCALE = {
    "transfer_upsert": 0.01,
    "transfer_resume": 0.01,
    "release_incremental": 0.02,
    "query_mix": 0.01,
}
# the most a transfer op's limiter may sleep while the governor is idle: a
# window that resets at the call still sleeps rows / rate_limit, ~1e-8 s
LIMITER_IDLE_S = 1e-6
END_TO_END = (
    ("ops_per_s", "ops/s"),
    ("rows_per_s", "rows/s"),
    ("op_p50_s", "s"),
    ("peak_rss_mb", "MB"),
    ("setup_s", "s"),
)


def per_layer_metrics() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, in output order."""
    from eventlog import SPARK_METRICS
    from workloads import QUERY_MIX

    spark_units = {
        "jobs": "count",
        "stages": "count",
        "tasks": "count",
        "task_skew": "ratio",
    }
    names = [
        ("sources.parquet.upsert_s", "s"),
        ("sources.parquet.upsert_calls", "count"),
        ("sources.parquet.upsert_rows", "rows"),
        ("sources.parquet.upsert_bytes_written", "bytes"),
        ("sources.parquet.write_amplification", "ratio"),
        ("sources.parquet.read_s", "s"),
        ("sources.parquet.count_rows_s", "s"),
        ("sources.parquet.count_rows_calls", "count"),
        ("engine.self_s", "s"),
        ("transforms.apply_s", "s"),
        ("transforms.apply_calls", "count"),
        ("checkpoint.save_s", "s"),
        ("checkpoint.saves", "count"),
        ("checkpoint.load_s", "s"),
        ("checkpoint.loads", "count"),
        ("governance.limiter_sleep_s", "s"),
        ("governance.limiter_calls", "count"),
        ("pipelines.release_self_s", "s"),
        ("pipelines.n_dropped", "count"),
        ("sources.versioned.commit_s", "s"),
        ("sources.versioned.commit_append_s", "s"),
        ("sources.versioned.commits", "count"),
        ("sources.versioned.compactions", "count"),
        ("sources.versioned.bytes_written", "bytes"),
    ]
    names += [(f"query.{q}_s", "s") for q in QUERY_MIX]
    names += [("session.get_spark_s", "s"), ("catalog.optimize_layout_s", "s")]
    names += [
        (f"spark.{m}", spark_units.get(m, "bytes" if m.endswith("_bytes") else "s"))
        for m in SPARK_METRICS
    ]
    names += [
        ("env.canary_before_s", "s"),
        ("env.canary_after_s", "s"),
        ("trace.op_p50_s", "s"),
        ("trace.ops_per_s", "ops/s"),
    ]
    return names


def _cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def start_spark(name: str, root: str, trace: bool):
    from dbtransfer_spark.session import get_spark

    tmp = os.path.join(root, "tmp")
    local = os.path.join(root, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(_cpus())
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # the gateway's connection-info dir
    conf = {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(root, "warehouse"),
        # the package's own heap limit stands. G1 by default sizes the young
        # generation from pause times and grows the heap whenever GC takes
        # over 8% of recent time; it then allocates across all it committed,
        # so peak RSS followed those timings (0.2-0.4 of its median across
        # runs, with the old generation's peak use the same in every run).
        # A fixed young generation, and growth only past 20% GC time, keep
        # the committed heap near what the program retains.
        # No perf-data file: the JVM would write it under /tmp whatever
        # java.io.tmpdir says.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Xmn512m -XX:GCTimeRatio=4 -XX:-UsePerfData"
        ),
    }
    if trace:
        log_dir = os.path.join(root, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{log_dir}",
                "spark.eventLog.compress": "false",
            }
        )
    return get_spark(app_name=f"perfbench-{name}", extra_conf=conf)


def stop_spark() -> None:
    """Stop the session, then the gateway JVM, and wait until it exits."""
    import subprocess

    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def peak_rss_mb() -> float:
    """Peak RSS of this process plus its largest waited-for child (the
    Spark JVM, once ``stop_spark`` has reaped it). Linux reports KiB."""
    own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    child = resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss
    return (own + child) / 1024.0


def run_loop(wl, seconds: float, tracer):
    """Closed loop, one client: whole units (an op, a pass, a cycle), as
    many as take ``seconds`` on the reference host. The count does not
    depend on how fast this run goes, so every run times the same ops at
    the same point of the JIT's warm-up."""
    records, op_spans = [], []
    for _ in range(max(1, round(seconds / wl.unit_s))):
        for op in wl.unit():
            records.append(run_op(op, tracer, op_spans))
    return records, op_spans


def run_op(op, tracer, op_spans) -> dict:
    """Reset, timed run, check: one record; a failed op does not stop the loop."""
    op.reset()
    err, result = None, None
    e0, m0 = time.time(), time.monotonic()
    try:
        if tracer is not None:
            result, span = tracer.call("op", op.run, op=True)
            op_spans.append(span)
        else:
            result = op.run()
    except Exception as exc:
        err = exc
    m1, e1 = time.monotonic(), time.time()
    rows = 0
    if err is None:
        try:
            rows = op.check(result)
        except Exception as exc:
            err = exc
    if err is not None:
        print(f"op {op.label} failed: {err!r}", file=sys.stderr)
    return {"label": op.label, "start": e0, "end": e1, "s": m1 - m0, "rows": rows, "ok": err is None}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # import the package first: without it, fail before starting anything
    import bench  # noqa: F401
    import dbtransfer_spark  # noqa: F401
    from tools import canary

    from eventlog import op_profiles, read_events, summarize
    from spans import Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    trace = bool(args.trace)
    root = os.path.join(os.getcwd(), ".perfbench_run", f"{args.workload}-{os.getpid()}")
    os.makedirs(root, exist_ok=True)
    try:
        t0 = time.monotonic()
        spark = start_spark(args.workload, root, trace)
        session_s = time.monotonic() - t0

        wl = WORKLOADS[args.workload](spark, root, args.seed, SCALE[args.workload])
        t = time.monotonic()
        wl.prepare(os.path.join(root, "work"))
        prep_s = time.monotonic() - t
        wl.warm_up()
        setup_s = time.monotonic() - t0
        warm_s = setup_s - session_s - prep_s

        # the environment bracket, on a warm JVM, right around the timed loop
        canary_before = canary.probe(spark)
        tracer = Tracer() if trace else None
        if tracer is not None:
            wl.tracer = tracer
            wl.instrument()
        t = time.monotonic()
        try:
            records, op_spans = run_loop(wl, args.seconds, tracer)
        finally:
            if tracer is not None:
                tracer.restore()
        loop_s = time.monotonic() - t
        canary_after = canary.probe(spark)
        print(
            json.dumps(
                {
                    "session_s": session_s,
                    "prepare_s": prep_s,
                    "warm_up_s": warm_s,
                    "loop_s": loop_s,
                    "canary_s": [canary_before, canary_after],
                    "op_s": [(r["label"], round(r["s"], 3)) for r in records],
                }
            ),
            file=sys.stderr,
        )
        layers = wl.layer_metrics(op_spans) if tracer is not None else {}
        stop_spark()
        peak = peak_rss_mb()

        ok = [r for r in records if r["ok"]]
        busy = sum(r["s"] for r in records)
        failed = len(records) - len(ok)
        e2e = {
            "ops_per_s": len(ok) / busy if busy else 0.0,
            "rows_per_s": sum(r["rows"] for r in ok) / busy if busy else 0.0,
            "op_p50_s": statistics.median(r["s"] for r in records) if records else 0.0,
            "peak_rss_mb": peak,
            "setup_s": setup_s,
        }
        correct = failed == 0 and bool(records)
        if not trace:
            metrics = {name: {"value": e2e[name], "unit": unit} for name, unit in END_TO_END}
        else:
            values = dict(layers)
            values["session.get_spark_s"] = session_s
            profiles = op_profiles(
                read_events(os.path.join(root, "eventlog")),
                [(r["start"], r["end"]) for r in records],
            )
            values.update({f"spark.{k}": v for k, v in summarize(profiles).items()})
            values["env.canary_before_s"] = canary_before
            values["env.canary_after_s"] = canary_after
            values["trace.op_p50_s"] = e2e["op_p50_s"]
            values["trace.ops_per_s"] = e2e["ops_per_s"]
            slept = values.get("governance.limiter_sleep_s", 0.0)
            if args.workload.startswith("transfer_") and slept > LIMITER_IDLE_S:
                print("rate limiter slept on a transfer workload", file=sys.stderr)
                correct = False
            metrics = {
                name: {"value": float(values.get(name, 0.0)), "unit": unit}
                for name, unit in per_layer_metrics()
            }
        print(
            json.dumps(
                {"correct": correct, "attempted": len(records), "failed": failed, "metrics": metrics}
            )
        )
        return 0 if correct else 1
    finally:
        stop_spark()
        shutil.rmtree(root, ignore_errors=True)
        parent = os.path.dirname(root)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


if __name__ == "__main__":
    raise SystemExit(main())
