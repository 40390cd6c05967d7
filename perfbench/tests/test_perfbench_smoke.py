"""Every workload end to end at sf0.001, and the tracing wrappers leave the
transfer outputs unchanged. Starts one Spark session (event log on)."""

import os

import pytest

import run
import workloads
from spans import Tracer

SF = 0.001


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("perfbench"))
    session = run.start_spark("tests", root, trace=True)
    yield session
    run.stop_spark()


def _unit_ok(wl) -> int:
    ops = wl.unit()
    for op in ops:
        op.reset()
        op.check(op.run())
    return len(ops)


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_workload_smoke(spark, tmp_path, name):
    wl = workloads.WORKLOADS[name](spark, str(tmp_path), 5, SF)
    wl.prepare(str(tmp_path / "work"))
    wl.warm_up()
    assert _unit_ok(wl) >= 1


def test_tracing_leaves_transfer_outputs_unchanged(spark, tmp_path):
    import dbtransfer_spark.engine as engine_mod

    original = engine_mod.apply_transforms
    wl = workloads.TransferUpsert(spark, str(tmp_path), 7, SF)
    wl.prepare(str(tmp_path / "work"))
    wl.warm_up()

    def destination():
        frames = {
            t: spark.read.parquet(os.path.join(wl.dst, f"{t}.parquet")) for t in wl.tables
        }
        return workloads.fingerprint(spark, frames)

    _unit_ok(wl)
    untraced = destination()
    wl.tracer = Tracer()
    wl.instrument()
    try:
        spans = []
        for op in wl.unit():
            op.reset()
            result, span = wl.tracer.call("op", op.run, op=True)
            op.check(result)
            spans.append(span)
        layers = wl.layer_metrics(spans)
    finally:
        wl.tracer.restore()
    assert destination() == untraced == wl.expected
    assert engine_mod.apply_transforms is original
    assert layers["sources.parquet.upsert_calls"] == len(wl.tables)
    assert layers["transforms.apply_calls"] == len(wl.tables)
    assert layers["governance.limiter_sleep_s"] == 0
    # a full single-shot merge rewrites each table once
    assert layers["sources.parquet.write_amplification"] == pytest.approx(1.0)
    assert 0 <= layers["engine.self_s"] <= max(s.end - s.start for s in spans)
