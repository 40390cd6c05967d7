"""The event-log reader on a small recorded log (two rolling parts)."""

import os

import pytest

from eventlog import log_files, op_profiles, read_events, summarize

LOG_DIR = os.path.join(os.path.dirname(__file__), "data")
# op 0 and op 1 as (start, end) epoch seconds; job 2 (t=1003.0) is in neither
OPS = [(1000.0, 1001.0), (1001.2, 1002.2)]


def test_rolling_parts_are_read_in_index_order(tmp_path):
    roll = tmp_path / "eventlog_v2_app"
    roll.mkdir()
    for n in (10, 2, 1):
        (roll / f"events_{n}_app").write_text("")
    assert [os.path.basename(p) for p in log_files(str(tmp_path))] == [
        "events_1_app",
        "events_2_app",
        "events_10_app",
    ]


def test_compressed_log_is_refused(tmp_path):
    (tmp_path / "local-1.zstd").write_text("")
    with pytest.raises(ValueError):
        log_files(str(tmp_path))


def test_jobs_are_attributed_to_the_op_containing_their_submission():
    p0, p1 = op_profiles(read_events(LOG_DIR), OPS)
    assert (p0["jobs"], p0["stages"], p0["tasks"]) == (1, 2, 3)
    assert (p1["jobs"], p1["stages"], p1["tasks"]) == (1, 1, 1)


def test_driver_time_is_wall_minus_the_union_of_stage_intervals():
    p0, p1 = op_profiles(read_events(LOG_DIR), OPS)
    # op 0's stages overlap: [0.15, 0.50] and [0.40, 0.70] cover 0.55 s
    assert p0["stage_busy_s"] == pytest.approx(0.55)
    assert p0["driver_s"] == pytest.approx(1.0 - 0.55)
    assert p1["stage_busy_s"] == pytest.approx(0.4)
    assert p1["driver_s"] == pytest.approx(0.6)


def test_task_metrics_sum_per_op():
    p0, _ = op_profiles(read_events(LOG_DIR), OPS)
    assert p0["exec_run_s"] == pytest.approx(0.56)
    assert p0["exec_cpu_s"] == pytest.approx(0.5)
    assert p0["gc_s"] == pytest.approx(0.02)
    assert p0["input_bytes"] == 4000
    assert p0["output_bytes"] == 2048
    assert p0["shuffle_write_bytes"] == 1000
    assert p0["shuffle_read_bytes"] == 1000
    assert p0["spill_bytes"] == 64
    # task wall times 100, 300, 200 ms: max / median
    assert p0["task_skew"] == pytest.approx(1.5)


def test_summary_is_per_op_mean_and_median_skew():
    s = summarize(op_profiles(read_events(LOG_DIR), OPS))
    assert s["jobs"] == 1
    assert s["stages"] == 1.5
    assert s["task_skew"] == pytest.approx(1.25)
