"""The event-log parser on a fixture log: job-group attribution, the warm-up
filter, spill, fetch wait and the skew of the dominant Spark stage."""

from pathlib import Path

import pytest

from perfbench.eventlog import parse_stage_metrics

LOG_DIR = Path(__file__).parent / "fixtures" / "eventlog"


def test_attributes_tasks_to_pipeline_stages():
    agg = parse_stage_metrics(LOG_DIR)
    assert set(agg) == {"mentions", "pairs"}  # ungrouped job ignored, "cur-" prefix stripped
    m = agg["mentions"]
    assert m["tasks"] == 6
    assert m["task_s"] == pytest.approx(9.0 + 0.1 + 8.0)
    assert m["jvm_cpu_s"] == pytest.approx(9.0 + 0.05 + 4.0)
    assert m["gc_s"] == pytest.approx(0.8)
    assert m["shuffle_write_mb"] == pytest.approx(4.0)
    assert m["input_mb"] == pytest.approx(8.0)


def test_since_filter_drops_earlier_jobs():
    m = parse_stage_metrics(LOG_DIR, since_ms=2_000)["mentions"]
    assert m["tasks"] == 5
    assert m["task_s"] == pytest.approx(8.1)
    assert sorted(m["task_times_s"]) == [0.1, 1.0, 1.0, 2.0, 4.0]


def test_spill_fetch_wait_and_skew():
    agg = parse_stage_metrics(LOG_DIR, since_ms=2_000)
    p = agg["pairs"]
    assert p["spill_mb"] == pytest.approx(3.0)
    assert p["fetch_wait_s"] == pytest.approx(1.5)
    assert p["shuffle_read_mb"] == pytest.approx(5.0)
    assert p["output_mb"] == pytest.approx(1.0)
    assert p["task_skew"] == pytest.approx(1.0)
    # dominant Spark stage of mentions is the 4-task map stage: max 4 s / median 1.5 s
    assert agg["mentions"]["task_skew"] == pytest.approx(4.0 / 1.5)
