import os

from perfbench import eventlog

LOG = os.path.join(os.path.dirname(__file__), "data", "small_eventlog.jsonl")


def _parse():
    with open(LOG) as f:
        return eventlog.parse(f)


def test_totals_per_job_group():
    groups = _parse()
    assert set(groups) == {"q_a", "5f0c-run-id", None}
    a = groups["q_a"]
    assert (a.jobs, a.stages, a.tasks) == (1, 2, 3)
    assert a.task_run_ms == 210
    assert a.task_cpu_ms == 120.0  # nanoseconds in the log
    assert a.gc_ms == 5
    assert a.shuffle_read_bytes == 200  # remote plus local
    assert a.shuffle_fetch_wait_ms == 7
    assert a.shuffle_write_bytes == 200
    assert a.spill_bytes == 64  # bytes spilled to disk
    assert a.input_bytes == 1500


def test_stage_attempts_and_ungrouped_stages():
    groups = _parse()
    stream = groups["5f0c-run-id"]
    assert (stream.jobs, stream.stages, stream.tasks) == (1, 2, 2)
    other = groups[None]
    # the metric-less task still counts as a task
    assert (other.jobs, other.stages, other.tasks, other.task_run_ms) == (1, 1, 2, 10)


def test_metrics_and_add():
    groups = _parse()
    total = eventlog.Totals()
    total.add(groups["q_a"])
    total.add(groups["5f0c-run-id"])
    m = total.metrics()
    assert m["tasks"] == 5
    assert m["cpu_share"] == (120.0 + 25.0) / (210 + 50)
    assert eventlog.Totals().metrics()["cpu_share"] == 0.0
