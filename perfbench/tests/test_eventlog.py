"""The event-log parser against a small recorded log.

``data/mapinpandas_agg.eventlog`` is a trimmed, uncompressed Spark 4
event log of one job on ``local[2]``: ``spark.range(1000)`` over two
partitions through a ``mapInPandas`` kernel into a grouped sum with a
shuffle, submitted under job group ``exec|demo``.
"""

from __future__ import annotations

import os

import pytest

from perfbench import eventlog

LOG = os.path.join(os.path.dirname(__file__), "data", "mapinpandas_agg.eventlog")


@pytest.fixture(scope="module")
def events():
    return eventlog.read_events(LOG)


def _job_submitted(events) -> float:
    (ms,) = [e["Submission Time"] for e in events if e["Event"] == "SparkListenerJobStart"]
    return ms


def test_counts_the_job_inside_the_window(events):
    at = _job_submitted(events)
    m, groups = eventlog.summarize(events, [(at - 1, at + 1)], cores=2)
    assert (m["spark.jobs"], m["spark.stages"], m["spark.tasks"]) == (1, 2, 4)
    assert m["spark.task_failures"] == 0
    assert groups == {"exec": 1}


def test_python_rows_are_the_kernel_output_rows(events):
    at = _job_submitted(events)
    m, _ = eventlog.summarize(events, [(at, at)], cores=2)
    # every one of the 1000 input rows leaves the mapInPandas kernel once
    assert m["spark.python_rows"] == 1000


def test_task_metrics_are_summed(events):
    at = _job_submitted(events)
    m, _ = eventlog.summarize(events, [(at, at)], cores=2)
    assert m["spark.shuffle_write_bytes"] > 0
    assert m["spark.shuffle_read_bytes"] == m["spark.shuffle_write_bytes"]
    assert 0 < m["spark.executor_cpu_s"] <= m["spark.executor_run_s"]
    assert m["spark.peak_exec_mem_bytes"] > 0
    assert m["spark.output_bytes"] == 0 and m["spark.spill_bytes"] == 0


def test_jobs_outside_every_window_are_ignored(events):
    at = _job_submitted(events)
    m, groups = eventlog.summarize(events, [(at - 10_000, at - 1), (at + 1, at + 10_000)], cores=2)
    assert m["spark.jobs"] == m["spark.tasks"] == m["spark.python_rows"] == 0
    assert groups == {}
    assert m["spark.core_idle_frac"] == 1.0


def test_idle_fraction_uses_cores_and_window_length(events):
    at = _job_submitted(events)
    m, _ = eventlog.summarize(events, [(at, at + 10_000)], cores=2)
    expected = 1 - m["spark.executor_run_s"] / (2 * 10.0)
    assert m["spark.core_idle_frac"] == pytest.approx(expected)
