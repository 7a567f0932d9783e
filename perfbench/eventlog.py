"""Spark event-log parser: per-layer engine counters for time windows.

The benchmark enables ``spark.eventLog.enabled`` with
``spark.eventLog.compress=false`` for its traced session, so the log is
one JSON event per line.  :func:`summarize` keeps the jobs submitted
inside the given wall-clock windows (epoch milliseconds) and sums the
task metrics of their stages.  Jobs of every thread count, including
the streaming engine's micro-batch jobs.
"""

from __future__ import annotations

import json

#: plan nodes whose rows cross the JVM/Python boundary
_PYTHON_NODE_MARKERS = ("Python", "Pandas", "Arrow")


def read_events(path: str) -> list[dict]:
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _python_row_accumulators(plan: dict, out: set[int]) -> None:
    name = plan.get("nodeName", "")
    if any(m in name for m in _PYTHON_NODE_MARKERS):
        for metric in plan.get("metrics", []):
            if metric.get("name") == "number of output rows":
                out.add(metric["accumulatorId"])
    for child in plan.get("children", []):
        _python_row_accumulators(child, out)


def summarize(
    events: list[dict], windows: list[tuple[float, float]], cores: int
) -> tuple[dict[str, float], dict[str, int]]:
    """Engine counters for the jobs submitted inside ``windows``, and
    those jobs counted by job-group prefix (the text before ``|``).

    Counts are totals over all windows; ``spark.core_idle_frac`` is
    1 - executor run time / (cores x summed window time).
    """

    def inside(ms: float) -> bool:
        return any(lo <= ms <= hi for lo, hi in windows)

    jobs: set[int] = set()
    group_jobs: dict[str, int] = {}
    stage_job: dict[int, int] = {}
    python_accs: set[int] = set()
    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart" and inside(ev.get("Submission Time", -1)):
            jobs.add(ev["Job ID"])
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = ev["Job ID"]
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group:
                prefix = group.split("|", 1)[0]
                group_jobs[prefix] = group_jobs.get(prefix, 0) + 1
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            _python_row_accumulators(ev.get("sparkPlanInfo", {}), python_accs)

    out = {
        "spark.jobs": float(len(jobs)),
        "spark.stages": 0.0,
        "spark.tasks": 0.0,
        "spark.task_failures": 0.0,
        "spark.executor_run_s": 0.0,
        "spark.executor_cpu_s": 0.0,
        "spark.gc_s": 0.0,
        "spark.peak_exec_mem_bytes": 0.0,
        "spark.shuffle_read_bytes": 0.0,
        "spark.shuffle_write_bytes": 0.0,
        "spark.spill_bytes": 0.0,
        "spark.python_rows": 0.0,
        "spark.output_bytes": 0.0,
    }
    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerStageCompleted":
            if ev["Stage Info"]["Stage ID"] in stage_job:
                out["spark.stages"] += 1
        elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stage_job:
            out["spark.tasks"] += 1
            if ev.get("Task End Reason", {}).get("Reason") != "Success":
                out["spark.task_failures"] += 1
            m = ev.get("Task Metrics") or {}
            out["spark.executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            out["spark.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            out["spark.gc_s"] += m.get("JVM GC Time", 0) / 1e3
            out["spark.peak_exec_mem_bytes"] = max(
                out["spark.peak_exec_mem_bytes"], float(m.get("Peak Execution Memory", 0))
            )
            sr = m.get("Shuffle Read Metrics") or {}
            out["spark.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            out["spark.shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            out["spark.spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            out["spark.output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("ID") in python_accs:
                    out["spark.python_rows"] += float(acc.get("Update", 0))
    wall_s = sum(hi - lo for lo, hi in windows) / 1e3
    busy = out["spark.executor_run_s"] / (cores * wall_s) if wall_s > 0 else 0.0
    out["spark.core_idle_frac"] = 1.0 - busy
    return out, group_jobs
