"""Per-span execution metrics from a Spark event log (stdlib json only).

The benchmark wraps every timed call in ``SparkContext.setJobGroup(span)``,
so each job's ``spark.jobGroup.id`` property names the span that caused it;
stages map to jobs through ``Stage IDs`` and tasks map to stages through
``Stage ID``. Jobs submitted from threads the program starts itself carry no
group (PySpark's pinned-thread mode does not pass local properties on to
plain threads); they go to the span whose wall-clock interval holds their
submission time, which is exact because the calls run one at a time.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict

ARROW_TO_PYTHON = "data sent to Python workers"
ARROW_FROM_PYTHON = "data returned from Python workers"


def new_span() -> dict:
    """The aggregate of a group with no recorded jobs."""
    return {"jobs": 0, "stages": 0, "tasks": 0, "task_s": 0.0, "cpu_s": 0.0,
            "gc_s": 0.0, "shuffle_write_b": 0, "shuffle_read_b": 0,
            "arrow_to_python_b": 0, "arrow_from_python_b": 0,
            "intervals": [], "straggler": 1.0}


def parse(lines, calls=()) -> dict[str, dict]:
    """Aggregate an event log (iterable of JSON lines) by job group.

    ``calls`` are the spans' ``{"name", "start_ms", "end_ms"}`` records;
    a job without a group is counted in the span whose interval holds its
    ``Submission Time``, and dropped if there is none.

    Returns ``{group: {...}}`` with job/stage/task counts, summed executor
    run, CPU and GC seconds, shuffle bytes, Arrow bytes to and from Python
    workers, stage ``intervals`` as (submit_ms, complete_ms), and
    ``straggler``: the largest max/median task run time over the group's
    stages with at least two tasks."""
    stage_group: dict[int, str] = {}
    task_times: dict[int, list[float]] = defaultdict(list)
    spans: dict[str, dict] = defaultdict(new_span)
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                group = _span_at(calls, ev.get("Submission Time"))
            if group is None:
                continue
            spans[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            m = ev.get("Task Metrics")
            if group is None or not m:
                continue
            s = spans[group]
            s["tasks"] += 1
            s["task_s"] += m.get("Executor Run Time", 0) / 1e3
            s["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            s["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            rd = m.get("Shuffle Read Metrics", {})
            s["shuffle_read_b"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            s["shuffle_write_b"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            task_times[ev["Stage ID"]].append(m.get("Executor Run Time", 0))
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            group = stage_group.get(info["Stage ID"])
            if group is None:
                continue
            s = spans[group]
            s["stages"] += 1
            if "Submission Time" in info and "Completion Time" in info:
                s["intervals"].append((info["Submission Time"], info["Completion Time"]))
            for acc in info.get("Accumulables", []):
                name = acc.get("Name")
                if name == ARROW_TO_PYTHON:
                    s["arrow_to_python_b"] += int(acc.get("Value", 0))
                elif name == ARROW_FROM_PYTHON:
                    s["arrow_from_python_b"] += int(acc.get("Value", 0))
            times = task_times.pop(info["Stage ID"], [])
            if len(times) >= 2 and statistics.median(times) > 0:
                s["straggler"] = max(s["straggler"], max(times) / statistics.median(times))
    return dict(spans)


def _span_at(calls, t_ms) -> str | None:
    if t_ms is None:
        return None
    for s in calls:
        if s["start_ms"] <= t_ms <= s["end_ms"]:
            return s["name"]
    return None


def covered_s(intervals, start_ms: float, end_ms: float) -> float:
    """Seconds of [start_ms, end_ms] covered by at least one interval."""
    clipped = sorted((max(a, start_ms), min(b, end_ms)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total / 1e3
