"""Reduce a Spark event log (uncompressed JSON lines) to per-call counters.

Each benchmark call runs under ``sc.setJobGroup(<call tag>)``.  Jobs that
Spark starts on its own threads (a streaming query's micro-batches run
under the query's run id as their group) are attributed to the call whose
wall-clock window holds their submission time, which is exact because the
benchmark runs one call at a time.
"""

from __future__ import annotations

import json
from collections.abc import Iterable

COUNTERS = ("jobs", "stages", "tasks", "task_cpu_s", "task_run_s", "gc_s",
            "shuffle_write_bytes", "shuffle_records")


def reduce_log(lines: Iterable[str],
               windows: list[tuple[str, float, float]]) -> dict[str, dict]:
    """Totals per call tag.  ``windows`` holds ``(tag, start_ms, end_ms)``
    for every call, in epoch milliseconds; events of jobs outside every
    window (session start-up, table loading) are dropped."""
    tags = {w[0] for w in windows}

    def tag_of(props: dict, submitted_ms: float | None) -> str | None:
        group = (props or {}).get("spark.jobGroup.id")
        if group in tags:
            return group
        if submitted_ms is not None:
            for tag, start, end in windows:
                if start <= submitted_ms <= end:
                    return tag
        return None

    totals = {tag: dict.fromkeys(COUNTERS, 0) for tag in tags}
    stage_tag: dict[tuple[int, int], str] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            tag = tag_of(ev.get("Properties"), ev.get("Submission Time"))
            if tag is not None:
                totals[tag]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            tag = tag_of(ev.get("Properties"), info.get("Submission Time"))
            if tag is not None:
                stage_tag[(info["Stage ID"], info["Stage Attempt ID"])] = tag
                totals[tag]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            tag = stage_tag.get((ev["Stage ID"], ev["Stage Attempt ID"]))
            metrics = ev.get("Task Metrics")
            if tag is None or metrics is None:
                continue
            t = totals[tag]
            shuffle = metrics.get("Shuffle Write Metrics", {})
            t["tasks"] += 1
            t["task_cpu_s"] += metrics.get("Executor CPU Time", 0) / 1e9
            t["task_run_s"] += metrics.get("Executor Run Time", 0) / 1e3
            t["gc_s"] += metrics.get("JVM GC Time", 0) / 1e3
            t["shuffle_write_bytes"] += shuffle.get("Shuffle Bytes Written", 0)
            t["shuffle_records"] += shuffle.get("Shuffle Records Written", 0)
    return totals
