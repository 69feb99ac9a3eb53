"""Fold Spark's own event log into per-call layer metrics.

The harness tags every public call with a job group `<layer>#<n>` and keeps
the call's wall-clock span. A job belongs to the group named in its start
properties; a task belongs to the job that first lists its stage. Per layer
this gives job and task counts, executor run/CPU/GC time, shuffle bytes, and
the driver gap: the part of the call's span that no job of its group covers.

Needs an uncompressed, non-rolling log (`spark.eventLog.compress=false`,
`spark.eventLog.rolling.enabled=false`): one JSON object per line.
"""

from __future__ import annotations

import json

FIELDS = (
    "jobs",
    "tasks",
    "driver_gap_s",
    "task_run_s",
    "task_cpu_s",
    "cpu_per_run",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "gc_s",
)


def layer_of(group: str) -> str:
    return group.split("#", 1)[0]


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def fold(lines, spans: list[tuple[str, float, float]]) -> dict[str, dict[str, float]]:
    """lines: the event log's lines; spans: (group, start s, end s) per call.
    Returns {layer: {field: value}} for every layer that has a span."""
    job_group: dict[int, str] = {}
    job_iv: dict[int, list[float]] = {}
    stage_job: dict[int, int] = {}
    per_layer = {layer_of(g): dict.fromkeys(FIELDS, 0.0) for g, _, _ in spans}
    for line in lines:
        e = json.loads(line)
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            jid = e["Job ID"]
            job_group[jid] = group
            job_iv[jid] = [e["Submission Time"] / 1000.0, e["Submission Time"] / 1000.0]
            for sid in e["Stage IDs"]:
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in job_iv:
            job_iv[e["Job ID"]][1] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(e["Stage ID"])
            if jid is None:
                continue
            layer = layer_of(job_group[jid])
            if layer not in per_layer:
                continue
            m = e.get("Task Metrics") or {}
            acc = per_layer[layer]
            acc["tasks"] += 1
            acc["task_run_s"] += m.get("Executor Run Time", 0) / 1000.0
            acc["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            acc["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            rd = m.get("Shuffle Read Metrics") or {}
            acc["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                "Local Bytes Read", 0
            )
            wr = m.get("Shuffle Write Metrics") or {}
            acc["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
    for group, lo, hi in spans:
        acc = per_layer[layer_of(group)]
        ivs = [tuple(job_iv[j]) for j, g in job_group.items() if g == group]
        acc["jobs"] += len(ivs)
        acc["driver_gap_s"] += (hi - lo) - _covered(ivs, lo, hi)
    for acc in per_layer.values():
        acc["cpu_per_run"] = acc["task_cpu_s"] / acc["task_run_s"] if acc["task_run_s"] else 0.0
    return per_layer


def fold_file(path: str, spans: list[tuple[str, float, float]]) -> dict[str, dict[str, float]]:
    with open(path) as f:
        return fold(f, spans)
