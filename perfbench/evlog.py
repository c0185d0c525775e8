"""Spark event log -> per-span counters.

The benchmark never instruments the program.  Each public call it
makes is wrapped in a span whose id is set as the Spark job group of
the calling thread (``Tracer.span``), so every job Spark runs for that
call carries the span id in its properties.  Structured Streaming runs
micro-batch jobs under the query's ``runId`` as job group, so a span
may own extra group ids (``Span.groups``).

After the session stops, :func:`load` reads the uncompressed,
non-rolling event log and :func:`attribute` folds its tasks into
per-span counters:

* ``wall_s``        span end - span start
* ``task_s``        summed executorRunTime of the span's tasks
* ``driver_gap_s``  span wall minus the union of the intervals in which
                    any of the span's tasks ran (driver-side planning,
                    scheduling and Python time between jobs)
* ``shuffle_mb``    shuffle bytes written by the span's tasks
* ``n_stages``      stages that ran at least one task for the span
* ``n_jobs``        jobs submitted under the span's groups

A stage belongs to the lowest-numbered job that lists it: later jobs
that reuse a stage list it but skip it, so its tasks ran for the first.
"""

from __future__ import annotations

import json
import math
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"
_MB = 1024.0 * 1024.0
# the five core counters every span reports, with their units
CORE = {"wall_s": "s", "task_s": "s", "driver_gap_s": "s",
        "shuffle_mb": "MB", "n_stages": "count"}


@dataclass
class Span:
    name: str
    span_id: str
    start: float  # epoch seconds
    end: float = 0.0
    parent: str | None = None
    run_id: str = ""
    groups: list[str] = field(default_factory=list)


@dataclass
class Task:
    stage_id: int
    launch_ms: int
    finish_ms: int
    run_ms: int
    shuffle_write: int
    disk_spill: int
    failed: bool


@dataclass
class EventLog:
    job_group: dict[int, str | None]  # job id -> group id
    stage_job: dict[int, int]  # stage id -> owning job id
    tasks: list[Task]


def load(path: str) -> EventLog:
    job_group: dict[int, str | None] = {}
    stage_job: dict[int, int] = {}
    tasks: list[Task] = []
    with open(path) as f:
        for line in f:
            # cheap prefilter: most lines are SQL/accumulator updates
            if '"SparkListenerJobStart"' not in line \
                    and '"SparkListenerTaskEnd"' not in line:
                continue
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                job_group[jid] = (ev.get("Properties") or {}).get(GROUP_KEY)
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = min(stage_job.get(sid, jid), jid)
            elif kind == "SparkListenerTaskEnd":
                info = ev["Task Info"]
                m = ev.get("Task Metrics") or {}
                tasks.append(Task(
                    stage_id=ev["Stage ID"],
                    launch_ms=info["Launch Time"],
                    finish_ms=info["Finish Time"],
                    run_ms=m.get("Executor Run Time", 0),
                    shuffle_write=(m.get("Shuffle Write Metrics") or {})
                    .get("Shuffle Bytes Written", 0),
                    disk_spill=m.get("Disk Bytes Spilled", 0),
                    failed=bool(info.get("Failed")) or bool(info.get("Killed")),
                ))
    return EventLog(job_group, stage_job, tasks)


def union_length(intervals: list[tuple[float, float]],
                 lo: float, hi: float) -> float:
    """Total length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
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
    return total


def percentile(values: list[float], q: float, min_tail: int = 0) -> float:
    """Nearest-rank percentile (q in (0, 1]).  ``min_tail`` is the number
    of samples that must lie beyond the reported rank; fewer raises."""
    if not values:
        raise ValueError("percentile of no samples")
    v = sorted(values)
    rank = max(1, math.ceil(q * len(v)))
    if len(v) - rank < min_tail:
        raise ValueError(
            f"p{q * 100:g} of {len(v)} samples leaves {len(v) - rank} "
            f"beyond it; {min_tail} required")
    return v[rank - 1]


def attribute(log: EventLog, spans: list[Span]) -> dict[str, dict]:
    """span_id -> counters (see module docstring), plus per-span task
    run times (``task_ms``) for distribution metrics."""
    owner: dict[str, str] = {}
    for s in spans:
        owner[s.span_id] = s.span_id
        for g in s.groups:
            owner[g] = s.span_id
    out = {
        s.span_id: {"wall_s": max(0.0, s.end - s.start), "task_s": 0.0,
                    "shuffle_mb": 0.0, "stages": set(), "n_jobs": 0,
                    "intervals": [], "task_ms": []}
        for s in spans
    }
    for jid, group in log.job_group.items():
        sid = owner.get(group)
        if sid is not None:
            out[sid]["n_jobs"] += 1
    for t in log.tasks:
        jid = log.stage_job.get(t.stage_id)
        sid = owner.get(log.job_group.get(jid)) if jid is not None else None
        if sid is None:
            continue
        c = out[sid]
        c["task_s"] += t.run_ms / 1000.0
        c["shuffle_mb"] += t.shuffle_write / _MB
        c["stages"].add(t.stage_id)
        c["intervals"].append((t.launch_ms / 1000.0, t.finish_ms / 1000.0))
        c["task_ms"].append(t.run_ms)
    by_id = {s.span_id: s for s in spans}
    for sid, c in out.items():
        s = by_id[sid]
        busy = union_length(c.pop("intervals"), s.start, s.end)
        c["driver_gap_s"] = max(0.0, c["wall_s"] - busy)
        c["n_stages"] = len(c.pop("stages"))
    return out


def totals(log: EventLog) -> dict[str, float]:
    """Run-wide counters over every task in the log."""
    return {
        "failed_tasks": sum(int(t.failed) for t in log.tasks),
        "spill_mb": sum(t.disk_spill for t in log.tasks) / _MB,
    }
