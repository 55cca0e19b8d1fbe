"""Stdlib reader for a Spark event log (uncompressed, non-rolling JSON
lines) and the per-layer roll-up of its job and task metrics.

Jobs are attributed to layers by time: a job belongs to the layer whose
interval holds the midpoint of its submission and completion times. The
crawl runs one job at a time from one driver thread, so every job falls
inside the stage interval that launched it. Each job's
`spark.job.description` ("wave=W layer=L", set by the trace wrappers) is
kept beside it, so the roll-up can also count the jobs whose tag names
another layer than their interval (see README.md for which ones).
"""

from __future__ import annotations

import bisect
import json
import statistics
from dataclasses import dataclass, field

_KEEP = ("SparkListenerJobStart", "SparkListenerJobEnd", "SparkListenerTaskEnd")
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


@dataclass
class Job:
    job_id: int
    submit_ms: int
    stage_ids: list[int]
    description: str
    end_ms: int = 0


@dataclass
class StageTasks:
    run_ms: list[int] = field(default_factory=list)
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    py_bytes: int = 0


def read(path: str) -> tuple[dict[int, Job], dict[int, StageTasks]]:
    """Parse the job and task events of one event-log file."""
    jobs: dict[int, Job] = {}
    stages: dict[int, StageTasks] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            head = line[:64]
            if not any(k in head for k in _KEEP):
                continue                   # SQL plan updates are most bytes
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = Job(
                    ev["Job ID"], ev["Submission Time"], ev["Stage IDs"],
                    props.get("spark.job.description") or "")
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
            else:
                _add_task(stages.setdefault(ev["Stage ID"], StageTasks()), ev)
    return jobs, stages


def _add_task(st: StageTasks, ev: dict) -> None:
    tm = ev.get("Task Metrics") or {}
    st.run_ms.append(int(tm.get("Executor Run Time", 0)))
    st.cpu_ns += int(tm.get("Executor CPU Time", 0))
    st.gc_ms += int(tm.get("JVM GC Time", 0))
    st.shuffle_bytes += int(
        (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0))
    st.spill_bytes += int(tm.get("Disk Bytes Spilled", 0))
    for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
        if acc.get("Name") in (_PY_SENT, _PY_RECV):
            st.py_bytes += int(acc.get("Update") or 0)


def rollup(jobs: dict[int, Job], stages: dict[int, StageTasks],
           intervals: list[tuple[float, float, str]],
           windows: list[tuple[float, float]], rest: str = "driver") -> dict:
    """Per-layer event-log fields.

    `intervals` are (start_s, end_s, layer) in epoch seconds, not
    overlapping; `windows` are the (start_s, end_s) spans of the traced
    crawl. A job inside a window but in no interval goes to `rest`; jobs
    outside every window (set-up, the untraced crawl) are ignored.
    Returns {layer: {exec_cpu_s, gc_s, shuffle_bytes, spill_bytes,
    py_bytes, jobs, tasks, task_skew, tag_mismatch_jobs}}.
    """
    ivs = sorted(intervals)
    starts = [iv[0] for iv in ivs]
    owner: dict[int, int] = {}            # stage -> first job that lists it
    for jid in sorted(jobs):
        for sid in jobs[jid].stage_ids:
            owner.setdefault(sid, jid)
    job_layer: dict[int, str] = {}
    out: dict[str, dict] = {}
    for jid, job in jobs.items():
        mid = (job.submit_ms + (job.end_ms or job.submit_ms)) / 2000.0
        if not any(a <= mid <= b for a, b in windows):
            continue
        i = bisect.bisect_right(starts, mid) - 1
        layer = ivs[i][2] if i >= 0 and mid <= ivs[i][1] else rest
        job_layer[jid] = layer
        acc = out.setdefault(layer, _empty())
        acc["jobs"] += 1
        tag = _tag_layer(job.description)
        if tag != layer:
            acc["tag_mismatch_jobs"] += 1
    heaviest: dict[str, tuple[int, float]] = {}
    for sid, st in stages.items():
        layer = job_layer.get(owner.get(sid, -1))
        if layer is None:
            continue
        acc = out[layer]
        acc["exec_cpu_s"] += st.cpu_ns / 1e9
        acc["gc_s"] += st.gc_ms / 1e3
        acc["shuffle_bytes"] += st.shuffle_bytes
        acc["spill_bytes"] += st.spill_bytes
        acc["py_bytes"] += st.py_bytes
        acc["tasks"] += len(st.run_ms)
        # skew of the layer's dominant multi-task stage (max / median task)
        total = sum(st.run_ms)
        if len(st.run_ms) > 1 and total > heaviest.get(layer, (-1, 0.0))[0]:
            heaviest[layer] = (total, max(st.run_ms) / max(statistics.median(st.run_ms), 1.0))
    for layer, (_, skew) in heaviest.items():
        out[layer]["task_skew"] = skew
    return out


def _empty() -> dict:
    return {"exec_cpu_s": 0.0, "gc_s": 0.0, "shuffle_bytes": 0,
            "spill_bytes": 0, "py_bytes": 0, "jobs": 0, "tasks": 0,
            "task_skew": 0.0, "tag_mismatch_jobs": 0}


def _tag_layer(description: str) -> str:
    for part in description.split():
        if part.startswith("layer="):
            return part[len("layer="):]
    return ""

