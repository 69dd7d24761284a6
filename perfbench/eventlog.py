"""Fold a Spark event log into per-span layer metrics.

The traced run writes Spark's event log uncompressed. Each job is
attributed to the innermost span whose [start, end] interval contains
the job's submission time: job groups alone are not enough, because
jobs submitted from a library's own thread pool do not inherit the
caller's group. Tasks follow their stage's job.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from dataclasses import dataclass, field

_PY = {
    "time to start Python workers": "py_boot_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "py_bytes_in",
    "data returned from Python workers": "py_bytes_out",
}


@dataclass
class Fold:
    """Sums over the jobs attributed to one span (or a set of spans)."""

    jobs: int = 0
    tasks: int = 0
    python_tasks: int = 0  # tasks of stages that ran Python workers
    job_union_ms: float = 0.0  # union of job intervals, clipped to the span
    cpu_s: float = 0.0  # executor (JVM task thread) CPU
    run_ms: float = 0.0
    gc_ms: float = 0.0
    sched_delay_ms: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    py: dict = field(default_factory=lambda: dict.fromkeys(_PY.values(), 0))

    def add(self, other: "Fold") -> None:
        for k, v in vars(other).items():
            if k == "py":
                for pk, pv in v.items():
                    self.py[pk] += pv
            else:
                setattr(self, k, getattr(self, k) + v)


def read_apps(path: str) -> list[list[dict]]:
    """Events of each application logged under ``path``: one list per
    plain log file or per rolling ``eventlog_v2_*`` directory (whose
    ``events_<n>_*`` parts are concatenated in order). Job and stage ids
    restart with every application, so apps are folded separately."""
    apps = []
    for name in sorted(os.listdir(path)):
        p = os.path.join(path, name)
        if name.startswith((".", "appstatus")):
            continue
        if os.path.isdir(p):
            parts = [n for n in os.listdir(p) if n.startswith("events_")]
            parts.sort(key=lambda n: int(n.split("_")[1]))
            files = [os.path.join(p, n) for n in parts]
        else:
            files = [p]
        events = []
        for f in files:
            with open(f) as fh:
                events += [json.loads(line) for line in fh if line.strip()]
        apps.append(events)
    return apps


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def fold_apps(apps: list[list[dict]], spans: list[tuple[float, float]]) -> list[Fold]:
    out = [Fold() for _ in spans]
    for events in apps:
        for total, part in zip(out, fold(events, spans)):
            total.add(part)
    return out


def fold(events: list[dict], spans: list[tuple[float, float]]) -> list[Fold]:
    """One Fold per span, spans given as (start_ms, end_ms) epoch pairs,
    over the events of one application."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: dict[int, list[dict]] = defaultdict(list)  # stage -> task-end events
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            jid = e["Job ID"]
            jobs[jid] = {"submit": e["Submission Time"], "end": e["Submission Time"]}
            for sid in e.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            tasks[e["Stage ID"]].append(e)

    def owner(t_ms: float) -> int | None:
        best = None
        for i, (a, b) in enumerate(spans):
            if a <= t_ms <= b and (best is None or b - a < spans[best][1] - spans[best][0]):
                best = i
        return best

    out = [Fold() for _ in spans]
    job_span = {jid: owner(j["submit"]) for jid, j in jobs.items()}
    per_span_intervals: dict[int, list] = defaultdict(list)
    for jid, i in job_span.items():
        if i is None:
            continue
        out[i].jobs += 1
        a, b = spans[i]
        per_span_intervals[i].append((max(a, jobs[jid]["submit"]), min(b, jobs[jid]["end"])))
    for i, ivs in per_span_intervals.items():
        out[i].job_union_ms = _union_ms(ivs)

    for sid, evs in tasks.items():
        i = job_span.get(stage_job.get(sid, -1))
        if i is None:
            continue
        f = out[i]
        ran_python = False
        for e in evs:
            m = e.get("Task Metrics") or {}
            info = e["Task Info"]
            f.tasks += 1
            run = m.get("Executor Run Time", 0)
            f.run_ms += run
            f.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            f.gc_ms += m.get("JVM GC Time", 0)
            dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
            f.sched_delay_ms += max(
                0,
                dur
                - run
                - m.get("Executor Deserialize Time", 0)
                - m.get("Result Serialization Time", 0)
                - info.get("Getting Result Time", 0),
            )
            rd = m.get("Shuffle Read Metrics") or {}
            f.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            f.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            f.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            for acc in info.get("Accumulables", []):
                key = _PY.get(acc.get("Name"))
                if key is not None:
                    ran_python = True
                    f.py[key] += int(acc.get("Update") or 0)
        if ran_python:
            f.python_tasks += len(evs)
    return out
