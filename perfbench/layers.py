"""Spans and the Spark event-log reducer.

A span is one timed call into a layer, named ``<layer>.<public call>``.  The
benchmark drives the package from a single client thread, so at most one span
is open at any time and every Spark job can be attributed to the span whose
time window contains it.  Attribution is by time on purpose: jobs started on
``io/jobs.run_overlapped`` worker threads carry no job group or other local
property, but they still start and end inside the caller's span.

The reducer reads an uncompressed, non-rolling event log (the benchmark's
session writes one when tracing) and returns, per window, the measures
listed in ``MEASURES``.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time

# the eight measures of a span or window, with their units
MEASURES = {
    "wall_s": "s",
    "jobs": "count",
    "busy_s": "s",
    "idle_s": "s",
    "executor_cpu_s": "s",
    "shuffle_write_bytes": "B",
    "python_bytes": "B",
    "failed_tasks": "count",
}
PYTHON_ACCUMS = ("data sent to Python workers", "data returned from Python workers")


class Spans:
    """Records ``(name, phase, start_ms, end_ms)`` for every span."""

    def __init__(self) -> None:
        self.records: list[tuple[str, str, float, float]] = []
        self.phase = "setup"
        self._open: str | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        if self._open is not None:
            raise RuntimeError(f"span {name!r} opened inside {self._open!r}")
        self._open = name
        start = time.time() * 1000.0
        try:
            yield
        finally:
            self.records.append((name, self.phase, start, time.time() * 1000.0))
            self._open = None


def read_event_log(path: str) -> list[dict]:
    """Events of one application; ``path`` is the log file or the event-log
    directory holding exactly one application's file."""
    if os.path.isdir(path):
        files = sorted(
            os.path.join(path, f) for f in os.listdir(path) if not f.startswith(".")
        )
        if len(files) != 1:
            raise ValueError(f"expected one event log in {path}, found {files}")
        path = files[0]
    with open(path, encoding="utf-8") as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _jobs_and_tasks(events: list[dict]):
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            jid = e["Job ID"]
            jobs[jid] = {"id": jid, "start": e["Submission Time"], "end": None}
            for sid in e.get("Stage IDs", []):
                # a stage reused by a later job is skipped there: its tasks
                # ran for the first job that listed it
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            jobs[e["Job ID"]]["end"] = e["Completion Time"]
    tasks = []
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd":
            continue
        info, metrics = e.get("Task Info", {}), e.get("Task Metrics") or {}
        py = 0
        for acc in info.get("Accumulables", []):
            if acc.get("Name") in PYTHON_ACCUMS:
                py += int(acc.get("Update", 0))
        failed = bool(info.get("Failed")) or (
            e.get("Task End Reason", {}).get("Reason", "Success") != "Success"
        )
        tasks.append(
            {
                "job": stage_job.get(e["Stage ID"]),
                "cpu_ns": int(metrics.get("Executor CPU Time", 0)),
                "shuffle_write": int(
                    (metrics.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                ),
                "python_bytes": py,
                "failed": failed,
            }
        )
    return jobs, tasks


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def attribution_problems(jobs: dict[int, dict], spans, slack_ms: float = 2.0) -> list[str]:
    """Every job must lie entirely inside exactly one span (submission and
    completion inside the window, ``slack_ms`` for clock rounding)."""
    problems = []
    for jid, job in sorted(jobs.items()):
        if job["end"] is None:
            problems.append(f"job {jid} never completed")
            continue
        hits = sum(
            1 for _, _, s, e in spans if s - slack_ms <= job["start"] and job["end"] <= e + slack_ms
        )
        if hits != 1:
            problems.append(f"job {jid} is inside {hits} spans")
    return problems


def measure_windows(events: list[dict], windows) -> list[dict]:
    """The eight ``MEASURES`` for each ``(name, phase, start_ms, end_ms)``
    window; a job belongs to a window when it starts inside it."""
    jobs, tasks = _jobs_and_tasks(events)
    out = []
    for _, _, s, e in windows:
        mine = {j for j, job in jobs.items() if s <= job["start"] <= e and job["end"] is not None}
        busy = _union_ms([(jobs[j]["start"], min(jobs[j]["end"], e)) for j in mine])
        ts = [t for t in tasks if t["job"] in mine]
        wall = (e - s) / 1000.0
        out.append(
            {
                "wall_s": wall,
                "jobs": len(mine),
                "busy_s": busy / 1000.0,
                "idle_s": max(0.0, wall - busy / 1000.0),
                "executor_cpu_s": sum(t["cpu_ns"] for t in ts) / 1e9,
                "shuffle_write_bytes": sum(t["shuffle_write"] for t in ts),
                "python_bytes": sum(t["python_bytes"] for t in ts),
                "failed_tasks": sum(t["failed"] for t in ts),
            }
        )
    return out


def median_by_name(windows, measured: list[dict]) -> dict[str, dict[str, float]]:
    """Per-call medians of every measure, grouped by window name."""
    groups: dict[str, list[dict]] = {}
    for (name, *_), m in zip(windows, measured):
        groups.setdefault(name, []).append(m)
    return {
        name: {k: statistics.median(m[k] for m in ms) for k in MEASURES}
        for name, ms in groups.items()
    }


def reduce_log(path: str, spans) -> dict:
    """Attribute every job of the log to its span and measure each span.

    Returns ``{"jobs": n, "problems": [...], "spans": {name: medians}}``
    where the medians are taken over the span's timed calls when it has
    any, else over its set-up calls."""
    events = read_event_log(path)
    jobs, _ = _jobs_and_tasks(events)
    problems = attribution_problems(jobs, spans)
    measured = measure_windows(events, spans)
    timed = [(w, m) for w, m in zip(spans, measured) if w[1] == "timed"]
    names_timed = {w[0] for w, _ in timed}
    chosen = [
        (w, m) for w, m in zip(spans, measured) if w[1] == "timed" or w[0] not in names_timed
    ]
    return {
        "jobs": len(jobs),
        "problems": problems,
        "spans": median_by_name([w for w, _ in chosen], [m for _, m in chosen]),
        "events": events,
    }
