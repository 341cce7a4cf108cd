"""Per-layer tracing recorded from the benchmark's own files.

Nothing inside the engine is instrumented. :class:`Tracer` keeps spans in
memory; :meth:`Tracer.wrapping` swaps public callables of the engine's
modules for timing wrappers for the duration of one traced round and puts the
originals back afterwards. Job, shuffle and task figures come from Spark's
event log, read after the session has stopped.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. A span's parent is the span open when it
    started, so self time is its duration minus that of its direct
    children."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        s = Span(name, time.perf_counter(), self._open[-1] if self._open else None)
        self.spans.append(s)
        self._open.append(sid)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._open.pop()

    def self_seconds(self, sid: int) -> float:
        kids = sum(s.seconds for s in self.spans if s.parent == sid)
        return self.spans[sid].seconds - kids

    def descendants(self, sid: int) -> list[Span]:
        out, frontier = [], {sid}
        for i, s in enumerate(self.spans):
            if i > sid and s.parent in frontier:
                out.append(s)
                frontier.add(i)
        return out

    @contextmanager
    def wrapping(self, targets):
        """Replace each ``(owner, attr, span_name_fn, after_fn)`` target's
        callable by a wrapper that runs it inside a span named
        ``span_name_fn(*args, **kwargs)``; ``after_fn(span, result, *args,
        **kwargs)``, if given, runs after the span closes to attach counts."""
        saved = []
        for owner, attr, name_fn, after_fn in targets:
            orig = getattr(owner, attr)
            saved.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(orig, name_fn, after_fn))
        try:
            yield
        finally:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)

    def _wrap(self, orig, name_fn, after_fn):
        def wrapper(*args, **kwargs):
            with self.span(name_fn(*args, **kwargs)) as s:
                result = orig(*args, **kwargs)
            if after_fn is not None:
                after_fn(s, result, *args, **kwargs)
            return result

        return wrapper


def dir_bytes_files(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; data files exclude checksums and
    commit markers."""
    total, files = 0, 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            if n.startswith("part-") and not n.endswith(".crc"):
                files += 1
    return total, files


# -- Spark event log ---------------------------------------------------------


def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def job_group_stats(events: list[dict], windows: dict[str, tuple[float, float]]) -> dict[str, dict]:
    """Per job group (one per round): job count, share of the round's wall
    time with no job running, shuffle bytes written, and the task skew
    (max / median task time) of the round's largest stage by summed task
    time. ``windows`` maps group → (start, end) in epoch seconds."""
    job_group, job_span, stage_job = {}, {}, {}
    stage_tasks: dict[int, list[int]] = {}
    stage_shuffle: dict[int, int] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            jid = e["Job ID"]
            job_group[jid] = (e.get("Properties") or {}).get("spark.jobGroup.id")
            job_span[jid] = [e["Submission Time"], None]
            for sid in e.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in job_span:
                job_span[e["Job ID"]][1] = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            info = e.get("Task Info") or {}
            stage_tasks.setdefault(sid, []).append(
                max(int(info.get("Finish Time", 0)) - int(info.get("Launch Time", 0)), 0)
            )
            sw = ((e.get("Task Metrics") or {}).get("Shuffle Write Metrics") or {})
            stage_shuffle[sid] = stage_shuffle.get(sid, 0) + int(sw.get("Shuffle Bytes Written", 0))
    out = {}
    for group, (t0, t1) in windows.items():
        jobs = [j for j, g in job_group.items() if g == group]
        lo, hi = t0 * 1000.0, t1 * 1000.0
        ivals = sorted(
            (max(job_span[j][0], lo), min(job_span[j][1] or hi, hi)) for j in jobs
        )
        busy, cur_s, cur_e = 0.0, None, None
        for s, e in ivals:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    busy += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            busy += cur_e - cur_s
        stages = [s for s, j in stage_job.items() if j in set(jobs) and s in stage_tasks]
        skew = 1.0
        if stages:
            big = max(stages, key=lambda s: sum(stage_tasks[s]))
            tt = stage_tasks[big]
            skew = max(tt) / max(statistics.median(tt), 1.0)
        out[group] = {
            "jobs": len(jobs),
            "driver_gap_share": 1.0 - busy / max(hi - lo, 1e-9),
            "shuffle_write_bytes": sum(stage_shuffle.get(s, 0) for s in stages),
            "task_skew": skew,
        }
    return out
