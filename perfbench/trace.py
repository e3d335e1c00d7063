"""Reducers shared by every workload: spans, percentiles, Spark's event log.

Nothing here imports Spark, so the reducers are unit-tested on canned
inputs (``perfbench/tests``).
"""

from __future__ import annotations

import itertools
import json
import math
import os
import threading
import time
from dataclasses import dataclass, field


def percentile(values: list[float], q: float) -> float:
    """The ``q``-quantile (0 ≤ q ≤ 1) by linear interpolation between
    closest ranks (numpy's default rule). Raises on an empty sample."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


@dataclass
class Summary:
    """A timing sample reduced to its median and a tail quantile, with
    the count the quantiles rest on and how many samples lie beyond the
    tail quantile (the guide's "at least ten beyond it" test)."""

    n: int
    p50: float
    tail_q: float
    tail: float
    beyond_tail: int

    @classmethod
    def of(cls, values: list[float], tail_q: float) -> "Summary":
        tail = percentile(values, tail_q)
        return cls(
            n=len(values),
            p50=percentile(values, 0.5),
            tail_q=tail_q,
            tail=tail,
            beyond_tail=sum(1 for v in values if v > tail),
        )


@dataclass
class Span:
    span_id: int
    parent: int | None
    name: str
    start: float
    end: float
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder for the driver process.

    A disabled tracer records nothing, so untraced runs pay only the
    ``with`` statement. Spans nest per thread; worker processes write
    their own span files (see :mod:`perfbench.probes`) and
    :meth:`dump` merges nothing — the reader joins them by name."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, label: str, **attrs):
        """Context manager timing one span named ``label``."""
        return _SpanCtx(self, label, attrs)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.t = tracer
        self.name = name
        self.attrs = attrs
        self.span_id = None

    def __enter__(self):
        if self.t.enabled:
            st = self.t._stack()
            self.parent = st[-1] if st else None
            self.span_id = next(self.t._ids)
            st.append(self.span_id)
        self.start = time.time()
        return self

    def __exit__(self, *exc):
        end = time.time()
        if self.t.enabled:
            self.t._stack().pop()
            with self.t._lock:
                self.t.spans.append(
                    Span(self.span_id, self.parent, self.name, self.start,
                         end, self.attrs)
                )
        return False


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time of each span: its duration minus the part of its
    interval that its children cover (overlapping children are merged,
    and children are clipped to the parent's interval)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(kids.get(s.span_id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.span_id] = s.duration - covered
    return out


def self_time_by_name(spans: list[Span]) -> dict[str, float]:
    """Total self time per span name."""
    own = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + own[s.span_id]
    return out


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


@dataclass
class GroupStats:
    """Spark work attributed to one job group (a query, or a trigger)."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


def _task_metric(metrics: dict, *path: str) -> int:
    cur = metrics
    for p in path:
        if not isinstance(cur, dict):
            return 0
        cur = cur.get(p)
    return int(cur or 0)


def by_job_group(job_start: dict) -> str | None:
    """Attribute a job to its ``spark.jobGroup.id`` property."""
    return (job_start.get("Properties") or {}).get("spark.jobGroup.id")


def reduce_event_log(lines, group_of=by_job_group) -> dict[str, GroupStats]:
    """Reduce an uncompressed Spark event log (JSON lines) to one
    :class:`GroupStats` per group, where ``group_of(job_start_event)``
    names a job's group (``None`` skips the job).

    Stages and tasks follow the job that submitted them; a stage shared
    by two jobs counts once, for the first. Lines that are not JSON (a
    torn tail while Spark still writes) are skipped."""
    stage_group: dict[int, str] = {}
    out: dict[str, GroupStats] = {}
    for line in lines:
        try:
            ev = json.loads(line)
        except ValueError:
            continue
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = group_of(ev)
            if group is None:
                continue
            g = out.setdefault(group, GroupStats())
            g.jobs += 1
            for sid in ev.get("Stage IDs") or []:
                if sid not in stage_group:
                    stage_group[sid] = group
        elif kind == "SparkListenerStageCompleted":
            info = ev.get("Stage Info") or {}
            group = stage_group.get(info.get("Stage ID"))
            if group is not None and info.get("Submission Time") is not None:
                out[group].stages += 1
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            if group is None:
                continue
            g = out[group]
            m = ev.get("Task Metrics") or {}
            g.tasks += 1
            g.executor_run_ms += _task_metric(m, "Executor Run Time")
            sr = m.get("Shuffle Read Metrics") or {}
            g.shuffle_read_bytes += _task_metric(
                sr, "Remote Bytes Read"
            ) + _task_metric(sr, "Local Bytes Read")
            g.shuffle_write_bytes += _task_metric(
                m, "Shuffle Write Metrics", "Shuffle Bytes Written"
            )
            g.spill_bytes += _task_metric(m, "Disk Bytes Spilled")
    return out


def read_event_logs(log_dir: str) -> list[str]:
    """All lines of every event log file under ``log_dir``."""
    lines: list[str] = []
    if not os.path.isdir(log_dir):
        return lines
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if os.path.isfile(path):
            with open(path, encoding="utf-8") as f:
                lines.extend(f)
    return lines
