"""Spans, Spark job attribution and the statistics the benchmark reports.

A span is (id, name, parent, start, end) held in memory and written out when
the run ends. Each open span tags the Spark jobs its thread launches with the
job group ``spark.jobGroup.id = <span id>``; after the session stops, the
Spark event log is parsed and each job's stage/task metrics are joined to the
span that launched it. Self time is a span's duration minus the part of it
its child spans cover.
"""

from __future__ import annotations

import contextlib
import functools
import json
import math
import os
import statistics
import time
from dataclasses import asdict, dataclass, field

GROUP_KEY = "spark.jobGroup.id"


# ------------------------------------------------------------- statistics
def quantile(values, q: float) -> float:
    """Linear-interpolated quantile (``q`` in [0, 1]) of a non-empty list."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of no samples")
    pos = (len(xs) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def reportable_percentiles(n: int) -> list[int]:
    """Percentiles a sample of ``n`` supports: the median, plus each of p90,
    p99 and p999 that has at least ten samples beyond it."""
    out = [50] if n else []
    for p in (90, 99, 99.9):
        if round(n * (100 - p) / 100, 6) >= 10:
            out.append(p)
    return out


def summarize(values) -> dict:
    """Sample count, median, quartiles and every reportable percentile."""
    xs = list(values)
    out = {"n": len(xs)}
    if not xs:
        return out
    out["q1"] = quantile(xs, 0.25)
    out["q3"] = quantile(xs, 0.75)
    for p in reportable_percentiles(len(xs)):
        out[f"p{p:g}"] = quantile(xs, p / 100)
    return out


# ------------------------------------------------------------------ spans
@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[str, float]:
    """Span id -> duration minus the union of its children's intervals
    (clipped to the span), so overlapping children are not subtracted
    twice."""
    children: dict[str, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        ivs = sorted(
            (max(c.start, s.start), min(c.end, s.end))
            for c in children.get(s.id, [])
        )
        for lo, hi in ivs:
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
        out[s.id] = s.duration - covered
    return out


def descendants(spans: list[Span], root: str) -> set[str]:
    """Ids of ``root`` and every span below it."""
    kids: dict[str, list[str]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s.id)
    out, todo = set(), [root]
    while todo:
        sid = todo.pop()
        out.add(sid)
        todo.extend(kids.get(sid, []))
    return out


class Tracer:
    """Records spans and tags Spark jobs with the innermost open span.

    A disabled tracer records nothing and touches no Spark property, so the
    timed runs pay no tracing cost. Spans of one run share one stack: the
    benchmark is one closed-loop client, and a streaming ``foreachBatch``
    callback runs while the thread that started the stream is blocked."""

    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = f"pb{len(self.spans)}"
        parent = self._stack[-1].id if self._stack else None
        prev_group = self.sc.getLocalProperty(GROUP_KEY)
        self.sc.setLocalProperty(GROUP_KEY, sid)
        s = Span(sid, name, parent, time.perf_counter(), attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(GROUP_KEY, prev_group)

    @contextlib.contextmanager
    def paused(self):
        """Record nothing inside the block (set-up work of a traced pass)."""
        enabled, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = enabled

    @contextlib.contextmanager
    def instrument(self, targets: list[tuple[object, str, str]], after=None):
        """Wrap ``owner.attr`` in a span called ``name`` for each
        ``(owner, attr, name)`` while the block runs; a returned dict is kept
        on the span as ``result``, and ``after(name, args, result, span)``
        runs inside the span once the call returns. Restores the originals
        on exit."""
        saved = []
        if self.enabled:
            for owner, attr, name in targets:
                orig = getattr(owner, attr)
                saved.append((owner, attr, orig))
                setattr(owner, attr, self._wrapped(orig, name, after))
        try:
            yield
        finally:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)

    def _wrapped(self, fn, name, after):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as s:
                out = fn(*args, **kwargs)
                if s is not None:
                    if isinstance(out, dict):
                        s.attrs["result"] = out
                    if after is not None:
                        after(name, args, out, s)
                return out

        return wrapper

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f, default=str)


# -------------------------------------------------------------- event log
@dataclass
class GroupStats:
    """Spark work launched under one job group."""

    jobs: int = 0
    tasks: int = 0
    gc_s: float = 0.0
    spill_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    output_bytes: int = 0
    output_records: int = 0
    input_records: int = 0
    # stage id -> (shuffle read bytes, [task executor run ms])
    stages: dict = field(default_factory=dict)

    def add(self, other: "GroupStats") -> None:
        for k in ("jobs", "tasks", "gc_s", "spill_bytes", "shuffle_write_bytes",
                  "shuffle_read_bytes", "output_bytes", "output_records",
                  "input_records"):
            setattr(self, k, getattr(self, k) + getattr(other, k))
        self.stages.update(other.stages)


def parse_event_log(path: str) -> dict[str, GroupStats]:
    """Job group -> Spark work, from one uncompressed JSON-lines event log.

    A stage is charged to the first job that lists it (a later job that
    reuses its shuffle output skips it and runs no tasks for it)."""
    groups: dict[str, GroupStats] = {}
    stage_group: dict[int, str] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                gid = (ev.get("Properties") or {}).get(GROUP_KEY) or ""
                groups.setdefault(gid, GroupStats()).jobs += 1
                for st in ev.get("Stage IDs", []):
                    stage_group.setdefault(st, gid)
            elif kind == "SparkListenerTaskEnd":
                gid = stage_group.get(ev["Stage ID"])
                if gid is None:
                    continue
                g = groups[gid]
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                read = sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                g.tasks += 1
                g.gc_s += m.get("JVM GC Time", 0) / 1000.0
                g.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                g.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                g.shuffle_read_bytes += read
                out = m.get("Output Metrics") or {}
                g.output_bytes += out.get("Bytes Written", 0)
                g.output_records += out.get("Records Written", 0)
                g.input_records += (m.get("Input Metrics") or {}).get("Records Read", 0)
                st = g.stages.setdefault(ev["Stage ID"], [0, []])
                st[0] += read
                st[1].append(m.get("Executor Run Time", 0))
    return groups


def find_event_log(log_dir: str) -> str:
    """The single finished application log in ``log_dir``."""
    logs = [f for f in os.listdir(log_dir) if not f.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, got {logs}")
    return os.path.join(log_dir, logs[0])


def span_work(spans: list[Span], groups: dict[str, GroupStats], sid: str,
              inclusive: bool = False) -> GroupStats:
    """Spark work a span launched itself, or with its descendants."""
    ids = descendants(spans, sid) if inclusive else {sid}
    out = GroupStats()
    for i in ids:
        if i in groups:
            out.add(groups[i])
    return out


def median_or_zero(values) -> float:
    xs = list(values)
    return statistics.median(xs) if xs else 0.0
