"""Span tracing around the program's public functions, and the Spark
event-log reader that attributes jobs, tasks, shuffle, spill and GC to
those spans.

Spans are recorded only in a traced run: ``Tracer.wrap`` replaces a
class or module attribute with a timing wrapper, and ``Tracer.close``
puts every original back. Within a traced run every other operation
passes through the wrappers unrecorded, so traced and untraced
operations share one mix and one JVM state, and the difference of
their medians is the tracing overhead. Each span keeps name, start, end (wall-clock
seconds, comparable with the load generator's clock and with Spark's
event timestamps), the index of its parent span and the request id of
the request it serves. Spans stay in memory and are written out as
JSONL once, at the end of the run.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
import urllib.parse
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    t0: float
    t1: float = 0.0
    parent: int | None = None
    rid: str | None = None
    info: dict = field(default_factory=dict)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._undo: list[tuple[object, str, object]] = []

    # -- recording ------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str, rid: str | None = None) -> int:
        st = self._stack()
        parent = st[-1] if st else None
        if rid is None and parent is not None:
            rid = self.spans[parent].rid
        sp = Span(name, time.time(), parent=parent, rid=rid)
        with self._lock:
            self.spans.append(sp)
            i = len(self.spans) - 1
        st.append(i)
        return i

    def end(self, i: int, **info) -> None:
        self.spans[i].t1 = time.time()
        self.spans[i].info.update(info)
        self._stack().pop()

    def recording(self) -> bool:
        return getattr(self._local, "on", True)

    def set_recording(self, on: bool) -> None:
        """Record spans on this thread (the default) or let wrapped
        calls pass straight through."""
        self._local.on = on

    def wrap(self, owner, attr: str, name: str, rid_of=None, after=None, gate=None) -> None:
        """Time every call of ``owner.attr`` as span ``name``.

        ``rid_of(args)`` extracts a request id from the call's
        arguments; ``after(args, result)`` returns extra span fields;
        ``gate(rid)`` decides whether this call, and every wrapped call
        it makes, is recorded at all."""
        orig = getattr(owner, attr)
        tracer = self

        def record(rid, args, kwargs):
            i = tracer.begin(name, rid)
            info = {}
            try:
                res = orig(*args, **kwargs)
                if after is not None:
                    info = after(args, res)
                return res
            finally:
                tracer.end(i, **info)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            rid = rid_of(args) if rid_of else None
            prev = tracer.recording()
            if gate is not None:
                tracer.set_recording(gate(rid))
            try:
                if tracer.recording():
                    return record(rid, args, kwargs)
                return orig(*args, **kwargs)
            finally:
                tracer.set_recording(prev)

        self._undo.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def close(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, "name": s.name, "start": s.t0,
                                    "end": s.t1, "parent": s.parent,
                                    "rid": s.rid, **s.info}) + "\n")

    # -- analysis -------------------------------------------------------
    def children(self) -> dict[int, list[int]]:
        ch: dict[int, list[int]] = defaultdict(list)
        for i, s in enumerate(self.spans):
            if s.parent is not None:
                ch[s.parent].append(i)
        return ch

    def self_time(self, i: int, ch: dict[int, list[int]]) -> float:
        """Span duration minus the part its direct children cover."""
        s = self.spans[i]
        covered, end = 0.0, s.t0
        for c in sorted(ch.get(i, ()), key=lambda c: self.spans[c].t0):
            c0, c1 = max(self.spans[c].t0, end), min(self.spans[c].t1, s.t1)
            if c1 > c0:
                covered += c1 - c0
                end = c1
        return (s.t1 - s.t0) - covered

    def top(self, name: str) -> list[int]:
        """Spans of ``name`` that have no ancestor of the same name."""
        out = []
        for i, s in enumerate(self.spans):
            if s.name != name:
                continue
            p = s.parent
            while p is not None and self.spans[p].name != name:
                p = self.spans[p].parent
            if p is None:
                out.append(i)
        return out


def rid_from_path(args) -> str | None:
    """Request id the load generator appends as ``?rid=`` (the server
    ignores unknown query parameters)."""
    for a in args:
        if isinstance(a, str) and "rid=" in a:
            qs = urllib.parse.parse_qs(urllib.parse.urlparse(a).query)
            return qs.get("rid", [None])[0]
    return None


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


@dataclass
class Job:
    submit: float  # wall seconds
    stages: list[int]
    tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    stage_task_s: dict = field(default_factory=lambda: defaultdict(list))
    join_rows: dict = field(default_factory=lambda: defaultdict(int))


def read_event_log(log_dir: str) -> list[Job]:
    """Jobs in submission order with their task totals; ``join_rows``
    maps each join operator's "number of output rows" SQL metric to the
    rows that job's tasks reported for it."""
    # Spark 4 writes one directory per application, events in files
    # named events_<n>_<app> in order
    files = sorted(
        os.path.join(d, f) for d, _sub, names in os.walk(log_dir)
        for f in names if f.startswith("events_")
    )
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    join_accs: set[int] = set()
    acc_rows: list[tuple[Job, int, int]] = []

    def plan_accs(info: dict) -> None:
        if "Join" in info.get("nodeName", ""):
            for m in info.get("metrics", []):
                if m.get("name") == "number of output rows":
                    join_accs.add(m["accumulatorId"])
        for c in info.get("children", []):
            plan_accs(c)

    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    j = Job(ev["Submission Time"] / 1000.0, ev["Stage IDs"])
                    jobs[ev["Job ID"]] = j
                    for s in ev["Stage IDs"]:
                        stage_job.setdefault(s, ev["Job ID"])
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev["Stage ID"])
                    m = ev.get("Task Metrics") or {}
                    if jid is None or not m:
                        continue
                    j = jobs[jid]
                    for a in ev.get("Task Info", {}).get("Accumulables", []):
                        if str(a.get("Update", "")).isdigit():
                            acc_rows.append((j, a["ID"], int(a["Update"])))
                    run_s = m.get("Executor Run Time", 0) / 1000.0
                    j.tasks += 1
                    j.task_s += run_s
                    j.gc_s += m.get("JVM GC Time", 0) / 1000.0
                    sr = m.get("Shuffle Read Metrics", {})
                    j.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    j.shuffle_write += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    j.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    j.stage_task_s[ev["Stage ID"]].append(run_s)
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    plan_accs(ev.get("sparkPlanInfo", {}))
    for j, acc, n in acc_rows:
        if acc in join_accs:
            j.join_rows[acc] += n
    return [jobs[k] for k in sorted(jobs)]


def jobs_in(jobs: list[Job], t0: float, t1: float) -> list[Job]:
    return [j for j in jobs if t0 <= j.submit <= t1]
