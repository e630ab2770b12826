"""Spans around the program's public entry points, folded with the
Spark event log into per-layer metrics.

A span is opened by the benchmark around a call into one module
(``span``) or by a wrapper installed over a module's public function
(``Tracer.wrap``).  While a span is open on a thread, every Spark job
that thread launches carries the span id in the ``perfbench.span``
local property.  Jobs launched from threads the program starts itself
carry no label; ``fold`` assigns each of those to the innermost span
open when the job was submitted, and counts it as unattributed when
spans on two threads were open then.

Every family except ``self_s`` includes the span's child spans:

- ``wall_s``: the span's wall time; ``self_s``: wall time not covered
  by its child spans;
- ``off_stage_s``: wall time not covered by any stage of the span's
  jobs (driver, planning and Python time);
- ``jobs``, ``exec_cpu_s``, ``gc_s``, ``shuffle_mb`` (bytes written),
  ``spill_mb`` (bytes spilled to disk): from the jobs' stages;
- ``pyworker_cpu_s``: CPU of the Python workers while the span was
  open, so spans that overlap in time share it.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

LABEL = "perfbench.span"
FAMILIES = ("wall_s", "self_s", "off_stage_s", "jobs", "exec_cpu_s", "gc_s",
            "shuffle_mb", "spill_mb", "pyworker_cpu_s")


@dataclass
class Span:
    sid: int
    name: str
    op: int | None  # None: set-up
    parent: int | None
    start: float
    end: float = 0.0
    pyworker_cpu_s: float = 0.0


@dataclass
class Tracer:
    """Records spans; labels jobs when given a SparkContext."""

    sc: object = None
    pyworker_cpu: object = None  # () -> seconds, sampled at span edges
    op: int | None = None
    spans: list[Span] = field(default_factory=list)
    # per op: seconds spent in span bookkeeping (labels, /proc samples)
    overhead_s: dict = field(default_factory=lambda: defaultdict(float))
    _ids: itertools.count = field(default_factory=lambda: itertools.count(1))
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str):
        return _SpanCtx(self, name)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper that runs it in a span."""
        raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        if isinstance(raw, classmethod):
            fn = raw.__func__

            @functools.wraps(fn)
            def cls_wrapper(cls, *a, **kw):
                with self.span(name):
                    return fn(cls, *a, **kw)

            setattr(owner, attr, classmethod(cls_wrapper))
            return

        @functools.wraps(raw)
        def wrapper(*a, **kw):
            with self.span(name):
                return raw(*a, **kw)

        setattr(owner, attr, wrapper)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.t, self.name = tracer, name

    def __enter__(self) -> Span:
        t = self.t
        t0 = time.perf_counter()
        stack = t._stack()
        with t._lock:
            sid = next(t._ids)
        s = Span(sid, self.name, t.op, stack[-1].sid if stack else None, 0.0)
        if t.pyworker_cpu is not None:
            s.pyworker_cpu_s = -t.pyworker_cpu()
        if t.sc is not None:
            self.prev_label = t.sc.getLocalProperty(LABEL)
            t.sc.setLocalProperty(LABEL, str(sid))
        stack.append(s)
        s.start = time.time()
        with t._lock:
            t.overhead_s[s.op] += time.perf_counter() - t0
        return s

    def __exit__(self, *exc) -> None:
        t = self.t
        s = t._stack().pop()
        s.end = time.time()
        t0 = time.perf_counter()
        if t.sc is not None:
            t.sc.setLocalProperty(LABEL, self.prev_label)
        if t.pyworker_cpu is not None:
            s.pyworker_cpu_s += t.pyworker_cpu()
        with t._lock:
            t.spans.append(s)
            t.overhead_s[s.op] += time.perf_counter() - t0


# ---------------------------------------------------------------- fold

_ACC = {
    "internal.metrics.executorCpuTime": ("exec_cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_mb", 1 / 2**20),
    "internal.metrics.diskBytesSpilled": ("spill_mb", 1 / 2**20),
}


@dataclass
class Job:
    jid: int
    submitted: float
    stage_ids: list[int]
    label: int | None


def read_event_log(path: str) -> tuple[list[Job], dict[int, dict]]:
    """Jobs and completed stages (interval + summed metrics) of one
    uncompressed Spark event log."""
    jobs: list[Job] = []
    stages: dict[int, dict] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                label = (ev.get("Properties") or {}).get(LABEL)
                jobs.append(Job(ev["Job ID"], ev["Submission Time"] / 1e3,
                                ev["Stage IDs"], int(label) if label else None))
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if "Submission Time" not in info or "Completion Time" not in info:
                    continue
                st = stages.setdefault(info["Stage ID"], {"intervals": []})
                st["intervals"].append(
                    (info["Submission Time"] / 1e3, info["Completion Time"] / 1e3))
                for acc in info.get("Accumulables", []):
                    fam = _ACC.get(acc.get("Name"))
                    if fam is not None:
                        st[fam[0]] = st.get(fam[0], 0.0) + float(acc["Value"]) * fam[1]
    return jobs, stages


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
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


def attribute(jobs: list[Job], spans: list[Span]) -> tuple[dict[int, list[Job]], list[Job]]:
    """Jobs per span id, and the jobs no span could be assigned."""
    by_id = {s.sid: s for s in spans}
    owned: dict[int, list[Job]] = defaultdict(list)
    lost: list[Job] = []
    for job in jobs:
        if job.label is not None and job.label in by_id:
            owned[job.label].append(job)
            continue
        open_ = [s for s in spans if s.start <= job.submitted <= s.end]
        parents = {s.parent for s in open_}
        innermost = [s for s in open_ if s.sid not in parents]
        if len(innermost) == 1:
            owned[innermost[0].sid].append(job)
        else:
            lost.append(job)
    return owned, lost


def fold(jobs: list[Job], stages: dict[int, dict], spans: list[Span]):
    """Per-span rows (families above) and the unattributed jobs."""
    owned, lost = attribute(jobs, spans)
    # a stage belongs to the first job that lists it; later jobs that
    # list it reuse its shuffle output and skip it
    stage_job: dict[int, int] = {}
    for job in sorted(jobs, key=lambda j: j.jid):
        for sid in job.stage_ids:
            stage_job.setdefault(sid, job.jid)
    children: dict[int | None, list[Span]] = defaultdict(list)
    for s in spans:
        children[s.parent].append(s)

    def subtree(s: Span) -> list[Span]:
        out, todo = [], [s]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(children[cur.sid])
        return out

    rows: dict[int, dict] = {}
    for s in spans:
        tree_jobs = [j for t in subtree(s) for j in owned.get(t.sid, [])]
        jids = {j.jid for j in tree_jobs}
        own_stages = [st for sid, st in stages.items() if stage_job.get(sid) in jids]
        wall = s.end - s.start
        row = {
            "wall_s": wall,
            "self_s": wall - union_length(
                [(c.start, c.end) for c in children[s.sid]], s.start, s.end),
            "off_stage_s": wall - union_length(
                [iv for st in own_stages for iv in st["intervals"]], s.start, s.end),
            "jobs": float(len(tree_jobs)),
            "pyworker_cpu_s": s.pyworker_cpu_s,
        }
        for fam, _ in _ACC.values():
            row[fam] = sum(st.get(fam, 0.0) for st in own_stages)
        rows[s.sid] = row
    return rows, lost
