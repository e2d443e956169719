"""Spans around the public functions of the webdedup layers.

The traced run wraps every public function of the modules in ``LAYERS``
and records one span per call: name, layer, thread, start, end and parent.
Spark is lazy, so an operator span measures plan building plus the eager
actions it runs (connected-components rounds, ``.rdd``/``isEmpty`` probes,
eager checkpoints); the execution of a lazy plan lands in whichever span
forces it, such as ``plans.checkpoint.materialize`` or a query's count.

Spark jobs are attributed to the innermost span in one of two ways:

- by job group: a span opened on the main thread sets the Spark job group
  to its own id, so every job it submits carries that id;
- by time interval: jobs submitted from other threads (``foreachBatch``
  runs on the streaming query's thread) go to the innermost span open at
  their submission time.

Executor numbers come from Spark's status store, which is populated with
the UI disabled.  Spans are kept in memory and written out at the end.
"""

from __future__ import annotations

import bisect
import functools
import importlib
import inspect
import os
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

# layer -> module; every public function defined in the module is wrapped
LAYERS = {
    "functions.signatures": "webdedup.functions.signatures",
    "operators.simhash_lsh": "webdedup.operators.simhash_lsh",
    "operators.minhash_lsh": "webdedup.operators.minhash_lsh",
    "operators.jaccard": "webdedup.operators.jaccard",
    "operators.substring": "webdedup.operators.substring",
    "operators.exact": "webdedup.operators.exact",
    "operators.components": "webdedup.operators.components",
    "operators.represent": "webdedup.operators.represent",
    "operators.similarity": "webdedup.operators.similarity",
    "operators.textstats": "webdedup.operators.textstats",
    "plans.checkpoint": "webdedup.plans.checkpoint",
    "plans.metrics": "webdedup.plans.metrics",
    "plans.partitions": "webdedup.plans.partitions",
    "plans.pipeline": "webdedup.plans.pipeline",
    "streaming.incremental": "webdedup.streaming.incremental",
}
# the benchmark opens these spans itself: one per headline query
# (``__spark_entry__.queries()[name]`` plus its count) and one per op
ENTRY_LAYER = "spark_entry"
BENCH_LAYER = "bench"
GROUP_PREFIX = "perfbench-span-"


class Span:
    __slots__ = ("id", "name", "layer", "thread", "parent", "start", "end",
                 "py0", "py1")

    def __init__(self, id, name, layer, thread, parent, start=0.0, end=0.0,
                 py0=0.0, py1=0.0):
        self.id, self.name, self.layer = id, name, layer
        self.thread, self.parent = thread, parent
        self.start, self.end, self.py0, self.py1 = start, end, py0, py1

    def as_dict(self) -> dict:
        return {k: getattr(self, k) for k in self.__slots__}


class Tracer:
    """Records spans while ``active``; a wrapped call is a plain call
    otherwise.

    ``set_group(name_or_None)`` tags the jobs of the calling thread, and
    ``py_cpu()`` returns the Python workers' CPU seconds so far.
    """

    def __init__(self, set_group=None, py_cpu=None):
        self.spans: list[Span] = []
        self.active = False
        self.counters: dict[tuple[str, str], float] = defaultdict(float)
        # (layer, key, thunk): counts taken after the op, never inside it,
        # so counting cannot materialise a lazy frame early
        self.deferred: list[tuple[str, str, object]] = []
        # per-span scratch for hooks that pair a call with calls nested in it
        self.marks: dict[int, dict] = {}
        self._set_group = set_group
        self._py_cpu = py_cpu or (lambda: 0.0)
        self._lock = threading.Lock()
        self._stacks: dict[int, list[Span]] = {}
        self._main = threading.main_thread().ident

    def _innermost(self, tid: int) -> Span | None:
        st = self._stacks.get(tid)
        if st:
            return st[-1]
        # a thread with no open span (the stream's foreachBatch) nests under
        # what the main thread is doing, i.e. the op that waits for it
        main = self._stacks.get(self._main)
        return main[-1] if main else None

    def open_spans(self) -> list[Span]:
        with self._lock:
            return list(self._stacks.get(threading.get_ident(), ()))

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.active:
            yield None
            return
        tid = threading.get_ident()
        with self._lock:
            parent = self._innermost(tid)
            sp = Span(len(self.spans), name, layer, tid,
                      parent.id if parent else None)
            self.spans.append(sp)
            self._stacks.setdefault(tid, []).append(sp)
        on_main = tid == self._main and self._set_group is not None
        if on_main:
            self._set_group(f"{GROUP_PREFIX}{sp.id}")
        sp.py0 = self._py_cpu()
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            sp.py1 = self._py_cpu()
            with self._lock:
                stack = self._stacks[tid]
                stack.pop()
                outer = stack[-1] if stack else None
            if on_main:
                self._set_group(f"{GROUP_PREFIX}{outer.id}" if outer else None)

    def wrap(self, fn, layer: str, hook=None):
        name = f"{layer}.{fn.__name__}"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(name, layer) as sp:
                before = hook.before(self, sp, fn, args, kwargs) if hook else None
                out = fn(*args, **kwargs)
                if hook:
                    hook.after(self, sp, fn, args, kwargs, out, before)
                return out

        return traced

    def run_deferred(self) -> None:
        for layer, key, thunk in self.deferred:
            self.counters[(layer, key)] += float(thunk())
        self.deferred.clear()


def install(tracer: Tracer, hooks: dict) -> None:
    """Wrap every public function of the ``LAYERS`` modules and rebind each
    name where callers look it up: the defining module and every loaded
    webdedup module (or ``__spark_entry__``) that imported it by name."""
    wrapped = {}
    for layer, modname in LAYERS.items():
        mod = importlib.import_module(modname)
        for attr, obj in vars(mod).items():
            if (attr.startswith("_") or not inspect.isfunction(obj)
                    or obj.__module__ != modname):
                continue
            wrapped[obj] = tracer.wrap(obj, layer, hooks.get(f"{layer}.{attr}"))
    for modname, mod in list(sys.modules.items()):
        if mod is None or not (modname.startswith("webdedup")
                               or modname == "__spark_entry__"):
            continue
        for attr, obj in list(vars(mod).items()):
            if inspect.isfunction(obj) and obj in wrapped:
                setattr(mod, attr, wrapped[obj])


# ---------------------------------------------------------------------------
# job attribution and layer aggregation (pure; unit-tested)
# ---------------------------------------------------------------------------

JOB_KEYS = ("jobs", "tasks", "executor_cpu_s", "shuffle_write_bytes",
            "shuffle_read_bytes", "spill_bytes")


def attribute_jobs(spans: list[Span], jobs: list[dict],
                   stages: list[dict]) -> dict[int, dict]:
    """Per-span job totals ``{span_id: {key: value}}``; jobs submitted
    outside every span are left out.

    ``jobs``/``stages`` are the status store's JobData/StageData as dicts.
    A stage listed by several jobs (a reused shuffle) counts once, for the
    first job; skipped stage attempts did no work and count nothing.
    """
    by_id = {s.id: s for s in spans}
    order = sorted(spans, key=lambda s: (s.start, s.id))
    starts = [s.start for s in order]
    attempts: dict[int, list[dict]] = defaultdict(list)
    for st in stages:
        attempts[st["stageId"]].append(st)
    acc: dict[int, dict] = defaultdict(lambda: dict.fromkeys(JOB_KEYS, 0.0))
    claimed: set[int] = set()
    for job in sorted(jobs, key=lambda j: j["jobId"]):
        sp = None
        group = job.get("jobGroup") or ""
        if group.startswith(GROUP_PREFIX):
            sp = by_id.get(int(group[len(GROUP_PREFIX):]))
        if sp is None and job.get("submissionTime") is not None:
            sp = _innermost(order, starts, job["submissionTime"] / 1000.0)
        if sp is None:
            continue
        a = acc[sp.id]
        a["jobs"] += 1
        for sid in job.get("stageIds", ()):
            if sid in claimed:
                continue
            claimed.add(sid)
            for st in attempts.get(sid, ()):
                if st.get("status") == "SKIPPED":
                    continue
                a["tasks"] += st.get("numCompleteTasks", 0)
                a["executor_cpu_s"] += st.get("executorCpuTime", 0) / 1e9
                a["shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
                a["shuffle_read_bytes"] += st.get("shuffleReadBytes", 0)
                a["spill_bytes"] += st.get("diskBytesSpilled", 0)
    return dict(acc)


def _innermost(order: list[Span], starts: list[float], t: float):
    """The innermost span open at time ``t``: of the spans (sorted by start)
    containing ``t``, the one that started last, as a child starts after
    its parent."""
    i = bisect.bisect_right(starts, t)
    while i > 0:
        i -= 1
        if order[i].end >= t:
            return order[i]
    return None


def _union_length(intervals: list[tuple[float, float]]) -> float:
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


def self_times(spans: list[Span]) -> dict[int, tuple[float, float]]:
    """``{span_id: (self wall s, self Python-worker CPU s)}``: the span's
    duration less the part of its interval its children cover, and its
    Python CPU less its children's."""
    kids: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    out = {}
    for s in spans:
        cover = _union_length([(max(c.start, s.start), min(c.end, s.end))
                               for c in kids[s.id] if c.end > s.start
                               and c.start < s.end])
        py = (s.py1 - s.py0) - sum(c.py1 - c.py0 for c in kids[s.id])
        out[s.id] = (max(0.0, s.end - s.start - cover), max(0.0, py))
    return out


def layer_totals(spans: list[Span], job_acc: dict) -> dict[str, dict]:
    """Per layer: ``wall_s`` (spans with no ancestor in the same layer, so
    recursion is not counted twice), ``self_s``, ``python_cpu_s`` (self)
    and the job totals of the spans the jobs were attributed to."""
    by_id = {s.id: s for s in spans}
    selfs = self_times(spans)
    out: dict[str, dict] = defaultdict(
        lambda: dict.fromkeys(("wall_s", "self_s", "python_cpu_s")
                              + JOB_KEYS, 0.0))
    for s in spans:
        t = out[s.layer]
        p, nested = s.parent, False
        while p is not None:
            if by_id[p].layer == s.layer:
                nested = True
                break
            p = by_id[p].parent
        if not nested:
            t["wall_s"] += s.end - s.start
        t["self_s"] += selfs[s.id][0]
        t["python_cpu_s"] += selfs[s.id][1]
        for k, v in job_acc.get(s.id, {}).items():
            t[k] += v
    return dict(out)


def by_name(spans: list[Span], job_acc: dict) -> dict[str, dict]:
    """Per span name (per function, per query): calls, wall, self, jobs."""
    selfs = self_times(spans)
    out: dict[str, dict] = defaultdict(lambda: {
        "calls": 0, "wall_s": 0.0, "self_s": 0.0, "jobs": 0,
        "executor_cpu_s": 0.0})
    for s in spans:
        t = out[s.name]
        t["calls"] += 1
        t["wall_s"] += s.end - s.start
        t["self_s"] += selfs[s.id][0]
        a = job_acc.get(s.id, {})
        t["jobs"] += int(a.get("jobs", 0))
        t["executor_cpu_s"] += a.get("executor_cpu_s", 0.0)
    return dict(out)


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(base, f))
            except FileNotFoundError:
                pass
    return total
