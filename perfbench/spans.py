"""Span tracing around public engine functions, with Spark job attribution.

A ``Tracer`` wraps named functions where their callers look them up (the
attribute of every loaded engine module that holds the original
function), records one span per call in memory, and after the run
attributes every Spark job to the innermost span open at the job's
submission time. Submission time, not the job group, is the key because
jobs submitted from a plain ``ThreadPoolExecutor`` thread do not inherit
the caller's job group. Per-stage numbers come from the Spark status
store, read once when the report is built.

A span's ``jobs``, ``executor_cpu_s``, ``gc_s`` and ``shuffle_mib``
include its child spans, like ``wall_s``; ``self_s`` is ``wall_s`` minus
the time its child spans cover. A lazy call (one that only builds a
plan, such as ``read_csv``) submits no job: the jobs that later execute
its plan are charged to whichever span triggers them, usually the
caller's self time.
"""

from __future__ import annotations

import functools
import importlib
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field

PACKAGE = "ais_data_pipeline_spark"

#: per-span fields, in report order
FIELDS = ("wall_s", "self_s", "jobs", "executor_cpu_s", "gc_s", "shuffle_mib", "driver_gap_s")


@dataclass
class Span:
    name: str
    parent: int | None
    op: int
    t0: float
    t1: float = 0.0
    depth: int = 0
    jobs: list = field(default_factory=list)


def _union(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= max(a, end):
            continue
        total += b - max(a, end)
        end = b
    return total


class Tracer:
    """``targets`` maps a span name to ``"module:attribute"`` (a module
    function) or ``"module:Class.method"``."""

    def __init__(self, spark, targets: dict[str, str]) -> None:
        self.spark = spark
        self.targets = targets
        self.spans: list[Span] = []
        self.ops: list[tuple[int, float, float, str]] = []  # (op, t0, t1, job group)
        self._op = -1
        self._stacks: dict[int, list[int]] = {}
        self._main = threading.get_ident()
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []

    # -- patching ------------------------------------------------------

    def install(self) -> None:
        for name, target in self.targets.items():
            mod_name, attr = target.split(":")
            owner = importlib.import_module(mod_name)
            if "." in attr:  # a method: patch the class
                cls_name, attr = attr.split(".")
                owner = getattr(owner, cls_name)
                holders = [owner]
            else:
                holders = [
                    m for k, m in list(sys.modules.items())
                    if m is not None and (k == mod_name or k.startswith(PACKAGE))
                ]
            original = getattr(owner, attr)
            wrapped = self._wrap(name, original)
            for holder in holders:
                if holder.__dict__.get(attr) is original:
                    self._restore.append((holder, attr, original))
                    setattr(holder, attr, wrapped)

    def uninstall(self) -> None:
        for holder, attr, original in reversed(self._restore):
            setattr(holder, attr, original)
        self._restore.clear()

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = self._open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.spans[idx].t1 = time.time()
                self._stacks[threading.get_ident()].pop()

        return traced

    def _open(self, name: str) -> int:
        tid = threading.get_ident()
        with self._lock:
            stack = self._stacks.setdefault(tid, [])
            # a pool thread has an empty stack: its work was submitted
            # from the span open on the calling (main) thread
            parents = stack or self._stacks.get(self._main, [])
            parent = parents[-1] if parents else None
            depth = self.spans[parent].depth + 1 if parent is not None else 0
            self.spans.append(Span(name, parent, self._op, time.time(), depth=depth))
            idx = len(self.spans) - 1
            stack.append(idx)
        return idx

    def operation(self, op: int, fn, *args, **kwargs):
        """Run ``fn`` as traced operation ``op`` under its own job group."""
        group = f"perfbench-op-{op}"
        self.spark.sparkContext.setJobGroup(group, group)
        self._op = op
        t0 = time.time()
        try:
            return fn(*args, **kwargs)
        finally:
            self.ops.append((op, t0, time.time(), group))
            self._op = -1
            self.spark.sparkContext.setJobGroup(None, None)

    # -- report --------------------------------------------------------

    def _jobs(self) -> list[dict]:
        """Jobs submitted inside a traced operation, with stage totals;
        a stage shared by several jobs counts once, for the first."""
        jvm = self.spark.sparkContext._jvm
        store = self.spark.sparkContext._jsc.sc().statusStore()
        no_quantiles = self.spark.sparkContext._gateway.new_array(jvm.double, 0)
        seen: set[int] = set()
        out = []
        listed = store.jobsList(None)
        raw = []
        for i in range(listed.size()):
            j = listed.apply(i)
            sub = j.submissionTime()
            if sub.isEmpty():
                continue
            t_sub = sub.get().getTime() / 1000.0
            op = next(
                (o for o, a, b, _ in self.ops if a - 0.002 <= t_sub <= b + 0.002), None
            )
            if op is None:
                continue
            end = j.completionTime()
            t_end = end.get().getTime() / 1000.0 if not end.isEmpty() else t_sub
            group = j.jobGroup()
            raw.append((j.jobId(), op, t_sub, t_end,
                        None if group.isEmpty() else group.get(), j.stageIds()))
        for job_id, op, t_sub, t_end, group, stage_ids in sorted(raw):
            cpu_ns = gc_ms = shuffle = 0
            for k in range(stage_ids.size()):
                sid = stage_ids.apply(k)
                if sid in seen:
                    continue
                seen.add(sid)
                attempts = store.stageData(sid, False, None, False, no_quantiles)
                for a in range(attempts.size()):
                    s = attempts.apply(a)
                    cpu_ns += s.executorCpuTime()
                    gc_ms += s.jvmGcTime()
                    shuffle += s.shuffleWriteBytes()
            out.append({
                "id": job_id, "op": op, "t_sub": t_sub, "t_end": t_end, "group": group,
                "cpu_s": cpu_ns / 1e9, "gc_s": gc_ms / 1e3, "shuffle_mib": shuffle / 2**20,
            })
        return out

    def report(self) -> dict:
        """Per span name: the median over traced operations of each
        field's per-operation total. Also the per-operation job counts,
        and every span and job for the trace file."""
        jobs = self._jobs()
        groups = {o: g for o, _, _, g in self.ops}
        for job in jobs:
            cands = [
                i for i, s in enumerate(self.spans)
                if s.op == job["op"] and s.t0 - 0.001 <= job["t_sub"] <= s.t1 + 0.001
            ]
            if cands:
                inner = max(cands, key=lambda i: (self.spans[i].depth, self.spans[i].t0))
                self.spans[inner].jobs.append(job)
        children: dict[int, list[int]] = {}
        for i, s in enumerate(self.spans):
            if s.parent is not None:
                children.setdefault(s.parent, []).append(i)

        def subtree_jobs(i: int) -> list[dict]:
            out = list(self.spans[i].jobs)
            for c in children.get(i, []):
                out += subtree_jobs(c)
            return out

        job_spans = [(j["t_sub"], j["t_end"]) for j in jobs]
        per_op: dict[int, dict[str, dict[str, float]]] = {}
        records = []
        for i, s in enumerate(self.spans):
            wall = s.t1 - s.t0
            kids = [(self.spans[c].t0, self.spans[c].t1) for c in children.get(i, [])]
            sub = subtree_jobs(i)
            fields = {
                "wall_s": wall,
                "self_s": wall - _union(kids, s.t0, s.t1),
                "jobs": len(sub),
                "executor_cpu_s": sum(j["cpu_s"] for j in sub),
                "gc_s": sum(j["gc_s"] for j in sub),
                "shuffle_mib": sum(j["shuffle_mib"] for j in sub),
                "driver_gap_s": wall - _union(job_spans, s.t0, s.t1),
            }
            acc = per_op.setdefault(s.op, {}).setdefault(s.name, dict.fromkeys(FIELDS, 0.0))
            for k, v in fields.items():
                acc[k] += v
            records.append({
                "name": s.name, "op": s.op, "parent": s.parent, "t0": s.t0, "t1": s.t1,
                "self_jobs": [j["id"] for j in s.jobs],
                "children_sum_s": sum(b - a for a, b in kids), **fields,
            })
        ops = sorted(groups)
        zero = dict.fromkeys(FIELDS, 0.0)
        spans = {
            n: {k: statistics.median(per_op.get(o, {}).get(n, zero)[k] for o in ops)
                for k in FIELDS}
            for n in sorted({s.name for s in self.spans})
        }
        attributed = {j["id"] for s in self.spans for j in s.jobs}
        return {
            "spans": spans,
            "jobs_total": statistics.median(sum(j["op"] == o for j in jobs) for o in ops),
            "unattributed_jobs": statistics.median(
                sum(j["op"] == o and j["group"] != groups[o] for j in jobs) for o in ops
            ),
            "jobs_outside_spans": sum(j["id"] not in attributed for j in jobs),
            "records": records,
            "jobs": jobs,
        }
