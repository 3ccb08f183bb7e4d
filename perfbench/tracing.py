"""Per-layer tracing from outside the program.

`Tracer` records spans (name, start, end, parent, operation id) in
memory. It enters the engine's layers by replacing public functions on
their modules for the length of a traced run (`Tracer.patch`), so
calls the engine makes through module attributes are timed too. Every
span tags the Spark jobs it submits with the local property
``perfbench.span``; `parse_event_log` reads Spark's uncompressed event
log back into jobs and per-stage task metrics, and `layer_metrics`
joins the two.

Self time is a span's duration minus the part of its interval covered
by its child spans; outside-jobs time is a span's duration minus the
union of the intervals of the Spark jobs it (or a descendant)
submitted.
"""

from __future__ import annotations

import contextlib
import importlib
import json
import re
import sys
import time

from perfbench.harness import median

SPAN_PROP = "perfbench.span"
_PYTHON_NODE = re.compile(r"Python|InPandas|InArrow")


class Tracer:
    """Span recorder. ``enabled`` can be flipped between operations
    so one run measures traced and untraced operations side by side."""

    def __init__(self, spark=None):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = spark.sparkContext if spark is not None else None
        self._restore: list[tuple[object, str, object]] = []
        self.enabled = True

    def _tag(self, sid: int | None) -> None:
        if self._sc is not None:
            self._sc.setLocalProperty(SPAN_PROP, None if sid is None else str(sid))

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        parent = self._stack[-1] if self._stack else None
        op = self.spans[parent]["op"] if parent is not None else len(self.spans)
        rec = {"id": len(self.spans), "name": name, "parent": parent, "op": op,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._tag(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)

    def current(self) -> dict:
        """The innermost open span's record ({} when none or disabled)."""
        return self.spans[self._stack[-1]] if self.enabled and self._stack else {}

    def patch(self, targets: list[tuple[str, str, str]], post=None) -> None:
        """Wrap ``module.attr`` in a span named ``name`` for each
        ``(module, attr, name)`` — on the defining module and on every
        loaded module that imported the same function by name.
        ``post(name, rec, args, kwargs, result)`` may add counts to the
        span record."""
        for mod_name, attr, name in targets:
            fn = getattr(importlib.import_module(mod_name), attr)
            wrapper = self._wrapped(fn, name, post)
            for mod in list(sys.modules.values()):
                if getattr(mod, attr, None) is fn:
                    self._restore.append((mod, attr, fn))
                    setattr(mod, attr, wrapper)

    def _wrapped(self, fn, name, post):
        def wrapper(*args, **kwargs):
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                if post is not None and rec:
                    post(name, rec, args, kwargs, out)
                return out

        wrapper.__wrapped__ = fn
        return wrapper

    def unpatch(self) -> None:
        while self._restore:
            mod, attr, fn = self._restore.pop()
            setattr(mod, attr, fn)


# -- interval arithmetic -------------------------------------------------

def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Total length of the union of ``(start, end)`` intervals,
    clipped to ``[lo, hi]`` when given."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total = 0.0
    cur_s = cur_e = None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → duration minus the union of its children's intervals."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - union_length(kids.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


# -- Spark event log -------------------------------------------------------

def parse_event_log(path: str) -> tuple[dict[int, dict], dict[int, dict]]:
    """Jobs and stages from an uncompressed Spark event log.

    jobs: id → {start, end, span (int|None), stages}; times in epoch s.
    stages: id → {tasks, run_s, gc_s, shuffle_bytes, spill_bytes,
    records_read, python}; ``python`` marks a stage whose RDD chain
    holds a Python-evaluation node."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}

    def stage(sid: int) -> dict:
        return stages.setdefault(sid, {
            "tasks": 0, "run_s": 0.0, "gc_s": 0.0, "shuffle_bytes": 0,
            "spill_bytes": 0, "records_read": 0, "python": False,
        })

    def mark_python(info: dict) -> None:
        for rdd in info.get("RDD Info", []):
            text = f"{rdd.get('Name', '')} {rdd.get('Scope', '')}"
            if _PYTHON_NODE.search(text):
                stage(info["Stage ID"])["python"] = True

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                span = (ev.get("Properties") or {}).get(SPAN_PROP)
                jobs[ev["Job ID"]] = {
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "span": int(span) if span not in (None, "") else None,
                    "stages": list(ev.get("Stage IDs", [])),
                }
                for info in ev.get("Stage Infos", []):
                    mark_python(info)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind in ("SparkListenerStageSubmitted", "SparkListenerStageCompleted"):
                mark_python(ev["Stage Info"])
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                st = stage(ev["Stage ID"])
                st["tasks"] += 1
                st["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                st["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0)
                st["records_read"] += (m.get("Input Metrics") or {}).get(
                    "Records Read", 0)
    for j in jobs.values():
        if j["end"] is None:  # log cut short: treat as still running
            j["end"] = j["start"]
    return jobs, stages


def jobs_of(jobs: dict[int, dict], ids: set[int]) -> list[dict]:
    return [j for j in jobs.values() if j["span"] in ids]


def job_totals(js: list[dict], stages: dict[int, dict]) -> dict:
    """Task-level sums over the stages those jobs ran. A stage is
    counted once, under the first job that lists it."""
    seen: set[int] = set()
    tot = {"jobs": len(js), "tasks": 0, "task_s": 0.0, "gc_s": 0.0,
           "shuffle_bytes": 0, "spill_bytes": 0, "records_read": 0,
           "python_s": 0.0}
    for j in sorted(js, key=lambda j: j["start"]):
        for sid in j["stages"]:
            st = stages.get(sid)
            if st is None or sid in seen:
                continue
            seen.add(sid)
            tot["tasks"] += st["tasks"]
            tot["task_s"] += st["run_s"]
            tot["gc_s"] += st["gc_s"]
            tot["shuffle_bytes"] += st["shuffle_bytes"]
            tot["spill_bytes"] += st["spill_bytes"]
            tot["records_read"] += st["records_read"]
            if st["python"]:
                tot["python_s"] += st["run_s"]
    return tot


def outside_jobs(span: dict, js: list[dict]) -> float:
    dur = span["end"] - span["start"]
    return dur - union_length(
        [(j["start"], j["end"]) for j in js], span["start"], span["end"]
    )


def plan_phases_s(df) -> float:
    """Analysis + optimization + planning time recorded by the
    DataFrame's ``QueryExecution.tracker()``; forces planning."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    it = phases.iterator()
    total_ms = 0
    while it.hasNext():
        kv = it.next()
        if kv._1() in ("analysis", "optimization", "planning"):
            total_ms += kv._2().durationMs()
    return total_ms / 1000.0


# -- per-layer metrics -----------------------------------------------------

def _median(xs) -> float:
    return median(list(xs))


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


# operations whose reads are not the user's reads (commit internals)
_WRITE_OPS = {"op:backfill", "op:import", "op:maintain", "op:index"}


def layer_metrics(spans: list[dict], jobs: dict[int, dict],
                  stages: dict[int, dict], cores: int) -> dict[str, float]:
    """Per-layer numbers from the spans of traced operations and the
    jobs they submitted. A layer's time counts its outermost spans
    only (a layer re-entering itself is one call)."""
    spans = [s for s in spans if s["end"] is not None]
    by_id = {s["id"]: s for s in spans}
    kids: dict[int, list[int]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s["id"])
    job_list = [j for j in jobs.values() if j["span"] is not None]

    def subtree(i: int) -> set[int]:
        out, todo = set(), [i]
        while todo:
            k = todo.pop()
            out.add(k)
            todo.extend(kids.get(k, []))
        return out

    def sub_jobs(s: dict) -> list[dict]:
        ids = subtree(s["id"])
        return [j for j in job_list if j["span"] in ids]

    def outer(name: str) -> list[dict]:
        res = []
        for s in spans:
            if s["name"] != name:
                continue
            p = s["parent"]
            while p is not None and by_id[p]["name"] != name:
                p = by_id[p]["parent"]
            if p is None:
                res.append(s)
        return res

    def dur(s: dict) -> float:
        return s["end"] - s["start"]

    st = self_times(spans)
    ops = [s for s in spans if s["parent"] is None and s["name"].startswith("op:")]
    m: dict[str, float] = {}
    m["tms.source.read_daily_s"] = _median(dur(s) for s in outer("tms.source.read_daily"))
    m["tms.pipeline.import_self_s"] = _median(
        st[s["id"]] for s in outer("tms.pipeline.import_daily_versioned"))
    m["operators.merge.dedupe_batch_s"] = _median(
        dur(s) for s in outer("operators.merge.dedupe_batch"))
    writes, merges = outer("versioned.write_version"), outer("versioned.merge_version")
    m["versioned.write_version_s"] = _median(dur(s) for s in writes)
    m["versioned.merge_version_s"] = _median(dur(s) for s in merges)
    m["versioned.merge_outside_jobs_s"] = _median(outside_jobs(s, sub_jobs(s)) for s in merges)
    m["versioned.jobs_per_commit"] = _mean(len(sub_jobs(s)) for s in writes + merges)
    m["versioned.files_rewritten_per_merge"] = _mean(
        s["files_rewritten"] for s in merges if "files_rewritten" in s)
    m["versioned.maintain_s"] = _median(dur(s) for s in outer("versioned.maintain_table"))
    reads = [s for s in outer("versioned.read") if by_id[s["op"]]["name"] not in _WRITE_OPS]
    m["versioned.read_plan_s"] = _median(dur(s) for s in reads)
    scans = [s for s in reads if "files_scanned" in s]
    m["versioned.files_scanned_per_read"] = _mean(s["files_scanned"] for s in scans)
    live = sum(s["live_files"] for s in scans)
    m["versioned.prune_ratio"] = sum(s["files_scanned"] for s in scans) / live if live else 0.0
    read_ops = [o for o in ops if "rows_returned" in o]
    returned = sum(o["rows_returned"] for o in read_ops)
    scanned_rows = sum(job_totals(sub_jobs(o), stages)["records_read"] for o in read_ops)
    m["versioned.rows_scanned_per_row_returned"] = scanned_rows / returned if returned else 0.0
    probes = [s for s in outer("bloomindex.probe") if "admitted" in s]
    m["bloomindex.probe_s"] = _median(dur(s) for s in outer("bloomindex.probe"))
    live = sum(s["live_files"] for s in probes)
    m["bloomindex.files_admitted_frac"] = sum(s["admitted"] for s in probes) / live if live else 0.0
    m["sources.tables.load_s"] = _median(dur(s) for s in outer("sources.tables.load_table"))
    m["catalog.build_s"] = _median(dur(s) for s in outer("catalog.build"))
    m["catalog.action_s"] = _median(dur(s) for s in outer("catalog.action"))
    m["catalyst.plan_s"] = _median(s["plan_s"] for s in spans if "plan_s" in s)
    per_op = [(o, sub_jobs(o)) for o in ops]
    tots = [job_totals(js, stages) for _o, js in per_op]
    m["spark.jobs_per_op"] = _mean(t["jobs"] for t in tots)
    m["spark.tasks_per_op"] = _mean(t["tasks"] for t in tots)
    m["spark.task_s"] = _mean(t["task_s"] for t in tots)
    job_wall = sum(union_length([(j["start"], j["end"]) for j in js]) for _o, js in per_op)
    m["spark.task_parallelism"] = (
        sum(t["task_s"] for t in tots) / (job_wall * cores) if job_wall else 0.0)
    m["spark.outside_jobs_s"] = _median(outside_jobs(o, js) for o, js in per_op)
    m["spark.shuffle_bytes"] = _mean(t["shuffle_bytes"] for t in tots)
    m["spark.spill_bytes"] = _mean(t["spill_bytes"] for t in tots)
    m["spark.gc_s"] = _mean(t["gc_s"] for t in tots)
    m["python.task_s"] = _mean(t["python_s"] for t in tots)
    op_time = sum(dur(o) for o in ops)
    m["trace.op_self_frac"] = sum(st[o["id"]] for o in ops) / op_time if op_time else 0.0
    return m


TRACED_MIN_STEPS = 5


def traced_step(i: int) -> bool:
    """Whether loop step ``i`` (0-based cycle or round) of a traced run
    is traced. Step 0 is an untraced warm-up left out of the overhead
    estimate; then untraced, traced, traced, untraced, so traced and
    untraced steps sit evenly on the warm-up trend."""
    return i % 4 in (2, 3)


def trace_overhead(ops: list[tuple[str, float, bool, bool]]) -> float:
    """Traced operation time over what the same operations take
    untraced, minus 1: each traced operation is charged the median
    untraced time of its kind. Kinds run only one way are left out."""
    traced = untraced = 0.0
    for kind in {k for k, _s, _ok, _t in ops}:
        on = [s for k, s, ok, t in ops if k == kind and ok and t]
        off = [s for k, s, ok, t in ops if k == kind and ok and not t]
        if on and off:
            traced += sum(on)
            untraced += len(on) * median(off)
    return traced / untraced - 1.0 if untraced else 0.0
