"""Tracing from outside the program.

Two sources, joined by wall-clock time:

- **Spans** recorded in this process around op phases and around every
  call into the package's public functions (installed by rebinding the
  names, so the package itself is untouched). Spans are kept in memory.
- **Spark's event log**, written by the session when tracing is on and
  parsed after the session stops: jobs, task metrics, SQL metrics of
  Python-evaluation and scan nodes, and structured-streaming progress.

Every op runs under its own Spark job group; a job is charged to the
innermost span open when it was submitted. A layer's self time is its
spans' time minus the part their child spans (nested calls and charged
jobs) cover.
"""

from __future__ import annotations

import bisect
import functools
import inspect
import json
import os
import sys
import time
from collections import defaultdict
from collections.abc import Callable, Iterable
from contextlib import contextmanager
from dataclasses import dataclass, field

PACKAGE = "dataflowex_spark"

#: package modules whose public functions are timed, by layer prefix
TRACED_PREFIXES = (
    "dataflowex_spark.queries",
    "dataflowex_spark.pipeline",
    "dataflowex_spark.operators",
    "dataflowex_spark.plans",
    "dataflowex_spark.sources",
    "dataflowex_spark.streaming.ops",
)


def layer_of(module: str) -> str:
    """``dataflowex_spark.operators.dedup`` -> ``operators.dedup``;
    ``dataflowex_spark.streaming.ops`` -> ``streaming``."""
    name = module[len(PACKAGE) + 1 :]
    return "streaming" if name.startswith("streaming") else name


def now() -> float:
    return time.time()


@dataclass
class Span:
    sid: int
    parent: int | None
    layer: str
    name: str
    t0: float
    t1: float = 0.0


@dataclass
class Tracer:
    """Span recorder; a disabled tracer records nothing."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield
            return
        s = Span(len(self.spans), self._stack[-1] if self._stack else None,
                 layer, name, now())
        self.spans.append(s)
        self._stack.append(s.sid)
        try:
            yield
        finally:
            self._stack.pop()
            s.t1 = now()

    def wrap(self, fn: Callable, layer: str) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, fn.__qualname__):
                return fn(*args, **kwargs)

        return traced


def _public_functions(mod) -> Iterable[tuple[object, str, Callable]]:
    """(owner, attribute, function) for each public function and public
    class method defined in ``mod``."""
    for name, obj in list(vars(mod).items()):
        if name.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
            continue
        if inspect.isfunction(obj):
            yield mod, name, obj
        elif inspect.isclass(obj):
            for mname, m in list(vars(obj).items()):
                if mname.startswith("_"):
                    continue
                if isinstance(m, (staticmethod, classmethod)):
                    yield obj, mname, m
                elif inspect.isfunction(m):
                    yield obj, mname, m


def import_all() -> None:
    """Import every traced module, including those the package only
    imports lazily inside functions, so that all of them get wrapped."""
    import importlib
    import pkgutil

    pkg = importlib.import_module(PACKAGE)
    for info in pkgutil.walk_packages(pkg.__path__, PACKAGE + "."):
        if info.name.startswith(TRACED_PREFIXES):
            importlib.import_module(info.name)


def install(tracer: Tracer) -> int:
    """Wrap every public function of the traced package modules and
    rebind every module-level reference to it. Returns the count."""
    import_all()
    wrapped: dict[int, Callable] = {}
    mods = [
        m for n, m in sorted(sys.modules.items())
        if m is not None and n.startswith(TRACED_PREFIXES)
    ]
    for mod in mods:
        layer = layer_of(mod.__name__)
        for owner, name, obj in _public_functions(mod):
            if isinstance(obj, (staticmethod, classmethod)):
                inner = obj.__func__
                w = type(obj)(tracer.wrap(inner, layer))
                setattr(owner, name, w)
                continue
            w = tracer.wrap(obj, layer)
            wrapped[id(obj)] = w
            setattr(owner, name, w)
    # names imported into other package modules still point at the
    # originals; rebind them too
    for n, m in list(sys.modules.items()):
        if m is None or not n.startswith(PACKAGE):
            continue
        for k, v in list(vars(m).items()):
            w = wrapped.get(id(v))
            if w is not None and w is not v:
                setattr(m, k, w)
    return len(wrapped)


def layers_by_op(spans: list[Span]) -> dict[str, set[str]]:
    """Op kind -> the layers its spans reached (a diagnostic)."""
    kids: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    out: dict[str, set[str]] = defaultdict(set)
    for s in spans:
        if s.layer != "op":
            continue
        todo = list(kids[s.sid])
        while todo:
            c = todo.pop()
            out[s.name].add(c.layer)
            todo += kids[c.sid]
    return out


# -- event log -----------------------------------------------------------

@dataclass
class Job:
    jid: int
    t0: float
    t1: float
    stages: list[int]


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stage_tasks: dict[int, list[dict]] = field(default_factory=lambda: defaultdict(list))
    #: accumulator id -> (metric name, metric type, plan node name)
    accums: dict[int, tuple[str, str, str]] = field(default_factory=dict)
    #: accumulator updates made in the Spark JVM outside tasks:
    #: (accumulator id, value, time)
    jvm_updates: list[tuple[int, int, float]] = field(default_factory=list)
    #: (time, progress dict)
    progress: list[tuple[float, dict]] = field(default_factory=list)


def _walk_plan(info: dict, out: dict) -> None:
    node = info.get("nodeName", "")
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = (m["name"], m["metricType"], node)
    for c in info.get("children", []):
        _walk_plan(c, out)


def parse_event_log(path: str) -> EventLog:
    log = EventLog()
    exec_time: dict[int, float] = {}
    job_end: dict[int, float] = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                log.jobs[e["Job ID"]] = Job(
                    e["Job ID"], e["Submission Time"] / 1000.0, 0.0,
                    list(e["Stage IDs"]),
                )
            elif ev == "SparkListenerJobEnd":
                job_end[e["Job ID"]] = e["Completion Time"] / 1000.0
            elif ev == "SparkListenerTaskEnd":
                log.stage_tasks[e["Stage ID"]].append(e)
            elif ev.endswith("SparkListenerSQLExecutionStart"):
                exec_time[e["executionId"]] = e.get("time", 0) / 1000.0
                _walk_plan(e.get("sparkPlanInfo", {}), log.accums)
            elif ev.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                _walk_plan(e.get("sparkPlanInfo", {}), log.accums)
            elif ev.endswith("SparkListenerSQLAdaptiveSQLMetricUpdates"):
                for m in e.get("sqlPlanMetrics", []):
                    log.accums.setdefault(
                        m["accumulatorId"], (m["name"], m["metricType"], "")
                    )
            elif ev.endswith("SparkListenerDriverAccumUpdates"):
                t = exec_time.get(e["executionId"], 0.0)
                for aid, v in e.get("accumUpdates", []):
                    log.jvm_updates.append((aid, v, t))
            elif ev.endswith("QueryProgressEvent"):
                p = e["progress"]
                log.progress.append((_iso_time(p["timestamp"]), p))
    for jid, t1 in job_end.items():
        if jid in log.jobs:
            log.jobs[jid].t1 = t1
    return log


def _iso_time(s: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp()


def find_event_log(directory: str) -> str | None:
    for n in sorted(os.listdir(directory)):
        p = os.path.join(directory, n)
        if os.path.isfile(p) and not n.endswith(".inprogress"):
            return p
    return None


# -- attribution ---------------------------------------------------------

PY_NODE_MARKERS = ("Python", "Pandas", "Arrow")


def _top(layer: str) -> str:
    """The layer a module belongs to: ``operators.dedup`` ->
    ``operators``; ``spark.plan`` and ``spark.exec`` stay themselves."""
    return layer if layer.startswith("spark.") else layer.split(".")[0]


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def attribute(spans: list[Span], log: EventLog, t0: float, t1: float) -> dict:
    """Layer metrics for the window ``[t0, t1]`` (the timed passes)."""
    in_win = [s for s in spans if s.t0 >= t0 and s.t1 <= t1]
    # every op runs under its own job group, but the calls nested
    # in it share that group (and a streaming query's jobs carry its run
    # id instead), so jobs are placed by submission time
    jobs = [j for j in log.jobs.values() if t0 <= j.t0 <= t1 and j.t1 > 0]
    # innermost open span at each job's submission: the latest-started
    # span that is still open then
    by_start = sorted(in_win, key=lambda s: s.t0)
    starts = [s.t0 for s in by_start]
    owner: dict[int, Span | None] = {}
    for j in jobs:
        owner[j.jid] = None
        for i in range(bisect.bisect_right(starts, j.t0) - 1, -1, -1):
            if by_start[i].t1 >= j.t0:
                owner[j.jid] = by_start[i]
                break
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in in_win:
        if s.parent is not None:
            children[s.parent].append((s.t0, s.t1))
    for j in jobs:
        if owner[j.jid] is not None:
            children[owner[j.jid].sid].append((j.t0, j.t1))

    out: dict[str, float] = defaultdict(float)
    for s in in_win:
        dur = s.t1 - s.t0
        cover = _union([(max(a, s.t0), min(b, s.t1)) for a, b in children[s.sid]])
        top = _top(s.layer)
        out[f"{top}.self_s"] += max(0.0, dur - cover)
        if s.layer in ("op", "spark.plan", "spark.exec"):
            continue
        # a call's time counts once, at the outermost call of its layer
        # and, for operators.* / sources.* / plans.*, of its module
        parent = spans[s.parent].layer if s.parent is not None else ""
        if _top(parent) != top:
            out[f"{top}.call_s"] += dur
            out[f"{top}.calls"] += 1
        if top != s.layer and parent != s.layer:
            out[f"{s.layer}.call_s"] += dur
            out[f"{s.layer}.calls"] += 1
    # a job counts for every layer on its span's path
    for j in jobs:
        s, layers = owner[j.jid], set()
        while s is not None:
            layers.add(s.layer)
            s = spans[s.parent] if s.parent is not None else None
        for lay in layers:
            out[f"{lay}.jobs"] += 1
    # job time is Spark execution wherever it was submitted
    out["spark.exec.self_s"] += _union([(j.t0, j.t1) for j in jobs])
    out["spark.exec_s"] = _union([(j.t0, j.t1) for j in jobs])
    out["spark.plan_s"] = sum(s.t1 - s.t0 for s in in_win if s.layer == "spark.plan")
    out["spark.jobs"] = len(jobs)
    out.update(_task_metrics(log, jobs, t1 - t0))
    out.update(_scan_files(log, t0, t1))
    out.update(_streaming(log, t0, t1))
    return dict(out)


def _task_metrics(log: EventLog, jobs: list[Job], wall: float) -> dict:
    stages = sorted({sid for j in jobs for sid in j.stages if sid in log.stage_tasks})
    m: dict[str, float] = defaultdict(float)
    m["spark.stages"] = len(stages)
    for sid in stages:
        for t in log.stage_tasks[sid]:
            m["spark.tasks"] += 1
            info = t.get("Task Info", {})
            if info.get("Failed"):
                m["spark.failed_tasks"] += 1
            tm = t.get("Task Metrics") or {}
            m["spark.task_s"] += tm.get("Executor Run Time", 0) / 1e3
            m["spark.cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            m["spark.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            sr = tm.get("Shuffle Read Metrics") or {}
            m["spark.shuffle_read_mb"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            ) / 1e6
            sw = tm.get("Shuffle Write Metrics") or {}
            m["spark.shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
            m["spark.spill_mb"] += (
                tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            ) / 1e6
            m["spark.input_mb"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0) / 1e6
            for a in info.get("Accumulables", []):
                meta = log.accums.get(a.get("ID"))
                if meta is None:
                    continue
                name, mtype, node = meta
                if not any(k in node for k in PY_NODE_MARKERS):
                    continue
                v = float(a.get("Update", 0) or 0)
                scale = {"timing": 1e3, "nsTiming": 1e9}.get(mtype, 1.0)
                if name == "time to run Python workers":
                    m["spark.python.eval_s"] += v / scale
                elif name == "data sent to Python workers":
                    m["spark.python.mb_sent"] += v / 1e6
                elif name == "number of output rows":
                    m["spark.python.rows"] += v
    cores = len(os.sched_getaffinity(0))
    m["spark.core_util"] = m["spark.task_s"] / (wall * cores) if wall > 0 else 0.0
    return m


def _scan_files(log: EventLog, t0: float, t1: float) -> dict:
    n = 0.0
    for aid, v, t in log.jvm_updates:
        meta = log.accums.get(aid)
        if meta and meta[0] == "number of files read" and t0 <= t <= t1:
            n += v
    return {"spark.scan_files": n}


def _streaming(log: EventLog, t0: float, t1: float) -> dict:
    m: dict[str, float] = defaultdict(float)
    for t, p in log.progress:
        if not (t0 <= t <= t1):
            continue
        m["streaming.batches"] += 1
        d = p.get("durationMs", {})
        m["streaming.trigger_s"] += d.get("triggerExecution", 0) / 1e3
        m["streaming.add_batch_s"] += d.get("addBatch", 0) / 1e3
        m["streaming.wal_commit_s"] += d.get("walCommit", 0) / 1e3
    return m
