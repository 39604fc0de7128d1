"""The traced run: spans recorded from the benchmark's own code around
calls into the package's modules, plus Spark's own event log.

Nothing here edits the package. ``Tracer.install`` swaps public
module-level functions of ``aws_de_final_project_spark`` for timing
wrappers in every module namespace that binds them, and
``uninstall`` puts the originals back. Spans live in memory until the
run ends.
"""

from __future__ import annotations

import bisect
import contextlib
import functools
import glob
import importlib
import inspect
import json
import os
import pkgutil
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass
from datetime import datetime

from stats import interval_union, median, self_time

PACKAGE = "aws_de_final_project_spark"

# Operator modules whose self time is reported one by one.
OPERATOR_MODULES = (
    "dedup", "similarity", "graphrank", "webcrawl", "langid", "curation",
    "multimodal",
)
LAYERS = ("plans", "sources", "operators", "functions", "streaming",
          "pipeline", "etl", "session")
CUT_METHODS = ("localCheckpoint", "checkpoint", "persist", "cache")


def layer_of(module: str) -> str:
    """``aws_de_final_project_spark.operators.dedup`` -> ``operators.dedup``;
    top-level modules (``etl``, ``pipeline``, ``session``) name themselves."""
    parts = module.split(".")
    if parts[0] != PACKAGE or len(parts) < 2:
        return "benchmark"
    if parts[1] == "operators" and len(parts) > 2:
        return f"operators.{parts[2]}"
    return parts[1]


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    request: str | None = None
    sid: int = 0


@dataclass
class Request:
    rid: str
    kind: str  # "query", "increment" or "view"
    shape: str
    pass_no: int
    start: float
    end: float = 0.0
    build: tuple[float, float] | None = None
    catalyst_s: float = 0.0
    cuts: int = 0


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.requests: list[Request] = []
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        self.current: Request | None = None

    # -- spans --------------------------------------------------------

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        stack = self._stack()
        sp = Span(
            name, layer, time.time(),
            parent=stack[-1] if stack else None,
            request=self.current.rid if self.current else None,
            sid=len(self.spans),
        )
        self.spans.append(sp)
        stack.append(sp.sid)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()

    @contextlib.contextmanager
    def request(self, spark, rid: str, kind: str, shape: str, pass_no: int):
        req = Request(rid, kind, shape, pass_no, time.time())
        self.requests.append(req)
        self.current = req
        spark.sparkContext.setJobGroup(rid, f"{kind}:{shape}")
        sp = None
        try:
            with self.span(f"request.{kind}", "request") as sp:
                req.start = sp.start  # the request is its root span
                yield req
        finally:
            req.end = sp.end if sp is not None else time.time()
            self.current = None

    def wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name, layer):
                return fn(*args, **kwargs)

        return traced

    # -- installing wrappers ------------------------------------------

    def install(self, dataframe_cls) -> None:
        """Wrap the package's public functions and the DataFrame cut
        methods. Imports every submodule first so that later lazy
        ``from ... import f`` statements resolve to the wrappers."""
        pkg = importlib.import_module(PACKAGE)
        for info in pkgutil.walk_packages(pkg.__path__, PACKAGE + "."):
            importlib.import_module(info.name)
        modules = [m for n, m in list(sys.modules.items())
                   if m is not None and (n == PACKAGE or n.startswith(PACKAGE + "."))]
        wrappers: dict[int, object] = {}
        for mod in modules:
            for attr, obj in vars(mod).items():
                if (attr.startswith("_") or not inspect.isfunction(obj)
                        or obj.__module__ != mod.__name__):
                    continue
                layer = layer_of(obj.__module__)
                if layer in ("plans", "benchmark") and not obj.__module__.endswith(".views"):
                    continue  # query functions are the request's build span
                short = obj.__module__.split(".", 1)[1]
                wrappers[id(obj)] = self.wrap(obj, f"{short}.{obj.__name__}", layer)
        self._wrap_steps()
        for mod in modules + [sys.modules.get("__spark_entry__")]:
            if mod is None:
                continue
            for attr, obj in list(vars(mod).items()):
                w = wrappers.get(id(obj))
                if w is not None:
                    self._patch(mod, attr, w)
        for meth in CUT_METHODS:
            self._patch(dataframe_cls, meth, self._count_cut(getattr(dataframe_cls, meth)))

    def _wrap_steps(self) -> None:
        """``pipeline._with_retry(step, name)`` runs each pipeline step;
        a span named after ``name`` splits the pipeline's time."""
        pipeline = importlib.import_module(f"{PACKAGE}.pipeline")
        orig = pipeline._with_retry
        tracer = self

        def with_retry(step, name):
            with tracer.span(f"pipeline.step.{name}", "pipeline"):
                return orig(step, name)

        self._patch(pipeline, "_with_retry", with_retry)

    def _count_cut(self, meth):
        tracer = self

        @functools.wraps(meth)
        def counted(*args, **kwargs):
            if tracer.current is not None:
                tracer.current.cuts += 1
            return meth(*args, **kwargs)

        return counted

    def _patch(self, owner, attr: str, new) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, old = self._patched.pop()
            setattr(owner, attr, old)

    # -- self time ------------------------------------------------------

    def self_times(self) -> dict[int, float]:
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for sp in self.spans:
            if sp.parent is not None:
                children[sp.parent].append((sp.start, sp.end))
        return {sp.sid: self_time(sp.start, sp.end, children[sp.sid])
                for sp in self.spans}

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(sp.__dict__) + "\n")


# ---------------------------------------------------------------------------
# Spark event log

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
PY_RUN = "time to run Python workers"
# Spark charges a reused worker's initialisation to every task it
# runs, so the start metrics can exceed the tasks' run time.
PY_START = ("time to start Python workers", "time to initialize Python workers")
FILES_READ = "number of files read"
SQL_METRICS = (PY_SENT, PY_RETURNED, PY_RUN, *PY_START, FILES_READ)


def read_event_log(log_dir: str) -> list[dict]:
    """Every event under ``log_dir``, rolling (``eventlog_v2_*``) or
    single-file layout."""
    files = sorted(
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and "appstatus" not in os.path.basename(p)
    )
    events = []
    for path in files:
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def _plan_metrics(info: dict, out: dict[int, tuple[str, str]]) -> None:
    for m in info.get("metrics", ()):
        out[m["accumulatorId"]] = (m["name"], m["metricType"])
    for child in info.get("children", ()):
        _plan_metrics(child, out)


def _metric_value(raw: float, mtype: str) -> float:
    if mtype == "timing":
        return raw / 1e3
    if mtype == "nsTiming":
        return raw / 1e9
    return float(raw)


def _iso_epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class EventAttribution:
    """Spark activity of each request, attributed by time: the client
    runs one request at a time, so whatever Spark started inside a
    request's interval belongs to it. (Streaming micro-batches run
    under the stream's own job group, so job groups alone cannot
    attribute them.)"""

    def __init__(self, events: list[dict], requests: list[Request]):
        self.requests = sorted(requests, key=lambda r: r.start)
        self._starts = [r.start for r in self.requests]
        self.per: dict[str, dict] = {r.rid: defaultdict(float) for r in self.requests}
        self.job_spans: dict[str, list[tuple[float, float]]] = defaultdict(list)
        self.stage_durations: dict[str, list[tuple[float, int]]] = defaultdict(list)
        self.task_times: dict[int, list[float]] = defaultdict(list)
        self._ingest(events)

    def owner(self, t: float) -> Request | None:
        i = bisect.bisect_right(self._starts, t) - 1
        if i >= 0 and self.requests[i].start <= t <= self.requests[i].end:
            return self.requests[i]
        return None

    def _ingest(self, events: list[dict]) -> None:
        metric_defs: dict[int, tuple[str, str]] = {}
        exec_time: dict[int, float] = {}
        job_start: dict[int, tuple[str, float]] = {}
        for e in events:
            kind = e["Event"]
            if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                _plan_metrics(e.get("sparkPlanInfo", {}), metric_defs)
                if "time" in e:
                    exec_time[e["executionId"]] = e["time"] / 1e3
            elif kind == "SparkListenerJobStart":
                t = e["Submission Time"] / 1e3
                req = self.owner(t)
                if req is not None:
                    job_start[e["Job ID"]] = (req.rid, t)
                    p = self.per[req.rid]
                    p["jobs"] += 1
                    if req.build and req.build[0] <= t <= req.build[1]:
                        p["build_jobs"] += 1
            elif kind == "SparkListenerJobEnd":
                started = job_start.get(e["Job ID"])
                if started is not None:
                    self.job_spans[started[0]].append((started[1], e["Completion Time"] / 1e3))
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                if "Submission Time" not in info:
                    continue  # skipped stage: its output was reused
                t0 = info["Submission Time"] / 1e3
                req = self.owner(t0)
                if req is not None:
                    self.per[req.rid]["stages"] += 1
                    dur = info.get("Completion Time", info["Submission Time"]) / 1e3 - t0
                    self.stage_durations[req.rid].append((dur, info["Stage ID"]))
            elif kind == "SparkListenerTaskEnd":
                self._task(e, metric_defs)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                t = exec_time.get(e["executionId"])
                req = self.owner(t) if t is not None else None
                if req is None:
                    continue
                for acc_id, value in e["accumUpdates"]:
                    name, mtype = metric_defs.get(acc_id, (None, None))
                    if name in SQL_METRICS:
                        self.per[req.rid][name] += _metric_value(value, mtype)
            elif kind.endswith("QueryProgressEvent"):
                self._progress(e["progress"])

    def _task(self, e: dict, metric_defs) -> None:
        info = e["Task Info"]
        req = self.owner(info["Launch Time"] / 1e3)
        if req is None:
            return
        p = self.per[req.rid]
        p["tasks"] += 1
        self.task_times[e["Stage ID"]].append(
            (info["Finish Time"] - info["Launch Time"]) / 1e3)
        m = e.get("Task Metrics") or {}
        p["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
        p["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        p["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        sr = m.get("Shuffle Read Metrics", {})
        p["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        p["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        p["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        p["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
        for acc in info.get("Accumulables", ()):
            name = acc.get("Name")
            if name in SQL_METRICS and "Update" in acc:
                mtype = metric_defs.get(acc["ID"], (name, "timing" if "time" in name else "size"))[1]
                p[name] += _metric_value(float(acc["Update"]), mtype)

    def _progress(self, prog: dict) -> None:
        req = self.owner(_iso_epoch(prog["timestamp"]))
        if req is None:
            return
        p = self.per[req.rid]
        d = prog.get("durationMs", {})
        p["batches"] += 1
        p["add_batch_s"] += d.get("addBatch", 0) / 1e3
        p["stream_overhead_s"] += (d.get("triggerExecution", 0) - d.get("addBatch", 0)) / 1e3
        for op in prog.get("stateOperators", ()):
            p["state_rows"] += op.get("numRowsTotal", 0)
            p["state_bytes"] += op.get("memoryUsedBytes", 0)
            p["state_commit_s"] += op.get("commitTimeMs", 0) / 1e3

    def slowest_stage(self, rid: str) -> tuple[float, float]:
        """(duration, max/median task time) of the request's slowest stage."""
        stages = self.stage_durations.get(rid)
        if not stages:
            return 0.0, 0.0
        dur, sid = max(stages)
        times = self.task_times.get(sid, [])
        mid = median(times)
        return dur, (max(times) / mid if times and mid > 0 else 0.0)

    def driver_only_s(self, req: Request) -> float:
        jobs = [(max(s, req.start), min(e, req.end)) for s, e in self.job_spans.get(req.rid, ())]
        return (req.end - req.start) - interval_union(jobs)


def layer_shares(tracer: Tracer) -> dict[str, float]:
    """Each span layer's self time as a share of the timed requests'
    wall time; the shares add up to 1. ``execute`` is the checksum
    action that drives a built frame, ``request`` the request's own
    time outside every other span; operator modules count as
    ``operators``."""
    rids = {r.rid for r in tracer.requests if r.pass_no >= 0}
    wall = sum(r.end - r.start for r in tracer.requests if r.rid in rids)
    selfs = tracer.self_times()
    out: dict[str, float] = defaultdict(float)
    for sp in tracer.spans:
        if sp.request in rids:
            out[sp.layer.split(".")[0]] += selfs[sp.sid] / wall if wall else 0.0
    return dict(out)


def per_layer_metrics(tracer: Tracer, attribution: EventAttribution, n_passes: int,
                      cores: int) -> dict[str, float]:
    """Per-layer totals per timed pass (mean over passes), from spans
    and event-log attribution of the timed requests."""
    reqs = [r for r in tracer.requests if r.pass_no >= 0]
    rids = {r.rid for r in reqs}
    per = attribution.per
    passes = max(1, n_passes)

    def total(key: str) -> float:
        return sum(per[r][key] for r in rids if r in per)

    out: dict[str, float] = {}
    for key in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        out[f"session.{key}"] = total(key) / passes
    wall = sum(r.end - r.start for r in reqs)
    out["session.core_util"] = total("executor_run_s") / (wall * cores) if wall else 0.0
    slow = [attribution.slowest_stage(r.rid) for r in reqs]
    out["session.slowest_stage_s"] = max((s[0] for s in slow), default=0.0)
    out["session.stage_skew"] = median([s[1] for s in slow if s[1] > 0])

    out["plans.build_s"] = sum(r.build[1] - r.build[0] for r in reqs if r.build) / passes
    out["plans.build_jobs"] = total("build_jobs") / passes
    out["plans.catalyst_s"] = sum(r.catalyst_s for r in reqs) / passes
    out["plans.driver_only_s"] = sum(attribution.driver_only_s(r) for r in reqs) / passes

    out["sources.files_read"] = total(FILES_READ) / passes
    out["sources.input_bytes"] = total("input_bytes") / passes
    out["functions.python_sent_bytes"] = total(PY_SENT) / passes
    out["functions.python_returned_bytes"] = total(PY_RETURNED) / passes
    out["functions.python_run_s"] = total(PY_RUN) / passes
    out["functions.python_start_s"] = sum(total(k) for k in PY_START) / passes
    out["operators.cuts"] = sum(r.cuts for r in reqs) / passes

    out["streaming.batches"] = total("batches") / passes
    out["streaming.add_batch_s"] = total("add_batch_s") / passes
    out["streaming.state_rows"] = total("state_rows") / passes
    out["streaming.state_bytes"] = total("state_bytes") / passes
    out["streaming.state_commit_s"] = total("state_commit_s") / passes
    out["streaming.overhead_s"] = total("stream_overhead_s") / passes

    # span-derived times, timed requests only
    selfs = tracer.self_times()
    by_sid = {sp.sid: sp for sp in tracer.spans}
    timed = [sp for sp in tracer.spans if sp.request in rids]
    layer_self: dict[str, float] = defaultdict(float)
    for sp in timed:
        layer_self[sp.layer] += selfs[sp.sid]
    for layer in LAYERS:
        out[f"{layer}.self_s"] = sum(
            v for k, v in layer_self.items() if k == layer or k.startswith(layer + ".")
        ) / passes
    for mod in OPERATOR_MODULES:
        out[f"operators.{mod}.self_s"] = layer_self.get(f"operators.{mod}", 0.0) / passes

    def outermost(sp: Span, layer: str) -> bool:
        parent = by_sid.get(sp.parent) if sp.parent is not None else None
        return parent is None or parent.layer != layer

    out["sources.load_s"] = sum(
        sp.end - sp.start for sp in timed if sp.layer == "sources" and outermost(sp, "sources")
    ) / passes
    for step in ("transform", "register", "supporting"):
        out[f"pipeline.{step}_s"] = sum(
            sp.end - sp.start for sp in timed if sp.name == f"pipeline.step.{step}"
        ) / passes
    out["pipeline.views_s"] = sum(
        sp.end - sp.start for sp in timed
        if sp.name.endswith("views.create_views_from_dir")
    ) / passes
    return out
