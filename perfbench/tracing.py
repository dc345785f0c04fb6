"""Per-layer tracing for the benchmark's traced run.

Two sources feed the per-layer metrics:

* Program layers: the public module-level functions of each package in
  ``LAYERS`` are wrapped so that every call records a span (name, start,
  end, parent, job).  ``install`` must run before the ``inventory``
  modules are imported, because they bind the functions by name at
  import time.  A layer's self time is its spans' duration minus the
  part covered by their child spans.
* Engine layers: Spark's event log (uncompressed, not rolling) gives
  scheduler, executor, shuffle, spill, I/O and Python-worker numbers;
  ``QueryExecution.tracker()`` gives the Catalyst phases.

Only spans recorded while ``Tracer.enabled`` is true count, and only the
Spark jobs whose job group starts with ``TRACED_GROUP`` are read from
the event log, so one run can alternate untraced and traced passes.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import json
import os
import pkgutil
import sys
import threading
import time
from dataclasses import dataclass, field

PACKAGE = "hadoop_20_warehouse_spark"
LAYERS = (
    "session",
    "catalog",
    "operators",
    "sources",
    "dedup",
    "similarity",
    "functions",
    "graph",
    "multimodal",
)
# Spans the benchmark itself records around each job.
JOB, BUILD, PLAN, ACTION = "job", "inventory.build", "catalyst", "inventory.action"
TRACED_GROUP = "traced:"

# Accumulable names of Spark's Python SQL metrics (PythonSQLMetrics).
_PY_RUN = "time to run Python workers"
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    job: str = ""


@dataclass
class Tracer:
    """In-memory span recorder; spans are written out when the run ends."""

    enabled: bool = False
    job: str = ""
    spans: list[Span] = field(default_factory=list)
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def begin(self, name: str) -> int:
        stack = self._stack()
        span = Span(name, time.time(), parent=stack[-1] if stack else None, job=self.job)
        with self._lock:
            self.spans.append(span)
            idx = len(self.spans) - 1
        stack.append(idx)
        return idx

    def end(self, idx: int) -> None:
        self.spans[idx].end = time.time()
        self._stack().pop()

    @contextlib.contextmanager
    def span(self, name: str):
        idx = self.begin(name)
        try:
            yield
        finally:
            self.end(idx)

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({"id": i, **s.__dict__}) + "\n")


def _wrap(tracer: Tracer, layer: str, fn):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        if not tracer.enabled:
            return fn(*args, **kwargs)
        with tracer.span(layer):
            return fn(*args, **kwargs)

    return traced


def _layer_modules(layer: str) -> list:
    mod = importlib.import_module(f"{PACKAGE}.{layer}")
    mods = [mod]
    if hasattr(mod, "__path__"):
        for info in pkgutil.walk_packages(mod.__path__, prefix=f"{mod.__name__}."):
            mods.append(importlib.import_module(info.name))
    return mods


def install(tracer: Tracer) -> int:
    """Wrap every public function defined in a layer module; returns the
    number wrapped.  A function is wrapped only where its attribute name
    equals its ``__qualname__``, so cloudpickle still ships it to Python
    workers by reference (workers import the unwrapped original)."""
    if any(m == f"{PACKAGE}.inventory" or m.startswith(f"{PACKAGE}.inventory_") for m in sys.modules):
        raise RuntimeError("install() must run before the inventory modules are imported")
    wrapped: dict[int, object] = {}
    for layer in LAYERS:
        for mod in _layer_modules(layer):
            for name, obj in list(vars(mod).items()):
                if (
                    inspect.isfunction(obj)
                    and not name.startswith("_")
                    and obj.__module__ == mod.__name__
                    and obj.__qualname__ == name
                ):
                    wrapper = _wrap(tracer, layer, obj)
                    wrapped[id(obj)] = wrapper
                    setattr(mod, name, wrapper)
    # Layer modules that imported each other's functions before they were
    # wrapped still hold the originals: point those names at the wrappers.
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith(PACKAGE):
            continue
        for name, obj in list(vars(mod).items()):
            if id(obj) in wrapped and inspect.isfunction(obj):
                setattr(mod, name, wrapped[id(obj)])
    return len(wrapped)


def catalyst_phases(df) -> dict[str, float]:
    """Plan ``df`` fully and return its Catalyst phase times in seconds."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        summary = phases.get(phase)
        out[phase] = summary.get().durationMs() / 1000.0 if summary.isDefined() else 0.0
    return out


def span_summary(spans: list[Span]) -> dict:
    """Self time, call count and total duration per span name.  Self
    time is duration minus the duration of direct children, which nest
    strictly on one thread."""
    child_time = [0.0] * len(spans)
    for s in spans:
        if s.parent is not None:
            child_time[s.parent] += s.end - s.start
    self_s: dict[str, float] = {}
    calls: dict[str, int] = {}
    total: dict[str, float] = {}
    for i, s in enumerate(spans):
        dur = s.end - s.start
        self_s[s.name] = self_s.get(s.name, 0.0) + dur - child_time[i]
        calls[s.name] = calls.get(s.name, 0) + 1
        total[s.name] = total.get(s.name, 0.0) + dur
    return {"self_s": self_s, "calls": calls, "total_s": total}


def innermost(spans: list[Span], t: float) -> int | None:
    """Index of the innermost span containing time ``t`` (the deepest one
    whose interval holds it), or None."""
    best, depth_best = None, -1
    for i, s in enumerate(spans):
        if s.start <= t <= s.end:
            depth, p = 0, s.parent
            while p is not None:
                depth, p = depth + 1, spans[p].parent
            if depth > depth_best:
                best, depth_best = i, depth
    return best


def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _union_within(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    covered, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                covered += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        covered += cur_b - cur_a
    return covered


def engine_metrics(events: list[dict], spans: list[Span]) -> dict:
    """Scheduler, executor, shuffle, spill, I/O, Python-worker and driver
    numbers for the traced Spark jobs, plus per-layer job counts.  Sums
    over the whole traced run; the caller normalises them per pass."""
    m = dict.fromkeys(
        (
            "scheduler.jobs scheduler.stages scheduler.stages_skipped scheduler.tasks "
            "scheduler.tasks_failed scheduler.delay_s executor.run_s executor.cpu_s "
            "executor.gc_s shuffle.write_bytes shuffle.read_bytes shuffle.fetch_wait_s "
            "spill.disk_bytes spill.memory_bytes scan.input_bytes write.output_bytes "
            "pyworker.run_s arrow.to_python_bytes arrow.from_python_bytes"
        ).split(),
        0.0,
    )
    layer_jobs = dict.fromkeys(LAYERS, 0)
    eager_jobs = 0
    active: dict[int, tuple[set, set]] = {}  # job id -> (stage ids, stages run)
    traced_stages: set[tuple[int, int]] = set()
    task_intervals: list[tuple[float, float]] = []

    for ev in events:
        kind = ev.get("Event")
        props = ev.get("Properties") or {}
        traced = str(props.get("spark.jobGroup.id", "")).startswith(TRACED_GROUP)
        if kind == "SparkListenerJobStart" and traced:
            m["scheduler.jobs"] += 1
            active[ev["Job ID"]] = (set(ev.get("Stage IDs", [])), set())
            idx = innermost(spans, ev["Submission Time"] / 1000.0)
            if idx is not None:
                name = spans[idx].name
                if name in layer_jobs:
                    layer_jobs[name] += 1
                # An eager job: started anywhere under a build span.
                while idx is not None and spans[idx].name != BUILD:
                    idx = spans[idx].parent
                eager_jobs += idx is not None
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in active:
            stage_ids, run = active.pop(ev["Job ID"])
            m["scheduler.stages_skipped"] += len(stage_ids - run)
        elif kind == "SparkListenerStageSubmitted" and traced:
            info = ev["Stage Info"]
            m["scheduler.stages"] += 1
            traced_stages.add((info["Stage ID"], info.get("Stage Attempt ID", 0)))
            for stage_ids, run in active.values():
                if info["Stage ID"] in stage_ids:
                    run.add(info["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            if (ev["Stage ID"], ev.get("Stage Attempt ID", 0)) not in traced_stages:
                continue
            info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
            m["scheduler.tasks"] += 1
            m["scheduler.tasks_failed"] += bool(info.get("Failed") or info.get("Killed"))
            launch, finish = info["Launch Time"], info["Finish Time"]
            task_intervals.append((launch / 1000.0, finish / 1000.0))
            run_ms = tm.get("Executor Run Time", 0)
            m["scheduler.delay_s"] += max(
                0,
                (finish - launch)
                - run_ms
                - tm.get("Executor Deserialize Time", 0)
                - tm.get("Result Serialization Time", 0)
                - info.get("Getting Result Time", 0),
            ) / 1000.0
            m["executor.run_s"] += run_ms / 1000.0
            m["executor.cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            m["executor.gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
            sw, sr = tm.get("Shuffle Write Metrics") or {}, tm.get("Shuffle Read Metrics") or {}
            m["shuffle.write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            m["shuffle.read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            m["shuffle.fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1000.0
            m["spill.disk_bytes"] += tm.get("Disk Bytes Spilled", 0)
            m["spill.memory_bytes"] += tm.get("Memory Bytes Spilled", 0)
            m["scan.input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
            m["write.output_bytes"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
            for acc in info.get("Accumulables", []):
                update = acc.get("Update")
                if not isinstance(update, (int, float, str)):
                    continue
                name = acc.get("Name")
                if name == _PY_RUN:
                    m["pyworker.run_s"] += float(update) / 1000.0
                elif name == _PY_SENT:
                    m["arrow.to_python_bytes"] += float(update)
                elif name == _PY_RECV:
                    m["arrow.from_python_bytes"] += float(update)

    job_spans = [s for s in spans if s.name == JOB]
    gap = sum(
        (s.end - s.start) - _union_within(task_intervals, s.start, s.end) for s in job_spans
    )
    m["driver.gap_s"] = gap
    for layer, n in layer_jobs.items():
        m[f"{layer}.jobs"] = n
    m["inventory.eager_jobs"] = eager_jobs
    return m
