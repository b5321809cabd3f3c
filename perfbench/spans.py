"""Spans around calls into the package's layers, and the Spark event-log
reader that attributes jobs, stages and task counters to them.

The package is traced from outside: :func:`install` swaps each public
function of a layer module for a :class:`_Traced` wrapper, in every
``movie_etl_spark`` module namespace that bound it, and :func:`uninstall`
puts the originals back.  Nothing in the package is edited.
"""

from __future__ import annotations

import functools
import inspect
import json
import sys
import threading
import time
from dataclasses import dataclass, field

#: layer name -> modules whose public functions are wrapped.  The names
#: follow the package layout; ``operators.other`` collects the operator
#: modules no per-layer metric names on its own.
LAYER_MODULES: dict[str, tuple[str, ...]] = {
    "session": ("movie_etl_spark.session",),
    "plans.graph": ("movie_etl_spark.plans.graph",),
    "operators.dedup": ("movie_etl_spark.operators.dedup",),
    "operators.graph_algos": ("movie_etl_spark.operators.graph_algos",),
    "operators.similarity": ("movie_etl_spark.operators.similarity",),
    "operators.clustering": ("movie_etl_spark.operators.clustering",),
    "operators.other": tuple(
        f"movie_etl_spark.operators.{m}"
        for m in (
            "clean", "corpus", "dq", "frequency", "joins", "jpeg", "layout",
            "multimodal", "reshape", "search", "sketches", "skew", "stats",
            "upsert",
        )
    ),
    "streaming": ("movie_etl_spark.streaming.events",),
    "sources.sinks": ("movie_etl_spark.sources.sinks",),
    "sources.other": tuple(
        f"movie_etl_spark.sources.{m}"
        for m in ("api", "dims", "pysource", "readers")
    ),
}

#: session functions that are cheap bookkeeping; wrapping them would
#: only add spans, not information
_SKIP = {"movie_etl_spark.session": {"cache_tracked", "broadcast_tracked",
                                     "release_caches", "load_tables"}}


@dataclass
class Span:
    sid: int
    layer: str
    name: str
    qid: str
    parent: int | None
    t0: float  # epoch seconds, comparable with event-log millisecond stamps
    t1: float = 0.0
    children: list[int] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """In-memory span store.  Spans opened on a thread with no open span
    of its own (the thread pools in ``plans.graph`` and ``q_b1``) take
    the newest span open on the main thread as parent."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.qid = ""
        self.enabled = False
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[int] = []

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, layer: str, name: str) -> int:
        stack = self._stack()
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None
        )
        with self._lock:
            sid = len(self.spans)
            self.spans.append(Span(sid, layer, name, self.qid, parent, time.time()))
            if parent is not None:
                self.spans[parent].children.append(sid)
        stack.append(sid)
        return sid

    def close(self, sid: int) -> None:
        self.spans[sid].t1 = time.time()
        stack = self._stack()
        if stack and stack[-1] == sid:
            stack.pop()

    def span(self, layer: str, name: str = ""):
        return _SpanCtx(self, layer, name)


class _SpanCtx:
    def __init__(self, tracer: Tracer, layer: str, name: str) -> None:
        self.tracer, self.layer, self.name = tracer, layer, name
        self.sid: int | None = None

    def __enter__(self) -> _SpanCtx:
        if self.tracer.enabled:
            self.sid = self.tracer.open(self.layer, self.name)
        return self

    def __exit__(self, *exc) -> None:
        if self.sid is not None:
            self.tracer.close(self.sid)


class _Traced:
    """Callable stand-in for a layer function.  Pickles as a reference to
    the original, so a closure shipped to a Python worker resolves the
    unwrapped function there."""

    def __init__(self, fn, layer: str, tracer: Tracer) -> None:
        functools.update_wrapper(self, fn)
        self.fn, self.layer, self.tracer = fn, layer, tracer

    def __call__(self, *args, **kwargs):
        with self.tracer.span(self.layer, self.fn.__name__):
            return self.fn(*args, **kwargs)

    def __reduce__(self):
        return (getattr, (sys.modules[self.fn.__module__], self.fn.__name__))


def _layer_functions():
    import importlib

    for layer, mods in LAYER_MODULES.items():
        for modname in mods:
            mod = importlib.import_module(modname)
            skip = _SKIP.get(modname, ())
            for name, obj in vars(mod).items():
                if (inspect.isfunction(obj) and obj.__module__ == modname
                        and not name.startswith("_") and name not in skip):
                    yield layer, obj


def install(tracer: Tracer) -> list[tuple[dict, str, object]]:
    """Wrap every layer function wherever a package module bound it.
    Returns the undo list for :func:`uninstall`."""
    wrappers = {id(fn): _Traced(fn, layer, tracer) for layer, fn in _layer_functions()}
    undo = []
    for modname, mod in list(sys.modules.items()):
        if not modname.startswith("movie_etl_spark") or mod is None:
            continue
        ns = vars(mod)
        for name, obj in list(ns.items()):
            w = wrappers.get(id(obj))
            if w is not None and w.fn is obj:
                undo.append((ns, name, obj))
                ns[name] = w
    return undo


def uninstall(undo: list[tuple[dict, str, object]]) -> None:
    for ns, name, obj in undo:
        ns[name] = obj


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it covered by its children
    (the union of their intervals, clipped to the span)."""
    out: dict[int, float] = {}
    for s in spans:
        ivs = sorted(
            (max(s.t0, spans[c].t0), min(s.t1, spans[c].t1)) for c in s.children
        )
        covered, end = 0.0, s.t0
        for a, b in ivs:
            a = max(a, end)
            if b > a:
                covered += b - a
                end = b
        out[s.sid] = max(0.0, s.duration - covered)
    return out


def depths(spans: list[Span]) -> dict[int, int]:
    """Span id -> number of ancestors."""
    out: dict[int, int] = {}
    for s in spans:  # parents are opened, so listed, before their children
        out[s.sid] = 0 if s.parent is None else out[s.parent] + 1
    return out


def innermost(candidates: list[Span], depth: dict[int, int], t: float) -> Span | None:
    """The deepest candidate span whose interval holds the epoch time ``t``."""
    best = None
    for s in candidates:
        if s.t0 <= t <= s.t1 and (best is None or depth[s.sid] > depth[best.sid]):
            best = s
    return best


@dataclass
class JobRecord:
    job_id: int
    submit_s: float
    stages: list[int]
    tasks: list[dict] = field(default_factory=list)
    stages_run: int = 0


_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")


def read_event_log(path: str) -> dict[int, JobRecord]:
    """Jobs from a Spark JSON event log, with their completed stages and
    per-task counters."""
    jobs: dict[int, JobRecord] = {}
    stage_job: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = JobRecord(jid, ev["Submission Time"] / 1000.0, ev["Stage IDs"])
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = jid
            elif kind == "SparkListenerStageCompleted":
                jid = stage_job.get(ev["Stage Info"]["Stage ID"])
                if jid is not None:
                    jobs[jid].stages_run += 1
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                if jid is not None and ev.get("Task Metrics"):
                    jobs[jid].tasks.append(_task_counters(ev))
    return jobs


def _task_counters(ev: dict) -> dict:
    info, m = ev["Task Info"], ev["Task Metrics"]
    run_ms = m.get("Executor Run Time", 0)
    overhead_ms = (m.get("Executor Deserialize Time", 0)
                   + m.get("Result Serialization Time", 0)
                   + info.get("Getting Result Time", 0))
    duration_ms = info.get("Finish Time", 0) - info.get("Launch Time", 0)
    shuffle_r = m.get("Shuffle Read Metrics", {})
    py_bytes = sum(
        int(a.get("Update", 0)) for a in info.get("Accumulables", [])
        if a.get("Name") in _PY_BYTES
    )
    return {
        "run_s": run_ms / 1e3,
        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1e3,
        "sched_s": max(0, duration_ms - run_ms - overhead_ms) / 1e3,
        "input_b": m.get("Input Metrics", {}).get("Bytes Read", 0),
        "shuffle_read_b": (shuffle_r.get("Remote Bytes Read", 0)
                           + shuffle_r.get("Local Bytes Read", 0)),
        "shuffle_write_b": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
        "spill_b": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "peak_exec_b": m.get("Peak Execution Memory", 0),
        "python_b": py_bytes,
    }
