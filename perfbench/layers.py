"""Per-layer metrics of a traced run.

Every query span has three phase children: ``plans`` (build: the
catalog builder, with its calls into other layers as grandchildren),
``catalyst`` (plan: ``executedPlan()`` of the built DataFrame) and
``exec`` (the action).  A Spark job belongs to the innermost span open
at its submission time, which also covers jobs fired from thread pools
that carry no job group.  The spans are those of the run's set-ups and
its cold pass, the pass the end-to-end metrics measure.
"""

from __future__ import annotations

import statistics

from spans import JobRecord, Span, depths, innermost, self_times

#: layers whose build-phase self time and jobs are reported one by one
BUILD_LAYERS = (
    "plans", "plans.graph", "operators.dedup", "operators.graph_algos",
    "operators.similarity", "operators.clustering", "operators.other",
    "streaming",
)
_PHASES = {"plans": "build", "catalyst": "plan", "exec": "exec"}
_MB = 1024.0 * 1024.0


def _phase_of(spans: list[Span]) -> dict[int, str]:
    """Span id -> build / plan / exec, for spans under a query span."""
    out: dict[int, str] = {}
    for s in spans:
        chain, p = [s], s.parent
        while p is not None:
            chain.append(spans[p])
            p = spans[p].parent
        if len(chain) >= 2 and chain[-1].layer == "query":
            phase = _PHASES.get(chain[-2].layer)
            if phase:
                out[s.sid] = phase
    return out


def per_layer_metrics(
    spans: list[Span],
    jobs: dict[int, JobRecord],
    records: list[dict],
    load_stats: dict[str, int],
    cpus: int,
) -> dict[str, tuple[float, str]]:
    """Metric name -> (value, unit)."""
    phase = _phase_of(spans)
    own = self_times(spans)

    def total(layer: str, ph: str | None = None, name: str | None = None,
              use_self: bool = True) -> float:
        return sum(
            own[s.sid] if use_self else s.duration for s in spans
            if s.sid in phase and s.layer == layer
            and (ph is None or phase[s.sid] == ph)
            and (name is None or s.name == name)
        )

    def calls(layer: str, name: str) -> int:
        return sum(1 for s in spans if s.sid in phase and s.layer == layer and s.name == name)

    # each job -> the innermost traced span holding its submission
    owner: dict[int, Span] = {}
    query_spans = [s for s in spans if s.sid in phase or s.layer == "query"]
    depth = depths(spans)
    for jid, job in jobs.items():
        s = innermost(query_spans, depth, job.submit_s)
        if s is not None and s.sid in phase:
            owner[jid] = s

    def job_count(pred) -> int:
        return sum(1 for s in owner.values() if pred(s))

    exec_jobs = [jobs[j] for j, s in owner.items() if phase[s.sid] == "exec"]
    tasks = [t for j in exec_jobs for t in j.tasks]

    def task_sum(key: str) -> float:
        return sum(t[key] for t in tasks)

    m: dict[str, tuple[float, str]] = {}
    for layer in BUILD_LAYERS:
        m[f"{layer}.build_s"] = (total(layer, "build"), "s")
        m[f"{layer}.build_jobs"] = (job_count(
            lambda s, layer=layer: s.layer == layer and phase[s.sid] == "build"), "count")
    m["build.jobs"] = (job_count(lambda s: phase[s.sid] == "build"), "count")
    for fn in ("load_table", "ensure_parallelism"):
        m[f"session.{fn}_calls"] = (calls("session", fn), "count")
        m[f"session.{fn}_s"] = (total("session", name=fn), "s")
    m["session.load_table_jobs"] = (job_count(
        lambda s: s.layer == "session" and s.name == "load_table"), "count")
    m["catalyst.plan_s"] = (total("catalyst", use_self=False), "s")

    exec_wall = total("exec", use_self=False)
    m["exec.wall_s"] = (exec_wall, "s")
    m["exec.jobs"] = (len(exec_jobs), "count")
    m["exec.stages"] = (sum(j.stages_run for j in exec_jobs), "count")
    m["exec.tasks"] = (len(tasks), "count")
    m["exec.task_run_s"] = (task_sum("run_s"), "s")
    m["exec.task_cpu_s"] = (task_sum("cpu_s"), "s")
    m["exec.gc_s"] = (task_sum("gc_s"), "s")
    m["exec.scheduler_delay_s"] = (task_sum("sched_s"), "s")
    m["exec.input_mb"] = (task_sum("input_b") / _MB, "MB")
    m["exec.shuffle_read_mb"] = (task_sum("shuffle_read_b") / _MB, "MB")
    m["exec.shuffle_write_mb"] = (task_sum("shuffle_write_b") / _MB, "MB")
    m["exec.spill_mb"] = (task_sum("spill_b") / _MB, "MB")
    m["exec.peak_exec_mb"] = (max((t["peak_exec_b"] for t in tasks), default=0) / _MB, "MB")
    m["exec.python_mb"] = (task_sum("python_b") / _MB, "MB")
    m["exec.slot_util"] = (
        task_sum("run_s") / (exec_wall * cpus) if exec_wall else 0.0, "ratio")

    m["sources.sinks.write_s"] = (total("sources.sinks"), "s")
    m["sources.sinks.files_written"] = (load_stats["files"], "count")
    m["sources.sinks.bytes_written"] = (load_stats["bytes"], "bytes")
    m["sources.sinks.rows_appended"] = (load_stats["rows"], "count")

    setups = [s.duration for s in spans if s.layer == "session" and s.name == "get_spark"]
    m["session.get_spark_s"] = (statistics.median(setups) if setups else 0.0, "s")
    m["trace.overhead_s"] = (tracing_overhead(records), "s")
    return m


def tracing_overhead(records: list[dict]) -> float:
    """One pass with spans on minus one pass with them off, each query at
    its median; the cold first pass is left out of both sides.  With an
    untraced pass on either side of the traced one, the untraced median
    is their mean, so a steady warm-up from pass to pass cancels."""
    def pass_s(traced: bool) -> float:
        by_op: dict[str, list[float]] = {}
        for r in records:
            if r["ok"] and r["pass"] > 0 and r["traced"] == traced:
                by_op.setdefault(r["op"], []).append(r["wall_s"])
        return sum(statistics.median(v) for v in by_op.values())

    return pass_s(True) - pass_s(False)
