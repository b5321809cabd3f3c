"""Closed-loop benchmark of the movie_etl_spark catalog.

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 30 --trace 0

One process generates the workload's tables (from a fixed data seed),
starts a ``local[N]`` session through ``session.get_spark`` (N = min(4,
cores)), and runs one pass over the workload's queries on the cold JVM,
one query at a time, in an order permuted by ``--seed``.  Every result
is checked, outside the timed section, against the query's DuckDB
oracle (row count plus the order-insensitive digest of
``tools/selfcheck.py``); a load is checked by the rows it appends.  The last stdout line is the JSON result; the line before it
holds the per-query record the metrics are computed from.

``--trace 1`` turns on Spark's event log and puts spans around the calls
into each package layer (see ``spans.py``) during the set-ups and the
cold pass, then adds three warm passes for the tracing overhead.  It
reports the per-layer metrics instead of the end-to-end ones.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import random
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from workloads import WORKLOADS  # noqa: E402

CPUS = min(4, os.cpu_count() or 1)
#: the tables are the same in every run; --seed only orders the queries
DATA_SEED = 42
#: session set-ups per run; the first one launches the JVM, the others
#: stop the session and build it again, and setup_s is their median
SETUPS = 6
#: a run measures one pass on a cold JVM, as a one-shot ETL submission
#: pays it.  A traced run traces that pass for the per-layer metrics,
#: then makes three warm passes, untraced, traced, untraced, for the
#: tracing overhead: the traced one has an untraced one on either side.
PASSES = 1
TRACED_PASSES = 4
OVERHEAD_PASS = 2
#: no pass starts later than this after process start, so a badly
#: regressed program still exits within its time limit
PASS_DEADLINE_S = 120.0
#: heap for the driver JVM; the tables are at most a few MB
DRIVER_MEM = "2g"
#: C1 only: a run lives about a minute, all of it inside C2's warm-up,
#: where C2's compile threads doubled the run's CPU and made per-query
#: CPU and wall vary by 20-30% between runs of the same code.  The serial
#: collector: G1 sizes its young generation by pause times, so the JVM's
#: peak RSS moved with host load (950-1210 MB over four runs of the same
#: code on a shared 4-core VM, 600-650 MB with this flag).  No perf data file, which the JVM
#: would write under /tmp whatever its tmpdir.
JVM_FLAGS = "-XX:TieredStopAtLevel=1 -XX:+UseSerialGC -XX:-UsePerfData"
CLK_TCK = os.sysconf("SC_CLK_TCK")

END_TO_END_UNITS = {"cpu_s": "s", "setup_s": "s", "peak_rss_mb": "MB"}


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="accepted for the benchmark interface; a run measures one "
                        "cold pass, however long it takes")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pass_order(queries: tuple[str, ...], seed: int, n_passes: int) -> list[list[str]]:
    """The query order of each pass: one seeded shuffle per pass."""
    rng = random.Random(seed)
    orders = []
    for _ in range(n_passes):
        order = list(queries)
        rng.shuffle(order)
        orders.append(order)
    return orders


# -- process tree accounting ------------------------------------------------

def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, CPU ticks of the process and its reaped children)."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        table[int(entry)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    return table


def tree_pids(table: dict[int, tuple[int, int]], root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """User plus system CPU seconds of this process and all descendants:
    the Python driver, the JVM and the Python workers."""
    table = _proc_table()
    return sum(table[p][1] for p in tree_pids(table, os.getpid()) if p in table) / CLK_TCK


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def peak_rss_mb() -> dict[str, float]:
    """High-water resident memory of the Python driver and the driver JVM."""
    table = _proc_table()
    jvms = [p for p in tree_pids(table, os.getpid()) if _comm(p) == "java"]
    return {"python": _status_kb(os.getpid(), "VmHWM") / 1024.0,
            "jvm": sum(_status_kb(p, "VmHWM") for p in jvms) / 1024.0}


# -- environment -----------------------------------------------------------

def prepare_env(work: str, trace: bool) -> str | None:
    """Point every scratch location of Spark and the package into ``work``;
    returns the event-log directory when tracing."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_UI="false",
    )
    tempfile.tempdir = tmp
    java_opts = f"{JVM_FLAGS} -Djava.io.tmpdir={tmp} -Dderby.system.home={work}"
    # spark-submit's own launcher JVM, which builds the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    args = ["--driver-java-options", java_opts]
    log_dir = None
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        for k, v in (("enabled", "true"), ("dir", f"file://{log_dir}"),
                     ("compress", "false"), ("rolling.enabled", "false")):
            args += ["--conf", f"spark.eventLog.{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    os.chdir(work)
    return log_dir


def _alive(pid: int) -> bool:
    """True while ``pid`` runs; a zombie has ended."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def stop_everything(spark) -> None:
    """Stop the session and the JVM, then wait for every process this
    run started (the JVM's Python workers included) to end."""
    from pyspark import SparkContext

    table = _proc_table()
    started = [p for p in tree_pids(table, os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while True:
        alive = [p for p in started if _alive(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, 9)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 30
        time.sleep(0.1)


# -- oracle checks ---------------------------------------------------------

class Oracle:
    """Expected results, computed by DuckDB over the generated tables."""

    def __init__(self, data_dir: str, table_names: tuple[str, ...]) -> None:
        import duckdb

        self.con = duckdb.connect()
        for t in table_names:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'"
            )

    def digest(self, sql: str, frame_digest) -> tuple[int, str]:
        res = self.con.execute(sql)
        cols = [d[0] for d in res.description]
        rows = res.fetchall()
        return len(rows), frame_digest(cols, rows)[0]

    def distinct_rows(self, sql: str) -> int:
        return self.con.execute(
            f"SELECT count(*) FROM (SELECT DISTINCT * FROM ({sql}))"
        ).fetchone()[0]


# -- the run ---------------------------------------------------------------

def run(args: argparse.Namespace, work: str) -> tuple[dict, dict]:
    t_start = time.monotonic()
    trace_on = bool(args.trace)
    log_dir = prepare_env(work, trace_on)
    wl = WORKLOADS[args.workload]

    import bench
    from movie_etl_spark.operators.dedup import release_indexes
    from movie_etl_spark.plans.catalog import QUERIES
    from movie_etl_spark.session import TABLE_NAMES
    from movie_etl_spark.sources import sinks
    import movie_etl_spark.session as session
    import spans as tr
    import datagen

    # selfcheck puts a fixed repository path first on sys.path when
    # imported; restore the path so this checkout's package stays first
    saved_path = list(sys.path)
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from selfcheck import frame_digest
    sys.path[:] = saved_path

    stat0 = bench._proc_stat()
    data_dir = os.path.join(work, "data")
    datagen.write_tables(data_dir, wl.sf, DATA_SEED)

    # the layer metrics come from ``tracer``, the tracing overhead from
    # the warm pass traced into ``overhead_tracer``
    tracer, overhead_tracer = tr.Tracer(), tr.Tracer()
    undo = tr.install(tracer) if trace_on else []
    tracer.enabled = trace_on

    setup_samples = []
    spark = None
    for _ in range(SETUPS):
        # the stop is part of a set-up: Spark finishes some of it in the
        # background, which would otherwise land in the next build
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        tracer.qid = "setup"
        spark = session.get_spark("perfbench", cpus=CPUS)
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).count()
        setup_samples.append(time.perf_counter() - t0)
    app_id = spark.sparkContext.applicationId
    tr.uninstall(undo)
    tracer.enabled = False

    t_oracle = time.monotonic()
    oracle = Oracle(data_dir, TABLE_NAMES)
    expected = {}
    for kind, q in wl.ops():
        sql = QUERIES[q].oracle
        expected[(kind, q)] = (oracle.distinct_rows(sql) if kind == "load"
                               else oracle.digest(sql, frame_digest))

    oracle_s = time.monotonic() - t_oracle
    records = []
    failures: list[str] = []
    load_stats = {"files": 0, "bytes": 0, "rows": 0}
    t_window = time.monotonic()
    p = 0
    orders = pass_order(wl.ops(), args.seed, TRACED_PASSES if trace_on else PASSES)
    while p < len(orders) and time.monotonic() - t_start < PASS_DEADLINE_S:
        traced = trace_on and p in (0, OVERHEAD_PASS)
        ptr = tracer if p == 0 else overhead_tracer
        if traced:
            undo = tr.install(ptr)
        ptr.enabled = traced
        for kind, q in orders[p]:
            op = q if kind == "collect" else f"load:{q}"
            ptr.qid = f"{p}:{op}"
            out_dir = os.path.join(work, "load", f"{p}-{q}")
            c0, t0 = tree_cpu_s(), time.perf_counter()
            try:
                with ptr.span("query", op):
                    with ptr.span("plans", "build"):
                        df = QUERIES[q].fn(spark, data_dir)
                    if traced:
                        with ptr.span("catalyst", "plan"):
                            df._jdf.queryExecution().executedPlan()
                    with ptr.span("exec", kind):
                        if kind == "load":
                            keys = df.columns
                            got = (sinks.append_if_absent(spark, df, out_dir, keys),
                                   sinks.append_if_absent(spark, df, out_dir, keys))
                        else:
                            cols, rows = df.columns, df.collect()
                err = ""
            except Exception as exc:  # noqa: BLE001 — count it, keep measuring
                err = f"{type(exc).__name__}: {str(exc)[:300]}"
                traceback.print_exc()
            finally:
                release_indexes()
            t1, c1 = time.perf_counter(), tree_cpu_s()
            want = expected[(kind, q)]
            if not err and kind == "load":
                if got != (want, 0):
                    err = f"appended {got[0]} then {got[1]} rows, want {want} then 0"
                if traced and p == 0:
                    files = [os.path.join(out_dir, f) for f in os.listdir(out_dir)
                             if f.endswith(".parquet")]
                    load_stats["files"] += len(files)
                    load_stats["bytes"] += sum(os.path.getsize(f) for f in files)
                    load_stats["rows"] += sum(got)
            elif not err:
                got = (len(rows), frame_digest(cols, [tuple(r) for r in rows])[0])
                if got != want:
                    err = f"rows, digest {got} != oracle {want}"
            shutil.rmtree(out_dir, ignore_errors=True)
            if err:
                failures.append(f"pass {p} {op}: {err}")
            records.append({"pass": p, "op": op, "ok": not err, "traced": traced,
                            "wall_s": t1 - t0, "cpu_s": c1 - c0})
        if traced:
            tr.uninstall(undo)
        ptr.enabled = False
        p += 1
    window_s = time.monotonic() - t_window

    rss = peak_rss_mb()
    t_stop = time.monotonic()
    stop_everything(spark)
    stop_s = time.monotonic() - t_stop
    host = bench.host_window(stat0, bench._proc_stat())

    detail = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace,
        "sf": wl.sf, "cpus": CPUS, "passes": p, "window_s": round(window_s, 3),
        "oracle_s": round(oracle_s, 3), "stop_s": round(stop_s, 3),
        "run_s": round(time.monotonic() - t_start, 3),
        "setup_samples_s": [round(x, 4) for x in setup_samples],
        "peak_rss_mb": {k: round(v, 1) for k, v in rss.items()},
        "host": host, "failures": failures[:20],
        "per_query": per_query_table(records),
    }
    result = {
        "correct": not failures,
        "attempted": len(records),
        "failed": sum(not r["ok"] for r in records),
    }
    if trace_on:
        import layers

        jobs = tr.read_event_log(os.path.join(log_dir, app_id))
        metrics = layers.per_layer_metrics(tracer.spans, jobs, records, load_stats, CPUS)
        result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
        # the spans and jobs outlive the run's scratch space, for inspection
        trace_file = os.path.join(HERE, ".work", f"trace-{wl.name}-{args.seed}.json")
        with open(trace_file, "w") as f:
            json.dump({"spans": [dataclasses.asdict(s) for s in tracer.spans],
                       "jobs": [dataclasses.asdict(j) for j in jobs.values()]}, f)
        detail["trace_file"] = os.path.relpath(trace_file, ROOT)
    else:
        values = end_to_end(records, setup_samples, sum(rss.values()))
        detail["end_to_end"] = summarize(records, setup_samples)
        result["metrics"] = {
            k: {"value": values[k], "unit": END_TO_END_UNITS[k]} for k in END_TO_END_UNITS
        }
    return detail, result


def per_query_table(records: list[dict]) -> dict[str, dict]:
    table: dict[str, dict] = {}
    for r in records:
        row = table.setdefault(r["op"], {"wall_s": [], "cpu_s": [], "failed": 0})
        row["wall_s"].append(round(r["wall_s"], 4))
        row["cpu_s"].append(round(r["cpu_s"], 3))
        row["failed"] += not r["ok"]
    return table


def cold_pass(records: list[dict], key: str) -> float:
    """Sum of ``key`` over the operations of the cold pass."""
    return sum(r[key] for r in records if r["pass"] == 0)


def end_to_end(records: list[dict], setup_samples: list[float], rss_mb: float) -> dict:
    return {
        "cpu_s": cold_pass(records, "cpu_s"),
        # the first set-up launches the JVM; the rest rebuild the session
        "setup_s": statistics.median(setup_samples[1:]),
        "peak_rss_mb": rss_mb,
    }


def summarize(records: list[dict], setup_samples: list[float]) -> dict:
    """Median and the highest percentile with at least ten samples beyond
    it, with the sample count, for each timing the run has many of."""
    def stats(values: list[float]) -> dict:
        values = sorted(values)
        n = len(values)
        out = {"n": n, "median": statistics.median(values) if values else None}
        for pct in (99, 95, 90, 75):
            if n * (100 - pct) / 100 >= 10:
                out[f"p{pct}"] = statistics.quantiles(values, n=100)[pct - 1]
                break
        return out

    return {
        "wall_s": cold_pass(records, "wall_s"),
        "query_wall_s": stats([r["wall_s"] for r in records if r["ok"]]),
        "launch_s": setup_samples[0],
        "setup_s": stats(setup_samples[1:]),
    }


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    for need in ("movie_etl_spark/plans/catalog.py", "tools/selfcheck.py", "bench.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}", file=sys.stderr)
            return 2
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        detail, result = run(args, work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail, separators=(",", ":")))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
