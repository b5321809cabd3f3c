"""Harness tests: metric names, seeded order, the tracing overhead, span
self time, datagen.

Run with ``python3 -m pytest perfbench/tests -q``; no Spark session is
started.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
sys.path.insert(0, BENCH_DIR)

import datagen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
from spans import Span, Tracer, self_times  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(os.path.dirname(BENCH_DIR), "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def test_workload_names_match_spec():
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)


def test_end_to_end_metric_names_and_units_match_spec():
    spec = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert spec == run.END_TO_END_UNITS


def test_per_layer_metric_names_and_units_match_spec():
    records = [
        {"pass": p, "op": "q", "ok": True, "traced": p % 2 == 1, "wall_s": 1.0, "cpu_s": 1.0}
        for p in range(3)
    ]
    got = layers.per_layer_metrics([], {}, records, {"files": 0, "bytes": 0, "rows": 0}, 4)
    spec = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: unit for k, (_, unit) in got.items()} == spec


def test_seed_permutes_order_deterministically():
    ops = WORKLOADS["catalog"].ops()
    a = run.pass_order(ops, 7, 4)
    assert a == run.pass_order(ops, 7, 4)
    assert a != run.pass_order(ops, 8, 4)
    assert all(sorted(p) == sorted(ops) for p in a)
    assert len({tuple(p) for p in a}) > 1  # passes differ within a run


def test_tracing_overhead_cancels_warm_up_between_passes():
    # every warm pass is 1 s faster than the one before; spans add 0.5 s
    walls = {1: 10.0, 2: 9.5, 3: 8.0}
    records = [
        {"pass": p, "op": "q", "ok": True, "traced": p == run.OVERHEAD_PASS, "wall_s": w,
         "cpu_s": 1.0}
        for p, w in walls.items()
    ]
    assert run.TRACED_PASSES == len(walls) + 1
    assert layers.tracing_overhead(records) == 0.5


def _span(sid, parent, t0, t1, children=()):
    return Span(sid, "x", "x", "q", parent, t0, t1, list(children))


def test_self_time_subtracts_union_of_children_and_never_goes_negative():
    spans = [
        _span(0, None, 0.0, 10.0, [1, 2, 3]),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0),   # overlaps child 1: a thread-pool child
        _span(3, 0, 9.0, 12.0),  # ends after its parent
    ]
    own = self_times(spans)
    assert own[0] == 10.0 - 5.0 - 1.0
    assert own[1] == 3.0 and own[3] == 3.0
    # children covering more than the parent, several times over
    spans = [_span(0, None, 0.0, 1.0, [1, 2]), _span(1, 0, -1.0, 2.0), _span(2, 0, 0.0, 1.0)]
    assert all(v >= 0.0 for v in self_times(spans).values())
    assert self_times(spans)[0] == 0.0


def test_tracer_nests_spans_and_links_children():
    tr = Tracer()
    tr.enabled = True
    with tr.span("query", "q"):
        with tr.span("plans", "build"):
            with tr.span("session", "load_table"):
                pass
    assert [s.parent for s in tr.spans] == [None, 0, 1]
    assert tr.spans[0].children == [1] and tr.spans[1].children == [2]
    assert all(v >= 0.0 for v in self_times(tr.spans).values())


def test_datagen_is_deterministic_in_seed():
    a = datagen.make_tables(0.0005, 3)
    b = datagen.make_tables(0.0005, 3)
    c = datagen.make_tables(0.0005, 4)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["documents"].num_rows == 500  # corpus floor, as in the test data
