"""Tests of the benchmark itself: input determinism, span arithmetic,
the metric list in BENCHMARK.json, and tiny end-to-end smoke runs.

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke runs start Spark (about a minute each).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import run  # noqa: E402
from spans import Span, Tracer, self_times  # noqa: E402

WORKLOADS = sorted(gen.MIXES)


def _same_op(a: gen.Op, b: gen.Op) -> bool:
    def eq(x, y):
        return (x is None and y is None) or (
            x is not None and y is not None and np.array_equal(x, y))
    return (a.index, a.kind, a.value, a.seed) == (
        b.index, b.kind, b.value, b.seed
    ) and eq(a.keys, b.keys) and eq(a.new_keys, b.new_keys)


def _inputs(plan: gen.Plan):
    """Every table the engine would receive, in order."""
    out = [plan.base]
    if plan.docs is not None:
        out.append(plan.docs)
    for op in plan.setup_commits + plan.ops:
        if op.kind in gen.COMMIT_OPS and op.kind != "delete":
            out.append(gen.op_rows(op, plan.sizes))
    return out


@pytest.mark.parametrize("workload", WORKLOADS)
def test_same_seed_same_ops_and_inputs(workload):
    a = gen.make_plan(workload, 7, gen.TINY)
    b = gen.make_plan(workload, 7, gen.TINY)
    assert [o.kind for o in a.ops] == [o.kind for o in b.ops]
    assert all(_same_op(x, y) for x, y in zip(a.ops, b.ops))
    assert all(_same_op(x, y) for x, y in zip(a.setup_commits,
                                              b.setup_commits))
    ta, tb = _inputs(a), _inputs(b)
    assert len(ta) == len(tb) and all(x.equals(y) for x, y in zip(ta, tb))


@pytest.mark.parametrize("workload", WORKLOADS)
def test_other_seed_other_ops_and_inputs(workload):
    a = gen.make_plan(workload, 7, gen.TINY)
    c = gen.make_plan(workload, 8, gen.TINY)
    assert not a.base.equals(c.base)
    assert not all(_same_op(x, y) for x, y in zip(a.ops, c.ops))
    # the class schedule is fixed; the seed draws the inputs
    assert [o.kind for o in a.ops] == [o.kind for o in c.ops]


def test_schedule_runs_rounds_and_pairs_reads_with_refreshes():
    mix = gen.MIXES["ingest_cdc"]
    kinds = gen.schedule(mix, 5 * len(mix))
    for r in range(5):
        assert sorted(kinds[r * len(mix):(r + 1) * len(mix)]) == \
            sorted(k for k, _ in mix)
    for i, k in enumerate(kinds[:-1]):
        assert (k == "refresh") == (kinds[i + 1] == "mv_read")


def test_key_pool_draws_live_keys_only():
    rng = np.random.default_rng(0)
    pool = gen.KeyPool(range(100))
    pool.remove(range(0, 100, 2))
    pool.add([200, 201])
    drawn = pool.draw(rng, 30, exclude=[1, 3])
    assert len(set(drawn.tolist())) == 30
    assert all(k % 2 == 1 or k >= 200 for k in drawn)
    assert not {1, 3} & set(drawn.tolist())


def test_self_time_on_synthetic_span_tree():
    # root [0,10] has children a [1,4] and b [3,6] (overlapping: counted
    # once) and c [8,12] (clipped to the root); a has child d [2,3]
    spans = [Span(0, "root", 0, 10, None, 1), Span(1, "a", 1, 4, 0, 1),
             Span(2, "b", 3, 6, 0, 1), Span(3, "c", 8, 12, 0, 1),
             Span(4, "d", 2, 3, 1, 1)]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - (5 + 2))
    assert st[1] == pytest.approx(3 - 1)
    assert st[2] == pytest.approx(3)
    assert st[3] == pytest.approx(4)
    assert st[4] == pytest.approx(1)


def test_tracer_wraps_nests_and_restores():
    ticks = iter(range(100))
    tracer = Tracer(clock=lambda: float(next(ticks)))

    class Box:
        def outer(self):
            return self.inner() + 1

        def inner(self):
            return 1

    orig = Box.__dict__["outer"]
    tracer.wrap(Box, "outer", "layer.outer")
    tracer.wrap(Box, "inner", "layer.inner")
    tracer.op_id = 5
    assert Box().outer() == 2
    tracer.uninstall()
    assert Box.__dict__["outer"] is orig
    outer, inner = tracer.spans
    assert (outer.name, inner.name) == ("layer.outer", "layer.inner")
    assert inner.parent == outer.span_id and outer.parent is None
    assert outer.op_id == inner.op_id == 5
    st = self_times(tracer.spans)
    assert st[outer.span_id] == pytest.approx(
        (outer.end - outer.start) - (inner.end - inner.start))


class _FailingClass:
    """A stand-in workload whose ops of one class always raise."""
    sizes = gen.TINY

    def __init__(self, bad: str):
        self.bad = bad

    def run_op(self, op, timed):
        with timed():
            if op.kind == self.bad:
                raise RuntimeError("forced failure")
        return True

    def tables(self):
        return []


class _NoJobs:
    def mark(self):
        pass

    def delta(self):
        return 0, 0, 0


def test_a_class_with_no_successful_op_is_reported_not_fatal():
    mix = gen.MIXES["ingest_cdc"]
    ops = gen.make_plan("ingest_cdc", 5, gen.TINY).ops[:2 * len(mix)]
    # the floor lies past the ops: the stand-in has no table to measure
    floor = len(ops) + 1
    tracer = Tracer()
    plain = run.Window(_FailingClass("merge"), floor)
    win = run.Window(_FailingClass("merge"), floor, tracer, _NoJobs())
    run.run_windows([plain, win], ops, 0)
    assert plain.ops_per_s(mix) == win.ops_per_s(mix) == 0.0
    assert plain.samples()["merge"] == 0 and plain.samples()["append"] == 2
    m = run.layer_metrics(win, plain, tracer, mix)
    assert m["failed_ops_ratio"] == pytest.approx(2 / len(ops))
    assert m["trace.slowdown"] == 0.0
    res = json.loads(json.dumps(run.result_object(
        [plain, win], True, m, run.PER_LAYER)))
    assert not res["correct"]
    assert (res["attempted"], res["failed"]) == (2 * len(ops), 4)


def test_ops_per_s_weights_class_medians_by_the_mix():
    class Fixed:
        sizes = gen.TINY
        ms = {"a": [10.0, 30.0, 20.0], "b": [100.0]}

        def run_op(self, op, timed):
            return True

    win = run.Window(Fixed(), 99)
    win.records = [{"i": 0, "kind": k, "ms": x, "ok": True}
                   for k, xs in Fixed.ms.items() for x in xs]
    # 3/4 x 20 ms + 1/4 x 100 ms = 40 ms per op
    assert win.ops_per_s([("a", 3), ("b", 1)]) == pytest.approx(25.0)


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert sorted(w["name"] for w in spec["workloads"]) == WORKLOADS
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == \
        run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == \
        run.PER_LAYER


def _run(workload: str, seed: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", "1", "--trace",
         str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_smoke_run_has_no_failed_ops(workload):
    res = _run(workload, 3, 1)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    assert res["metrics"]["failed_ops_ratio"]["value"] == 0
    assert set(res["metrics"]) == set(run.PER_LAYER)


def test_traced_counts_repeat_for_a_seed():
    units = run.PER_LAYER
    counts = [k for k, u in units.items() if u in ("count", "bytes")]
    a, b = (_run("ingest_cdc", 11, 1)["metrics"] for _ in range(2))
    assert {k: a[k]["value"] for k in counts} == \
        {k: b[k]["value"] for k in counts}
