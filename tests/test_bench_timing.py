"""The bench's one timing loop: the contract of bench.timed / rep_times /
paced, and a source scan that keeps every clock read inside them.
Needs no Spark session."""

from __future__ import annotations

import ast
import glob
import os
import time

import bench

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HELPERS = {"timed", "rep_times", "paced"}
CLOCKS = {
    "perf_counter", "perf_counter_ns", "monotonic", "monotonic_ns",
    "time", "time_ns",
}


def test_timed_passes_result_through():
    marker = object()
    out, dt = bench.timed(lambda: marker)
    assert out is marker
    assert dt >= 0.0


def test_rep_times_makes_n_calls_in_call_order():
    sleeps = [0.03, 0.0, 0.015, 0.0]
    calls = []

    def fn():
        time.sleep(sleeps[len(calls)])
        calls.append(len(calls))

    reps = bench.rep_times(fn, len(sleeps))
    assert calls == [0, 1, 2, 3]
    assert len(reps) == 4
    # index i is the wall time of call i (the cold rep is reps[0])
    assert reps[0] >= 0.03 and reps[2] >= 0.015
    assert reps[0] > reps[1] and reps[2] > reps[3]


def test_paced_never_starts_a_call_before_it_is_due():
    interval = 0.05
    before = time.perf_counter()
    started = []

    def fn(i):
        started.append((i, time.perf_counter()))
        if i == 1:
            time.sleep(0.08)  # overrun: call 2 starts late

    out = bench.paced(fn, interval, 5)
    assert [i for i, _ in started] == [0, 1, 2, 3, 4]
    assert len(out) == 5
    for i, t in started:
        assert t >= before + i * interval
    late = [ls for ls, _ in out]
    assert late[2] > 0  # found its slot already gone
    assert late[4] < 0  # waited for its slot
    assert out[1][1] >= 0.08


def _clock_reads(path):
    """(line, enclosing top-level function or None) per clock read."""
    tree = ast.parse(open(path).read(), path)
    hits = []

    def visit(node, owner):
        for child in ast.iter_child_nodes(node):
            name = owner
            if owner is None and isinstance(
                child, (ast.FunctionDef, ast.AsyncFunctionDef)
            ):
                name = child.name
            if (
                isinstance(child, ast.Attribute)
                and child.attr in CLOCKS
                and isinstance(child.value, ast.Name)
                and child.value.id == "time"
            ) or (
                isinstance(child, ast.ImportFrom)
                and child.module == "time"
                and any(a.name in CLOCKS for a in child.names)
            ):
                hits.append((child.lineno, name))
            visit(child, name)

    visit(tree, None)
    return hits


def test_clock_reads_live_only_in_the_bench_helpers():
    bench_hits = _clock_reads(os.path.join(ROOT, "bench.py"))
    assert bench_hits, "the helpers themselves must read the clock"
    assert [h for h in bench_hits if h[1] not in HELPERS] == []
    for path in sorted(glob.glob(os.path.join(ROOT, "tools", "*.py"))):
        assert _clock_reads(path) == [], path
