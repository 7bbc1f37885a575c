"""Tests of the benchmark itself.

    python3 -m pytest perfbench/ -q

The smoke tests run every workload end to end at a tiny size with
tracing on (about a minute each on a 4-core host).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import harness  # noqa: E402
import layers  # noqa: E402
from tracing import Tracer, check_trace  # noqa: E402


def test_self_time_subtracts_children():
    tr = Tracer()
    tr.spans = [
        {"id": 0, "name": "a", "op": None, "parent": None,
         "start": 0.0, "end": 10.0},
        {"id": 1, "name": "b", "op": None, "parent": 0,
         "start": 1.0, "end": 4.0},
        {"id": 2, "name": "b", "op": None, "parent": 0,
         "start": 3.0, "end": 6.0},
    ]
    selfs = tr.self_times()
    assert selfs[0] == pytest.approx(5.0)  # children cover 1..6
    tot, slf = tr.totals()
    assert tot["b"] == pytest.approx(6.0)
    assert check_trace(tr.spans) == []


def test_check_trace_flags_child_outside_parent():
    spans = [{"id": 0, "name": "a", "op": None, "parent": None,
              "start": 0.0, "end": 1.0},
             {"id": 1, "name": "b", "op": None, "parent": 0,
              "start": 0.5, "end": 2.0}]
    assert check_trace(spans)


def test_wrap_records_nested_spans_and_restores():
    import types
    mod = types.SimpleNamespace()
    mod.inner = lambda x: x + 1
    mod.outer = lambda x: mod.inner(x) * 2
    tr = Tracer()
    orig = mod.inner
    tr.wrap(mod, "inner", "inner")
    tr.wrap(mod, "outer", "outer")
    assert mod.outer(1) == 4
    tr.restore()
    assert mod.inner is orig
    names = {s["name"]: s for s in tr.spans}
    assert names["inner"]["parent"] == names["outer"]["id"]
    assert check_trace(tr.spans) == []


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("x"):
        pass
    assert tr.spans == []


def test_tail_needs_ten_samples_beyond():
    assert harness.tail(list(range(10))) is None
    value, pct = harness.tail([float(i) for i in range(100)])
    assert value == 89.0 and pct == 90


def test_queries_are_a_function_of_the_seed():
    ids = [f"wikipedia/{i:012d}" for i in range(1000)]
    ntok = (harness.np.arange(1000) % 300 + 8).astype("int32")
    a = harness.draw_queries(3, ids, ntok)
    assert a == harness.draw_queries(3, ids, ntok)
    assert a != harness.draw_queries(4, ids, ntok)
    hits = a[0][0::2]
    misses = a[0][1::2]
    assert all(h in ids for h in hits)
    assert not any(m in ids for m in misses)


def test_filter_ranges_hold_a_fixed_share_of_rows():
    rng = harness.np.random.default_rng(0)
    ntok = rng.zipf(1.5, 20_000).clip(8, 4000).astype("int32")
    ids = [f"wikipedia/{i:012d}" for i in range(len(ntok))]
    _, ranges = harness.draw_queries(3, ids, ntok)
    width = int(len(ntok) * harness.FILTER_SHARE)
    for lo, hi in ranges:
        assert lo <= hi
        assert ((ntok >= lo) & (ntok <= hi)).sum() > width


def test_tree_cpu_counts_a_busy_loop():
    t0 = harness.tree_cpu_s()
    end = harness.time.perf_counter() + 0.3
    while harness.time.perf_counter() < end:
        pass
    assert harness.tree_cpu_s() - t0 >= 0.2


def test_refuses_to_run_without_the_program():
    """Outside a checkout holding engine/ and jobs/, the benchmark exits
    non-zero without printing a result."""
    bare = os.path.join(ROOT, ".perfbench_test", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload",
             "blocks_roundtrip", "--seed", "1", "--seconds", "1",
             "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=120)
        assert p.returncode != 0
        assert "{" not in p.stdout
    finally:
        shutil.rmtree(os.path.join(ROOT, ".perfbench_test"),
                      ignore_errors=True)


@pytest.mark.parametrize("workload", harness.WORKLOADS)
def test_smoke_run(workload):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", "1", "--rows", "2000"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    # every end-to-end metric is printed by name with its unit
    for name, unit in harness.E2E:
        assert re.search(rf"^metric {name} = \S+ {re.escape(unit)}$",
                         p.stdout, re.M), name
    assert re.search(r"^metric failed_ops_frac = 0 ratio", p.stdout, re.M)
    # the traced run reports every per-layer metric with its unit
    assert {k: v["unit"] for k, v in result["metrics"].items()} == \
        dict(layers.PER_LAYER)
    trace_path = os.path.join(ROOT, ".perfbench_out",
                              f"trace-{workload}-s5.json")
    with open(trace_path) as f:
        trace = json.load(f)
    assert trace["spans"]
    assert check_trace(trace["spans"]) == []
    tr = Tracer()
    tr.spans = trace["spans"]
    assert min(tr.self_times().values()) >= -1e-9
    os.unlink(trace_path)
