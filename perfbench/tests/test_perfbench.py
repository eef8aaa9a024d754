"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The smoke tests start Spark (about a minute per workload and mode).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import datagen  # noqa: E402
import kv  # noqa: E402
import olap  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402


# --- seeded inputs -----------------------------------------------------


def _kv_ops(seed):
    t = kv.Traffic(seed, kv.gen_table(0).slice(0, 2000).to_pylist())
    out = []
    for _ in range(2):
        for kind, arg in t.block():
            if kind in kv.WRITES:
                t.writer.apply(kind, arg)
            out.append((kind, arg))
    return out


@pytest.mark.parametrize("ops", [
    lambda seed: olap.session_plan(seed, 3),
    _kv_ops,
], ids=["olap", "kv"])
def test_same_seed_same_operations(ops):
    assert ops(7) == ops(7)
    assert ops(7) != ops(8)


def test_datagen_is_seeded():
    a = datagen.gen_tables(3, 0.001)
    b = datagen.gen_tables(3, 0.001)
    c = datagen.gen_tables(4, 0.001)
    assert all(a[t].equals(b[t]) for t in datagen.ALL_TABLES)
    assert not a["lineitem"].equals(c["lineitem"])
    # a subset draws the same rows as the full set
    assert datagen.gen_tables(3, 0.001, ("orders",))["orders"].equals(a["orders"])


def test_kv_keys_unique_and_gaps_absent():
    rows = kv.gen_table(1).to_pylist()
    assert len({r["c_custkey"] for r in rows}) == len(rows)
    t = kv.Traffic(1, rows)
    held = set(t.writer.model)
    assert not any(t.gap_key() in held for _ in range(1000))


# --- percentiles ---------------------------------------------------------


def test_quantile_interpolates():
    assert tracing.quantile([3, 1, 2], 0.5) == 2
    assert tracing.quantile([1, 2, 3, 4], 0.5) == 2.5
    assert tracing.quantile(range(101), 0.9) == 90


@pytest.mark.parametrize("n,has_p90,has_p99", [
    (19, False, False), (99, False, False), (100, True, False),
    (999, True, False), (1000, True, True),
])
def test_tail_needs_ten_samples_beyond(n, has_p90, has_p99):
    s = tracing.summarize([float(i) for i in range(n)])
    assert s["n"] == n and "p50" in s
    assert ("p90" in s) == has_p90
    assert ("p99" in s) == has_p99


# --- spans ------------------------------------------------------------


def _span(name, start, end, parent=None, op="o"):
    return tracing.Span(name, start, end, parent, op)


def test_self_time_on_span_tree():
    spans = [
        _span("op", 0.0, 10.0),
        _span("a", 1.0, 4.0, parent=0),
        _span("b", 5.0, 9.0, parent=0),
        _span("c", 6.0, 8.0, parent=2),
        _span("d", 7.0, 8.5, parent=2),  # overlaps c: the union counts once
    ]
    assert tracing.self_times(spans) == pytest.approx([3.0, 3.0, 1.5, 2.0, 1.5])


def test_tracer_records_nesting_and_coverage():
    tr = tracing.Tracer(True)
    with tr.span("op", op="x"):
        with tr.span("layer"):
            with tr.span("inner"):
                pass
    names = [(s.name, s.parent, s.op) for s in tr.spans]
    assert names == [("op", None, "x"), ("layer", 0, "x"), ("inner", 1, "x")]
    assert 0.0 <= tr.coverage()[0] <= 1.0
    off = tracing.Tracer(False)
    with off.span("op", op="x"):
        pass
    assert off.spans == []


def test_jobs_assigned_by_group_then_time():
    jobs = [
        tracing.SparkJob("op1", 100.0, 101.0),
        tracing.SparkJob(None, 102.5, 103.0),  # a stream job: by time
        tracing.SparkJob(None, 200.0, 201.0),  # outside every op
    ]
    got = tracing.assign_jobs(jobs, [("op1", 99.0, 101.5), ("op2", 102.0, 104.0)])
    assert got["op1"] == [jobs[0]]
    assert got["op2"] == [jobs[1]]


# --- smoke runs -----------------------------------------------------------


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_smoke_run_emits_every_metric(workload, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    detail, final = json.loads(lines[-2]), json.loads(lines[-1])
    assert set(final) == {"correct", "attempted", "failed", "metrics"}
    assert final["correct"] is True and final["failed"] == 0 and final["attempted"] >= 1
    assert detail["error_rate"] == 0
    want = dict(run.PER_LAYER if trace else run.END_TO_END)
    assert {k: v["unit"] for k, v in final["metrics"].items()} == want
    for k, v in final["metrics"].items():
        assert isinstance(v["value"], (int, float)), k
        if not trace:
            assert v["value"] > 0, k
    if trace:
        assert final["metrics"]["trace.coverage_min"]["value"] >= 0.9
