"""Benchmark entry point: one workload, one seed, one measured window.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones. The line before it is a JSON detail record (sample
counts, tails, per-kind latencies, set-up parts, errors). The exit code
is 0 only when every operation succeeded and every output check passed.
See ``perfbench/README.md`` for what each workload and metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]
# Spark's Python workers import the engine too: they inherit this
# environment when the session launches the JVM
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

WORKLOADS = ("olap", "kv")

#: end-to-end metrics (name, unit); reported with --trace 0
END_TO_END = (
    ("setup_s", "s"),
    ("ops_per_s", "1/s"),
    ("op_p50_ms", "ms"),
    ("op2_p50_ms", "ms"),
    ("py_rss_peak_mb", "MB"),
)

#: per-layer metrics (name, unit); reported with --trace 1. A layer that
#: does no work on a workload reports 0.
PER_LAYER = (
    ("setup.cold_s", "s"),
    ("session.start_s", "s"),
    ("catalog.register_s", "s"),
    ("engine.sql_s", "s/op"),
    ("registry.build_s", "s/op"),
    ("driver.py4j_calls", "count/op"),
    ("driver.only_s", "s/op"),
    ("spark.jobs", "count/op"),
    ("spark.tasks", "count/op"),
    ("spark.executor_run_s", "s/op"),
    ("spark.executor_cpu_s", "s/op"),
    ("spark.task_deser_s", "s/op"),
    ("spark.gc_s", "s/op"),
    ("spark.shuffle_read_bytes", "bytes/op"),
    ("spark.shuffle_write_bytes", "bytes/op"),
    ("spark.pyworker_s", "s/op"),
    ("spark.pyworker_bytes_in", "bytes/op"),
    ("spark.pyworker_bytes_out", "bytes/op"),
    ("kvstore.provision_s", "s"),
    ("kvstore.get_s", "s/get"),
    ("kvstore.get.files_read", "count/get"),
    ("kvstore.get.bloom_skip_ratio", "ratio"),
    ("kvstore.scan.plan_s", "s/scan"),
    ("kvstore.scan.exec_s", "s/scan"),
    ("kvstore.scan.partitions", "count/scan"),
    ("kvstore.commit_s.put", "s/commit"),
    ("kvstore.commit_s.delete", "s/commit"),
    ("kvstore.commit_s.increment", "s/commit"),
    ("kvstore.commit_s.check_and_mutate", "s/commit"),
    ("kvstore.commit_s.append", "s/commit"),
    ("kvstore.overlay_rows", "rows"),
    ("kvstore.overlay_bytes_written", "bytes/commit"),
    ("kvstore.wal_bytes_per_commit", "bytes/commit"),
    ("kvstore.folds", "count"),
    ("kvstore.fold_s", "s/fold"),
    ("kvstore.fold.regions_rewritten", "count/fold"),
    ("kvstore.fold.regions_carried", "count/fold"),
    ("kvstore.write_amp", "ratio"),
    ("kvstore.space_amp", "ratio"),
    ("cdc.batches", "count/commit"),
    ("cdc.useful_ratio", "ratio"),
    ("cdc.apply_s", "s/batch"),
    ("cdc.wait_s", "s/commit"),
    ("cdc.rows_applied", "rows/batch"),
    ("proc.rss_peak_mb.driver", "MB"),
    ("proc.rss_peak_mb.pyworkers", "MB"),
    ("proc.rss_peak_mb.jvm", "MB"),
    ("trace.coverage_min", "ratio"),
)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description="kt_sql_hbase_ex_spark benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def block_figures(h, out) -> dict[str, list[float]]:
    """Per block of the window (KV blocks, olap rounds): its throughput
    and the median latency of each timed operation class."""
    from tracing import quantile

    def p50_ms(b, kinds):
        return quantile([o.wall_s for o in b if o.kind in kinds], 0.5) * 1e3

    blocks = h.blocks()
    return {
        # closed loop, one client: operations per second of engine time
        # (the client's own checks between operations are left out)
        "ops_per_s": [len(b) / sum(o.wall_s for o in b) for b in blocks],
        "op_p50_ms": [p50_ms(b, out["op"]) for b in blocks],
        "op2_p50_ms": [p50_ms(b, out["op2"]) for b in blocks],
    }


def end_to_end(h, figures) -> dict[str, float]:
    """Each timing is the median of its block figures: every block runs
    the same mix, and a few seconds of host noise move one block's
    figure, not the median."""
    from statistics import median

    return {
        "setup_s": h.setup_median(),
        **{k: median(v) for k, v in figures.items()},
        "py_rss_peak_mb": h.window_peaks["python_total"],
    }


def per_layer(h, out) -> dict[str, float]:
    """The traced run's layer split. Times and counts marked ``/op`` are
    means over the window's operations."""
    from tracing import SPARK_FIELDS, union_length

    layers = {name: 0.0 for name, _ in PER_LAYER}
    ops = [o for o in h.ops if o.ok]
    n = max(1, len(ops))
    ids = {o.id for o in ops}
    # the session starts only in the first set-up (see harness.SETUP_REPS)
    layers["setup.cold_s"] = h.setup_times[0]
    layers["session.start_s"] = h.part_first("session.start")
    layers["catalog.register_s"] = h.part_median("catalog.register")
    self_t = h.tracer.layer_self_times(ids)
    layers["engine.sql_s"] = self_t.get("engine.sql", 0.0) / n
    layers["registry.build_s"] = self_t.get("registry.build", 0.0) / n
    layers["driver.py4j_calls"] = sum(o.py4j for o in ops) / n

    by_op = h.spark_by_op()
    only = 0.0
    for o in ops:
        jobs = by_op.get(o.id, [])
        lo, hi = o.start, o.start + o.wall_s
        spans = [(max(j.start_s, lo), min(j.end_s, hi)) for j in jobs]
        only += o.wall_s - union_length((a, b) for a, b in spans if b > a)
        for f in SPARK_FIELDS:
            layers[f"spark.{f}"] += sum(j.metrics[f] for j in jobs) / n
    layers["driver.only_s"] = only / n

    peaks = h.window_peaks
    layers["proc.rss_peak_mb.driver"] = peaks["driver"]
    layers["proc.rss_peak_mb.pyworkers"] = peaks["pyworkers"]
    layers["proc.rss_peak_mb.jvm"] = peaks["jvm"]
    cov = h.tracer.coverage()
    layers["trace.coverage_min"] = min(cov) if cov else 0.0
    layers.update(out["layers"])
    return layers


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import kt_sql_hbase_ex_spark  # noqa: F401  (the program under test)
    except ImportError as ex:
        print(f"perfbench: cannot import the engine package: {ex}", file=sys.stderr)
        return 2

    import importlib

    from harness import Harness
    from tracing import summarize

    workload = importlib.import_module(args.workload)
    h = Harness(ROOT, args.seed, args.seconds, bool(args.trace))
    try:
        out = workload.run(h)
        figures = block_figures(h, out)
        e2e = end_to_end(h, figures)
        layers = per_layer(h, out) if h.trace else None
    finally:
        h.close()

    attempted = len(h.ops)
    # a wrong warm-up result has no timed operation of its own
    failed = min(attempted, sum(1 for o in h.ops if not o.ok) + len(h.wrong))
    correct = not h.wrong and not h.errors
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cpus": h.cpus,
        "window_s": h.window_s,
        "error_rate": failed / max(1, attempted),
        "setup_reps_s": h.setup_times,
        "setup_parts_s": h.setup_parts,
        "latency_s": {k: summarize(v) for k, v in out["kinds"].items()},
        "samples_s": {k: [round(x, 4) for x in v] for k, v in out["kinds"].items() if len(v) <= 40},
        "end_to_end": e2e,
        "blocks": {k: [round(x, 4) for x in v] for k, v in figures.items()},
        "extra": h.extra,
        "errors": h.errors[:5],
        "wrong": h.wrong[:5],
    }
    print(json.dumps(detail, default=str))
    units = dict(PER_LAYER if h.trace else END_TO_END)
    values = layers if h.trace else e2e
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
