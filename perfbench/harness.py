"""Shared run harness: the per-run state directory, the Spark session,
set-up repetition, timed operations and the tracing hooks.

One ``Harness`` is one benchmark run. It owns a fresh directory under
``.perfbench/`` in the checkout: generated inputs, every KV store's
``storeRoot``, stream checkpoints, Spark's local and temp dirs and the
event log all live there, and ``close`` removes it.
"""

from __future__ import annotations

import contextlib
import gc
import itertools
import os
import shutil
import statistics
import tempfile
import time
import traceback
from dataclasses import dataclass

from tracing import Py4jCounter, RssSampler, SparkJob, Tracer, assign_jobs, read_event_logs

#: set-ups per run; ``setup_s`` is their median. Only the first starts
#: the session (JVM launch, Python workers' cold start): the later ones
#: get the running session back from ``getOrCreate``, so the median
#: leaves the session start out and ``setup.cold_s`` reports the first.
SETUP_REPS = 3


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # non-Linux
        return os.cpu_count() or 1


@dataclass
class Op:
    """One client operation of the timed window."""

    id: str
    kind: str
    start: float  # epoch seconds
    wall_s: float = 0.0
    ok: bool = True
    py4j: int = 0
    block: int = 0  # the block (KV) or round (olap) it ran in


class Harness:
    def __init__(self, root: str, seed: int, seconds: float, trace: bool):
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        base = os.path.join(root, ".perfbench")
        os.makedirs(base, exist_ok=True)
        self.dir = tempfile.mkdtemp(prefix="run-", dir=base)
        for sub in ("tmp", "spark-local", "events", "data", "store"):
            os.makedirs(os.path.join(self.dir, sub))
        # everything Python, Spark and the JVM write lands in the run dir
        tmp = os.path.join(self.dir, "tmp")
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.dir, "spark-local")
        tempfile.tempdir = tmp
        self.cpus = cpu_count()
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cpus)
        self.tracer = Tracer(trace)
        self.ops: list[Op] = []
        self.errors: list[str] = []
        self.wrong: list[str] = []
        self.setup_parts: dict[str, list[float]] = {}
        self.extra: dict[str, float] = {}
        self.spark = None
        self.sampler: RssSampler | None = None
        self.py4j: Py4jCounter | None = None
        self._op_seq = itertools.count()
        self.block = 0
        self.setup_times: list[float] = []
        self.window_s = 0.0
        self.window_peaks: dict[str, float] = {}
        self._by_op: dict | None = None

    # -- paths -----------------------------------------------------------
    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    # -- session ---------------------------------------------------------
    def session(self):
        """The engine's session (``get_session``), built on first use
        with every Spark directory inside the run dir."""
        from kt_sql_hbase_ex_spark.session import get_session

        tmp = self.path("tmp")
        conf = {
            "spark.local.dir": self.path("spark-local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + self.path("events"),
            })
        first = self.spark is None
        self.spark = get_session(cpus=self.cpus, extra_conf=conf)
        if first:
            from pyspark import SparkContext

            self.sampler = RssSampler(SparkContext._gateway.proc.pid)
            self.sampler.start()
            if self.trace:
                self.py4j = Py4jCounter(self.spark.sparkContext)
        return self.spark

    def timed_part(self, name: str, fn):
        """Run one named piece of set-up, recording its duration."""
        t0 = time.perf_counter()
        with self.tracer.span(name, op="setup"):
            out = fn()
        self.setup_parts.setdefault(name, []).append(time.perf_counter() - t0)
        return out

    def repeated_setup(self, setup, teardown) -> object:
        """Run ``setup()`` SETUP_REPS times, calling ``teardown(state)``
        between them; returns the last state and records ``setup_s``."""
        state = None
        for _ in range(SETUP_REPS):
            if state is not None:
                teardown(state)
            t0 = time.perf_counter()
            state = setup()
            self.setup_times.append(time.perf_counter() - t0)
        return state

    # -- operations --------------------------------------------------------
    @contextlib.contextmanager
    def op(self, kind: str):
        """Time one client operation. Yields the Op; an exception inside
        marks it failed (recorded, not raised) so the loop goes on."""
        op = Op(f"op{next(self._op_seq)}", kind, time.time(), block=self.block)
        sc = self.spark.sparkContext if self.trace else None
        if sc is not None:
            sc.setJobGroup(op.id, kind)
        calls0 = self.py4j.calls if self.py4j else 0
        t0 = time.perf_counter()
        try:
            with self.tracer.span("op", op=op.id):
                yield op
        except Exception:  # a failed operation is counted, the run goes on
            op.ok = False
            self.errors.append(f"{kind}: {traceback.format_exc(limit=3)}")
        finally:
            op.wall_s = time.perf_counter() - t0
            if self.py4j:
                op.py4j = self.py4j.calls - calls0
            self.ops.append(op)

    @contextlib.contextmanager
    def untimed_op(self, kind: str):
        """An operation outside the window (warm-up): not recorded, and
        an exception propagates."""
        yield Op("warmup", kind, time.time())

    def new_block(self) -> None:
        """Start the next block of operations (a KV block, an olap round)."""
        self.block += 1

    def mark_wrong(self, what: str) -> None:
        self.wrong.append(what)

    def start_window(self) -> None:
        gc.collect()  # the window starts with no garbage of set-up
        if self.sampler:
            self.sampler.reset()
        self._window_t0 = time.perf_counter()

    def window_elapsed(self) -> float:
        return time.perf_counter() - self._window_t0

    def end_window(self) -> None:
        self.window_s = self.window_elapsed()
        if self.sampler:
            self.sampler.sample()
            self.window_peaks = self.sampler.peaks_mb()

    # -- results -----------------------------------------------------------
    def latencies(self, kind: str) -> list[float]:
        return [o.wall_s for o in self.ops if o.kind == kind and o.ok]

    def blocks(self) -> list[list[Op]]:
        """The window's successful operations, grouped by block."""
        by: dict[int, list[Op]] = {}
        for o in self.ops:
            if o.ok:
                by.setdefault(o.block, []).append(o)
        return [by[b] for b in sorted(by)]

    def setup_median(self) -> float:
        return statistics.median(self.setup_times)

    def part_median(self, name: str) -> float:
        vals = self.setup_parts.get(name)
        return statistics.median(vals) if vals else 0.0

    def part_first(self, name: str) -> float:
        """The named part of the first (cold) set-up."""
        vals = self.setup_parts.get(name)
        return vals[0] if vals else 0.0

    def spark_by_op(self) -> dict[str, list[SparkJob]]:
        """Event-log jobs per operation id. The logs are complete only
        after the session stopped, so ``close_spark`` must run first."""
        if self._by_op is None:
            jobs = read_event_logs(self.path("events"))
            self._by_op = assign_jobs(jobs, [(o.id, o.start, o.start + o.wall_s) for o in self.ops])
        return self._by_op

    def close_spark(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        if self.sampler:
            self.sampler.stop()
        if self.py4j:
            self.py4j.close()
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway server exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
        self.spark = None

    def close(self) -> None:
        try:
            self.close_spark()
        finally:
            shutil.rmtree(self.dir, ignore_errors=True)
