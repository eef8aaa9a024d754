"""Measurement helpers: percentiles, spans with self time, a py4j call
counter, a /proc RSS sampler and a Spark event-log reader.

Nothing here touches the engine package. Spans are recorded only around
the benchmark's own calls into the engine's layers; the py4j counter
wraps the py4j client object of the running session (traced runs only).
"""

from __future__ import annotations

import bisect
import contextlib
import glob
import json
import os
import threading
import time
from dataclasses import dataclass, field

#: a tail percentile is reported only with at least this many samples
#: beyond it (p90 needs 100 samples, p99 needs 1000)
MIN_BEYOND = 10


def quantile(values, q: float) -> float:
    """Linear-interpolated ``q`` quantile (0..1) of a non-empty sample."""
    s = sorted(values)
    if not s:
        raise ValueError("quantile of an empty sample")
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_supported(n: int, q: float) -> bool:
    """True when ``n`` samples leave at least MIN_BEYOND beyond the
    ``q`` quantile."""
    return n * (1.0 - q) >= MIN_BEYOND - 1e-9


def summarize(values) -> dict:
    """Sample count, median and every tail (p90, p99) the count
    supports; a tail without MIN_BEYOND samples beyond it is left out."""
    out = {"n": len(values)}
    if values:
        out["p50"] = quantile(values, 0.5)
        for name, q in (("p90", 0.9), ("p99", 0.99)):
            if tail_supported(len(values), q):
                out[name] = quantile(values, q)
    return out


# --- spans -----------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float  # time.perf_counter()
    end: float | None
    parent: int | None  # index into Tracer.spans
    op: str | None


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans) -> list[float]:
    """Per span: its duration minus the part its direct children cover."""
    children: dict[int, list] = {}
    for i, s in enumerate(spans):
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered = union_length(
            (max(a, s.start), min(b, s.end))
            for a, b in children.get(i, ())
            if min(b, s.end) > max(a, s.start)
        )
        out.append((s.end - s.start) - covered)
    return out


class Tracer:
    """Records spans (name, start, end, parent, operation id) in memory.

    Disabled, ``span`` records nothing. The parent stack is per thread:
    the CDC ``foreachBatch`` callback runs on a py4j callback thread and
    its spans must not nest under whatever the client thread has open.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        # epoch = perf_counter + offset, to line spans up with Spark's
        # event-log timestamps (epoch milliseconds)
        self.epoch_offset = time.time() - time.perf_counter()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        s = Span(name, time.perf_counter(), None, parent, op)
        with self._lock:
            self.spans.append(s)
            idx = len(self.spans) - 1
        stack.append(idx)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            stack.pop()

    def layer_self_times(self, ops: set | None = None) -> dict[str, float]:
        """Total self time per span name (restricted to ``ops`` if
        given). Call once the traced work has finished."""
        totals: dict[str, float] = {}
        for s, t in zip(self.spans, self_times(self.spans)):
            if ops is None or s.op in ops:
                totals[s.name] = totals.get(s.name, 0.0) + t
        return totals

    def coverage(self) -> list[float]:
        """Per operation (root span "op"): the share of its wall time its
        direct child spans cover (how much the layer spans explain)."""
        out = []
        kids: dict[int, list] = {}
        for s in self.spans:
            if s.parent is not None and s.end is not None:
                kids.setdefault(s.parent, []).append((s.start, s.end))
        for i, s in enumerate(self.spans):
            if s.name == "op" and s.end is not None and s.end > s.start:
                out.append(union_length(kids.get(i, ())) / (s.end - s.start))
        return out


# --- py4j -------------------------------------------------------------


class Py4jCounter:
    """Counts py4j round trips by wrapping the session's client object
    (one ``send_command`` = one request/response with the JVM)."""

    def __init__(self, spark_context):
        client = spark_context._gateway._gateway_client
        orig = client.send_command
        self.calls = 0
        counter = self

        def counting(*args, **kwargs):
            counter.calls += 1
            return orig(*args, **kwargs)

        client.send_command = counting
        self._client, self._orig = client, orig

    def close(self) -> None:
        self._client.send_command = self._orig


# --- /proc RSS --------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE") if hasattr(os, "sysconf") else 4096
RSS_INTERVAL_S = 0.25


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, ValueError, IndexError):
        return 0


def _proc_table() -> dict[int, tuple[int, str]]:
    """pid -> (ppid, comm) for every visible process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        lp, rp = raw.find("("), raw.rfind(")")
        comm = raw[lp + 1:rp]
        fields = raw[rp + 2:].split()
        out[int(name)] = (int(fields[1]), comm)
    return out


def descendants(pid: int, table: dict) -> list[int]:
    kids: dict[int, list] = {}
    for p, (pp, _) in table.items():
        kids.setdefault(pp, []).append(p)
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


class RssSampler:
    """Samples RSS of the driver, the JVM, and the Python processes the
    JVM started (daemon, planning and task workers) from /proc on a
    background thread; keeps the peaks since the last ``reset``."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self.reset()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def reset(self) -> None:
        with self._lock:
            self.peak = {"driver": 0, "pyworkers": 0, "jvm": 0, "python_total": 0}

    def sample(self) -> None:
        table = _proc_table()
        workers = [
            p for p in descendants(self.jvm_pid, table)
            if table[p][1].startswith("python")
        ]
        driver = _rss_bytes(os.getpid())
        pyw = sum(_rss_bytes(p) for p in workers)
        jvm = _rss_bytes(self.jvm_pid)
        with self._lock:
            for k, v in (("driver", driver), ("pyworkers", pyw), ("jvm", jvm),
                         ("python_total", driver + pyw)):
                self.peak[k] = max(self.peak[k], v)

    def _run(self) -> None:
        while not self._stop.wait(RSS_INTERVAL_S):
            self.sample()

    def start(self) -> None:
        self.sample()
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def peaks_mb(self) -> dict[str, float]:
        with self._lock:
            return {k: v / 2**20 for k, v in self.peak.items()}


# --- Spark event log ---------------------------------------------------

_TASK_SUMS = {
    "internal.metrics.executorRunTime": ("executor_run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("executor_cpu_s", 1e-9),
    "internal.metrics.executorDeserializeTime": ("task_deser_s", 1e-3),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1),
    "time to run Python workers": ("pyworker_s", 1e-3),
    "data sent to Python workers": ("pyworker_bytes_in", 1),
    "data returned from Python workers": ("pyworker_bytes_out", 1),
}
SPARK_FIELDS = (
    "jobs", "tasks", "executor_run_s", "executor_cpu_s", "task_deser_s",
    "gc_s", "shuffle_read_bytes", "shuffle_write_bytes", "pyworker_s",
    "pyworker_bytes_in", "pyworker_bytes_out",
)


@dataclass
class SparkJob:
    group: str | None
    start_s: float  # epoch seconds
    end_s: float
    metrics: dict = field(default_factory=dict)


def read_event_logs(log_dir: str) -> list[SparkJob]:
    """Every job in every application log under ``log_dir`` (plain or
    rolling layout, uncompressed), with its tasks' metrics summed."""
    jobs: list[SparkJob] = []
    files = sorted(
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith((".", "appstatus"))
    )
    by_app: dict[str, list[str]] = {}
    for p in files:
        by_app.setdefault(os.path.dirname(p) if "eventlog_v2_" in p else p, []).append(p)
    for parts in by_app.values():
        stage_job: dict[int, int] = {}
        app_jobs: dict[int, SparkJob] = {}
        for p in sorted(parts):
            with open(p) as f:
                for line in f:
                    try:
                        e = json.loads(line)
                    except ValueError:
                        continue  # a torn last line of an unfinished log
                    kind = e.get("Event")
                    if kind == "SparkListenerJobStart":
                        props = e.get("Properties") or {}
                        j = SparkJob(props.get("spark.jobGroup.id"),
                                     e["Submission Time"] / 1e3, e["Submission Time"] / 1e3,
                                     {k: 0 for k in SPARK_FIELDS})
                        j.metrics["jobs"] = 1
                        app_jobs[e["Job ID"]] = j
                        for sid in e.get("Stage IDs", ()):
                            stage_job.setdefault(sid, e["Job ID"])
                    elif kind == "SparkListenerJobEnd":
                        j = app_jobs.get(e["Job ID"])
                        if j is not None:
                            j.end_s = e["Completion Time"] / 1e3
                    elif kind == "SparkListenerTaskEnd":
                        j = app_jobs.get(stage_job.get(e.get("Stage ID")))
                        if j is None:
                            continue
                        j.metrics["tasks"] += 1
                        for a in (e.get("Task Info") or {}).get("Accumulables", ()):
                            spec = _TASK_SUMS.get(a.get("Name"))
                            if spec is None:
                                continue
                            try:
                                j.metrics[spec[0]] += float(a.get("Update") or 0) * spec[1]
                            except (TypeError, ValueError):
                                pass
        jobs.extend(app_jobs.values())
    return jobs


def assign_jobs(jobs, ops) -> dict[str, list[SparkJob]]:
    """Attribute jobs to operations: by job group where the job carries
    one of the operations' ids, else by submission time falling inside
    an operation's interval (streaming micro-batch jobs run on the
    stream's own thread and carry no group). ``ops`` is a list of
    (op_id, start_epoch_s, end_epoch_s)."""
    ids = {o[0] for o in ops}
    out: dict[str, list] = {o[0]: [] for o in ops}
    ordered = sorted(ops, key=lambda o: o[1])
    starts = [o[1] for o in ordered]
    for j in jobs:
        if j.group in ids:
            out[j.group].append(j)
            continue
        i = bisect.bisect_right(starts, j.start_s) - 1
        if i >= 0 and j.start_s <= ordered[i][2]:
            out[ordered[i][0]].append(j)
    return out
