"""``kv``: HBase-client traffic against a synchronously replicated table.

The source is a KV store over ``customer`` keyed by the unique
``c_custkey``, remapped to TPC-H's sparse order-key pattern so that absent
keys fall inside the key range. It is folded once at provisioning, so it
serves from region files with per-region blooms. A live replica drains
``ktsql_kv_changes`` and applies each micro-batch with ``apply_cdc_batch``.

The client runs blocks of a fixed shape in a seeded order:

* multi-gets of 1-10 keys (``get_store_rows``), Zipf-skewed over the
  table, with a share of keys that fall in the gaps and so are absent;
* a range scan through the connector (``spark.read.format("ktsql_kv")``
  with a key-range filter pushed down), collected to the client;
* statement-sized commits of all five mutation kinds (put, delete,
  increment, check_and_mutate, append), keys favouring recent and new
  ones. Each commit is followed by ``maybe_compact_store`` with a
  threshold low enough that several folds finish in a run, and the
  client waits for the replica to acknowledge the commit before it sends
  its next operation.

Every commit's effect is mirrored in a dict model. Every get is checked
against the model, every scan by row count and checksums, and at the end
the source store, the replica and the model must be equal.
"""

from __future__ import annotations

import os
import random
import shutil
import threading
import time

import numpy as np

import datagen

# The traffic constants. The Zipfian constant 0.99 comes from YCSB
# (Cooper et al., "Benchmarking Cloud Serving Systems with YCSB", SoCC
# 2010); the others are assumptions (YCSB has no counterpart of the five
# HBase mutation kinds or of a synchronous replica). The README's
# "Traffic constants" gives the reason for each.
SF = 0.1
REGION_SIZE = 256
#: overlay rows above which maybe_compact_store folds
FOLD_THRESHOLD = 48
# Every block runs the same mix: the same operations with the same key
# counts, only the keys, values and order are drawn from the seed. So the
# work in a block does not vary with the seed, and block figures compare.
#: one block: a multi-get of each of these key counts, SCANS range scans
#: and these commits, in a seeded order
GET_SIZES = tuple(range(1, 11)) * 3
SCANS = 1
WRITES = ("put",) * 3 + ("delete",) * 2 + ("increment",) * 2 + ("check_and_mutate",) * 2 + ("append",)
ZIPF_S = 0.99
#: share of a get's keys that are absent (rounded per get)
ABSENT_SHARE = 0.2
SCAN_SPAN = 5_000  # key span of a scan; keys are 1 in 4 dense
#: keys per commit, one size per commit of a block
BATCH_SIZES = (2, 3, 4, 5, 5, 5, 5, 6, 7, 8)
#: share of a commit's keys that are new, per kind; of the rest,
#: RECENT_SHARE are drawn from the last RECENT_KEYS keys written and the
#: others uniformly from every key the table has held
NEW_SHARE = {"put": 0.25, "delete": 0.0, "increment": 0.1, "check_and_mutate": 0.0, "append": 0.1}
RECENT_SHARE = 0.5
RECENT_KEYS = 64
#: share of check_and_mutate checks that name the current value
CHECK_HOLDS = 0.75
COLUMNS = ("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
ACK_TIMEOUT_S = 60.0


def gen_table(seed: int):
    """The generated ``customer`` table with sparse keys."""
    import pyarrow as pa

    t = datagen.gen_tables(seed, SF, ("customer",))["customer"].select(list(COLUMNS))
    keys = datagen.orderkey(t.column("c_custkey").to_numpy())
    return t.set_column(0, "c_custkey", pa.array(keys, pa.int64()))


class Writer:
    """The seeded commit stream and its dict model of the table."""

    def __init__(self, seed: int, rows: list[dict]):
        self.rng = random.Random(f"kv:writes:{seed}")
        self.model = {r["c_custkey"]: r for r in rows}
        self.keys = sorted(self.model)  # every key the table has held
        self.next_new = self.keys[-1] + 1
        self.recent: list[int] = []

    def _keys(self, n: int, new_share: float) -> list[int]:
        out: set[int] = set()
        while len(out) < n:
            x = self.rng.random()
            if x < new_share:
                k = self.next_new
                self.next_new += 1
                self.keys.append(k)
            elif x < new_share + RECENT_SHARE and self.recent:
                k = self.rng.choice(self.recent[-RECENT_KEYS:])
            else:
                k = self.rng.choice(self.keys)
            out.add(k)
        return sorted(out)

    def block(self) -> list[tuple[str, list]]:
        kinds, sizes = list(WRITES), list(BATCH_SIZES)
        self.rng.shuffle(kinds)
        self.rng.shuffle(sizes)
        return [(k, self.batch(k, n)) for k, n in zip(kinds, sizes)]

    def batch(self, kind: str, n: int) -> list:
        """The client API argument for one commit of ``kind`` on ``n`` keys."""
        r = self.rng
        new = NEW_SHARE[kind]
        if kind == "put":
            return [{
                "c_custkey": k, "c_name": f"Customer#{k:09d}", "c_nationkey": r.randint(0, 24),
                "c_acctbal": round(r.uniform(-999.99, 9999.99), 2),
                "c_mktsegment": r.choice(datagen.SEGMENTS),
            } for k in self._keys(n, new)]
        if kind == "delete":
            return self._keys(n, new)
        if kind == "increment":
            return [{"c_custkey": k, "c_acctbal": r.randint(-200, 200) / 4} for k in self._keys(n, new)]
        if kind == "check_and_mutate":
            out = []
            for k in self._keys(n, new):
                cur = (self.model.get(k) or {}).get("c_mktsegment")
                # most checks read the current segment; some name a stale one
                want = cur if r.random() < CHECK_HOLDS else r.choice(datagen.SEGMENTS)
                out.append({"c_custkey": k, "check": {"column": "c_mktsegment", "equals": want},
                            "put": {"c_acctbal": round(r.uniform(0, 5000), 2)}})
            return out
        if kind == "append":
            return [{"c_custkey": k, "c_name": "."} for k in self._keys(n, new)]
        raise ValueError(kind)

    def apply(self, kind: str, arg: list) -> bool:
        """Mirror one commit in the model; True if it changed anything
        (a check_and_mutate whose checks all fail commits nothing)."""
        m = self.model

        def row(k):
            return dict(m.get(k) or {c: None for c in COLUMNS}, c_custkey=k)

        changed = []
        if kind == "put":
            for spec in arg:
                m[spec["c_custkey"]] = dict(spec)
                changed.append(spec["c_custkey"])
        elif kind == "delete":
            for k in arg:
                m.pop(k, None)
                changed.append(k)
        elif kind == "increment":
            for spec in arg:
                r = row(spec["c_custkey"])
                r["c_acctbal"] = (r["c_acctbal"] or 0) + spec["c_acctbal"]
                m[r["c_custkey"]] = r
                changed.append(r["c_custkey"])
        elif kind == "check_and_mutate":
            for spec in arg:
                k = spec["c_custkey"]
                cur = m.get(k)
                if (cur or {}).get(spec["check"]["column"]) == spec["check"]["equals"]:
                    r = row(k)
                    r.update(spec["put"])
                    m[k] = r
                    changed.append(k)
        elif kind == "append":
            for spec in arg:
                r = row(spec["c_custkey"])
                r["c_name"] = (r["c_name"] or "") + spec["c_name"]
                m[r["c_custkey"]] = r
                changed.append(r["c_custkey"])
        self.recent.extend(changed)
        del self.recent[:-256]
        return bool(changed)

    def scan_digest(self, lo, hi) -> tuple:
        return digest([r for k, r in self.model.items() if lo <= k < hi])


def digest(rows) -> tuple:
    """(row count, sum of keys, sum of balances in cents) — exact integers."""
    return (
        len(rows),
        sum(r["c_custkey"] for r in rows),
        sum(round((r["c_acctbal"] or 0) * 100) for r in rows),
    )


class Traffic:
    """The seeded operation stream: reads drawn here, commits from the
    Writer (whose arguments depend on its model, so a block is drawn
    when it is about to run)."""

    def __init__(self, seed: int, rows: list[dict]):
        self.writer = Writer(seed, rows)
        self.rng = random.Random(f"kv:reads:{seed}")
        keys = np.array(self.writer.keys)
        self.by_rank = np.random.default_rng([seed, 7]).permutation(keys)
        w = 1.0 / np.arange(1, len(keys) + 1) ** ZIPF_S
        self.cdf = np.cumsum(w) / w.sum()
        self.max_key = int(keys.max())

    def zipf_key(self) -> int:
        return int(self.by_rank[min(np.searchsorted(self.cdf, self.rng.random()), len(self.cdf) - 1)])

    def gap_key(self) -> int:
        # orderkey(i) uses offsets 1..8 of every 32; 9..32 are never
        # generated, and the writer's new keys all lie above max_key
        return self.rng.randrange(0, self.max_key // 32) * 32 + self.rng.randint(9, 32)

    def _distinct(self, n: int, draw) -> set:
        out: set = set()
        while len(out) < n:
            out.add(draw())
        return out

    def block(self) -> list[tuple]:
        r = self.rng
        ops = []
        for n in GET_SIZES:
            absent = self._distinct(round(n * ABSENT_SHARE), self.gap_key)
            ops.append(("get", sorted(absent | self._distinct(n - len(absent), self.zipf_key))))
        for _ in range(SCANS):
            lo = r.randrange(0, self.max_key - SCAN_SPAN)
            ops.append(("scan", (lo, lo + SCAN_SPAN)))
        ops += self.writer.block()
        r.shuffle(ops)
        return ops


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


class WriteMeter:
    """Bytes written under a directory, from new or changed files seen
    between calls to ``update`` (the store writes whole files: overlay
    rewrites, WAL entries, region files, manifests)."""

    def __init__(self, root: str):
        self.root = root
        self.seen: dict[str, tuple] = {}
        self.written = 0
        self.update()

    def update(self) -> None:
        for d, _, files in os.walk(self.root):
            for f in files:
                p = os.path.join(d, f)
                try:
                    st = os.stat(p)
                except OSError:
                    continue
                sig = (st.st_ino, st.st_mtime_ns, st.st_size)
                if self.seen.get(p) != sig:
                    self.seen[p] = sig
                    self.written += st.st_size


class Meters:
    """What the client measures in the window. With a store directory
    (traced runs) it also reads the store's files after each commit."""

    def __init__(self, store_dir: str | None = None):
        self.times: dict[str, list] = {k: [] for k in ("get", "scan_plan", "scan_exec")}
        self.commit_s: dict[str, list] = {k: [] for k in set(WRITES)}
        self.get_stats = {"files_read": 0, "routed": 0, "skipped": 0}
        self.lags: list[float] = []
        self.waits: list[float] = []
        self.folds: list[tuple] = []
        self.meter = WriteMeter(store_dir) if store_dir else None
        self.user_bytes = self.wal_rows = self.wal_bytes = self.overlay_written = 0
        self.overlay_rows: list[int] = []

    def after_commit(self, kind, arg, changed, lsrc, log_dir) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from kt_sql_hbase_ex_spark.sources import kvstore as kv

        self.meter.update()
        rows = arg if kind != "delete" else [{"c_custkey": k} for k in arg]
        self.user_bytes += pa.Table.from_pylist(rows).nbytes
        try:
            opath = kv.overlay_path(lsrc)
            self.overlay_rows.append(pq.ParquetFile(opath).metadata.num_rows)
            self.overlay_written += os.path.getsize(opath)
        except FileNotFoundError:  # a fold just retired the overlay
            self.overlay_rows.append(0)
        if changed:
            newest = os.path.join(log_dir, max(f for f in os.listdir(log_dir) if f.endswith(".parquet")))
            self.wal_bytes += os.path.getsize(newest)
            self.wal_rows += pq.ParquetFile(newest).metadata.num_rows


def run(h) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from kt_sql_hbase_ex_spark.sources import kvstore as kv
    from kt_sql_hbase_ex_spark.streaming import events as ev

    table = gen_table(h.seed)
    tr = h.tracer

    def store_opts(name):
        d = h.path("store", name)
        return {
            "path": os.path.join(d, "customer.parquet"),
            "keyCol": "c_custkey",
            "columns": ",".join(COLUMNS),
            "regionSize": str(REGION_SIZE),
            "storeRoot": os.path.join(d, "state"),
        }

    src, dst = store_opts("source"), store_opts("replica")
    lsrc = {k.lower(): v for k, v in src.items()}
    acks: list[tuple] = []  # (entry, ack) perf_counter of each useful batch
    batches: list[dict] = []
    cond = threading.Condition()

    def provision():
        for o in (src, dst):
            lo = {k.lower(): v for k, v in o.items()}
            os.makedirs(os.path.dirname(o["path"]), exist_ok=True)
            pq.write_table(table, o["path"])
            # one committed row, then a fold: both stores serve from
            # region files with blooms, like a flushed HBase table; the
            # row's WAL entry is the feed's first commit
            kv.put_rows_to_store(lo, table.slice(0, 1).to_pylist())
            kv.compact_store(lo, spark=h.spark)

    def apply(batch_df, batch_id):
        t_in = time.perf_counter()
        with tr.span("cdc.apply", op="cdc"):
            useful = ev.apply_cdc_batch(batch_df, dst)
        t_out = time.perf_counter()
        with cond:
            batches.append({"in": t_in, "apply_s": t_out - t_in, "useful": useful})
            if useful:
                acks.append((t_in, t_out))
            cond.notify_all()

    def start_replica(spark):
        stream_spark = ev.stream_session(spark)
        kv.register_kv_source(stream_spark)
        feed = stream_spark.readStream.format(kv.CHANGES_FORMAT_NAME).options(**src).load()
        return (
            feed.writeStream.foreachBatch(apply)
            .option("checkpointLocation", h.path("store", "replica_ckpt"))
            .start()
        )

    def wait_acks(q, n):
        deadline = time.monotonic() + ACK_TIMEOUT_S
        with cond:
            while len(acks) < n:
                if q.exception() is not None:
                    raise RuntimeError(f"replica stream failed: {q.exception()}")
                if time.monotonic() > deadline:
                    raise TimeoutError(f"replica acknowledged {len(acks)} of {n} commits")
                cond.wait(0.05)

    def scan_df(lo, hi):
        return (
            h.spark.read.format(kv.FORMAT_NAME).options(**src).load()
            .where((F.col("c_custkey") >= lo) & (F.col("c_custkey") < hi))
        )

    def setup():
        spark = h.timed_part("session.start", h.session)
        h.timed_part("catalog.register", lambda: kv.register_kv_source(spark))
        h.timed_part("kvstore.provision", provision)
        q = h.timed_part("cdc.start", lambda: start_replica(spark))
        h.timed_part("warmup", lambda: warmup(q))
        return q

    def warmup(q):
        # the provisioning commit reaches the replica; one get and one scan
        wait_acks(q, 1)
        kv.get_store_rows(lsrc, [{"c_custkey": table.column("c_custkey")[0].as_py()}])
        scan_df(0, 64).collect()

    def teardown(q):
        q.stop()
        shutil.rmtree(h.path("store"), ignore_errors=True)
        os.makedirs(h.path("store"))
        with cond:
            acks.clear()
            batches.clear()

    q = h.repeated_setup(setup, teardown)

    traffic = Traffic(h.seed, table.to_pylist())
    writer = traffic.writer
    log_dir = kv.changelog_dir(lsrc)
    commits = {
        "put": lambda a: kv.put_rows_to_store(lsrc, a),
        "delete": lambda a: kv.delete_from_store(lsrc, a),
        "increment": lambda a: kv.increment_store(lsrc, a),
        "check_and_mutate": lambda a: kv.check_and_mutate_store(lsrc, a),
        "append": lambda a: kv.append_store(lsrc, a),
    }
    m = Meters()
    expected = len(acks)

    def timed(key, span, fn):
        """Call one layer: a span for the trace, a duration for its mean."""
        t0 = time.perf_counter()
        with tr.span(span):
            out = fn()
        m.times[key].append(time.perf_counter() - t0)
        return out

    def get(op_ctx, keys):
        with op_ctx("get") as op:
            got = timed("get", "kvstore.get", lambda: kv.get_store_rows(lsrc, [{"c_custkey": k} for k in keys]))
        if not op.ok:
            return
        s = kv.last_multiget_stats()
        m.get_stats["files_read"] += s.get("files_read", 0)
        m.get_stats["routed"] += s.get("regions_routed", 0)
        m.get_stats["skipped"] += s.get("regions_skipped_bloom", 0)
        for k, r in zip(keys, got):
            if r != writer.model.get(k):
                h.mark_wrong(f"get {k}: {r!r} != {writer.model.get(k)!r}")

    def scan(op_ctx, span):
        with op_ctx("scan") as op:
            df = timed("scan_plan", "kvstore.scan.plan", lambda: scan_df(*span))
            rows = timed("scan_exec", "kvstore.scan.exec", df.collect)
        if op.ok:
            got, want = digest([r.asDict() for r in rows]), writer.scan_digest(*span)
            if got != want:
                h.mark_wrong(f"scan {span}: {got} != {want}")

    def write(op_ctx, kind, arg):
        nonlocal expected
        changed = writer.apply(kind, arg)
        with op_ctx("write") as op:
            t0 = time.perf_counter()
            with tr.span(f"kvstore.commit.{kind}"):
                commits[kind](arg)
            t1 = time.perf_counter()
            with tr.span("kvstore.maybe_compact"):
                stats = kv.maybe_compact_store(lsrc, max_overlay_rows=FOLD_THRESHOLD, spark=h.spark)
            t2 = time.perf_counter()
            if changed:
                expected += 1
                with tr.span("cdc.wait_ack"):
                    wait_acks(q, expected)
                m.lags.append(acks[expected - 1][1] - t1)
                m.waits.append(acks[expected - 1][0] - t1)
        if not op.ok:
            return
        m.commit_s[kind].append(t1 - t0)
        op.commit_s = t2 - t0
        if stats:
            m.folds.append((t2 - t1, stats))
        if m.meter is not None:
            m.after_commit(kind, arg, changed, lsrc, log_dir)

    def run_block(op_ctx):
        h.new_block()
        for kind, arg in traffic.block():
            if kind == "get":
                get(op_ctx, arg)
            elif kind == "scan":
                scan(op_ctx, arg)
            else:
                write(op_ctx, kind, arg)

    # one untimed block warms every path (JIT, caches, the stream)
    run_block(h.untimed_op)
    m = Meters(h.path("store", "source") if h.trace else None)
    n_batches0 = len(batches)
    h.start_window()
    try:
        while h.window_elapsed() < h.seconds:
            run_block(h.op)
    finally:
        h.end_window()
        q.stop()

    # source store, replica and model must agree on every key the table
    # ever held (every commit writes only such keys; the gaps the gets
    # read were checked as they were read)
    keys = sorted(writer.keys)
    for name, o in (("source", src), ("replica", dst)):
        got = kv.get_store_rows(o, [{"c_custkey": k} for k in keys])
        diff = sum(1 for k, r in zip(keys, got) if r != writer.model.get(k))
        if diff:
            h.mark_wrong(f"{name} store != model on {diff} keys")
    h.close_spark()

    writes = [o for o in h.ops if o.ok and o.kind == "write"]
    n = max(1, len(writes))
    window_batches = batches[n_batches0:]
    folds = max(1, len(m.folds))
    st = m.get_stats
    layers = {
        "kvstore.provision_s": h.part_median("kvstore.provision"),
        "kvstore.get_s": _mean(m.times["get"]),
        "kvstore.get.files_read": st["files_read"] / max(1, len(m.times["get"])),
        "kvstore.get.bloom_skip_ratio": st["skipped"] / max(1, st["routed"]),
        "kvstore.scan.plan_s": _mean(m.times["scan_plan"]),
        "kvstore.scan.exec_s": _mean(m.times["scan_exec"]),
        **{f"kvstore.commit_s.{k}": _mean(v) for k, v in m.commit_s.items()},
        "kvstore.folds": float(len(m.folds)),
        "kvstore.fold_s": sum(t for t, _ in m.folds) / folds,
        "kvstore.fold.regions_rewritten": sum(s.get("regions_rewritten", 0) for _, s in m.folds) / folds,
        "kvstore.fold.regions_carried": sum(s.get("regions_carried", 0) for _, s in m.folds) / folds,
        "cdc.batches": len(window_batches) / n,
        "cdc.useful_ratio": sum(1 for b in window_batches if b["useful"]) / max(1, len(window_batches)),
        "cdc.apply_s": _mean([b["apply_s"] for b in window_batches]),
        "cdc.wait_s": _mean(m.waits),
    }
    if h.trace:
        by_op = h.spark_by_op()
        scans = [o for o in h.ops if o.kind == "scan" and o.ok]
        layers["kvstore.scan.partitions"] = sum(
            j.metrics["tasks"] for o in scans for j in by_op.get(o.id, [])
        ) / max(1, len(scans))
        m.meter.update()
        live = pa.Table.from_pylist(list(writer.model.values())).nbytes
        layers.update({
            "kvstore.overlay_rows": _mean(m.overlay_rows),
            "kvstore.overlay_bytes_written": m.overlay_written / n,
            "kvstore.wal_bytes_per_commit": m.wal_bytes / n,
            "kvstore.write_amp": m.meter.written / max(1, m.user_bytes),
            "kvstore.space_amp": _dir_bytes(h.path("store", "source")) / max(1, live),
            "cdc.rows_applied": m.wal_rows / max(1, len(m.lags)),
        })
    return {
        "op": ("get",),
        "op2": ("write",),
        "kinds": {
            "get": h.latencies("get"),
            "scan": h.latencies("scan"),
            "write": h.latencies("write"),
            "commit": [o.commit_s for o in writes],
            "cdc_lag": m.lags,
        },
        "layers": layers,
    }


def _mean(xs) -> float:
    return sum(xs) / len(xs) if xs else 0.0
