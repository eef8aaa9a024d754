"""``olap``: an analyst's session of read-only statements.

Each round runs every statement of the session once, in a seeded order:
the registry's named queries (``RegisteredQuery.fn`` then ``collect``)
and TPC-H-style SQL templates through ``KtSqlEngine.sql`` with literals
drawn from the seed. Every result is collected to the client. WARM_ROUNDS
untimed rounds warm the session (a statement's first execution carries
code generation and JIT compilation that later ones do not); the timed
window runs whole rounds, at least MIN_ROUNDS.
Every distinct statement is then checked against DuckDB over the same
Parquet files: the registered oracle for a named query, the same SQL
text for a template.
"""

from __future__ import annotations

import datetime as dt
import random
import time

import datagen

#: scale factor of the generated tables (lineitem = 6M x SF rows)
SF = 0.01
WARM_ROUNDS = 3
MIN_ROUNDS = 2

NAMED = (
    "flagship_revenue_by_nation",
    "j01_inner_equi_join",
    "a05_rollup",
    "w01_row_number_topk_per_group",
)


def _cents(expr: str) -> str:
    """An exact money sum: per-row cents as BIGINT, summed, then scaled.
    Both engines round each row the same way, while a double SUM can
    land on either side of a rounding boundary depending on the order
    it adds in."""
    return f"CAST(SUM(CAST(ROUND(({expr}) * 100) AS BIGINT)) AS DOUBLE) / 100"


_REV = _cents("l_extendedprice * (1 - l_discount)")


def _ts(d: dt.datetime) -> str:
    return f"TIMESTAMP '{d:%Y-%m-%d %H:%M:%S}'"


def _day(rng: random.Random) -> dt.datetime:
    return datagen.ORDER_DAY0 + dt.timedelta(days=rng.randint(0, datagen.ORDER_DAYS - 400))


def t_shipping_priority(rng):
    d, seg = _day(rng), rng.choice(datagen.SEGMENTS)
    return f"""SELECT l_orderkey, {_REV} AS revenue, o_orderdate, o_orderpriority
FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = '{seg}' AND o_orderdate < {_ts(d)} AND l_shipdate > {_ts(d)}
GROUP BY l_orderkey, o_orderdate, o_orderpriority ORDER BY revenue DESC, l_orderkey LIMIT 10"""


def t_local_supplier_volume(rng):
    d, region = _day(rng), rng.choice(datagen.REGIONS)
    return f"""SELECT n_name, {_REV} AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  JOIN nation ON s_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey
WHERE r_name = '{region}' AND o_orderdate >= {_ts(d)} AND o_orderdate < {_ts(d + dt.timedelta(days=365))}
GROUP BY n_name"""


def t_top_customers(rng):
    d, nation = _day(rng), rng.randint(0, 24)
    return f"""SELECT c_custkey, c_name, {_cents("o_totalprice")} AS spend, CAST(COUNT(*) AS BIGINT) AS n_orders
FROM customer JOIN orders ON o_custkey = c_custkey
WHERE c_nationkey = {nation} AND o_orderdate >= {_ts(d)}
GROUP BY c_custkey, c_name ORDER BY spend DESC, c_custkey LIMIT 20"""


TEMPLATES = (t_shipping_priority, t_local_supplier_volume, t_top_customers)


def session_plan(seed: int, rounds: int) -> list[list[tuple[str, str, str]]]:
    """The session's statements: per round, (kind, name, text) for every
    named query (text = its name) and every template (text = SQL with
    fresh literals), in a seeded order."""
    rng = random.Random(f"olap:{seed}")
    out = []
    for _ in range(rounds):
        stmts = [("named", q, q) for q in NAMED]
        stmts += [("sql", t.__name__[2:], t(rng)) for t in TEMPLATES]
        rng.shuffle(stmts)
        out.append(stmts)
    return out


def run(h) -> dict:
    from kt_sql_hbase_ex_spark import registry
    from kt_sql_hbase_ex_spark.engine import KtSqlEngine
    from kt_sql_hbase_ex_spark.testing import duckdb_connect

    data = h.path("data")
    datagen.write_tables(data, h.seed, SF)
    registry.load_all()
    queries = registry.all_queries()
    tr = h.tracer

    def setup():
        spark = h.timed_part("session.start", h.session)
        eng = h.timed_part("catalog.register", lambda: KtSqlEngine(spark, data))
        h.timed_part("warmup", lambda: eng.sql("SELECT COUNT(*) FROM region").collect())
        return eng

    eng = h.repeated_setup(setup, lambda eng: None)
    spark = h.spark

    def execute(kind, text):
        if kind == "named":
            with tr.span("registry.build"):
                df = queries[text].fn(spark, data)
        else:
            with tr.span("engine.sql"):
                df = eng.sql(text)
        with tr.span("spark.collect"):
            rows = df.collect()
        return df.columns, rows

    # rounds are planned up front: the warm rounds, then enough for any
    # window (the loop stops at whole rounds)
    plan = iter(session_plan(h.seed, 64))
    results = []  # (kind, text, columns, rows) for the output check
    for _ in range(WARM_ROUNDS):
        for kind, _name, text in next(plan):
            results.append((kind, text, *execute(kind, text)))

    h.start_window()
    rounds, last = 0, 0.0
    while rounds < MIN_ROUNDS or h.window_elapsed() + last <= h.seconds:
        t0 = time.perf_counter()
        h.new_block()
        for kind, _name, text in next(plan):
            with h.op(kind):
                cols, rows = execute(kind, text)
                results.append((kind, text, cols, rows))
        rounds, last = rounds + 1, time.perf_counter() - t0
    h.end_window()
    h.extra["olap.rounds"] = rounds

    con = duckdb_connect(data)
    try:
        oracle = {}
        for kind, text, cols, rows in results:
            if text not in oracle:
                rel = con.execute(queries[text].oracle if kind == "named" else text)
                oracle[text] = ([d[0] for d in rel.description], rel.fetchall())
            problem = compare_result(cols, rows, *oracle[text])
            if problem:
                h.mark_wrong(f"{text[:60]!r}: {problem}")
    finally:
        con.close()
    h.close_spark()

    statements = [o.wall_s for o in h.ops if o.ok]
    return {
        "op": ("named", "sql"),
        "op2": ("sql",),
        "kinds": {"statement": statements, "named": h.latencies("named"), "sql": h.latencies("sql")},
        "layers": {},
    }


def _canonical(cols, rows) -> list:
    from kt_sql_hbase_ex_spark.testing import _norm_value

    idx = [cols.index(c) for c in sorted(cols)]
    return sorted((tuple(_norm_value(r[i]) for i in idx) for r in rows), key=repr)


def compare_result(spark_cols, spark_rows, oracle_cols, oracle_rows) -> str | None:
    """None when the Spark result equals the oracle's, else what differs.
    Values are normalized as in the engine's parity gate
    (``kt_sql_hbase_ex_spark.testing``: floats to 6 decimals, timestamps
    as ISO text, order-insensitive)."""
    if sorted(spark_cols) != sorted(oracle_cols):
        return f"columns {sorted(spark_cols)} != {sorted(oracle_cols)}"
    if len(spark_rows) != len(oracle_rows):
        return f"{len(spark_rows)} rows != {len(oracle_rows)}"
    a, b = _canonical(spark_cols, spark_rows), _canonical(oracle_cols, oracle_rows)
    for i, (x, y) in enumerate(zip(a, b)):
        if x != y:
            return f"row {i}: {x!r} != {y!r}"
    return None
