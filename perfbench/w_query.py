"""The ``query_mix`` workload: one closed-loop client over registered
queries, through ``__spark_entry__.queries()``.

The mix holds JVM-only SQL plans (TPC-H, analytic, events) and
Python/Arrow-bound LLM curation operators. Set-up writes the seeded
tables, then runs every query once, untimed, four at a time. Each timed pass runs every
query once in a seed-shuffled order; one query run is the registered
call plus collecting its result to the client as Arrow.

Checks, untimed: every result whose query has a DuckDB oracle must
match it by row count and an order-insensitive hash (floats to 12
significant digits); a query without an oracle must return rows and
the same hash as in its warm-up run.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import random
import time
from concurrent.futures import ThreadPoolExecutor

import duckdb

import common
import datagen
import w_ingest

SQL = [
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q18_large_orders",
    "tpch_q21_waiting_supplier",
    "analytic_pricing_summary",
    "analytic_window_analytic",
    "events_promql_rate",
    "events_sessionize",
]
CURATION = [
    "dedup_minhash_lsh",
    "sim_ivf_topk",
    "text_tfidf",
    "text_pii_redact",
]
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
SF = 0.004
SMOKE_SF = 0.001
# A warm pass takes about this long on a 4-core host; a run makes
# round(--seconds / PASS_S) passes, so every run of a setting measures
# the same queries.
PASS_S = 10.0
WARM_THREADS = 4


def _canon(v):
    if isinstance(v, float):
        return "NaN" if v != v else f"{v:.12g}"
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, dt.date):  # a DATE equals its midnight TIMESTAMP
        return dt.datetime.combine(v, dt.time()).isoformat()
    return v


def result_hash(columns: list[str], rows: list[tuple]) -> tuple[int, str]:
    """(row count, hash) with columns sorted by name and rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(
        repr(tuple(_canon(r[i]) for i in order)) for r in rows
    )
    h = hashlib.sha256(repr([columns[i] for i in order]).encode())
    for line in canon:
        h.update(line.encode())
    return len(canon), h.hexdigest()[:16]


def arrow_hash(table) -> tuple[int, str]:
    cols = table.column_names
    rows = list(zip(*(table.column(c).to_pylist() for c in cols))) if cols else []
    return result_hash(cols, rows)


def oracle_hash(sql: str, table_dir: str) -> tuple[int, str]:
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(table_dir, t + '.parquet')}')"
            )
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        return result_hash(cols, cur.fetchall())
    finally:
        con.close()


def query_mix(ctx) -> dict:
    import __spark_entry__ as entry

    spark = ctx.start_spark()
    table_dir = os.path.join(ctx.tmp, "tables")
    sf = SMOKE_SF if ctx.smoke else SF
    t0 = time.time()
    counts = datagen.write_tables(table_dir, ctx.seed, sf)
    tables_s = time.time() - t0
    queries = entry.queries()
    oracles = entry.oracle_sql()
    names = SQL + CURATION
    job_group = spark.sparkContext.setJobGroup

    def run_one(name: str, trace: str, parent) -> tuple[float, float, object]:
        job_group(trace, name)
        t0 = time.time()
        df = queries[name](spark, table_dir)
        t1 = time.time()
        table = df.toArrow()
        t2 = time.time()
        if parent is not None:
            q = ctx.tracer.add(f"query.{name}", t0, t2, parent=parent, trace=trace)
            ctx.tracer.add("queries.call", t0, t1, parent=q, trace=trace)
            ctx.tracer.add("queries.exec", t1, t2, parent=q, trace=trace)
        return t1 - t0, t2 - t1, table

    # Warm-up: the first run of a query pays planning, code generation
    # and worker start-up. One curation query runs alone first (it
    # ships the package to the Python workers), the rest in parallel.
    # Exceptions are counted as failures, never dropped.
    problems: list[str] = []
    warm0 = time.time()
    warm: dict[str, tuple | None] = {}
    with ThreadPoolExecutor(WARM_THREADS) as pool:
        futures = {names[-1]: pool.submit(run_one, names[-1], "warm", None)}
        futures[names[-1]].exception()  # wait: it ships the package
        for n in names[:-1]:
            futures[n] = pool.submit(run_one, n, "warm", None)
        for n, f in futures.items():
            try:
                warm[n] = arrow_hash(f.result()[2])
            except Exception as exc:  # reported and counted below
                warm[n] = None
                problems.append(f"{n}: warm-up raised {exc!r}"[:500])
    t_first = time.time()
    setup_s = t_first - ctx.t_start
    ctx.report["setup_parts_s"] = {
        "session": ctx.layer["session.get_spark_s"],
        "tables": tables_s,
        "warm_up": t_first - warm0,
    }
    ctx.workload_span = ctx.tracer.add("workload", t_first, t_first)

    rng = random.Random(ctx.seed)
    lat, calls, execs, per_query = [], [], [], {n: [] for n in names}
    pass_s, results = [], []
    jobs_per_pass = []
    tracker = spark.sparkContext.statusTracker()
    w0 = time.time()
    p = 0
    for _ in range(max(1, round(ctx.seconds / PASS_S))):
        order = names[:]
        rng.shuffle(order)
        p0 = time.time()
        for name in order:
            try:
                c, e, table = run_one(name, f"pass{p}", ctx.workload_span)
            except Exception as exc:  # reported and counted below
                problems.append(f"{name}: raised {exc!r}"[:500])
                results.append((name, None))
                continue
            lat.append(c + e)
            calls.append(c)
            execs.append(e)
            per_query[name].append(c + e)
            results.append((name, table))
        pass_s.append(time.time() - p0)
        jobs_per_pass.append(len(tracker.getJobIdsForGroup(f"pass{p}")))
        p += 1
    w1 = time.time()
    for s in ctx.tracer.spans:
        if s["id"] == ctx.workload_span:
            s["start"], s["end"] = w0, w1

    ctx.sampler.stop()  # the checks below are not the program's work
    # untimed checks
    expect = {}
    for name in names:
        if name in oracles:
            expect[name] = oracle_hash(oracles[name], table_dir)
        elif warm[name] is not None and warm[name][0] > 0:
            expect[name] = warm[name]
        else:
            expect[name] = None
            problems.append(f"{name}: no warm-up result with rows")
    failed = 0
    for name, table in results:
        got = arrow_hash(table) if table is not None else None
        if expect[name] is None or got != expect[name]:
            failed += 1
            if len(problems) < 20:
                problems.append(f"{name}: got {got}, expected {expect[name]}")

    ctx.report.update({
        "tables": counts,
        "sf": sf,
        "passes": p,
        "pass_s": common.median(pass_s),
        "query_p50_s": common.median(lat),
        "query_p75_s": common.pct(lat, 75),
        "per_query_s": {n: common.median(v) for n, v in per_query.items()},
        "problems": problems,
    })
    if ctx.trace:
        lay = ctx.report.setdefault("layers", {})
        lay["queries.call_s"] = common.median(calls)
        lay["queries.exec_s"] = common.median(execs)
        lay["spark.jobs_per_pass"] = common.median(jobs_per_pass)
        w_ingest.trace_probes(ctx)
    ctx.report["env"] = common.environment(ctx.seed)
    ctx.report["env"]["java"] = common.java_version(spark)
    return {
        "name": "query_mix",
        "correct": failed == 0,
        "attempted": len(results),
        "failed": failed,
        "window": (w0, w1),
        "e2e": {
            "setup_s": setup_s,
            "lat_mean_s": sum(lat) / len(lat),
            "tail_s": common.pct(lat, 90),
            "throughput": len(lat) / (w1 - w0),
        },
    }
