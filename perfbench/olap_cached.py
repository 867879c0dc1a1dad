"""olap_cached: the bench.py headline queries over cached tables.

Set-up builds the session, loads every generated table, materialises
the columnar cache, runs one warm-up pass (three queries at a time)
whose results are checked against each query's DuckDB oracle
(scripts/check_exact.compare_exact; the check time is not counted in
``setup_s``), then ``WARM_PASSES`` untimed sequential passes. The timed
loop runs whole seed-shuffled passes, one query at a time; an op builds
the plan and fetches the whole result to the driver. Every result must
equal the oracle-checked one."""

from __future__ import annotations

import os
import random
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import pandas as pd

from common import ROOT, Op, build_spark
from datagen import generate

sys.path.insert(0, os.path.join(ROOT, "scripts"))
from check_exact import canon, compare_exact  # noqa: E402

DEFAULT_SF = 0.01
WARM_PASSES = 1  # sequential untimed passes after the checked one


def _digest(pdf) -> int:
    """Order-insensitive digest of a fetched result (rows in the
    canonical order compare_exact checks them in)."""
    return int(pd.util.hash_pandas_object(canon(pdf).astype(str), index=False).sum())


def _family(fn) -> str:
    return fn.__module__.rsplit(".", 1)[-1]


def run(ctx) -> dict:
    import duckdb

    from bench import HEADLINE

    from pg_datalake_spark import plans
    from pg_datalake_spark.catalog import TABLE_NAMES, load_tables, table_path
    from pg_datalake_spark.plans.registry import ORACLES, QUERIES

    tr = ctx.tracer
    data = os.path.join(ctx.tmp, "data")
    generate(data, ctx.seed, ctx.sf or DEFAULT_SF)
    spark = build_spark(ctx)
    t_session = time.perf_counter()
    plans.load_all()
    with tr.span("catalog.load_tables"):
        tabs = load_tables(spark, data)
    with tr.span("catalog.cache_warm"), ThreadPoolExecutor(max_workers=3) as pool:
        list(pool.map(lambda t: t.cache().count(), tabs.values()))
    t_cached = time.perf_counter()

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(data, t)}')")
    rng = random.Random(ctx.seed)
    names = [n for n in HEADLINE if n in QUERIES]
    last_df: dict[str, object] = {}

    def warm_one(name: str) -> tuple:
        t0 = time.perf_counter()
        last_df[name] = QUERIES[name](spark, data)
        pdf = last_df[name].toPandas()
        return pdf, time.perf_counter() - t0

    # warm-up pass: three queries at a time (JIT warm-up only; the timed
    # loop is one closed-loop client), then the untimed oracle checks
    with ThreadPoolExecutor(max_workers=3) as pool:
        fetched = dict(zip(names, pool.map(warm_one, names)))
    t_check = time.perf_counter()
    bad: set[str] = set()
    warm: list[Op] = []
    expected: dict[str, int] = {}
    for name, (pdf, dt) in fetched.items():
        if ctx.inject_fault and name == names[0]:
            pdf = pdf.iloc[1:]
        problems = compare_exact(pdf, con.execute(ORACLES[name]).df()) if name in ORACLES else []
        if problems:
            bad.add(name)
            ctx.fail(f"{name} differs from its oracle: {problems[0]}")
        warm.append(Op(name, dt, not problems, "read"))
        expected[name] = _digest(pdf)
    con.close()
    check_s = time.perf_counter() - t_check
    n = 0
    memo_hits = 0

    def one_pass() -> list[Op]:
        nonlocal n, memo_hits
        ops = []
        for name in rng.sample(names, len(names)):
            fn = QUERIES[name]
            tr.begin_op(f"op{n}", "query")
            t0 = time.perf_counter()
            with tr.span("plans.build"):
                df = fn(spark, data)
            with tr.span(f"plans.{_family(fn)}.exec"):
                pdf = df.toPandas()
            dt = time.perf_counter() - t0
            tr.end_op()
            memo_hits += df is last_df[name]
            last_df[name] = df
            ok = name not in bad and _digest(pdf) == expected[name]
            if not ok and name not in bad:
                ctx.fail(f"{name} op{n}: result differs from the oracle-checked one")
            ops.append(Op(name, dt, ok, "read"))
            n += 1
        print(f"# pass: {sum(o.seconds for o in ops):.2f}s", file=sys.stderr)
        return ops

    # the first sequential passes still run 1.5x slower while the JIT
    # settles: run them untimed before measuring
    with tr.paused():
        for _ in range(WARM_PASSES):
            warm += one_pass()
    setup_s = time.perf_counter() - ctx.t_start - check_s
    print(f"# set-up: session {t_session - ctx.t_start:.1f}s, tables and cache "
          f"{t_cached - t_session:.1f}s, checked pass {t_check - t_cached:.1f}s, "
          f"oracle checks {check_s:.1f}s (not in setup_s)", file=sys.stderr)

    ops: list[Op] = []
    n = memo_hits = 0
    timed = 0.0
    while timed < ctx.seconds:
        ops += one_pass()
        timed = sum(o.seconds for o in ops)
    return {"ops": ops, "warm": warm, "setup_s": setup_s, "timed_s": timed,
            "memo_hit_ratio": memo_hits / n}


def per_layer(ctx, res: dict) -> dict[str, float]:
    tr = ctx.tracer
    jobs, tasks = tr.jobs_tasks({"query"})
    out = {
        "session.build_s": tr.mean_s("session.build"),
        "catalog.load_tables_s": tr.mean_s("catalog.load_tables"),
        "catalog.cache_warm_s": tr.mean_s("catalog.cache_warm"),
        "plans.build_s": tr.mean_s("plans.build"),
        "plans.memo_hit_ratio": res["memo_hit_ratio"],
        "plans.spark_jobs_per_query": jobs,
        "plans.spark_tasks_per_query": tasks,
    }
    for fam in ("tpch", "tpcds", "relational", "llmops"):
        out[f"plans.{fam}.exec_s"] = tr.mean_s(f"plans.{fam}.exec")
    return out
