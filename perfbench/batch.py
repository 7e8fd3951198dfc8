"""``batch_queries``: the query suite of :mod:`queries` over a frozen copy
of the seed-42 sf0.01 test tables (``data/sf0.01``).

Each query is its builder call plus a ``noop`` write, which computes every
column the query declares (``.count()`` would let Catalyst drop UDFs,
windows and joins).  Timing is steady state: one warm pass, then
passes until ``--seconds`` is used up (at least three), and each query's time
is its median over the passes.  The inputs are fixed, so the seed does not
change them.

The warm pass checks every query against its DuckDB oracle; after the
timed passes each timed plan is checked against the plan the oracle check
executed (the plan-shape guard).
"""

from __future__ import annotations

import math
import os
import re
import time
from collections import Counter

import observe
from observe import median
from queries import FAMILIES, SUITE, family

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
MIN_PASSES = 3
SETUP_REPS = 3


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def op_classes(names) -> Counter:
    """Operator classes a pruned action could lose, counted over physical
    operator names: joins, windows, aggregates, generators, expands and
    Python-worker stages."""
    c: Counter = Counter()
    for n in names:
        if re.search(r"Python|InPandas|InArrow", n):
            c["python"] += 1
        elif n.endswith("Join") or n == "CartesianProduct":
            c["join"] += 1
        elif n in ("Window", "WindowGroupLimit"):
            c["window"] += 1
        elif n.endswith("Aggregate"):
            c["aggregate"] += 1
        elif n in ("Generate", "Expand"):
            c[n.lower()] += 1
    return c


def plan_shape_diff(timed_ops, declared_ops) -> dict:
    """Classes whose count differs between the timed execution and the
    declared plan, as ``{class: (timed, declared)}``; empty when the timed
    action kept the declared operator multiset."""
    t, d = op_classes(timed_ops), op_classes(declared_ops)
    return {k: (t[k], d[k]) for k in sorted(set(t) | set(d)) if t[k] != d[k]}


def _norm_cell(v) -> str:
    if v is None:
        return "<null>"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    return str(v)


def _norm_rows(cols, rows) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)


def oracle_matches(columns, rows, con, sql: str) -> bool:
    """Same column names and the same rows, order-insensitive, after
    rendering every cell as a string."""
    s_cols = [c.lower() for c in columns]
    s_rows = [tuple(r) for r in rows]
    res = con.execute(sql)
    d_cols = [c[0].lower() for c in res.description]
    d_rows = res.fetchall()
    if sorted(s_cols) != sorted(d_cols) or len(s_rows) != len(d_rows):
        return False
    return _norm_rows(s_cols, s_rows) == _norm_rows(d_cols, d_rows)


def duck_connection(data_dir: str):
    import duckdb

    from oracdc_spark import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
        )
    return con


def _timed_pass(spark, qs, names) -> tuple[dict, dict]:
    """One pass over ``names``: per query (build s, noop-write s), and the
    last SQL execution id before each query, read outside the timed
    region, to find the plan each query executed."""
    times, marks = {}, {}
    for name in names:
        marks[name] = observe.last_sql_execution_id(spark)
        try:
            t0 = time.perf_counter()
            df = qs[name](spark, DATA)
            t1 = time.perf_counter()
            noop_write(df)
            times[name] = (t1 - t0, time.perf_counter() - t1)
        except Exception as exc:  # counted as a failed operation
            times[name] = f"{type(exc).__name__}: {str(exc)[:300]}"
    marks[None] = observe.last_sql_execution_id(spark)
    return times, marks


def _executed_plans(spark, names, marks) -> dict:
    """Physical operator names of the last SQL execution each query ran in
    a pass: its noop write (eager actions inside a builder come first)."""
    order = list(marks)  # the pass's query order, then None
    execs = observe.sql_executions_after(spark, marks[order[0]])
    plans = {}
    for n, nxt in zip(order, order[1:]):
        ran = [e for e in execs if marks[n] < e["execution_id"] <= marks[nxt]]
        if n in names and ran:
            plans[n] = ran[-1]["operators"]
    return plans


def _traced_pass(spark, qs, names, tracer) -> tuple[dict, list[dict]]:
    """One pass with a span per layer: build (the Python builder call),
    Catalyst phases from the QueryExecution tracker (optimisation and
    planning forced on the declared DataFrame), execute (the noop write),
    and the stages each query ran."""
    per_query, stages = {}, []
    for name in names:
        after = observe.last_stage_id(spark)
        with tracer.span("query", name) as root:
            with tracer.span("build", name, root):
                t0 = time.perf_counter()
                df = qs[name](spark, DATA)
                build_s = time.perf_counter() - t0
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            phases = qe.tracker().phases()
            cat = {}
            for ph in ("analysis", "optimization", "planning"):
                if phases.contains(ph):
                    p = phases.apply(ph)
                    cat[ph] = p.durationMs() / 1000.0
                    tracer.add(f"catalyst.{ph}", p.startTimeMs() / 1000.0, p.endTimeMs() / 1000.0, name, root)
            with tracer.span("execute", name, root):
                t0 = time.perf_counter()
                noop_write(df)
                exec_s = time.perf_counter() - t0
        q_stages = observe.stages_after(spark, after)
        stages += q_stages
        per_query[name] = {"build_s": build_s, "execute_s": exec_s, "catalyst": cat,
                           "stages": len(q_stages),
                           "task_s": sum(s["run_s"] for s in q_stages),
                           "python_task_s": sum(s["run_s"] for s in q_stages if s["python"])}
    return per_query, stages


def run(ctx) -> dict:
    import __spark_entry__ as entry

    from oracdc_spark import feed

    spark, tracer = ctx.spark, ctx.tracer
    qs, oracles = entry.queries(), entry.oracle_sql()
    names = list(SUITE)

    load = []
    for r in range(SETUP_REPS):
        feed.clear_feed_cache()
        with tracer.span("setup.materialize_feeds", "setup"):
            t0 = time.perf_counter()
            feed.materialize_feeds(spark, DATA, os.path.join(ctx.work, f"feeds{r}"))
            load.append(time.perf_counter() - t0)

    # warm-up pass: each query's first run is its oracle check, a collect()
    # of the declared DataFrame; the DuckDB side is not counted as set-up
    con = duck_connection(DATA)
    failures, declared, warm_s = {}, {}, 0.0
    with tracer.span("setup.warm", "setup"):
        for name in names:
            before = observe.last_sql_execution_id(spark)
            try:
                t0 = time.perf_counter()
                df = qs[name](spark, DATA)
                rows = df.collect()
                warm_s += time.perf_counter() - t0
                declared[name] = observe.sql_executions_after(spark, before)[-1]["operators"]
                ok = oracle_matches(df.columns, rows, con, oracles[name])
            except Exception as exc:  # a query that raises is a failed operation
                failures[name] = f"{type(exc).__name__}: {str(exc)[:300]}"
                continue
            if not ok:
                failures[name] = "oracle mismatch"
    names = [n for n in names if n not in failures]

    passes = []
    t_end = time.perf_counter() + ctx.seconds
    while len(passes) < MIN_PASSES or time.perf_counter() < t_end:
        passes.append(_timed_pass(spark, qs, names))
    marks = passes[-1][1]
    passes = [times for times, _marks in passes]
    failures.update({n: p[n] for p in passes for n in names if isinstance(p[n], str)})
    names = [n for n in names if n not in failures]
    per_query = {n: median(sum(p[n]) for p in passes) for n in names}

    # the plan-shape guard: the timed noop write ran the declared plan
    timed_plans = _executed_plans(spark, names, marks)
    for name in names:
        diff = plan_shape_diff(timed_plans.get(name, []), declared[name])
        if diff:
            failures[name] = f"plan shape differs: {diff}"

    fam = {f: 0.0 for f in FAMILIES}
    for n, t in per_query.items():
        fam[family(n)] += t
    result = {
        "attempted": len(SUITE),
        "failed": len(failures),
        "end_to_end": {
            "wall_s": sum(per_query.values()),
            "unit_p50_s": median(per_query.values()),
            "setup_s": ctx.session_s + median(load) + warm_s,
        },
        "layers": {
            "setup.session_s": ctx.session_s,
            "setup.load_s": median(load),
            "setup.warm_s": warm_s,
        },
        "detail": {
            "suite_s": sum(per_query.values()),
            "query_p50_s": median(per_query.values()),
            "query_samples": len(per_query),
            "passes": len(passes),
            "pass_s": [sum(sum(t) for t in p.values() if not isinstance(t, str)) for p in passes],
            "query_s": per_query,
            "failures": failures,
            "setup_reps_load_s": load,
            **{f"family.{f}_s": t for f, t in fam.items()},
        },
    }
    if ctx.trace:
        t0 = time.perf_counter()
        traced, stages = _traced_pass(spark, qs, names, tracer)
        traced_s = time.perf_counter() - t0
        result["layers"].update(observe.exec_totals(stages, len(names)))
        result["layers"]["trace.overhead_s"] = traced_s - result["end_to_end"]["wall_s"]
        result["detail"].update(
            {
                "build.s": sum(q["build_s"] for q in traced.values()),
                "catalyst.analysis_s": sum(q["catalyst"].get("analysis", 0.0) for q in traced.values()),
                "catalyst.optimization_s": sum(q["catalyst"].get("optimization", 0.0) for q in traced.values()),
                "catalyst.planning_s": sum(q["catalyst"].get("planning", 0.0) for q in traced.values()),
                "execute.s": sum(q["execute_s"] for q in traced.values()),
                "traced_suite_s": traced_s,
                "traced_query": traced,
            }
        )
    return result
