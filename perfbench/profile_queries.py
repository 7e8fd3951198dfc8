#!/usr/bin/env python3
"""Profile the frozen 98-name query list by operator family.

    python3 perfbench/profile_queries.py

Run from the repository root.  Starts the benchmark's session (``local[4]``,
4 shuffle partitions), materialises the change feeds, runs every name of
``queries.BENCH_QUERIES`` once untimed (the warm-up), then ``PASSES``
traced passes, and takes each query's median over them.  For each family, and for the timed ``queries.SUITE``, it
prints the share of the pass time, and how that time splits between the
Python builder call, the ``noop`` write and Python-worker task time.  The
table is how ``SUITE`` was chosen.  It writes ``perfbench/out/profile.json``
and takes about two and a half minutes on a 4-core host.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PASSES = 2


def _row(label, qs, prof, total):
    t = sum(prof[q]["build_s"] + prof[q]["execute_s"] for q in qs)
    b = sum(prof[q]["build_s"] for q in qs)
    py = sum(prof[q]["python_task_s"] for q in qs)
    task = sum(prof[q]["task_s"] for q in qs)
    return (f"{label:18s} {len(qs):3d} {t:8.2f} {t / total:6.1%} {b / t:6.1%} "
            f"{(t - b) / t:6.1%} {py / task if task else 0:6.1%}")


def main() -> int:
    os.chdir(ROOT)
    sys.path[:0] = [ROOT, HERE]

    import run
    from batch import DATA, _traced_pass, noop_write
    from observe import Tracer, median
    from queries import BENCH_QUERIES, FAMILIES, SUITE, family

    import __spark_entry__ as entry
    from oracdc_spark import feed

    shutil.rmtree(run.WORK, ignore_errors=True)
    run._configure_environment()
    spark, _ = run._start_session()
    try:
        qs = entry.queries()
        feed.materialize_feeds(spark, DATA, os.path.join(run.WORK, "feeds"))
        for name in BENCH_QUERIES:
            noop_write(qs[name](spark, DATA))
        passes = [_traced_pass(spark, qs, BENCH_QUERIES, Tracer(False))[0] for _ in range(PASSES)]
    finally:
        run._stop_session(spark)
        shutil.rmtree(run.WORK, ignore_errors=True)

    keys = ("build_s", "execute_s", "task_s", "python_task_s")
    prof = {q: {k: median(p[q][k] for p in passes) for k in keys} for q in BENCH_QUERIES}
    total = sum(v["build_s"] + v["execute_s"] for v in prof.values())
    print(f"{'family':18s} {'n':>3s} {'time_s':>8s} {'share':>6s} {'build':>6s} {'exec':>6s} {'py/task':>7s}")
    for fam in FAMILIES:
        print(_row(fam, [q for q in BENCH_QUERIES if family(q) == fam], prof, total))
    print(_row("all", list(BENCH_QUERIES), prof, total))
    suite_total = sum(prof[q]["build_s"] + prof[q]["execute_s"] for q in SUITE)
    for fam in FAMILIES:
        print(_row(f"SUITE.{fam}", [q for q in SUITE if family(q) == fam], prof, suite_total))
    print(_row("SUITE", list(SUITE), prof, suite_total))
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    with open(os.path.join(HERE, "out", "profile.json"), "w") as f:
        json.dump({"passes": PASSES, "query": prof}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
