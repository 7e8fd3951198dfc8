"""Mechanize the changed-this-round rule: a plan-fingerprint registry
for every declared query.

The driver-window discipline (r9/r10 verdicts) requires that any query
whose PLAN changed in a round re-enters the correctness window, even
when the change looks inert (the r10 BPE guard and the r11 precondition
message literals both forced re-entries).  Until now "did this round
change any declared plan?" was answered by reading diffs — this tool
makes it a gate:

* ``--write``: build every declared query against sf0.001, normalize
  the ANALYZED logical plan (strip expression ids, plan ids, file
  paths, JVM addresses — everything session-ephemeral; verified stable
  across fresh interpreters for the fold/localCheckpoint/trained-
  codebook families too), md5 it, and write ``PLAN_FINGERPRINTS.json``
  at the repo root (committed).
* default (check): recompute and diff against the committed registry.
  CHANGED or ADDED queries must appear in the CURRENT driver window
  (the first 50 entries of ``queries()``) — otherwise exit non-zero:
  a plan changed without the re-entry the window discipline demands.
  REMOVED queries (undeclared) always fail until ``--write`` refreshes
  the registry in the same commit that removes them.

Wall cost: one pass of the catalog's builders at sf0.001 (~10 min on
local[32]) — fold-based queries execute their micro-batch loops while
building, exactly as the parity sweep does.

Usage:
    python tools/plan_fingerprints.py [--write] [query ...]
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REGISTRY = os.path.join(REPO, "PLAN_FINGERPRINTS.json")
SF_DIR = os.environ.get("SPARK_GRAFT_FP_SF_DIR", "/root/testdata/sf0.001")

_NORM = [
    (re.compile(r"#\d+"), "#N"),  # expression ids
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"file:[^\s,\])]+"), "file:PATH"),
    (re.compile(r"/tmp/[^\s,\])]+"), "/tmp/PATH"),
    (re.compile(r"@[0-9a-f]{6,}"), "@ADDR"),
    # Higher-order-function lambda variables: Spark names them
    # `<argname>_<counter>` from a SESSION-GLOBAL AtomicInteger
    # (UnresolvedNamedLambdaVariable.freshVarName), so a query's raw
    # plan text depends on every lambda-bearing query built before it
    # in the same session (r11 verdict What's-wrong item 1: building
    # text_quality twice in one session yielded two different md5s).
    # The rendering always carries a `lambda ` prefix ("lambda x_5"),
    # so anchoring on it normalizes ONLY lambda variables — real
    # column aliases that happen to end in _<digits> are untouched.
    (re.compile(r"\blambda ([A-Za-z_][A-Za-z0-9_]*)_\d+\b"), r"lambda \1_N"),
    # Round-robin repartitions to defaultParallelism
    # (plans/parallel.py::ensure_parallelism) embed the host's core
    # count; the fingerprint pins plan shape, not the host.
    (re.compile(r"Repartition \d+, true"), "Repartition N, true"),
]


def _fingerprint(df) -> str:
    spark = df.sparkSession
    # Plan toString truncates attribute lists at
    # spark.sql.debug.maxToStringFields (default 25) with "... N more
    # fields" — a change confined to truncated attributes would hash
    # identically and the gate would fail open exactly on the widest
    # plans (r11 ADVICE medium).  Set it here, not in session setup,
    # so EVERY caller (tool, pytest sample check) fingerprints the
    # untruncated plan.
    spark.conf.set("spark.sql.debug.maxToStringFields", "100000")
    s = df._jdf.queryExecution().analyzed().toString()
    for rx, rep in _NORM:
        s = rx.sub(rep, s)
    return hashlib.md5(s.encode()).hexdigest()


def main() -> int:
    write = "--write" in sys.argv
    names = [a for a in sys.argv[1:] if not a.startswith("--")]

    sys.path.insert(0, REPO)
    import __spark_entry__ as e
    from oracdc_spark.session import get_spark

    spark = get_spark("plan-fingerprints", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    qs = e.queries()
    window = list(qs)[:50]  # the current driver window, by construction
    todo = names or list(qs)
    current: dict[str, str] = {}
    for name in todo:
        try:
            current[name] = _fingerprint(qs[name](spark, SF_DIR))
        except Exception as ex:  # a builder that cannot even plan is a red flag
            current[name] = f"ERR:{type(ex).__name__}:{str(ex)[:80]}"
        print(f"{name}: {current[name]}", flush=True)

    if write:
        if names:
            # partial refresh: merge into the existing registry
            old = json.load(open(REGISTRY)) if os.path.exists(REGISTRY) else {}
            old.update(current)
            current = old
        with open(REGISTRY, "w") as fh:
            json.dump(dict(sorted(current.items())), fh, indent=1)
            fh.write("\n")
        print(f"wrote {REGISTRY} ({len(current)} fingerprints)")
        return 0

    if not os.path.exists(REGISTRY):
        print("no PLAN_FINGERPRINTS.json — run with --write first", file=sys.stderr)
        return 1
    committed = json.load(open(REGISTRY))
    scope = set(todo)
    changed = [
        n for n in scope
        if n in committed and committed[n] != current[n]
    ]
    added = [n for n in scope if n not in committed]
    removed = [] if names else [n for n in committed if n not in qs]
    rc = 0
    for n in changed:
        ok = n in window
        print(f"CHANGED {n}: {'in window (re-entry OK)' if ok else 'NOT IN WINDOW'}")
        if not ok:
            rc = 1
    for n in added:
        ok = n in window
        print(f"ADDED {n}: {'in window (new declaration OK)' if ok else 'NOT IN WINDOW'}")
        if not ok:
            rc = 1
    for n in removed:
        print(f"REMOVED {n}: refresh the registry with --write in the same commit")
        rc = 1
    print(
        f"\n{len(scope) - len(changed) - len(added)} unchanged, "
        f"{len(changed)} changed, {len(added)} added, {len(removed)} removed"
        + ("" if rc == 0 else "  ->  WINDOW-DISCIPLINE BREACH")
    )
    return rc


if __name__ == "__main__":
    sys.exit(main())
