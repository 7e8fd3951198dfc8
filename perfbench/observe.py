"""What the benchmark observes from outside the program: spans kept in
memory, Spark's status stores, the replica manifest and the host.

Nothing here changes the program.  Stage and SQL numbers are read from the
application's live status stores after the work ran; spans are recorded
around calls into public functions.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import os
import re
import statistics
import threading
import time
from contextlib import contextmanager

STATEFUL_OP = "FlatMapGroupsInPandasWithState"
# physical operators that run Python workers (Arrow UDFs, pandas maps,
# grouped-map and stateful pandas operators)
_PYTHON_LABEL = re.compile(r'label="[^"<]*(?:Python|InPandas|InArrow)[^"<]*"')


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


class Tracer:
    """Spans kept in memory and written out once at the end of a run.

    A span has a name, start and end (epoch seconds), the id of the span
    that caused it, and a trace id: the trigger id or the query name.
    Disabled, it records nothing and costs a context-manager call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()

    def add(self, name, start, end, trace_id, parent=None, **attrs) -> int | None:
        if not self.enabled:
            return None
        with self._lock:
            sid = next(self._ids)
            self.spans.append(
                {"id": sid, "name": name, "start": start, "end": end,
                 "parent": parent, "trace_id": trace_id, **attrs}
            )
        return sid

    @contextmanager
    def span(self, name, trace_id, parent=None):
        """Time the block; yields the span id (None when disabled) so
        children can name their parent."""
        if not self.enabled:
            yield None
            return
        with self._lock:
            sid = next(self._ids)
        t0 = time.time()
        try:
            yield sid
        finally:
            with self._lock:
                self.spans.append(
                    {"id": sid, "name": name, "start": t0, "end": time.time(),
                     "parent": parent, "trace_id": trace_id}
                )

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": sorted(self.spans, key=lambda s: s["start"])}, f)


# -- Spark status stores ------------------------------------------------------


def settle(spark) -> None:
    """Wait until Spark's listener bus has delivered every event posted so
    far.  Stage and SQL events reach the status stores through that bus
    asynchronously, so a read right after an action can miss its last
    stages."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def _stage_seq(spark):
    settle(spark)
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    return store, store.stageList(
        None, False, False, sc._gateway.new_array(sc._jvm.double, 0), None
    )


def last_stage_id(spark) -> int:
    _store, seq = _stage_seq(spark)
    return seq.apply(0).stageId() if seq.size() else -1


def stages_after(spark, after_id: int) -> list[dict]:
    """Completed stages with an id above ``after_id``, each with its task
    count, executor run/CPU/GC time, shuffle-write and spill bytes, and
    whether its operation graph holds the stateful pandas operator or any
    Python-worker operator.  The store lists the newest stage first, so
    the walk stops at ``after_id``."""
    store, seq = _stage_seq(spark)
    dot = spark.sparkContext._jvm.org.apache.spark.ui.scope.RDDOperationGraph
    rows = []
    for i in range(seq.size()):
        s = seq.apply(i)
        sid = s.stageId()
        if sid <= after_id:
            break
        if s.status().toString() != "COMPLETE":
            continue
        g = dot.makeDotFile(store.operationGraphForStage(sid))
        rows.append(
            {
                "stage_id": sid,
                "tasks": s.numTasks(),
                "run_s": s.executorRunTime() / 1000.0,
                "cpu_s": s.executorCpuTime() / 1e9,
                "gc_s": s.jvmGcTime() / 1000.0,
                "shuffle_bytes": s.shuffleWriteBytes(),
                "submitted": s.submissionTime().get().getTime() / 1000.0,
                "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                "stateful": f'label="{STATEFUL_OP}"' in g,
                "python": bool(_PYTHON_LABEL.search(g)),
            }
        )
    return rows[::-1]


def exec_totals(stages: list[dict], units: int) -> dict:
    units = max(units, 1)
    return {
        "exec.stages_per_unit": len(stages) / units,
        "exec.tasks_per_unit": sum(s["tasks"] for s in stages) / units,
        "exec.task_s": sum(s["run_s"] for s in stages),
        "exec.cpu_s": sum(s["cpu_s"] for s in stages),
        "exec.gc_s": sum(s["gc_s"] for s in stages),
        "exec.python_task_s": sum(s["run_s"] for s in stages if s["python"]),
        "exec.shuffle_bytes": sum(s["shuffle_bytes"] for s in stages),
        "exec.spill_bytes": sum(s["spill_bytes"] for s in stages),
    }


def last_sql_execution_id(spark) -> int:
    settle(spark)
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    return store.executionsList(n - 1, 1).apply(0).executionId() if n else -1


def sql_executions_after(spark, after_id: int) -> list[dict]:
    """SQL executions with an id above ``after_id``, in id order, with the
    physical operator names of the plan that ran (AQE's final plan)."""
    settle(spark)
    store = spark._jsparkSession.sharedState().statusStore()
    seq = store.executionsList()
    out = []
    for i in range(seq.size() - 1, -1, -1):
        eid = seq.apply(i).executionId()
        if eid <= after_id:
            break
        nodes = store.planGraph(eid).allNodes()
        out.append(
            {"execution_id": eid, "operators": [nodes.apply(j).name() for j in range(nodes.size())]}
        )
    return out[::-1]


# -- replica manifest ---------------------------------------------------------


def read_manifest(replica: str) -> dict:
    try:
        with open(os.path.join(replica, "_MANIFEST.json")) as f:
            return json.load(f).get("buckets", {})
    except FileNotFoundError:
        return {}


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def manifest_diff(replica: str, before: dict, after: dict) -> tuple[int, int]:
    """(buckets rewritten or dropped, bytes in the newly committed bucket
    directories) between two manifests of one replica."""
    changed = [b for b, d in after.items() if before.get(b) != d]
    dropped = [b for b in before if b not in after]
    written = sum(dir_bytes(os.path.join(replica, after[b])) for b in changed)
    return len(changed) + len(dropped), written


# -- host ---------------------------------------------------------------------


def calibrate() -> float:
    """A fixed CPU-bound job (hash chain); its time shows how fast this host
    runs one core at the moment of the run."""
    t0 = time.perf_counter()
    h = b"perfbench"
    for _ in range(300_000):
        h = hashlib.sha256(h).digest()
    return time.perf_counter() - t0


def source_digest(root: str) -> str:
    """sha256 over the program's Python sources, in path order: identifies
    the code under test in a checkout that is not a git repository."""
    h = hashlib.sha256()
    files = [os.path.join(root, "__spark_entry__.py")]
    for d, _dirs, names in os.walk(os.path.join(root, "oracdc_spark")):
        files += [os.path.join(d, n) for n in names if n.endswith(".py")]
    for p in sorted(files):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def git_commit(root: str) -> str | None:
    """HEAD's commit id read from ``.git`` without running git, or None."""
    git = os.path.join(root, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        ref_file = os.path.join(git, ref)
        if os.path.exists(ref_file):
            with open(ref_file) as f:
                return f.read().strip()
        with open(os.path.join(git, "packed-refs")) as f:
            for line in f:
                if line.strip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return None


def host_stamp(root: str, seed: int) -> dict:
    return {
        "nproc": os.cpu_count(),
        "nproc_usable": len(os.sched_getaffinity(0)),
        "load_1m_before": os.getloadavg()[0],
        "calib_s": calibrate(),
        "seed": seed,
        "git_commit": git_commit(root),
        "source_sha256": source_digest(root),
    }
