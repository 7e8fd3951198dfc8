"""``stream_oltp``: many short transactions replayed one feed file per
trigger into a replica pre-loaded to 15x the rows of one trigger.

Closed loop: every feed file exists before its trigger (a redo backlog
after a connector restart), and the next trigger starts when the previous
one has committed.  The first ``WARM_FILES`` feed files are the warm-up
triggers of the query; the rest are the measured backlog, moved into the
source directory together.
"""

from __future__ import annotations

import contextlib
import dataclasses
import datetime
import json
import os
import shutil
import time

import feedgen
import observe
from observe import median

SHAPE = feedgen.FeedShape(
    files=0,  # set from --seconds, see feed_files()
    short_txns_per_file=500,
    key_space=60_000,
    preload_rows=30_000,
)
# the first triggers of a query run slower while the JVM and the Python
# workers warm up: they are set-up, not measured
WARM_FILES = 2
# the measured backlog holds one file per this many seconds of --seconds
# (a trigger takes about 5 s on 4 cores at the time of writing)
TRIGGER_BUDGET_S = 3.0
MIN_MEASURED_FILES = 4
SETUP_REPS = 3


def feed_files(seconds: int) -> int:
    """Warm-up files plus the measured backlog."""
    return WARM_FILES + max(MIN_MEASURED_FILES, round(seconds / TRIGGER_BUDGET_S))


class Fixture:
    """One generated feed and one pre-loaded replica in a directory of
    their own.  Files wait in ``stage`` until the replay moves them into
    the source directory ``feed``."""

    def __init__(self, root: str):
        self.root = root
        self.stage = os.path.join(root, "stage")
        self.feed = os.path.join(root, "feed")
        self.replica = os.path.join(root, "replica")
        self.ckpt = os.path.join(root, "ckpt")
        self.preload = os.path.join(root, "preload.parquet")

    def release(self, first: int, last: int) -> None:
        os.makedirs(self.feed, exist_ok=True)
        for i in range(first, last):
            name = f"redo-{i:05d}.parquet"
            os.rename(os.path.join(self.stage, name), os.path.join(self.feed, name))


def _setup_fixture(spark, shape, seed, root) -> tuple[Fixture, float, float]:
    from oracdc_spark.sinks.merge import merge_batch

    fx = Fixture(root)
    shutil.rmtree(root, ignore_errors=True)
    t0 = time.perf_counter()
    files, preload = feedgen.generate(shape, seed)
    feedgen.write_feed(files, fx.stage)
    feedgen.write_preload(preload, fx.preload)
    gen_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    merge_batch(spark, spark.read.parquet(fx.preload), fx.replica)
    load_s = time.perf_counter() - t0
    return fx, gen_s, load_s


def _progress(q) -> list[dict]:
    out = []
    for p in q.recentProgress:
        p = json.loads(p.json) if hasattr(p, "json") else p
        if p.get("numInputRows", 0) > 0 and "addBatch" in p.get("durationMs", {}):
            out.append(p)
    return out


def _epoch(ts: str) -> float:
    dt = datetime.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ")
    return dt.replace(tzinfo=datetime.timezone.utc).timestamp()


def _stateful_output_rows(query) -> int:
    """``numOutputRows`` of the stateful operator in the current micro-batch
    plan.  The sink's actions re-run that plan, so the counter grows by
    the batch's output once per run."""
    stack = [query._jsq.streamingQuery().lastExecution().executedPlan()]
    while stack:
        node = stack.pop()
        if node.nodeName() == observe.STATEFUL_OP:
            return node.metrics().apply("numOutputRows").value()
        children = node.children()
        stack += [children.apply(i) for i in range(children.size())]
    return 0


class MergeProbe:
    """Wraps ``merge_batch`` as the pipeline's sink calls it: wall time, the
    replica manifest before and after each call, and the stateful
    operator's output counter before and after."""

    def __init__(self, query):
        self.query = query
        self.calls: list[dict] = []

    def __enter__(self):
        from oracdc_spark.streaming import pipeline

        self._module = pipeline
        self._real = real = pipeline.merge_batch

        def traced_merge(spark, batch, target_path, *args, **kwargs):
            before = observe.read_manifest(target_path)
            rows0 = _stateful_output_rows(self.query)
            t0 = time.time()
            try:
                return real(spark, batch, target_path, *args, **kwargs)
            finally:
                t1 = time.time()
                buckets, written = observe.manifest_diff(
                    target_path, before, observe.read_manifest(target_path)
                )
                self.calls.append(
                    {"start": t0, "end": t1, "buckets": buckets, "bytes": written,
                     "stateful_rows": _stateful_output_rows(self.query) - rows0}
                )

        pipeline.merge_batch = traced_merge
        return self

    def __exit__(self, *exc):
        self._module.merge_batch = self._real
        return False


def _replay(spark, fx: Fixture, n_files: int, traced: bool) -> dict:
    """Warm-up triggers, then the measured drain of the backlog."""
    from oracdc_spark.streaming.pipeline import run_pipeline

    fx.release(0, WARM_FILES)
    t0 = time.perf_counter()
    q = run_pipeline(spark, fx.feed, fx.replica, fx.ckpt, max_files_per_trigger=1)
    try:
        q.processAllAvailable()
        warm_s = time.perf_counter() - t0
        stage0 = observe.last_stage_id(spark) if traced else None
        probe = MergeProbe(q)
        with probe if traced else contextlib.nullcontext():
            t0 = time.perf_counter()
            fx.release(WARM_FILES, n_files)
            q.processAllAvailable()
            wall_s = time.perf_counter() - t0
        progress = _progress(q)
    finally:
        q.stop()
    out = {
        "warm_s": warm_s,
        "wall_s": wall_s,
        "triggers": len(progress),
        "progress": [p for p in progress if p["batchId"] >= WARM_FILES],
    }
    if traced:
        out["stages"] = observe.stages_after(spark, stage0)
        out["merges"] = probe.calls
    return out


def _check_replica(spark, fx: Fixture, expected: dict) -> int:
    """Number of keys whose replica row differs from the oracle."""
    from oracdc_spark.sinks.merge import replica_state

    got = {
        r["pk"]: (r["totalprice"], r["status"])
        for r in replica_state(spark, fx.replica).select("pk", "totalprice", "status").collect()
    }
    keys = set(got) | set(expected)
    return sum(1 for k in keys if got.get(k) != expected.get(k))


def _layers(run: dict, tracer: observe.Tracer) -> tuple[dict, dict]:
    """Per-layer numbers of one traced replay: (metrics for the result
    line, stream-only detail)."""
    progress, merges, stages = run["progress"], run["merges"], run["stages"]
    n = len(progress)
    triggers = []
    for p in progress:
        t0 = _epoch(p["timestamp"])
        d = p["durationMs"]
        tid = f"trigger-{p['batchId']}"
        span = tracer.add("pipeline.trigger", t0, t0 + d["triggerExecution"] / 1000.0, tid)
        # MicroBatchExecution phase order; the progress gives durations only
        at, phases = t0, {}
        for phase in ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets"):
            ms = d.get(phase, 0)
            phases[phase] = tracer.add(f"pipeline.{phase}", at, at + ms / 1000.0, tid, span)
            at += ms / 1000.0
        # the sink (and merge_batch inside it) runs within addBatch
        triggers.append((t0, t0 + d["triggerExecution"] / 1000.0, tid, phases["addBatch"]))
    for m in merges:
        owner = next((t for t in triggers if t[0] <= m["start"] <= t[1]), None)
        tracer.add("merge.merge_batch", m["start"], m["end"],
                   owner[2] if owner else "unmatched", owner[3] if owner else None,
                   buckets=m["buckets"], bytes=m["bytes"])

    # a merge call re-runs the stateful stage; each run adds the batch's
    # output to the operator's counter once
    stateful = [s for s in stages if s["stateful"]]
    rows_out = 0
    for m in merges:
        runs = sum(1 for s in stateful if m["start"] <= s["submitted"] <= m["end"])
        rows_out += m["stateful_rows"] // runs if runs else 0

    def dsum(*phases):
        return sum(p["durationMs"].get(ph, 0) for p in progress for ph in phases) / 1000.0

    ops = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
    merge_s = sum(m["end"] - m["start"] for m in merges)
    written = sum(m["bytes"] for m in merges)
    metrics = {
        "pipeline.triggers": n,
        "assembly.runs_per_trigger": len(stateful) / max(n, 1),
        "assembly.state_bytes_max": max((o["memoryUsedBytes"] for o in ops), default=0),
        "assembly.state_keys_max": max((o["numRowsTotal"] for o in ops), default=0),
        "assembly.rows_in": sum(p["numInputRows"] for p in progress),
        "assembly.rows_out": rows_out,
        "merge.calls": len(merges),
        "merge.buckets_rewritten": sum(m["buckets"] for m in merges),
        "merge.bytes_written": written,
        "merge.bytes_per_change_row": written / rows_out if rows_out else 0.0,
        **observe.exec_totals(stages, n),
    }
    detail = {
        "pipeline.offsets_s": dsum("latestOffset", "getBatch", "walCommit"),
        "pipeline.planning_s": dsum("queryPlanning"),
        "pipeline.add_batch_s": dsum("addBatch"),
        "pipeline.commit_s": dsum("commitOffsets"),
        "pipeline.sink_overhead_s": dsum("addBatch") - merge_s,
        "assembly.task_s": sum(s["run_s"] for s in stateful),
        "assembly.state_update_s": sum(o["allUpdatesTimeMs"] for o in ops) / 1000.0,
        "assembly.state_commit_s": sum(o["commitTimeMs"] for o in ops) / 1000.0,
        "merge.s": merge_s,
        "merge.p50_s": median(m["end"] - m["start"] for m in merges),
    }
    return metrics, detail


def run(ctx) -> dict:
    spark, seed, tracer = ctx.spark, ctx.seed, ctx.tracer
    shape = dataclasses.replace(SHAPE, files=feed_files(ctx.seconds))
    files, preload = feedgen.generate(shape, seed)
    expected = feedgen.expected_replica(files, preload)
    n_files = shape.files
    measured_rows = sum(len(f) for f in files[WARM_FILES:])

    fixtures, gen, load = [], [], []
    for r in range(SETUP_REPS):
        with tracer.span("setup.fixture", "setup"):
            fx, g, l = _setup_fixture(spark, shape, seed, os.path.join(ctx.work, f"fixture{r}"))
        fixtures.append(fx)
        gen.append(g)
        load.append(l)

    with tracer.span("replay", "untraced"):
        run0 = _replay(spark, fixtures[-1], n_files, traced=False)
    # one operation per trigger plus the replica check; a file that got no
    # trigger of its own (or shared one) is a failed operation
    attempted = n_files + 1
    failed = abs(n_files - run0["triggers"])
    mismatched = _check_replica(spark, fixtures[-1], expected)
    failed += 1 if mismatched else 0

    trig = [p["durationMs"]["triggerExecution"] / 1000.0 for p in run0["progress"]]
    result = {
        "attempted": attempted,
        "failed": failed,
        "end_to_end": {
            "wall_s": run0["wall_s"],
            "unit_p50_s": median(trig),
            "setup_s": ctx.session_s + median(g + l for g, l in zip(gen, load)) + run0["warm_s"],
        },
        "layers": {
            "setup.session_s": ctx.session_s,
            "setup.load_s": median(load),
            "setup.warm_s": run0["warm_s"],
        },
        "detail": {
            "setup.gen_s": median(gen),
            "rows_per_s": measured_rows / run0["wall_s"],
            "trigger_p50_s": median(trig),
            "trigger_samples": len(trig),
            "trigger_s": trig,
            "feed_files": n_files,
            "measured_rows": measured_rows,
            "replica_rows_expected": len(expected),
            "replica_keys_mismatched": mismatched,
            "setup_reps_gen_s": gen,
            "setup_reps_load_s": load,
        },
    }
    if ctx.trace:
        with tracer.span("replay", "traced"):
            run1 = _replay(spark, fixtures[-2], n_files, traced=True)
        mismatched1 = _check_replica(spark, fixtures[-2], expected)
        metrics, detail = _layers(run1, tracer)
        result["layers"].update(metrics)
        result["layers"]["trace.overhead_s"] = run1["wall_s"] - run0["wall_s"]
        result["detail"].update(detail)
        result["detail"]["traced_wall_s"] = run1["wall_s"]
        result["detail"]["traced_replica_keys_mismatched"] = mismatched1
        result["detail"]["traced_stages"] = run1["stages"]
        result["detail"]["traced_triggers"] = [
            {"batch_id": p["batchId"], "start": _epoch(p["timestamp"]), "duration_ms": p["durationMs"]}
            for p in run1["progress"]
        ]
        result["attempted"] += n_files + 1
        result["failed"] += abs(n_files - run1["triggers"]) + (1 if mismatched1 else 0)
    return result
