#!/usr/bin/env python3
"""Benchmark of the oracdc_spark engine.

    python3 perfbench/run.py --workload stream_oltp --seed 1 --seconds 15 --trace 0

Run from the repository root.  Workloads (see BENCHMARK.json):

* ``stream_oltp``    -- many short transactions replayed through
  ``streaming.pipeline.run_pipeline`` one feed file per trigger into a
  replica pre-loaded through ``sinks.merge.merge_batch``;
* ``batch_queries``  -- the ``__spark_entry__.queries()`` suite of
  ``queries.SUITE`` to a ``noop`` sink, checked against ``oracle_sql()``.

Every metric is printed by name with its unit; the last line of standard
output is one JSON object ``{"correct", "attempted", "failed", "metrics"}``
holding the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``).  A traced run also writes its spans and its full detail
under ``perfbench/out/``.  Everything the run writes stays under
``perfbench/work`` and ``perfbench/out``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
OUT = os.path.join(HERE, "out")

# every session of the benchmark: local[4], 4 shuffle partitions (so the
# stateful operator has 4 state-store partitions), 2 GB driver heap
CORES = 4
SHUFFLE_PARTITIONS = 4
DEADLINE_S = 170

def unit_of(name: str, declared: dict) -> str:
    """The unit BENCHMARK.json declares for ``name``, else one read from
    the name of a detail figure."""
    if name in declared:
        return declared[name]
    if name.endswith("_share"):
        return "1"
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if "bytes" in name:
        return "B"
    return "count"


class Context:
    def __init__(self, spark, seed, seconds, trace, tracer, session_s):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.tracer = tracer
        self.session_s = session_s
        self.work = WORK


def _deadline(_signum, _frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def _configure_environment() -> None:
    """Keep every file the run writes inside the checkout, and pin the
    session shape so it does not follow the host's core count."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM (the launcher and the driver): temp files in the work
    # directory, no hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def _start_session():
    from oracdc_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    # one trivial job: the session is usable, not merely constructed
    spark.range(1).collect()
    return spark, time.perf_counter() - t0


def _stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("stream_oltp", "batch_queries"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (
        os.path.isfile(os.path.join(ROOT, "oracdc_spark", "__init__.py"))
        and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
    ):
        print(f"perfbench: no oracdc_spark program next to {HERE}", file=sys.stderr)
        return 2

    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(OUT, exist_ok=True)
    _configure_environment()
    os.chdir(ROOT)
    sys.path[:0] = [ROOT, HERE]

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}

    import observe

    host = observe.host_stamp(ROOT, args.seed)
    tracer = observe.Tracer(bool(args.trace))
    spark = None
    try:
        with tracer.span("setup.session", "setup"):
            spark, session_s = _start_session()
        ctx = Context(spark, args.seed, args.seconds, bool(args.trace), tracer, session_s)
        if args.workload == "stream_oltp":
            import stream as workload
        else:
            import batch as workload
        result = workload.run(ctx)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            _stop_session(spark)
        signal.alarm(0)
        shutil.rmtree(WORK, ignore_errors=True)

    host["load_1m_after"] = os.getloadavg()[0]
    layers = dict(result["layers"])
    layers["host.calib_s"] = host["calib_s"]
    layers["host.load_1m"] = host["load_1m_before"]
    if args.workload == "batch_queries":
        # a batch run does no work in the streaming layers
        for m in spec["per_layer"]:
            if m["name"].split(".")[0] in ("pipeline", "assembly", "merge"):
                layers.setdefault(m["name"], 0)
    source = layers if args.trace else result["end_to_end"]
    chosen = {m["name"]: source[m["name"]] for m in spec["per_layer" if args.trace else "end_to_end"]}

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    record = {
        "workload": args.workload,
        "seconds": args.seconds,
        "host": host,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "end_to_end": result["end_to_end"],
        "layers": layers,
        "detail": result["detail"],
    }
    with open(os.path.join(OUT, f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    if args.trace:
        tracer.write(os.path.join(OUT, f"{tag}.trace.json"))

    print(f"# {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    print(
        f"# host nproc={host['nproc']} load_1m={host['load_1m_before']:.2f}->"
        f"{host['load_1m_after']:.2f} calib_s={host['calib_s']:.4f} "
        f"commit={host['git_commit']} source_sha256={host['source_sha256'][:16]}"
    )
    failed_share = result["failed"] / result["attempted"]
    for section in (result["end_to_end"], layers, result["detail"]):
        for name, value in section.items():
            if isinstance(value, (int, float)):
                print(f"{name} = {value:.6g} {unit_of(name, units)}")
    print(f"failed_share = {failed_share:.6g} {unit_of('failed_share', units)}")
    print(
        json.dumps(
            {
                "correct": result["failed"] == 0,
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": {
                    k: {"value": float(v), "unit": units[k]} for k, v in chosen.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
