"""End-to-end Structured Streaming CDC pipeline.

One streaming DAG replaces the reference's threads and queues
(SURVEY §3 "Spark restatement of the lifecycle"):

    file/Kafka source (S1/S2-equivalent feed)
      → stateful transaction assembly per xid-hash bucket (G1-G9,
        streaming/assembly.py)
      → foreachBatch: PK dedup (K6) + MERGE into the replica (K2/K3)

Offsets/exactly-once: the checkpoint directory carries source offsets
and the state store; the MERGE sink is idempotent under replay because
last-write-wins comparison includes (commit_scn, scn, ssn) — together
the F5 replay contract.

The sink materialises each assembled micro-batch once (persist on entry,
unpersist on exit).  The batch handed to ``foreachBatch`` is a lineage
over the stateful Python stage, so every action the sink runs on it (the
merge's affected-bucket collect, its bucket write, the strict-mode
count) would otherwise re-run the assembly, re-commit its state-store
version and add its rows to the stateful node's progress metrics again.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from oracdc_spark.sinks.merge import merge_batch
from oracdc_spark.streaming.assembly import assemble_transactions

FEED_DDL = (
    "scn bigint, ssn bigint, rba string, xid string, op int, rollback boolean, "
    "owner string, table_name string, row_id string, pk bigint, "
    "totalprice double, status string, before_totalprice double, "
    "before_status string, con_id int, changed_cols string"
)


def feed_stream(
    spark: SparkSession, feed_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """S5-equivalent: tail the change-feed directory; micro-batch size is
    the trigger bound (the reference's SCN-window sessions, F4)."""
    return (
        spark.readStream.schema(FEED_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(feed_dir)
    )


def run_pipeline(
    spark: SparkSession,
    feed_dir: str,
    replica_path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    impl: str = "apply",
    mode: str = "replicate",
    pre_filter=None,
    strict_completeness: bool = False,
    trigger_ms: int | None = None,
) -> StreamingQuery:
    """Wire source → assembly → sink; returns the running query.
    ``impl`` selects the assembly state backend (see
    :func:`assemble_transactions`); ``mode`` selects the sink semantics
    (``a2.sink.connector.mode``, TargetDbConfig.java:57-59):
    ``replicate`` = last-write-wins MERGE replica, ``audit_trail`` =
    every change kept as a version row (SCD2 history, the queryable
    superset of the reference's append-only audit table).

    ``pre_filter`` (DataFrame → DataFrame) applies the configured source
    surface — include/exclude lists, first-SCN bound, completeness
    tolerance — BEFORE the stateful assembly; all those predicates are
    narrow (no shuffle), so they ride the scan and the excluded tables
    never even enter state.  ``strict_completeness`` re-checks F7 inside
    the sink and raises (failing the query) when an incomplete row
    reaches emission — the streaming analog of the reference's
    OraCdcDataException task stop.  ``trigger_ms`` paces micro-batches
    (processingTime trigger) — the G11 load-reduction pause
    (``a2.reduce.load.ms``, Parameters.java:486-494): reading waits
    between triggers while emission (the sink) still completes.

    The assembly's state is keyed by ``ASSEMBLY_BUCKETS`` (64) xid-hash
    buckets, so its stage runs at most 64 tasks in parallel whatever
    ``spark.sql.shuffle.partitions`` says, and a checkpoint written
    before the bucket key fails on restart with Spark's state-schema
    error.  Each micro-batch is persisted for the duration of the sink,
    so the stateful assembly, its state-store update and its commit run
    once per trigger whatever the sink mode; a lost cached partition is
    recomputed from the same state version, so the replay contract
    holds."""
    if mode not in ("replicate", "audit_trail"):
        raise ValueError(f"bad sink mode: {mode}")
    stream = feed_stream(spark, feed_dir, max_files_per_trigger)
    if pre_filter is not None:
        stream = pre_filter(stream)
    assembled = assemble_transactions(stream, impl=impl)

    def sink(batch: DataFrame, batch_id: int) -> None:
        # no emptiness check: it would be one more action over the batch,
        # and the merges return early when the batch touches no bucket
        batch.persist()
        try:
            if strict_completeness:
                import pyspark.sql.functions as F

                from oracdc_spark.operators.filters import (
                    assert_complete,
                    incomplete_rows_predicate,
                )

                # post-assembly records are all non-rollback survivors
                assert_complete(
                    batch.withColumn("rollback", F.lit(False)).filter(
                        incomplete_rows_predicate()
                    )
                )
            if mode == "audit_trail":
                from oracdc_spark.sinks.merge import scd2_merge_batch

                scd2_merge_batch(batch.sparkSession, batch, replica_path)
            else:
                merge_batch(batch.sparkSession, batch, replica_path)
        finally:
            batch.unpersist()

    writer = (
        assembled.writeStream.foreachBatch(sink)
        .option("checkpointLocation", os.path.join(checkpoint_dir, "cdc"))
        .outputMode("append")
    )
    if trigger_ms:
        writer = writer.trigger(processingTime=f"{trigger_ms} milliseconds")
    return writer.start()
