"""Streaming per-XID transaction assembly — the one genuinely custom
physical operator of the engine (SURVEY §4 "needs custom work" item 1).

Replaces the reference's ingest-thread + per-transaction queue machinery
(OraCdcLogMinerWorkerThread.java:345-530 dispatch, OraCdcTransaction
statement buffering, commit queue) with a single stateful grouped
operator over xid-hash buckets:
``changes.groupBy(pmod(hash(xid), ASSEMBLY_BUCKETS)).applyInPandasWithState(...)``.

Semantics per transaction (reference parity):

* statements buffer until a control record arrives (late/open
  transactions stay in state indefinitely — NoTimeout, SURVEY §2.7);
* COMMIT (op=7) → every buffered DML is stamped with commit_scn and
  emitted; the transaction leaves state (G2, G3's per-txn part);
* ROLLBACK (op=36) → the transaction is discarded, nothing emitted (F6);
* partial-rollback records (rollback=true) buffer alongside statements;
  pairing runs AT COMMIT over the complete transaction in redo
  (scn, ssn) order, exactly when the reference runs
  processRollbackEntries (OraCdcTransaction.java:459): each marker
  cancels the latest unmatched original *preceding* it in redo order
  with the same (row_id, scn) (backward scan,
  OraCdcTransactionArrayList.java:82-107);
* a marker may arrive in an earlier micro-batch than its original — state
  holds it until commit, where redo order (not arrival order) decides the
  pairing.  A marker with no *preceding* original in redo order pairs
  with nothing: the original survives (the reference also flags the
  transaction suspicious, OraCdcTransaction.java:598-608) — markers
  never cancel forward.

Scale notes: the state key is an xid-hash bucket, not the xid.  One
Python call per bucket replays every transaction of the bucket with
pandas and numpy (:func:`_replay_frame`), instead of one call per
transaction — pyspark's per-group round trip, not the replay, dominated
the per-xid form.  The bucket's state is the buffered rows of its open
transactions, one Arrow IPC value per bucket, so the state store holds
at most ``ASSEMBLY_BUCKETS`` keys and the stateful stage runs at most
that many tasks in parallel (the cap on its parallelism).  Each trigger
ships a touched bucket's whole open buffer to Python, and writes it
back whenever the bucket's open set changed, so a long transaction
that stays open costs work in proportion to its rows on every trigger
in which a short transaction of its bucket starts or ends; the per-xid
form paid nothing for it.  Emission order across transactions (total commit_scn
order) is the sink's MERGE version-guard concern, not a global sort
(SURVEY §7 hard parts).

``ASSEMBLY_BUCKETS`` is a constant, not a conf: the checkpoint's state
is keyed by bucket, so a restart with another bucket count would orphan
the open transactions.  64 is a chosen value: 32, 64 and 128 buckets
ran stream_oltp on 4 cores equally fast within run-to-run noise.  The
exchange hashes the bucket id again onto the shuffle partitions, so
buckets do not spread evenly over tasks (64 buckets over 32 partitions
leave 8 partitions empty and put up to 5 buckets on one).  Checkpoints written by the earlier per-xid
state layout do not resume: Spark rejects them with its state-schema
error on restart.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from oracdc_spark.feed import OP_COMMIT, OP_ROLLBACK
from oracdc_spark.session import ship_package

ASSEMBLY_BUCKETS = 64

# the feed columns the assembly reads: statements, markers and controls
_ROW_STRUCT = StructType(
    [
        StructField("xid", StringType()),
        StructField("scn", LongType()),
        StructField("ssn", LongType()),
        StructField("rba", StringType()),
        StructField("op", IntegerType()),
        StructField("rollback", BooleanType()),
        StructField("owner", StringType()),
        StructField("table_name", StringType()),
        StructField("row_id", StringType()),
        StructField("pk", LongType()),
        StructField("totalprice", DoubleType()),
        StructField("status", StringType()),
        StructField("before_totalprice", DoubleType()),
        StructField("before_status", StringType()),
        StructField("changed_cols", StringType()),
    ]
)
ROW_FIELDS = _ROW_STRUCT.fieldNames()
_ARROW_ROW = to_arrow_schema(_ROW_STRUCT)

# output: the DML columns + commit_scn stamp
OUTPUT_SCHEMA = StructType(
    [f for f in _ROW_STRUCT.fields if f.name != "rollback"]
    + [StructField("commit_scn", LongType())]
)
_OUTPUT_FIELDS = OUTPUT_SCHEMA.fieldNames()

# bucket state: the buffered rows of the bucket's open transactions
# (markers are rows with rollback=true) as one Arrow IPC stream.  The
# state store moves it as a single binary value; as an array of rows it
# would be converted value by value, in the JVM and in Python, on every
# trigger that touches the bucket, so a long open transaction would slow
# every trigger.
BUCKET_STATE_SCHEMA = StructType([StructField("rows", BinaryType())])


def _table(rows: pd.DataFrame) -> pa.Table:
    return pa.Table.from_pandas(rows, schema=_ARROW_ROW, preserve_index=False)


def _to_ipc(rows: pd.DataFrame) -> bytes:
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, _ARROW_ROW) as writer:
        writer.write_table(_table(rows))
    return sink.getvalue().to_pybytes()


def _from_ipc(data: bytes) -> pd.DataFrame:
    return pa.ipc.open_stream(data).read_all().to_pandas()


def _replay_frame(
    buffered: pd.DataFrame, batch: pd.DataFrame
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Replay one micro-batch over the buffered open rows of any number
    of transactions; returns ``(still_open, emitted)``.

    Each xid's rows are put in redo order — buffered rows first, then the
    batch by (scn, ssn): the exchange gives no intra-group order, while
    the reference consumes statements in SCN/RBA/SSN order.  A COMMIT or
    ROLLBACK closes the segment of rows before it, so a reused xid starts
    a new segment.  A segment closed by a COMMIT is emitted with
    ``commit_scn`` after partial-rollback pairing, one closed by a
    ROLLBACK is dropped, and rows with no later control record of their
    xid stay open.  ``still_open`` keeps the row order of ``buffered``
    then ``batch``, with the carried-over buffered rows at their
    positions in ``buffered``."""
    rows = batch[ROW_FIELDS].reset_index(drop=True)
    if len(buffered):
        rows = pd.concat([buffered, rows], ignore_index=True)
    late = np.arange(len(rows)) >= len(buffered)
    xid_code = pd.factorize(rows["xid"])[0]
    order = np.lexsort((rows["ssn"].to_numpy(), rows["scn"].to_numpy(), late, xid_code))
    xid, op = xid_code[order], rows["op"].to_numpy()[order]
    ctrl = (op == OP_COMMIT) | (op == OP_ROLLBACK)
    ends = np.flatnonzero(ctrl)
    if not len(ends):
        return rows, rows.iloc[:0].assign(commit_scn=0)[_OUTPUT_FIELDS]
    # the control record that closes each row's segment: the first one at
    # or after it in the sorted order, if it belongs to the same xid
    pos = np.arange(len(order))
    end = ends[np.minimum(np.searchsorted(ends, pos), len(ends) - 1)]
    closed = ~ctrl & (end > pos) & (xid[end] == xid)
    commit = closed & (op[end] == OP_COMMIT)
    done = rows.take(order[commit]).assign(
        commit_scn=rows["scn"].to_numpy()[order][end[commit]], _seg=end[commit]
    )
    still_open = rows.take(np.sort(order[~ctrl & ~closed]))
    return still_open, _cancel_pairs(done)[_OUTPUT_FIELDS]


def _cancel_pairs(rows: pd.DataFrame) -> pd.DataFrame:
    """Committed originals that no partial-rollback marker cancels.

    The closed form of :func:`oracdc_spark.operators.cdc.partial_rollback_filter`
    per (transaction segment, row_id, scn), in (ssn, marker-last) order:
    with D the running count of markers minus originals, an original is
    cancelled iff a later event of its key has D greater than its own.
    Markers are always dropped."""
    marker = rows["rollback"].eq(True).to_numpy()
    if not marker.any():
        return rows
    seg, scn = rows["_seg"].to_numpy(), rows["scn"].to_numpy()
    row_id = pd.factorize(rows["row_id"], use_na_sentinel=False)[0]
    order = np.lexsort((marker, rows["ssn"].to_numpy(), scn, row_id, seg))
    seg, scn, row_id, marker = seg[order], scn[order], row_id[order], marker[order]
    n = len(order)
    first = np.ones(n, dtype=bool)
    first[1:] = (seg[1:] != seg[:-1]) | (row_id[1:] != row_id[:-1]) | (scn[1:] != scn[:-1])
    group = np.cumsum(first) - 1
    step = np.where(marker, 1, -1)
    run = np.cumsum(step)
    d = run - (run - step)[first][group]
    # suffix max per key: offsets rising towards the earlier keys make one
    # backward running max restart at every key boundary
    offset = (2 * n + 1) * (group[-1] - group)
    suffix = np.maximum.accumulate((d + offset)[::-1])[::-1] - offset
    later = np.full(n, np.iinfo(np.int64).min)
    same = ~first[1:]
    later[:-1][same] = suffix[1:][same]
    keep = ~marker & ~(later > d)
    return rows.take(np.sort(order[keep]))


SUSPICIOUS_XID_SUFFIX = "FFFFFFFF"


def normalize_xid(changes: DataFrame) -> DataFrame:
    """XID-prefix substitution (OraCdcLogMinerWorkerThread.java:398-431):
    LogMiner occasionally reports a transaction's sequence part as
    0xFFFFFFFF; such records belong to the transaction *currently open*
    on the same undo-segment+slot prefix.  A prefix is reused with
    incrementing sequence numbers over time, so several canonical XIDs
    normally share it — substituting against all of them (a plain
    prefix join) would fan out and duplicate records.

    Open-transaction semantics instead (the reference's
    ``prefixedTransactions`` map holds the transaction currently ACTIVE
    on the prefix — a record never resolves to a transaction that has
    already committed or rolled back): the canonical XID for a
    suspicious record at SCN *s* is the one with the greatest
    first-statement SCN ≤ *s* among non-suspicious XIDs of that prefix
    **whose lifetime still covers s** — no control record seen yet, or
    control-record SCN ≥ s.  A suspicious record in a prefix gap (before
    the first transaction opens, or between one's end and the next's
    start) stays unresolved, exactly like the reference's
    transaction-starts-with-partial-rollback error path
    (OraCdcLogMinerWorkerThread.java:398-431).  Candidates are collapsed
    to ONE row per prefix (a sorted (first_scn, end_scn, xid) array —
    prefixes hold a handful of concurrently open transactions, so the
    array is tiny) and the pick is a higher-order `filter` +
    `element_at(-1)`: no fan-out, no window, and only the small
    suspicious slice joins at all; normal records pass through
    untouched.

    Runs *before* the keyed shuffle so state groups see canonical XIDs.
    """
    prefix = F.substring(F.col("xid"), 1, 8)
    suspicious = F.col("xid").endswith(SUSPICIOUS_XID_SUFFIX)
    cols = changes.columns

    normal = changes.filter(~suspicious)
    sus = changes.filter(suspicious).withColumn("xid_prefix", prefix)

    candidates = (
        normal.groupBy(prefix.alias("xid_prefix"), F.col("xid").alias("cand_xid"))
        .agg(
            F.min("scn").alias("first_scn"),
            F.max(
                F.when(
                    F.col("op").isin([OP_COMMIT, OP_ROLLBACK]), F.col("scn")
                )
            ).alias("end_scn"),
        )
        .groupBy("xid_prefix")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("first_scn", "end_scn", "cand_xid"))
            ).alias("cands")
        )
    )

    open_cand = F.try_element_at(
        F.filter(
            F.col("cands"),
            lambda c: (c["first_scn"] <= F.col("scn"))
            & (c["end_scn"].isNull() | (c["end_scn"] >= F.col("scn"))),
        ),
        F.lit(-1),
    )
    resolved = (
        sus.join(candidates, "xid_prefix", "left")
        .withColumn("_pick", open_cand)
        .withColumn(
            "xid",
            F.when(F.col("_pick").isNotNull(), F.col("_pick")["cand_xid"]).otherwise(
                F.col("xid")
            ),
        )
        .select(*cols)
    )
    return normal.select(*cols).unionByName(resolved)


def _assembly_input(changes: DataFrame) -> DataFrame:
    """Only the columns the assembly reads cross the exchange; a column
    the feed lacks (an older feed without ``changed_cols``) is null.
    Ships the package, whose replay the Python workers import."""
    ship_package(changes.sparkSession)
    return changes.select(*[
        F.col(f.name) if f.name in changes.columns else F.lit(None).cast(f.dataType).alias(f.name)
        for f in _ROW_STRUCT.fields
    ])


def assemble_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """One xid-hash bucket: replay the batch over the bucket's buffered
    rows; write the state only when its open set changed."""
    buffered = _from_ipc(state.get[0]) if state.exists else _ARROW_ROW.empty_table().to_pandas()
    still_open, emitted = _replay_frame(buffered, pd.concat(pdfs, ignore_index=True))
    if still_open.empty:
        if state.exists:
            state.remove()
    elif not still_open.index.equals(pd.RangeIndex(len(buffered))):
        state.update((_to_ipc(still_open),))
    if not emitted.empty:
        yield emitted


def assemble_transactions(changes: DataFrame, impl: str = "apply") -> DataFrame:
    """Apply the stateful assembly to a (streaming or batch) change
    DataFrame with the feed schema. Returns commit-stamped DML events.

    impl="apply" (default): applyInPandasWithState keyed by xid-hash
    bucket (see the module docstring).  impl="tws":
    transformWithStateInPandas keyed by xid, one ListState of buffered
    rows per transaction; it rewrites that list whenever the
    transaction's buffer changes, so it is no cheaper per trigger."""
    if impl == "tws":
        return assemble_transactions_tws(changes)
    bucket = F.pmod(F.hash("xid"), F.lit(ASSEMBLY_BUCKETS)).alias("bucket")
    return _assembly_input(changes).withColumn("bucket", bucket).groupBy("bucket").applyInPandasWithState(
        assemble_fn,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=BUCKET_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


class TxnAssemblyProcessor(StatefulProcessor):
    """Per-XID transaction assembly on the transformWithStateInPandas
    API: one ListState of the transaction's buffered rows, replayed by
    the same :func:`_replay_frame` as the bucket form."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._buffered = handle.getListState("buffered", _ROW_STRUCT)

    def handleInputRows(self, key, rows, timerValues):
        columns = list(zip(*self._buffered.get())) or [[] for _ in ROW_FIELDS]
        buffered = pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(columns, _ARROW_ROW)], schema=_ARROW_ROW
        ).to_pandas()
        still_open, emitted = _replay_frame(buffered, pd.concat(rows, ignore_index=True))
        if still_open.empty:
            self._buffered.clear()
        elif not still_open.index.equals(pd.RangeIndex(len(buffered))):
            self._buffered.put(list(zip(*(c.to_pylist() for c in _table(still_open).columns))))
        if not emitted.empty:
            yield emitted

    def close(self) -> None:
        pass


def assemble_transactions_tws(changes: DataFrame) -> DataFrame:
    """transformWithStateInPandas form of :func:`assemble_transactions`."""
    return _assembly_input(changes).groupBy("xid").transformWithStateInPandas(
        statefulProcessor=TxnAssemblyProcessor(),
        outputStructType=OUTPUT_SCHEMA,
        outputMode="append",
        timeMode="None",
    )
