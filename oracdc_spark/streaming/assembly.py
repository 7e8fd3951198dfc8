"""Streaming per-XID transaction assembly — the one genuinely custom
physical operator of the engine (SURVEY §4 "needs custom work" item 1).

Replaces the reference's ingest-thread + per-transaction queue machinery
(OraCdcLogMinerWorkerThread.java:345-530 dispatch, OraCdcTransaction
statement buffering, commit queue) with a single stateful grouped
operator: ``changes.groupBy("xid").applyInPandasWithState(...)``.

Semantics held in state per transaction (reference parity):

* statements buffer until a control record arrives (late/open
  transactions stay in state indefinitely — NoTimeout, SURVEY §2.7);
* COMMIT (op=7) → every buffered DML is stamped with commit_scn and
  emitted, ordered (scn, ssn); state cleared (G2, G3's per-txn part);
* ROLLBACK (op=36) → state discarded, nothing emitted (F6);
* partial-rollback records (rollback=true) buffer alongside statements;
  pairing runs AT COMMIT over the complete (scn, ssn)-ordered statement
  list, exactly when the reference runs processRollbackEntries
  (OraCdcTransaction.java:459): each marker cancels the latest unmatched
  original *preceding* it in redo order with the same (row_id, scn)
  (backward scan, OraCdcTransactionArrayList.java:82-107);
* a marker may arrive in an earlier micro-batch than its original — state
  holds it until commit, where redo order (not arrival order) decides the
  pairing.  A marker with no *preceding* original in redo order pairs
  with nothing: the original survives and the transaction is flagged
  suspicious (OraCdcTransaction.java:598-608) — markers never cancel
  forward.

Scale notes: state is keyed by xid → one shuffle, co-partitioned with
the feed's natural key.  Statements are kept in state as records — on a
real cluster the RocksDB state store spills them (the reference's
off-heap MemorySegment buffering, G10, for free).  Emission order
across transactions (total commit_scn order) is the sink's MERGE
version-guard concern, not a global sort (SURVEY §7 hard parts).
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from oracdc_spark.feed import OP_COMMIT, OP_ROLLBACK

# output: the feed's DML columns + commit_scn stamp
OUTPUT_SCHEMA = StructType(
    [
        StructField("xid", StringType()),
        StructField("scn", LongType()),
        StructField("ssn", LongType()),
        StructField("rba", StringType()),
        StructField("op", IntegerType()),
        StructField("owner", StringType()),
        StructField("table_name", StringType()),
        StructField("row_id", StringType()),
        StructField("pk", LongType()),
        StructField("totalprice", DoubleType()),
        StructField("status", StringType()),
        StructField("before_totalprice", DoubleType()),
        StructField("before_status", StringType()),
        StructField("changed_cols", StringType()),
        StructField("commit_scn", LongType()),
    ]
)

_STMT_FIELDS = [
    "scn", "ssn", "rba", "op", "rollback", "owner", "table_name",
    "row_id", "pk", "totalprice", "status", "before_totalprice",
    "before_status", "changed_cols",
]

# state: TYPED buffered statements + unmatched rollback markers — arrays
# of structs, no JSON hop (round-1 TODO closed): the state store holds
# Arrow-encoded columns, so buffering/spill stays binary end-to-end.
_STMT_STRUCT = StructType(
    [
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
_MARKER_STRUCT = StructType(
    [
        StructField("row_id", StringType()),
        StructField("scn", LongType()),
        StructField("ssn", LongType()),
    ]
)
_MARKER_FIELDS = ["row_id", "scn", "ssn"]
STATE_SCHEMA = StructType(
    [
        StructField("stmts", ArrayType(_STMT_STRUCT)),
        StructField("rb_markers", ArrayType(_MARKER_STRUCT)),
    ]
)


def _rows_to_dicts(rows, fields) -> list[dict]:
    out = []
    for r in rows or []:
        if hasattr(r, "asDict"):
            out.append(r.asDict())
        else:  # plain tuple in field order
            out.append(dict(zip(fields, r)))
    return out


def _load_state(state: GroupState) -> tuple[list[dict], list[dict]]:
    if state.exists:
        s = state.get
        return (
            _rows_to_dicts(s[0], _STMT_FIELDS),
            _rows_to_dicts(s[1], _MARKER_FIELDS),
        )
    return [], []


def _save_state(state: GroupState, stmts: list[dict], markers: list[dict]) -> None:
    state.update(
        (
            [tuple(s[f] for f in _STMT_FIELDS) for s in stmts],
            [tuple(m[f] for f in _MARKER_FIELDS) for m in markers],
        )
    )


def _pair_lifo(stmts: list[dict], markers: list[dict]) -> tuple[list[dict], int]:
    """Commit-time partial-rollback pairing over the complete transaction,
    replaying redo (scn, ssn) order: an original pushes onto its
    (row_id, scn) stack; a marker pops the latest preceding unpaired
    original, or — with an empty stack (marker-before-original) — pairs
    with nothing (reference backward scan + unpaired error,
    OraCdcTransactionArrayList.java:82-107).  Returns the surviving
    originals and the count of unpaired (suspicious) markers."""
    events: list[tuple] = [(s["scn"], s["ssn"], False, s) for s in stmts]
    events += [(m["scn"], m["ssn"], True, m) for m in markers]
    # marker sorts AFTER an equal-(scn,ssn) original so it can cancel it
    events.sort(key=lambda e: (e[0], e[1], e[2]))
    stacks: dict[tuple, list[dict]] = {}
    unpaired = 0
    for scn, _ssn, is_marker, rec in events:
        stack = stacks.setdefault((rec["row_id"], scn), [])
        if is_marker:
            if stack:
                stack.pop()
            else:
                unpaired += 1
        else:
            stack.append(rec)
    survivors = [s for stack in stacks.values() for s in stack]
    survivors.sort(key=lambda s: (s["scn"], s["ssn"]))
    return survivors, unpaired


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
    import pyspark.sql.functions as F

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


def assemble_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (xid,) = key
    stmts, markers = _load_state(state)

    # Sort the micro-batch's records by (scn, ssn) and replay in redo
    # order (shared _records_sorted/_replay core — also used by the
    # transformWithStateInPandas processor): applyInPandasWithState gives
    # no intra-group order guarantee after the xid shuffle, while the
    # reference consumes statements in SCN/RBA/SSN order; a COMMIT
    # mid-batch finalizes the buffer so a reused xid starts clean.
    recs = _records_sorted(pdfs)
    stmts, markers, emitted = _replay(xid, stmts, markers, recs)

    if stmts or markers:
        # still open: buffer (no timeout — SURVEY §2.7 late data)
        _save_state(state, stmts, markers)
    else:
        state.remove()
    if emitted:
        yield pd.DataFrame(emitted, columns=[f.name for f in OUTPUT_SCHEMA.fields])
    return


def assemble_transactions(changes: DataFrame, impl: str = "apply") -> DataFrame:
    """Apply the stateful assembly to a (streaming or batch) change
    DataFrame with the feed schema. Returns commit-stamped DML events.

    impl="apply" (default): applyInPandasWithState — whole-state blob
    per trigger.  impl="tws": transformWithStateInPandas (Spark 4.x) —
    typed ListState, incrementally appendable (the state store appends
    instead of rewriting the buffer on every batch)."""
    if impl == "tws":
        return assemble_transactions_tws(changes)
    from oracdc_spark.session import ship_package

    ship_package(changes.sparkSession)
    return changes.groupBy("xid").applyInPandasWithState(
        assemble_fn,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# transformWithStateInPandas variant (Spark 4.x stateful-processor API)
# ---------------------------------------------------------------------------
#
# Same per-XID semantics as assemble_fn, expressed against the modern
# StatefulProcessor API: buffered statements and unmatched markers live
# in typed ListState (columnar, incrementally appendable — the state
# store appends instead of rewriting the whole blob on every batch,
# which is the point of the migration).  ``assemble_transactions`` keeps
# the applyInPandasWithState path as the default; pass impl="tws" to use
# this one.


def _records_sorted(rows) -> list[dict]:
    recs: list[dict] = []
    for pdf in rows:
        for rec in pdf.itertuples(index=False):
            r = {f: getattr(rec, f, None) for f in _STMT_FIELDS}
            for k, v in list(r.items()):
                if isinstance(v, float) and pd.isna(v):
                    r[k] = None
            r["scn"] = int(r["scn"])
            r["ssn"] = int(r["ssn"])
            r["op"] = int(r["op"])
            recs.append(r)
    recs.sort(key=lambda r: (r["scn"], r["ssn"]))
    return recs


def _replay(xid: str, stmts: list[dict], markers: list[dict], recs: list[dict]):
    """Shared event-ordered replay (see assemble_fn docstring).

    DML and markers only buffer here; partial-rollback pairing is
    deferred to COMMIT (:func:`_pair_lifo`), matching the reference's
    processRollbackEntries-at-completion and keeping the outcome
    independent of micro-batch arrival order."""
    emitted: list[dict] = []
    for r in recs:
        op = r["op"]
        if op == OP_COMMIT:
            survivors, _unpaired = _pair_lifo(stmts, markers)
            emitted.extend(
                {
                    "xid": xid,
                    **{k: v for k, v in s.items() if k != "rollback"},
                    "commit_scn": r["scn"],
                }
                for s in survivors
            )
            stmts, markers = [], []
        elif op == OP_ROLLBACK:
            stmts, markers = [], []
        elif r["rollback"]:
            markers.append({"row_id": r["row_id"], "scn": r["scn"], "ssn": r["ssn"]})
        else:
            stmts.append(r)
    return stmts, markers, emitted


class TxnAssemblyProcessor(StatefulProcessor):
    """Per-XID transaction assembly on the transformWithStateInPandas
    API: ListState for statements and markers."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._stmts = handle.getListState("stmts", _STMT_STRUCT)
        self._markers = handle.getListState("rb_markers", _MARKER_STRUCT)

    def handleInputRows(self, key, rows, timerValues):
        (xid,) = key
        stmts = _rows_to_dicts(list(self._stmts.get()), _STMT_FIELDS)
        markers = _rows_to_dicts(list(self._markers.get()), _MARKER_FIELDS)
        recs = _records_sorted(rows)
        stmts, markers, emitted = _replay(xid, stmts, markers, recs)

        if stmts or markers:
            self._stmts.put(
                [tuple(s[f] for f in _STMT_FIELDS) for s in stmts]
            )
            self._markers.put(
                [tuple(m[f] for f in _MARKER_FIELDS) for m in markers]
            )
        else:
            self._stmts.clear()
            self._markers.clear()
        if emitted:
            yield pd.DataFrame(
                emitted, columns=[f.name for f in OUTPUT_SCHEMA.fields]
            )

    def close(self) -> None:
        pass


def assemble_transactions_tws(changes: DataFrame) -> DataFrame:
    """transformWithStateInPandas form of :func:`assemble_transactions`."""
    from oracdc_spark.session import ship_package

    ship_package(changes.sparkSession)
    return changes.groupBy("xid").transformWithStateInPandas(
        statefulProcessor=TxnAssemblyProcessor(),
        outputStructType=OUTPUT_SCHEMA,
        outputMode="append",
        timeMode="None",
    )
