"""Streaming stateful assembly: micro-batched feed must converge to the
exact batch-operator result (transactions split across micro-batches,
commits arriving after their statements)."""

import tempfile

import pyspark.sql.functions as F
import pytest

from oracdc_spark.feed import change_feed
from oracdc_spark.operators.cdc import apply_changes, commit_ordered
from oracdc_spark.sinks.merge import replica_state
from oracdc_spark.streaming.assembly import assemble_transactions
from oracdc_spark.streaming.pipeline import run_pipeline

SF = "/root/testdata/sf0.001"


def _write_feed_chunks(spark, d: str, n_chunks: int = 4) -> str:
    """Write the feed ordered by scn into n sequential files so commits
    land in later micro-batches than their statements. Stays in Spark so
    the parquet schema survives (pandas would float-ify nullable ints)."""
    import glob
    import os
    import shutil

    from pyspark.sql import Window

    feed = change_feed(spark, SF)
    w = Window.orderBy("scn", "ssn")
    chunked = feed.withColumn("chunk", F.ntile(n_chunks).over(w))
    feed_dir = f"{d}/feed"
    os.makedirs(feed_dir)
    for i in range(1, n_chunks + 1):
        tmp = f"{d}/stage_{i}"
        chunked.filter(F.col("chunk") == i).drop("chunk").coalesce(1).write.parquet(tmp)
        part = glob.glob(f"{tmp}/part-*.parquet")[0]
        shutil.move(part, f"{feed_dir}/chunk_{i:03d}.parquet")
        shutil.rmtree(tmp)
    return feed_dir


@pytest.mark.slow
def test_streaming_assembly_matches_batch(spark):
    with tempfile.TemporaryDirectory() as d:
        feed_dir = _write_feed_chunks(spark, d)
        from oracdc_spark.streaming.pipeline import FEED_DDL

        stream = (
            spark.readStream.schema(FEED_DDL)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed_dir)
        )
        out = assemble_transactions(stream)
        q = (
            out.writeStream.format("memory")
            .queryName("assembled")
            .option("checkpointLocation", f"{d}/ckpt")
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        q.stop()

        got = {
            (r.xid, r.scn, r.ssn, r.op, r.pk, r.totalprice, r.status, r.commit_scn)
            for r in spark.sql("SELECT * FROM assembled").collect()
        }
        expected = {
            (r.xid, r.scn, r.ssn, r.op, r.pk, r.totalprice, r.status, r.commit_scn)
            for r in commit_ordered(change_feed(spark, SF)).collect()
        }
        assert got == expected


@pytest.mark.slow
def test_end_to_end_pipeline_replica(spark):
    with tempfile.TemporaryDirectory() as d:
        feed_dir = _write_feed_chunks(spark, d, n_chunks=3)
        q = run_pipeline(spark, feed_dir, f"{d}/replica", f"{d}/ckpt2")
        q.processAllAvailable()
        q.stop()
        got = {
            (r.pk, r.totalprice, r.status)
            for r in replica_state(spark, f"{d}/replica").collect()
        }
        expected = {
            (r.pk, r.totalprice, r.status)
            for r in apply_changes(change_feed(spark, SF)).collect()
        }
        assert got == expected


def _rec(xid, scn, op, pk=None, ssn=0, price=0.0, rollback=False):
    """One feed record; ``pk=None`` makes it a transaction-control record."""
    dml = pk is not None
    return {
        "scn": scn, "ssn": ssn, "rba": f"1.{scn}.{ssn}", "xid": xid, "op": op,
        "rollback": rollback, "owner": "SCOTT" if dml else None,
        "table_name": "ORDERS" if dml else None,
        "row_id": f"R{pk}" if dml else None, "pk": pk,
        "totalprice": price if dml else None, "status": "O" if dml else None,
        "before_totalprice": None, "before_status": None, "con_id": 3,
        "changed_cols": "TOTALPRICE,STATUS" if dml and op != 2 else "",
    }


# Hand-built three-file feed (one file per trigger).  T2 commits in a
# later file than its DML and partially rolls back its update of pk 2;
# T3 rolls back whole; the last file holds only T6, still open at the
# end, so its trigger emits nothing.
SMALL_FEED = [
    [
        _rec("T1", 10, 1, pk=1, price=10.0),
        _rec("T2", 11, 1, pk=2, price=20.0),
        _rec("T1", 12, 7),
        _rec("T2", 13, 3, pk=2, price=21.0),
        _rec("T2", 13, 3, pk=2, ssn=1, rollback=True),
        _rec("T3", 14, 1, pk=3, price=30.0),
        _rec("T3", 15, 36),
    ],
    [
        _rec("T2", 20, 7),
        _rec("T4", 21, 3, pk=1, price=11.0),
        _rec("T4", 22, 2, pk=2),
        _rec("T5", 23, 1, pk=5, price=50.0),
        _rec("T4", 24, 7),
        _rec("T5", 25, 7),
    ],
    [
        _rec("T6", 30, 1, pk=6, price=60.0),
        _rec("T6", 31, 3, pk=1, price=12.0),
    ],
]


def _write_feed_file(spark, feed_dir: str, i: int, recs: list[dict]) -> None:
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from oracdc_spark.streaming.pipeline import FEED_DDL

    schema = to_arrow_schema(spark.createDataFrame([], FEED_DDL).schema)
    os.makedirs(feed_dir, exist_ok=True)
    # written aside and renamed in, so the source never lists a partial file
    tmp = os.path.join(os.path.dirname(feed_dir), f".redo-{i:03d}.parquet")
    pq.write_table(pa.Table.from_pylist(recs, schema=schema), tmp)
    os.rename(tmp, os.path.join(feed_dir, f"redo-{i:03d}.parquet"))


def _stateful_output_rows(query) -> int:
    """``numOutputRows`` of the assembly node in the last micro-batch plan."""
    stack = [query._jsq.streamingQuery().lastExecution().executedPlan()]
    while stack:
        node = stack.pop()
        if node.nodeName() == "FlatMapGroupsInPandasWithState":
            return node.metrics().apply("numOutputRows").value()
        children = node.children()
        stack += [children.apply(i) for i in range(children.size())]
    raise AssertionError("no FlatMapGroupsInPandasWithState node in the plan")


@pytest.mark.parametrize("mode", ["replicate", "audit_trail"])
def test_pipeline_small_feed_matches_batch(spark, tmp_path, mode):
    """Fast-tier end-to-end run of ``run_pipeline`` in both sink modes:
    the replica equals the batch operators over the whole feed, and a
    trigger whose transactions all stay open leaves the replica's
    manifest untouched (no generation bump)."""
    from oracdc_spark.operators.cdc import scd2_history
    from oracdc_spark.sinks.merge import MANIFEST, scd2_state
    from oracdc_spark.streaming.pipeline import FEED_DDL

    feed_dir, replica = str(tmp_path / "feed"), str(tmp_path / "replica")
    for i, recs in enumerate(SMALL_FEED[:2]):
        _write_feed_file(spark, feed_dir, i, recs)
    q = run_pipeline(
        spark, feed_dir, replica, str(tmp_path / "ckpt"), mode=mode,
        strict_completeness=True,
    )
    try:
        q.processAllAvailable()
        # trigger 2 emits T2's insert (its update is cancelled), T4's
        # update and delete, and T5's insert
        assert _stateful_output_rows(q) == 4
        manifest = (tmp_path / "replica" / MANIFEST).read_bytes()
        _write_feed_file(spark, feed_dir, 2, SMALL_FEED[2])
        q.processAllAvailable()
        assert _stateful_output_rows(q) == 0
        last = q.lastProgress
    finally:
        q.stop()
    assert last["batchId"] == 2 and last["numInputRows"] == len(SMALL_FEED[2])
    assert (tmp_path / "replica" / MANIFEST).read_bytes() == manifest

    feed = spark.read.schema(FEED_DDL).parquet(feed_dir)
    if mode == "replicate":
        cols = ["owner", "table_name", "pk", "totalprice", "status"]
        got = replica_state(spark, replica).select(cols).collect()
        expected = apply_changes(feed).select(cols).collect()
    else:
        cols = ["pk", "version", "valid_from_scn", "valid_to_scn",
                "is_deleted", "is_current", "totalprice", "status"]
        got = scd2_state(spark, replica).select(cols).collect()
        expected = scd2_history(feed).select(cols).collect()
    assert sorted(got) == sorted(expected)
    assert len(expected) == (2 if mode == "replicate" else 5)


def test_sink_runs_assembly_once_per_trigger(spark, tmp_path):
    """The sink acts on a materialised batch: the stateful node of a
    trigger that commits N single-row transactions reports N output
    rows (each re-run of the assembly would add N more), and no batch
    stays cached once the trigger is done."""
    n = 40
    feed_dir = str(tmp_path / "feed")
    _write_feed_file(spark, feed_dir, 0, [
        r for k in range(n)
        for r in (_rec(f"X{k}", 10 + 2 * k, 1, pk=k, price=float(k)),
                  _rec(f"X{k}", 11 + 2 * k, 7))
    ])
    jsc = spark.sparkContext._jsc
    cached_before = jsc.getPersistentRDDs().size()
    q = run_pipeline(spark, feed_dir, str(tmp_path / "replica"), str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
        assert _stateful_output_rows(q) == n
    finally:
        q.stop()
    assert jsc.getPersistentRDDs().size() == cached_before
    assert replica_state(spark, str(tmp_path / "replica")).count() == n


def test_open_transactions_share_bucket_state(spark, tmp_path):
    """More open transactions than buckets: the stateful operator holds
    at most ASSEMBLY_BUCKETS state rows; once every transaction commits
    the state is empty and the replica equals batch apply_changes."""
    from oracdc_spark.streaming.assembly import ASSEMBLY_BUCKETS
    from oracdc_spark.streaming.pipeline import FEED_DDL

    n = 3 * ASSEMBLY_BUCKETS
    feed_dir, replica = str(tmp_path / "feed"), str(tmp_path / "replica")
    _write_feed_file(spark, feed_dir, 0, [
        _rec(f"X{k}", 10 + k, 1, pk=k, price=float(k)) for k in range(n)
    ])
    q = run_pipeline(spark, feed_dir, replica, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
        held = q.lastProgress["stateOperators"][0]["numRowsTotal"]
        assert 0 < held <= ASSEMBLY_BUCKETS
        _write_feed_file(spark, feed_dir, 1, [_rec(f"X{k}", 1000 + k, 7) for k in range(n)])
        q.processAllAvailable()
        assert q.lastProgress["stateOperators"][0]["numRowsTotal"] == 0
    finally:
        q.stop()
    cols = ["owner", "table_name", "pk", "totalprice", "status"]
    feed = spark.read.schema(FEED_DDL).parquet(feed_dir)
    got = replica_state(spark, replica).select(cols).collect()
    assert len(got) == n
    assert sorted(got) == sorted(apply_changes(feed).select(cols).collect())


class _FakeState:
    """Duck-typed GroupState for driving assemble_fn directly."""

    def __init__(self):
        self._v = None
        self.writes = 0

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v
        self.writes += 1

    def remove(self):
        self._v = None


def _arrow_frame(rows):
    """Rows as the pandas frame Spark's Arrow batches arrive as."""
    import pyarrow as pa

    from oracdc_spark.streaming.assembly import _ARROW_ROW

    return pa.Table.from_pylist(rows, schema=_ARROW_ROW).to_pandas()


def _run_replay(rows, buffered=None):
    from oracdc_spark.streaming.assembly import _replay_frame

    if buffered is None:
        buffered = _arrow_frame([])
    still_open, emitted = _replay_frame(buffered, _arrow_frame(rows))
    return emitted, still_open


def _stmt(scn, ssn, op, rollback=False, pk=1, xid="A"):
    return {
        "xid": xid, "scn": scn, "ssn": ssn, "rba": f"1.{scn}.{ssn}", "op": op,
        "rollback": rollback, "owner": "SCOTT", "table_name": "ORDERS",
        "row_id": f"R{pk}", "pk": pk, "totalprice": 1.0, "status": "O",
        "before_totalprice": None, "before_status": None,
        "changed_cols": "TOTALPRICE,STATUS",
    }


def test_assemble_fn_sorts_arrival_order():
    """Shuffled arrival within a micro-batch (no intra-group order after
    the bucket exchange): pairing and control handling must follow redo
    (scn, ssn) order, not arrival order."""
    rows = [
        _stmt(20, 0, 7),                      # commit arrives FIRST
        _stmt(11, 2, 3, rollback=True),       # marker before its original
        _stmt(11, 1, 3),                      # original (cancelled)
        _stmt(10, 0, 1),
    ]
    out, still_open = _run_replay(rows)
    assert still_open.empty
    assert list(out["scn"]) == [10]
    assert list(out["commit_scn"]) == [20]


def test_assemble_fn_commit_then_reused_xid():
    """A COMMIT mid-batch finalizes the transaction; later DML on the
    reused xid starts a NEW open transaction (buffered, not stamped with
    the earlier commit)."""
    rows = [
        _stmt(30, 0, 1, pk=2),                # next txn on reused xid
        _stmt(10, 0, 1),
        _stmt(20, 0, 7),                      # commit between them in scn order
    ]
    out, still_open = _run_replay(rows)
    assert list(out["scn"]) == [10]
    assert not still_open.empty               # scn=30 stays buffered
    out2, still_open = _run_replay([_stmt(40, 0, 7)], still_open)
    assert list(out2["scn"]) == [30]
    assert list(out2["commit_scn"]) == [40]
    assert still_open.empty


def test_bucket_state_written_only_when_open_set_changes():
    """assemble_fn keeps the bucket's state untouched when a batch only
    touches other transactions' closed work, rewrites it when the open
    set changes and removes it once the bucket has nothing open."""
    from oracdc_spark.streaming.assembly import _from_ipc, assemble_fn

    def run(rows, state):
        return list(assemble_fn((0,), iter([_arrow_frame(rows)]), state))

    state = _FakeState()
    run([_stmt(10, 0, 1, xid="A")], state)
    assert state.writes == 1 and list(_from_ipc(state.get[0])["xid"]) == ["A"]
    # B opens and commits inside one batch: A's buffer is carried as is
    out = run([_stmt(11, 0, 1, xid="B"), _stmt(12, 0, 7, xid="B")], state)
    assert list(out[0]["xid"]) == ["B"] and state.writes == 1
    out = run([_stmt(10, 1, 1, xid="A")], state)
    assert out == [] and state.writes == 2 and list(_from_ipc(state.get[0])["ssn"]) == [0, 1]
    out = run([_stmt(13, 0, 7, xid="A")], state)
    assert list(out[0]["commit_scn"]) == [13, 13] and not state.exists


@pytest.mark.parametrize("seed", range(5))
def test_bucket_replay_matches_scalar_oracle(seed):
    """Random redo feeds — whole rollbacks, partial-rollback markers
    before and after their originals, backward-LIFO pairs, xid reuse and
    transactions left open — cut into random micro-batches with shuffled
    arrival, spread over buckets and run through assemble_fn's state
    round trip, emit exactly the scalar oracle's survivors (_pair_lifo
    per committed transaction) and leave exactly the open rows in state."""
    import random
    import zlib

    import pandas as pd

    from oracdc_spark.streaming.assembly import _OUTPUT_FIELDS, ROW_FIELDS, _from_ipc, assemble_fn
    from tests.assembly_oracle import cut_batches, random_feed

    def canon(df, cols):
        vals = df[cols].astype(object).where(df[cols].notna(), None)
        return sorted(vals.itertuples(index=False, name=None))

    rng = random.Random(seed)
    rows, committed, open_rows = random_feed(rng, n_txns=60, n_xids=12)
    expected = [{**r, "commit_scn": c} for c, survivors in committed.items() for r in survivors]
    n_stmts = sum(1 for r in rows if r["op"] not in (7, 36) and not r["rollback"])
    assert len(expected) < n_stmts  # the feed cancels and drops something

    states, out = {}, []
    for batch in cut_batches(rng, rows, n_batches=8):
        buckets = {}
        for r in batch:
            buckets.setdefault(zlib.crc32(r["xid"].encode()) % 3, []).append(r)
        for b, recs in buckets.items():
            pdf = _arrow_frame(recs)
            half = len(pdf) // 2  # a group may arrive in several chunks
            state = states.setdefault(b, _FakeState())
            out += assemble_fn((b,), iter([pdf.iloc[:half], pdf.iloc[half:]]), state)

    got = pd.concat(out) if out else _arrow_frame([]).assign(commit_scn=0).iloc[:0]
    assert canon(got, _OUTPUT_FIELDS) == canon(pd.DataFrame(expected, columns=_OUTPUT_FIELDS), _OUTPUT_FIELDS)
    still = [_from_ipc(s.get[0]) for s in states.values() if s.exists]
    got_open = pd.concat(still) if still else _arrow_frame([])
    assert canon(got_open, ROW_FIELDS) == canon(_arrow_frame(open_rows), ROW_FIELDS)


class _FakeListState:
    """Duck-typed ListState for driving TxnAssemblyProcessor directly."""

    def __init__(self):
        self._rows = []

    def get(self):
        return iter(self._rows)

    def put(self, rows):
        self._rows = list(rows)

    def clear(self):
        self._rows = []


class _FakeHandle:
    def __init__(self):
        self.states = {}

    def getListState(self, name, schema):
        return self.states.setdefault(name, _FakeListState())


def _run_tws(rows, handle=None):
    import pandas as pd

    from oracdc_spark.streaming.assembly import TxnAssemblyProcessor

    handle = handle or _FakeHandle()
    proc = TxnAssemblyProcessor()
    proc.init(handle)
    out = list(proc.handleInputRows(("A",), iter([_arrow_frame(rows)]), None))
    return (pd.concat(out) if out else None), handle


def test_tws_processor_semantics_match_assemble_fn():
    """The StatefulProcessor variant shares _replay_frame with the bucket
    form; drive it through a fake handle (the real runtime needs
    protobuf, absent here) and check the same sort/pair/commit-reuse
    semantics."""
    rows = [
        _stmt(20, 0, 7),                      # commit arrives first
        _stmt(11, 2, 3, rollback=True),       # marker before its original
        _stmt(11, 1, 3),                      # original (cancelled)
        _stmt(10, 0, 1),
        _stmt(30, 0, 1, pk=2),                # next txn on reused xid
    ]
    out, handle = _run_tws(rows)
    assert list(out["scn"]) == [10]
    assert list(out["commit_scn"]) == [20]
    # scn=30 buffered in the xid's ListState
    assert handle.states["buffered"]._rows
    out2, handle = _run_tws([_stmt(40, 0, 7)], handle)
    assert list(out2["scn"]) == [30]
    assert list(out2["commit_scn"]) == [40]
    assert not handle.states["buffered"]._rows


@pytest.mark.slow
def test_tws_assembly_matches_batch(spark):
    """transformWithStateInPandas variant (ListState) must converge to
    the same result as the batch operators and the applyInPandasWithState
    path.  The runtime needs google.protobuf (not shipped in this
    container) — skipped when absent; the processor logic itself is
    covered by the shared-_replay unit tests."""
    pytest.importorskip("google.protobuf")
    from oracdc_spark.streaming.assembly import assemble_transactions_tws
    from oracdc_spark.streaming.pipeline import FEED_DDL

    with tempfile.TemporaryDirectory() as d:
        feed_dir = _write_feed_chunks(spark, d)
        stream = (
            spark.readStream.schema(FEED_DDL)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed_dir)
        )
        out = assemble_transactions_tws(stream)
        q = (
            out.writeStream.format("memory")
            .queryName("assembled_tws")
            .option("checkpointLocation", f"{d}/ckpt_tws")
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        q.stop()

        got = {
            (r.xid, r.scn, r.ssn, r.op, r.pk, r.totalprice, r.status, r.commit_scn)
            for r in spark.sql("SELECT * FROM assembled_tws").collect()
        }
        expected = {
            (r.xid, r.scn, r.ssn, r.op, r.pk, r.totalprice, r.status, r.commit_scn)
            for r in commit_ordered(change_feed(spark, SF)).collect()
        }
        assert got == expected
