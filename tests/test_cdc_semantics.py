"""Scenario tests for transaction-assembly semantics over hand-built
change frames (the reference's pattern: small fixture sequences asserted
record-by-record — PartialRollback_Test.java, OraCdcRollback*Test)."""

import pyspark.sql.functions as F
import pytest

from oracdc_spark.operators import cdc

SCHEMA = (
    "scn bigint, ssn bigint, rba string, xid string, op int, rollback boolean, "
    "owner string, table_name string, row_id string, pk bigint, "
    "totalprice double, status string, before_totalprice double, before_status string"
)


def mk(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def row(scn, xid, op, pk=None, rollback=False, ssn=0, totalprice=None, status=None,
        b_tp=None, b_st=None):
    row_id = f"R{pk}" if pk is not None else None
    return (scn, ssn, f"1.{scn}.{ssn}", xid, op, rollback, "SCOTT", "ORDERS",
            row_id, pk, totalprice, status, b_tp, b_st)


@pytest.fixture()
def feed(spark):
    return mk(
        spark,
        [
            # txn A: insert + update, committed
            row(10, "A", 1, pk=1, totalprice=100.0, status="O"),
            row(11, "A", 3, pk=1, totalprice=200.0, status="U", b_tp=100.0, b_st="O"),
            row(20, "A", 7),
            # txn B: insert, rolled back entirely
            row(12, "B", 1, pk=2, totalprice=50.0, status="O"),
            row(21, "B", 36),
            # txn C: insert + partial-rollback pair + delete, committed
            row(13, "C", 1, pk=3, totalprice=70.0, status="O"),
            row(14, "C", 3, pk=3, totalprice=80.0, status="U", b_tp=70.0, b_st="O"),
            row(14, "C", 3, pk=3, rollback=True, ssn=1),
            row(15, "C", 2, pk=3, b_tp=70.0, b_st="O"),
            row(22, "C", 7),
            # txn D: open (no control record)
            row(16, "D", 1, pk=4, totalprice=10.0, status="O"),
        ],
    )


def test_committed_drops_rollback_and_open(feed):
    xids = {r.xid for r in cdc.committed_changes(feed).select("xid").collect()}
    assert xids == {"A", "C"}


def test_partial_rollback_cancels_both_sides(feed):
    out = cdc.committed_changes(feed).filter("xid = 'C'").collect()
    # the scn=14 update AND its rollback marker are both gone
    assert sorted(r.scn for r in out) == [13, 15]


def test_partial_rollback_lifo_occurrence_match(spark):
    """Several statements sharing a pair key (xid,row_id,scn) with
    distinct ssn: one marker cancels exactly ONE original — the latest
    (LIFO, OraCdcTransaction.java:592-667) — matching the streaming
    assembly's pairing instead of removing every key match."""
    f = mk(
        spark,
        [
            row(10, "A", 1, pk=1, ssn=0, totalprice=100.0, status="O"),
            # two updates at the same scn, distinct ssn
            row(11, "A", 3, pk=1, ssn=1, totalprice=110.0, status="U", b_tp=100.0),
            row(11, "A", 3, pk=1, ssn=2, totalprice=120.0, status="U", b_tp=110.0),
            # one marker for the pair key (A, R1, 11)
            row(11, "A", 3, pk=1, ssn=3, rollback=True),
            row(20, "A", 7),
        ],
    )
    out = cdc.committed_changes(f).collect()
    # latest original (ssn=2) cancelled; ssn=1 survives
    assert sorted((r.scn, r.ssn) for r in out) == [(10, 0), (11, 1)]


def test_partial_rollback_marker_before_original_cancels_nothing(spark):
    """A marker that PRECEDES its original in redo order (ssn 0 before
    ssn 1) has no preceding pair under the reference's backward scan
    (OraCdcTransactionArrayList.java:82-107): it cancels nothing — the
    original survives (the txn is merely flagged suspicious,
    OraCdcTransaction.java:598-608)."""
    f = mk(
        spark,
        [
            row(10, "A", 1, pk=1, ssn=0, totalprice=100.0, status="O"),
            # rollback-first: marker at ssn=0 of scn 11, original at ssn=1
            row(11, "A", 3, pk=1, ssn=0, rollback=True),
            row(11, "A", 3, pk=1, ssn=1, totalprice=110.0, status="U", b_tp=100.0),
            row(20, "A", 7),
        ],
    )
    out = cdc.committed_changes(f).collect()
    assert sorted((r.scn, r.ssn) for r in out) == [(10, 0), (11, 1)]


def test_partial_rollback_interleaved_lifo(spark):
    """original(1) / marker(2) / original(3) within one pair key: the
    marker cancels the latest PRECEDING original (ssn=1); the ssn=3
    original, although newest, survives — backward LIFO, not
    newest-first (OraCdcTransaction.java:592-667)."""
    f = mk(
        spark,
        [
            row(10, "A", 1, pk=1, ssn=0, totalprice=100.0, status="O"),
            row(11, "A", 3, pk=1, ssn=1, totalprice=110.0, status="U", b_tp=100.0),
            row(11, "A", 3, pk=1, ssn=2, rollback=True),
            row(11, "A", 3, pk=1, ssn=3, totalprice=120.0, status="W", b_tp=110.0),
            row(20, "A", 7),
        ],
    )
    out = cdc.committed_changes(f).collect()
    assert sorted((r.scn, r.ssn) for r in out) == [(10, 0), (11, 3)]


def test_streaming_pairing_matches_batch_rollback_first():
    """_pair_lifo (the streaming scalar oracle) must agree with
    partial_rollback_filter (batch) on the rollback-first and the
    interleaved-LIFO shapes, independent of arrival order."""
    from tests.assembly_oracle import _pair_lifo

    def st(scn, ssn, pk=1):
        return {"scn": scn, "ssn": ssn, "row_id": f"R{pk}", "pk": pk,
                "rollback": False}

    def mkr(scn, ssn, pk=1):
        return {"scn": scn, "ssn": ssn, "row_id": f"R{pk}"}

    # rollback-first: marker ssn=0, original ssn=1 → original survives
    survivors, unpaired = _pair_lifo([st(11, 1)], [mkr(11, 0)])
    assert [(s["scn"], s["ssn"]) for s in survivors] == [(11, 1)]
    assert unpaired == 1

    # interleave: originals ssn=1,3 + marker ssn=2 → ssn=1 cancelled
    survivors, unpaired = _pair_lifo([st(11, 1), st(11, 3)], [mkr(11, 2)])
    assert [(s["scn"], s["ssn"]) for s in survivors] == [(11, 3)]
    assert unpaired == 0

    # two markers, one original after both → nothing cancels forward
    survivors, unpaired = _pair_lifo([st(11, 2)], [mkr(11, 0), mkr(11, 1)])
    assert [(s["scn"], s["ssn"]) for s in survivors] == [(11, 2)]
    assert unpaired == 2


def test_partial_rollback_zero_rows(spark):
    """OraCdcRollbackZeroRows analog (OraCdcRollbackALTest.java:113-127):
    a committed transaction whose every original is cancelled by a
    marker emits NOTHING — and is not treated as an error."""
    rows = [row(10, "A", 1, pk=1, ssn=0, totalprice=100.0, status="O")]
    # 5 originals + 5 pairing markers on the same row across scns
    for j in range(5):
        rows.append(row(20 + j, "A", 3, pk=2, ssn=0,
                        totalprice=float(j), status="U"))
        rows.append(row(20 + j, "A", 3, pk=2, ssn=1, rollback=True))
    rows.append(row(90, "A", 7))
    out = cdc.committed_changes(mk(spark, rows)).collect()
    # only the untouched insert survives; the cancelled pk=2 rows are gone
    assert [(r.pk, r.scn) for r in out] == [(1, 10)]

    from tests.assembly_oracle import _pair_lifo

    stmts = [{"scn": 20 + j, "ssn": 0, "row_id": "R2", "rollback": False}
             for j in range(5)]
    markers = [{"scn": 20 + j, "ssn": 1, "row_id": "R2"} for j in range(5)]
    survivors, unpaired = _pair_lifo(stmts, markers)
    assert survivors == [] and unpaired == 0


def test_partial_rollback_closed_form_matches_simulation(spark):
    """The batch bracket-matching closed form (window running-count +
    suffix max) must agree with the streaming commit-time simulator
    (_pair_lifo) — and hence the reference's backward scan — on many
    random marker/original interleavings, checked in ONE Spark pass."""
    import random

    from tests.assembly_oracle import _pair_lifo

    rng = random.Random(20260813)
    rows, expected = [], set()
    for g in range(200):
        xid = f"G{g:03d}"
        n_events = rng.randint(1, 8)
        flags = [rng.random() < 0.4 for _ in range(n_events)]  # marker?
        stmts = [
            {"scn": 11, "ssn": ssn, "row_id": "R1", "rollback": False}
            for ssn, is_m in enumerate(flags) if not is_m
        ]
        markers = [
            {"scn": 11, "ssn": ssn, "row_id": "R1"}
            for ssn, is_m in enumerate(flags) if is_m
        ]
        survivors, _ = _pair_lifo(list(stmts), list(markers))
        expected |= {(xid, s["ssn"]) for s in survivors}
        for ssn, is_m in enumerate(flags):
            rows.append(row(11, xid, 3, pk=1, ssn=ssn, rollback=is_m,
                            totalprice=float(ssn), status="U"))
    df = mk(spark, rows)
    got = {(r.xid, r.ssn) for r in cdc.partial_rollback_filter(df).collect()}
    assert got == expected


def test_commit_order_stamps_commit_scn(feed):
    out = cdc.commit_ordered(feed).collect()
    assert [r.scn for r in out] == [10, 11, 13, 15]
    assert [r.commit_scn for r in out] == [20, 20, 22, 22]


def test_replay_filter_intra_txn_rewind(feed):
    stamped = cdc.commit_ordered(feed)
    out = cdc.replay_filter(stamped, 20, 10, 0).collect()
    # (20,10,0) already emitted → resume at scn 11 of txn A
    assert [r.scn for r in out] == [11, 13, 15]


def test_apply_changes_last_write_wins(feed):
    out = cdc.apply_changes(feed).collect()
    # pk 1: update survives; pk 3: deleted; pk 2: rolled back; pk 4: open
    assert len(out) == 1
    assert out[0].pk == 1 and out[0].totalprice == 200.0


def test_restart_scn_is_min_open(feed):
    assert cdc.restart_scn(feed).collect()[0].restart_scn == 16


def test_suppress_unchanged_updates(spark):
    f = mk(
        spark,
        [
            row(10, "A", 3, pk=1, totalprice=5.0, status="O", b_tp=5.0, b_st="O"),
            row(11, "A", 3, pk=1, totalprice=6.0, status="O", b_tp=5.0, b_st="O"),
        ],
    )
    out = cdc.suppress_unchanged_updates(f).collect()
    assert [r.scn for r in out] == [11]


def test_batch_pk_dedup_keeps_newest(spark):
    f = mk(
        spark,
        [
            row(10, "A", 1, pk=1, totalprice=1.0, status="O"),
            row(11, "A", 3, pk=1, totalprice=2.0, status="U"),
            row(20, "A", 7),
        ],
    )
    out = cdc.batch_pk_dedup(cdc.commit_ordered(f)).collect()
    assert len(out) == 1 and out[0].totalprice == 2.0


@pytest.mark.slow
def test_replica_as_of_semantics(spark):
    """AS OF max(commit_scn) == current replica; AS OF before the first
    commit == empty; intermediate cuts reflect only earlier commits."""
    import pyspark.sql.functions as F

    from oracdc_spark.feed import change_feed
    from oracdc_spark.operators.cdc import apply_changes, commit_stamped, replica_as_of

    feed = change_feed(spark, "/root/testdata/sf0.001")
    mn, mx = commit_stamped(feed).agg(F.min("commit_scn"), F.max("commit_scn")).first()

    now = {tuple(r) for r in replica_as_of(feed, mx).collect()}
    cur = {tuple(r) for r in apply_changes(feed).collect()}
    assert now == cur
    assert replica_as_of(feed, mn - 1).count() == 0
    mid = replica_as_of(feed, int(mn + 0.5 * (mx - mn)))
    assert 0 < mid.count() < len(cur)


def test_net_effect_all_four_classes(spark):
    """I→D vanishes; I→U collapses to INSERT with the final image;
    U→D collapses to DELETE; lone U stays UPDATE."""
    f = mk(
        spark,
        [
            # pk=1: insert then delete inside the batch -> NOTHING
            row(10, "A", 1, pk=1, totalprice=1.0, status="O"),
            row(11, "A", 2, pk=1, b_tp=1.0, b_st="O"),
            # pk=2: insert then update -> INSERT with final image
            row(12, "A", 1, pk=2, totalprice=2.0, status="O"),
            row(13, "A", 3, pk=2, totalprice=22.0, status="U", b_tp=2.0),
            # pk=3: update then delete (row pre-existed) -> DELETE
            row(14, "A", 3, pk=3, totalprice=3.0, status="U", b_tp=1.5),
            row(15, "A", 2, pk=3, b_tp=3.0, b_st="U"),
            # pk=4: lone update -> UPDATE
            row(16, "A", 3, pk=4, totalprice=4.0, status="U", b_tp=2.0),
            row(20, "A", 7),
        ],
    )
    out = {
        r.pk: (r.net_op, r.totalprice)
        for r in cdc.batch_net_effect(cdc.commit_stamped(f)).collect()
    }
    assert 1 not in out
    assert out[2] == (1, 22.0)
    assert out[3][0] == 2
    assert out[4] == (3, 4.0)


def test_scd2_asof_equals_log_replay(spark):
    """The SCD2 interval lookup at the relative cut must return exactly
    the replica the log replay reconstructs at the same cut — the
    equivalence that makes the history table a valid time-travel
    serving path (empty [c, c) intervals absorb same-commit rewrites
    with no dedup window)."""
    from oracdc_spark.feed import change_feed
    from oracdc_spark.operators.cdc import (
        replica_as_of_relative,
        scd2_as_of_relative,
    )

    feed = change_feed(spark, "/root/testdata/sf0.001")
    via_intervals = {tuple(r) for r in scd2_as_of_relative(feed).collect()}
    via_replay = {tuple(r) for r in replica_as_of_relative(feed).collect()}
    assert via_intervals == via_replay and via_intervals


class TestScd2:
    def test_version_chain(self, spark):
        """insert -> update -> delete for one pk: three versions whose
        validity intervals chain exactly, delete closes the history."""
        f = mk(
            spark,
            [
                row(10, "A", 1, pk=1, totalprice=100.0, status="O"),
                row(20, "A", 7),
                row(30, "B", 3, pk=1, totalprice=150.0, status="U", b_tp=100.0),
                row(40, "B", 7),
                row(50, "C", 2, pk=1, b_tp=150.0, b_st="U"),
                row(60, "C", 7),
                # pk=2 stays live
                row(11, "A", 1, pk=2, totalprice=9.0, status="O"),
            ],
        )
        hist = {
            (r.pk, r.version): r for r in cdc.scd2_history(f).collect()
        }
        v1, v2, v3 = hist[(1, 1)], hist[(1, 2)], hist[(1, 3)]
        assert (v1.valid_from_scn, v1.valid_to_scn) == (20, 40)
        assert (v2.valid_from_scn, v2.valid_to_scn) == (40, 60)
        assert (v3.valid_from_scn, v3.valid_to_scn) == (60, None)
        assert (v1.is_current, v2.is_current, v3.is_current) == (0, 0, 0)
        assert v3.is_deleted == 1
        # live pk: single current version
        assert hist[(2, 1)].is_current == 1

    def test_exactly_one_current_per_live_pk(self, spark):
        from oracdc_spark.feed import change_feed

        hist = cdc.scd2_history(change_feed(spark, "/root/testdata/sf0.001"))
        per_pk = (
            hist.groupBy("pk")
            .agg(
                F.sum("is_current").alias("n_cur"),
                F.max("is_deleted").alias("any_del"),
            )
            .collect()
        )
        assert all(r.n_cur <= 1 for r in per_pk)
        assert any(r.n_cur == 1 for r in per_pk)


def test_net_effect_upsert_equals_full_replay(spark):
    """Replica equivalence on the REAL sf0.001 feed: upserting the
    net-effect collapse onto an empty target (net_op != DELETE → final
    image present, DELETE/vanished → absent) must reconstruct exactly
    the replica the full last-write-wins replay builds — the invariant
    that makes event reduction safe to enable on a sink."""
    from oracdc_spark.feed import change_feed

    feed = change_feed(spark, "/root/testdata/sf0.001")
    cols = ("owner", "table_name", "pk", "totalprice", "status")
    full = {tuple(r) for r in cdc.apply_changes(feed).collect()}
    net = {
        tuple(getattr(r, c) for c in cols)
        for r in cdc.batch_net_effect(cdc.commit_stamped(feed)).collect()
        if r.net_op != cdc.OP_DELETE
    }
    assert net == full and len(full) > 0
