"""Self-tests of the benchmark: seeded inputs, the expected-replica oracle,
the frozen query list and the plan-shape guard.

    python3 -m pytest perfbench/test_perfbench.py -q

The first tests need only pyarrow; the plan-shape test starts a local
Spark session (about 20 s).
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import feedgen  # noqa: E402
from batch import op_classes, plan_shape_diff  # noqa: E402
from queries import BENCH_QUERIES, FAMILIES, SUITE, family  # noqa: E402
from feedgen import OP_COMMIT, OP_DELETE, OP_INSERT, OP_ROLLBACK, OP_UPDATE  # noqa: E402

SMALL = feedgen.FeedShape(files=3, short_txns_per_file=40, key_space=500, preload_rows=200)


def _read_all(paths):
    out = []
    for p in paths:
        with open(p, "rb") as f:
            out.append(f.read())
    return out


def test_same_seed_writes_byte_identical_feed_files(tmp_path):
    a = feedgen.write_feed(feedgen.generate(SMALL, 7)[0], str(tmp_path / "a"))
    b = feedgen.write_feed(feedgen.generate(SMALL, 7)[0], str(tmp_path / "b"))
    c = feedgen.write_feed(feedgen.generate(SMALL, 8)[0], str(tmp_path / "c"))
    assert len(a) == SMALL.files
    assert _read_all(a) == _read_all(b)
    assert _read_all(a) != _read_all(c)


def test_generated_feed_has_the_stated_mix():
    files, preload = feedgen.generate(
        feedgen.FeedShape(files=4, short_txns_per_file=500, key_space=60_000, preload_rows=30_000), 1
    )
    recs = [r for f in files for r in f]
    ops = {op: sum(1 for r in recs if r["op"] == op and not r["rollback"]) for op in (1, 2, 3, 7, 36)}
    assert min(ops.values()) > 0
    assert 0.03 < ops[OP_ROLLBACK] / (ops[OP_ROLLBACK] + ops[OP_COMMIT]) < 0.07
    assert sum(1 for r in recs if r["rollback"]) > 0
    assert len(preload) == 30_000
    # scn grows through the feed: redo order is file order
    scns = [r["scn"] for r in recs]
    assert scns == sorted(scns)


def _dml(xid, scn, ssn, op, pk, price=None, status=None):
    return feedgen._dml(xid, scn, ssn, op, pk, None if op == OP_DELETE else (price, status), None)


def test_oracle_on_hand_built_feed():
    m, c = feedgen._marker, feedgen._control
    file0 = [
        _dml("T1", 10, 1, OP_INSERT, 1, 100.0, "O"),
        _dml("T1", 11, 1, OP_UPDATE, 2, 200.0, "F"),
        m("T1", 11, 2, 2),  # partial rollback: cancels the pk 2 update
        _dml("T2", 12, 1, OP_INSERT, 3, 300.0, "O"),
        m("T3", 13, 0, 4),  # marker before its original: pairs with nothing
        _dml("T3", 13, 1, OP_UPDATE, 4, 400.0, "P"),
        _dml("T4", 14, 1, OP_INSERT, 5, 500.0, "O"),  # T4 never commits
        c("T1", 15, OP_COMMIT),
        c("T2", 16, OP_ROLLBACK),
        c("T3", 17, OP_COMMIT),
        # backward LIFO: the marker cancels the latest preceding original
        _dml("T5", 18, 1, OP_UPDATE, 6, 600.0, "U"),
        m("T5", 18, 2, 6),
        _dml("T5", 18, 3, OP_UPDATE, 6, 601.0, "W"),
        c("T5", 20, OP_COMMIT),
    ]
    file1 = [
        _dml("T4", 21, 1, OP_UPDATE, 5, 501.0, "F"),
        _dml("T6", 22, 1, OP_DELETE, 7),
        c("T6", 23, OP_COMMIT),
        # commit order, not statement order, decides last-write-wins
        _dml("T7", 30, 1, OP_UPDATE, 8, 800.0, "O"),
        _dml("T8", 31, 1, OP_UPDATE, 8, 801.0, "F"),
        c("T8", 35, OP_COMMIT),
        c("T7", 40, OP_COMMIT),
    ]
    preload = {2: (2.0, "O"), 4: (4.0, "O"), 6: (6.0, "O"), 7: (7.0, "O"), 8: (8.0, "O")}
    got = feedgen.expected_replica([file0, file1], preload)
    assert got == {
        1: (100.0, "O"),
        2: (2.0, "O"),
        4: (400.0, "P"),
        6: (601.0, "W"),
        8: (800.0, "O"),
    }


def test_plan_shape_diff_counts_classes():
    declared = ["Project", "ArrowEvalPython", "BroadcastHashJoin", "Window", "HashAggregate", "HashAggregate"]
    assert plan_shape_diff(declared, declared) == {}
    # AQE may turn a sort-merge join into a broadcast one: still one join
    assert plan_shape_diff(["SortMergeJoin", *declared[3:], "ArrowEvalPython"], declared) == {}
    pruned = ["HashAggregate", "HashAggregate"]
    assert plan_shape_diff(pruned, declared) == {"join": (0, 1), "python": (0, 1), "window": (0, 1)}
    assert op_classes(["MapInPandas", "FlatMapGroupsInPandasWithState", "Generate"]) == {
        "python": 2,
        "generate": 1,
    }


def test_suite_is_drawn_from_the_frozen_list():
    import __spark_entry__ as entry

    assert len(BENCH_QUERIES) == len(set(BENCH_QUERIES)) == 98
    assert len(SUITE) == len(set(SUITE)) and set(SUITE) <= set(BENCH_QUERIES)
    # every name has a family, and every family is timed
    assert {family(q) for q in BENCH_QUERIES} == {family(q) for q in SUITE} == set(FAMILIES)
    assert {"cdc_apply_changes", "cdc_scd2_history"} <= set(SUITE)
    assert set(BENCH_QUERIES) <= set(entry.queries()) & set(entry.oracle_sql())


@pytest.fixture(scope="module")
def spark():
    from oracdc_spark.session import get_spark

    s = get_spark("perfbench-test", shuffle_partitions=4, extra_conf={"spark.ui.showConsoleProgress": "false"})
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_noop_write_keeps_the_declared_plan_and_count_does_not(spark):
    import __spark_entry__ as entry

    import observe
    from batch import DATA, noop_write

    build = entry.queries()["ora_tde_decrypt"]

    def executed(action):
        before = observe.last_sql_execution_id(spark)
        action(build(spark, DATA))
        return observe.sql_executions_after(spark, before)[-1]["operators"]

    declared = executed(lambda df: df.collect())
    assert op_classes(declared)["python"] >= 1
    assert plan_shape_diff(executed(noop_write), declared) == {}
    assert "python" in plan_shape_diff(executed(lambda df: df.count()), declared)
