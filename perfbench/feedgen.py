"""Seeded redo-feed generator and the pure-Python expected replica.

The generator writes feed files in the pipeline's ``FEED_DDL`` layout with
pyarrow alone (no Spark job), so generation cost and its noise stay out of
the engine's numbers.  All files exist before a stream starts: a replay is a
closed-loop catch-up of a redo backlog, as after a connector restart.

A feed is a list of files; each file is a list of records (dicts keyed by the
feed columns).  Transactions are short DML groups, each closed by a COMMIT or
a ROLLBACK in the same file.  Partial-rollback markers follow the reference's
rules: a marker carries its original's ``(row_id, scn)`` and cancels the
latest *preceding* unpaired original; a marker that precedes every original
pairs with nothing.

:func:`expected_replica` is the oracle: last-write-wins in commit order over
the committed, marker-paired statements.  It shares no code with the engine.
"""

from __future__ import annotations

import bisect
import itertools
import os
import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

OP_INSERT, OP_DELETE, OP_UPDATE = 1, 2, 3
OP_COMMIT, OP_ROLLBACK = 7, 36
OWNER, TABLE = "SCOTT", "ORDERS"
ALL_CHANGED = "TOTALPRICE,STATUS"
STATUSES = "OFPU"

# the pipeline's FEED_DDL as an arrow schema (same names, order and types)
FEED_SCHEMA = pa.schema(
    [
        ("scn", pa.int64()),
        ("ssn", pa.int64()),
        ("rba", pa.string()),
        ("xid", pa.string()),
        ("op", pa.int32()),
        ("rollback", pa.bool_()),
        ("owner", pa.string()),
        ("table_name", pa.string()),
        ("row_id", pa.string()),
        ("pk", pa.int64()),
        ("totalprice", pa.float64()),
        ("status", pa.string()),
        ("before_totalprice", pa.float64()),
        ("before_status", pa.string()),
        ("con_id", pa.int32()),
        ("changed_cols", pa.string()),
    ]
)

# replica pre-load rows, in the column set merge_batch reads
LOAD_SCHEMA = pa.schema(
    [
        ("owner", pa.string()),
        ("table_name", pa.string()),
        ("pk", pa.int64()),
        ("totalprice", pa.float64()),
        ("status", pa.string()),
        ("commit_scn", pa.int64()),
        ("scn", pa.int64()),
        ("ssn", pa.int64()),
        ("op", pa.int32()),
    ]
)

SCN_BASE = 1_000_000


# The transaction mix.  ZIPF_S is YCSB's default Zipfian constant (Cooper
# et al., "Benchmarking Cloud Serving Systems with YCSB", SoCC 2010).  The
# rows per transaction, the delete share and the marker shares are chosen
# values, not measured from a production redo log; README.md shows how
# little the end-to-end metrics move when they change.
ROWS_PER_TXN = (1, 5)
ZIPF_S = 0.99
ROLLBACK_SHARE = 0.05
MARKER_SHARE = 0.03
EARLY_MARKER_SHARE = 0.01
DOUBLE_UPDATE_SHARE = 0.01
DELETE_SHARE = 0.25


@dataclass(frozen=True)
class FeedShape:
    """How large one feed is; the mix is the module constants above."""

    files: int
    short_txns_per_file: int
    key_space: int
    preload_rows: int = 0


def _price(rng: random.Random) -> float:
    return round(rng.uniform(1.0, 500_000.0), 2)


def _dml(xid, scn, ssn, op, pk, after, before):
    return {
        "scn": scn,
        "ssn": ssn,
        "rba": f"1.{scn}.{ssn}",
        "xid": xid,
        "op": op,
        "rollback": False,
        "owner": OWNER,
        "table_name": TABLE,
        "row_id": f"R{pk}",
        "pk": pk,
        "totalprice": after[0] if after else None,
        "status": after[1] if after else None,
        "before_totalprice": before[0] if before else None,
        "before_status": before[1] if before else None,
        "con_id": 3,
        "changed_cols": ALL_CHANGED if op != OP_DELETE else "",
    }


def _marker(xid, scn, ssn, pk):
    rec = _dml(xid, scn, ssn, OP_UPDATE, pk, None, None)
    rec["rollback"] = True
    rec["changed_cols"] = ""
    return rec


def _control(xid, scn, op):
    return {
        "scn": scn,
        "ssn": 0,
        "rba": f"1.{scn}.0",
        "xid": xid,
        "op": op,
        "rollback": False,
        "owner": OWNER,
        "table_name": TABLE,
        "row_id": None,
        "pk": None,
        "totalprice": None,
        "status": None,
        "before_totalprice": None,
        "before_status": None,
        "con_id": 3,
        "changed_cols": "",
    }


class _Gen:
    def __init__(self, shape: FeedShape, seed: int):
        self.rng = random.Random(seed)
        self.scn = SCN_BASE
        weights = [1.0 / (k + 1) ** ZIPF_S for k in range(shape.key_space)]
        self.cum = list(itertools.accumulate(weights))
        # hot keys scattered over the key space, not clustered at pk 0..n
        self.perm = list(range(shape.key_space))
        self.rng.shuffle(self.perm)
        self.view = {
            pk: (_price(self.rng), self.rng.choice(STATUSES))
            for pk in range(shape.preload_rows)
        }
        self.preload = dict(self.view)

    def key(self) -> int:
        r = self.rng.random() * self.cum[-1]
        return self.perm[min(bisect.bisect_left(self.cum, r), len(self.cum) - 1)]

    def next_scn(self) -> int:
        self.scn += self.rng.randint(1, 3)
        return self.scn

    def statements(self, xid: str, n: int) -> list[dict]:
        """``n`` DML statements of one transaction, with the markers the
        shape asks for, in redo order."""
        rng, out = self.rng, []
        for _ in range(n):
            pk = self.key()
            before = self.view.get(pk)
            if before is None:
                op = OP_INSERT
            elif rng.random() < DELETE_SHARE:
                op = OP_DELETE
            else:
                op = OP_UPDATE
            after = None if op == OP_DELETE else (_price(rng), rng.choice(STATUSES))
            scn = self.next_scn()
            u = rng.random()
            if u < EARLY_MARKER_SHARE:
                # marker before its original: pairs with nothing
                out.append(_marker(xid, scn, 0, pk))
                out.append(_dml(xid, scn, 1, op, pk, after, before))
            elif u < EARLY_MARKER_SHARE + MARKER_SHARE:
                # original then marker: the pair cancels
                out.append(_dml(xid, scn, 1, op, pk, after, before))
                out.append(_marker(xid, scn, 2, pk))
                continue
            elif u < EARLY_MARKER_SHARE + MARKER_SHARE + DOUBLE_UPDATE_SHARE:
                # original, marker, second original at the same scn: the
                # marker cancels the first (backward LIFO), the second stays
                op = OP_UPDATE
                first = after or (_price(rng), rng.choice(STATUSES))
                after = (_price(rng), rng.choice(STATUSES))
                out.append(_dml(xid, scn, 1, op, pk, first, before))
                out.append(_marker(xid, scn, 2, pk))
                out.append(_dml(xid, scn, 3, op, pk, after, first))
            else:
                out.append(_dml(xid, scn, 1, op, pk, after, before))
            if op == OP_DELETE:
                self.view.pop(pk, None)
            else:
                self.view[pk] = after
        return out


def generate(shape: FeedShape, seed: int) -> tuple[list[list[dict]], dict]:
    """Return ``(files, preload)``: the feed's records file by file, and
    the replica's initial rows as ``{pk: (totalprice, status)}``."""
    g = _Gen(shape, seed)
    rng = g.rng
    lo, hi = ROWS_PER_TXN
    files: list[list[dict]] = []
    txn_no = 0
    for _ in range(shape.files):
        recs: list[dict] = []
        for _ in range(shape.short_txns_per_file):
            txn_no += 1
            xid = f"S{seed % 997:03d}{txn_no:07d}"
            recs.extend(g.statements(xid, rng.randint(lo, hi)))
            op = OP_ROLLBACK if rng.random() < ROLLBACK_SHARE else OP_COMMIT
            recs.append(_control(xid, g.next_scn(), op))
        files.append(recs)
    return files, g.preload


def write_feed(files: list[list[dict]], feed_dir: str) -> list[str]:
    """Write one parquet file per feed file.  Modification times are set
    one second apart in file order so the stream source lists them in
    redo order."""
    os.makedirs(feed_dir, exist_ok=True)
    paths = []
    for i, recs in enumerate(files):
        p = os.path.join(feed_dir, f"redo-{i:05d}.parquet")
        pq.write_table(pa.Table.from_pylist(recs, schema=FEED_SCHEMA), p)
        paths.append(p)
    base = int(os.path.getmtime(feed_dir)) - len(paths) - 10
    for i, p in enumerate(paths):
        os.utime(p, (base + i, base + i))
    return paths


def write_preload(preload: dict, path: str) -> None:
    rows = [
        {
            "owner": OWNER,
            "table_name": TABLE,
            "pk": pk,
            "totalprice": v[0],
            "status": v[1],
            "commit_scn": 1,
            "scn": 1,
            "ssn": 0,
            "op": OP_INSERT,
        }
        for pk, v in sorted(preload.items())
    ]
    pq.write_table(pa.Table.from_pylist(rows, schema=LOAD_SCHEMA), path)


def expected_replica(files: list[list[dict]], preload: dict) -> dict:
    """The replica the pipeline must build: ``{pk: (totalprice, status)}``.

    Per transaction (all files, redo order): a marker cancels the latest
    preceding unpaired original with the same ``(row_id, scn)``; a marker
    with none pairs with nothing.  A ROLLBACK drops the transaction, a
    transaction with no control record is still open and not applied.
    Survivors of committed transactions apply in ``(commit_scn, scn,
    ssn)`` order; the last change of a key wins and a DELETE removes it.
    """
    by_xid: dict[str, list[dict]] = {}
    end: dict[str, tuple[int, int]] = {}
    for recs in files:
        for r in recs:
            if r["op"] in (OP_COMMIT, OP_ROLLBACK):
                end[r["xid"]] = (r["op"], r["scn"])
            else:
                by_xid.setdefault(r["xid"], []).append(r)
    changes = []
    for xid, stmts in by_xid.items():
        op, commit_scn = end.get(xid, (None, None))
        if op != OP_COMMIT:
            continue
        stacks: dict[tuple, list[dict]] = {}
        for r in sorted(stmts, key=lambda r: (r["scn"], r["ssn"], r["rollback"])):
            stack = stacks.setdefault((r["row_id"], r["scn"]), [])
            if not r["rollback"]:
                stack.append(r)
            elif stack:
                stack.pop()
        changes += [(commit_scn, r) for s in stacks.values() for r in s]
    state = dict(preload)
    for commit_scn, r in sorted(changes, key=lambda c: (c[0], c[1]["scn"], c[1]["ssn"])):
        if r["op"] == OP_DELETE:
            state.pop(r["pk"], None)
        else:
            state[r["pk"]] = (r["totalprice"], r["status"])
    return state
