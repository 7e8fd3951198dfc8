"""Scalar oracle for the streaming transaction assembly.

``_pair_lifo`` is the reference's commit-time partial-rollback pairing
written as a literal backward scan over per-(row_id, scn) stacks; the
vectorised replay in ``oracdc_spark.streaming.assembly`` and the batch
closed form in ``operators/cdc.py`` are both checked against it.
``random_feed`` builds valid redo feeds for the randomized equivalence
test: short transactions, whole rollbacks, partial-rollback markers
before and after their originals, backward-LIFO pairs and xid reuse.
"""

from __future__ import annotations

import random

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


def _stmt(xid, scn, ssn, op, rollback, pk, price):
    return {
        "xid": xid, "scn": scn, "ssn": ssn, "rba": f"1.{scn}.{ssn}", "op": op,
        "rollback": rollback, "owner": "SCOTT", "table_name": "ORDERS",
        "row_id": f"R{pk}" if pk is not None else None, "pk": pk,
        "totalprice": price, "status": "U" if op == 3 else "N",
        "before_totalprice": None, "before_status": None,
        "changed_cols": "TOTALPRICE",
    }


def random_feed(rng: random.Random, n_txns: int, n_xids: int):
    """A redo feed in (scn, ssn) order plus what it must assemble to.

    Returns ``(rows, committed, open_rows)``: ``committed`` maps each
    committed transaction's commit scn to its ``_pair_lifo`` survivors,
    ``open_rows`` holds the rows of transactions left without a control
    record.  Transactions on one xid never overlap, so a later one reuses
    the xid after the earlier one's control record."""
    rows, committed, open_rows = [], {}, []
    scn = 100
    free_at = {f"X{i:02d}": 0 for i in range(n_xids)}
    for _ in range(n_txns):
        xid = rng.choice([x for x, t in free_at.items() if t <= scn] or list(free_at))
        scn = max(scn, free_at[xid]) + 1
        stmts, markers = [], []
        for _ in range(rng.randint(1, 6)):
            scn += 1
            pk = rng.randint(1, 4)
            ssn = 0
            for _ in range(rng.randint(1, 3)):
                if rng.random() < 0.35:
                    markers.append(_stmt(xid, scn, ssn, 3, True, pk, None))
                else:
                    stmts.append(_stmt(xid, scn, ssn, rng.choice([1, 3, 2]), False, pk,
                                       float(rng.randint(1, 99))))
                ssn += 1
            scn += rng.randint(0, 3)  # other transactions' redo in between
        rows += stmts + markers
        end = rng.random()
        if end < 0.7:
            scn += 1
            rows.append(_stmt(xid, scn, 0, 7, False, None, None))
            committed[scn] = _pair_lifo(stmts, markers)[0]
        elif end < 0.85:
            scn += 1
            rows.append(_stmt(xid, scn, 0, 36, False, None, None))
        else:
            open_rows += stmts + markers
            free_at.pop(xid)  # never closes: the xid is not reused
            if not free_at:
                break
            continue
        free_at[xid] = scn + 1
    rows.sort(key=lambda r: (r["scn"], r["ssn"]))
    return rows, committed, open_rows


def cut_batches(rng: random.Random, rows: list[dict], n_batches: int) -> list[list[dict]]:
    """Cut a redo-ordered feed into micro-batches, delay some statements
    and markers to a later batch (never past their transaction's control
    record, so a marker can arrive before its original), and shuffle the
    arrival order inside every batch."""
    cuts = sorted(rng.sample(range(1, len(rows)), min(n_batches - 1, len(rows) - 1)))
    batch_of = [sum(1 for c in cuts if c <= i) for i in range(len(rows))]
    last = len(cuts)
    # walking backwards, close[xid] is the batch of the control record
    # that ends the transaction of the current row
    close = {}
    for i in reversed(range(len(rows))):
        r = rows[i]
        if r["op"] in (7, 36):
            close[r["xid"]] = batch_of[i]
        elif rng.random() < 0.3:
            batch_of[i] = rng.randint(batch_of[i], close.get(r["xid"], last))
    batches = [[] for _ in range(last + 1)]
    for r, b in zip(rows, batch_of):
        batches[b].append(r)
    for b in batches:
        rng.shuffle(b)
    return batches
