"""Deterministic structured change feed — the stand-in for a parsed redo
stream.

The reference parses Oracle redo into per-row change statements
(``OraCdcStatementBase.java:45-80``: scn, rba, ssn, xid, operation,
rollback flag, row_id, data) plus transaction-control records (commit=7,
rollback=36, ``OraCdcV$LogmnrContents.java:38-54``).  We cannot run an
Oracle instance here, so the feed is derived *deterministically by
arithmetic* from the driver's ``orders``/``customer`` parquet tables.  The
same derivation exists twice — as DataFrame ops (:func:`change_feed`) and
as an ANSI-SQL CTE (:data:`CHANGE_FEED_CTE`) — so the DuckDB oracle can
replay it bit-for-bit and every CDC operator downstream is hash-checkable.

Feed recipe (all constants in :class:`FeedSpec`):

* every order emits an INSERT (op=1) at ``scn = k*10``;
* orders with ``k % 3 == 0`` emit an UPDATE (op=3) at ``scn = k*10+1``;
  updates on ``k % 9 == 0`` are no-op updates (after == before) to
  exercise F9 update-without-change suppression; updates on ``k % 6 ==
  3`` (odd multiples of 3, non-noop) are *partial*: only TOTALPRICE is
  written — STATUS keeps its prior value and is ABSENT from the
  statement's ``changed_cols`` set (wrapped tri-state: absent ≠ NULL,
  KafkaWrappedSchemas.java:60-176);
* orders with ``k % 7 == 0`` emit a DELETE (op=2) at ``scn = k*10+2``;
* updates on ``k % 13 == 5`` get a paired partial-rollback record
  (rollback=true, same xid/row_id/scn) — G4 pairing must cancel both;
* updates on ``k % 17 == 2`` (within ``k % 3 == 0``, i.e. k ≡ 36 mod 51)
  emit a SECOND update at ssn=3, same scn, whose before-image is the
  first update's after-image.  When the ``k % 13 == 5`` marker is also
  present — the triple intersection k%3==0 ∧ k%13==5 ∧ k%17==2, one k
  per 663 — the group interleaves original(1)/marker(2)/original(3) and
  G4's backward LIFO pairing is directly observable: the marker cancels
  the ssn=1 original (latest *preceding*, OraCdcTransaction.java:592-667
  + OraCdcTransactionArrayList.java:87-98), the ssn=3 original survives;
* updates on ``k % 19 == 4`` (within ``k % 3 == 0``) additionally emit a
  rollback marker at ssn=0, *before* the original at ssn=1.  The
  reference's backward scan finds no preceding pair: the marker cancels
  NOTHING, the transaction is flagged suspicious, and the ssn=1 original
  survives (OraCdcTransactionArrayList.java:99-101,
  OraCdcTransaction.java:598-608);
* statements group into transactions by ``xid_n = k % 101``;
* per xid one control record: ROLLBACK (op=36) when ``xid_n % 25 == 7``,
  *no* control record (transaction still open) when ``xid_n % 25 == 11``,
  COMMIT (op=7) otherwise, at ``scn = max(stmt scn)+5``;
* a second table's worth of INSERTs derives from ``customer``
  (owner AP vs SCOTT for orders) to exercise the F1 table include list.

Columns are the flattened statement model: the before/after images carry
typed columns (pk, totalprice, status) rather than the reference's
hex-byte maps — the byte-level decode path is covered separately by
``oracdc_spark.functions`` golden-vector tests.
"""

from __future__ import annotations

import os
import tempfile
from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from oracdc_spark.catalog import load_table

OP_INSERT = 1
OP_DELETE = 2
OP_UPDATE = 3
OP_DDL = 5
OP_COMMIT = 7
OP_ROLLBACK = 36


@dataclass(frozen=True)
class FeedSpec:
    xid_mod: int = 101
    update_mod: int = 3
    noop_update_mod: int = 9
    delete_mod: int = 7
    partial_rb_mod: int = 13
    partial_rb_rem: int = 5
    double_upd_mod: int = 17
    double_upd_rem: int = 2
    rb_first_mod: int = 19
    rb_first_rem: int = 4
    partial_upd_mod: int = 6
    partial_upd_rem: int = 3
    txn_ctl_mod: int = 25
    txn_rollback_rem: int = 7
    txn_open_rem: int = 11
    update_delta: float = 1000.0
    commit_scn_gap: int = 5
    cust_scn_base: int = 1_000_000_000


SPEC = FeedSpec()

# Canonical column order of the feed (both Spark and SQL sides emit this).
FEED_COLS = [
    "scn",
    "ssn",
    "rba",
    "xid",
    "op",
    "rollback",
    "owner",
    "table_name",
    "row_id",
    "pk",
    "totalprice",
    "status",
    "before_totalprice",
    "before_status",
    "con_id",
    "changed_cols",
]

ALL_COLS_CHANGED = "TOTALPRICE,STATUS"

# CDB container ids carried natively by the feed (V$LOGMNR_CONTENTS
# SRC_CON_ID / SRC_CON_UID; KafkaSourceLogMinerTask.java:252-255):
# SCOTT's PDB is container 3, AP's is container 4.
CON_ID_ORDERS = 3
CON_ID_CUSTOMER = 4


def _order_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = SPEC
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_orderkey") % s.xid_mod).alias("xid_n"),
        "o_totalprice",
        "o_orderstatus",
    )
    null_d = F.lit(None).cast("double")
    null_s = F.lit(None).cast("string")

    # Single parquet scan: each order emits its statements as an exploded
    # array of structs (a 4-way union would scan orders once per branch).
    def stmt(scn, ssn, op, rollback, totalprice, status, b_totalprice, b_status,
             changed):
        return F.struct(
            scn.cast("bigint").alias("scn"),
            F.lit(ssn).cast("bigint").alias("ssn"),
            F.lit(op).cast("int").alias("op"),
            F.lit(rollback).alias("rollback"),
            totalprice.cast("double").alias("totalprice"),
            status.cast("string").alias("status"),
            b_totalprice.cast("double").alias("before_totalprice"),
            b_status.cast("string").alias("before_status"),
            changed.cast("string").alias("changed_cols"),
        )

    is_upd = F.col("k") % s.update_mod == 0
    noop = F.col("k") % s.noop_update_mod == 0
    # partial update: only TOTALPRICE written (supplemental logging < ALL
    # COLUMNS) — STATUS keeps its prior value, absent from changed_cols
    partial = ~noop & (F.col("k") % s.partial_upd_mod == s.partial_upd_rem)
    # the first update's after-image (the second update's before-image)
    upd_total = F.when(noop, F.col("o_totalprice")).otherwise(
        F.col("o_totalprice") + s.update_delta
    )
    upd_status = F.when(noop | partial, F.col("o_orderstatus")).otherwise(F.lit("U"))
    stmts = F.array(
        stmt(F.col("k") * 10, 0, OP_INSERT, False,
             F.col("o_totalprice"), F.col("o_orderstatus"), null_d, null_s,
             F.lit(ALL_COLS_CHANGED)),
        # rollback-FIRST marker: ssn=0, precedes the ssn=1 original —
        # stays unpaired under the reference's backward-only pairing
        F.when(
            is_upd & (F.col("k") % s.rb_first_mod == s.rb_first_rem),
            stmt(F.col("k") * 10 + 1, 0, OP_UPDATE, True,
                 null_d, null_s, null_d, null_s, F.lit("")),
        ),
        F.when(
            is_upd,
            stmt(F.col("k") * 10 + 1, 1, OP_UPDATE, False,
                 upd_total, upd_status,
                 F.col("o_totalprice"), F.col("o_orderstatus"),
                 F.when(partial, F.lit("TOTALPRICE")).otherwise(F.lit(ALL_COLS_CHANGED))),
        ),
        F.when(
            is_upd & (F.col("k") % s.partial_rb_mod == s.partial_rb_rem),
            stmt(F.col("k") * 10 + 1, 2, OP_UPDATE, True,
                 null_d, null_s, null_d, null_s, F.lit("")),
        ),
        # SECOND update at the same scn, ssn=3 — the LIFO-observable
        # original when the ssn=2 marker is present
        F.when(
            is_upd & (F.col("k") % s.double_upd_mod == s.double_upd_rem),
            stmt(F.col("k") * 10 + 1, 3, OP_UPDATE, False,
                 upd_total + s.update_delta, F.lit("W"),
                 upd_total, upd_status,
                 F.lit(ALL_COLS_CHANGED)),
        ),
        F.when(
            F.col("k") % s.delete_mod == 0,
            stmt(F.col("k") * 10 + 2, 0, OP_DELETE, False,
                 null_d, null_s, F.col("o_totalprice"), F.col("o_orderstatus"),
                 F.lit("")),
        ),
    )
    exploded = o.select(
        "k", "xid_n", F.explode(F.filter(stmts, lambda x: x.isNotNull())).alias("st")
    )
    return exploded.select(
        F.col("st.scn").alias("scn"),
        F.col("st.ssn").alias("ssn"),
        F.col("xid_n").cast("bigint").alias("xid_n"),
        F.col("st.op").alias("op"),
        F.col("st.rollback").alias("rollback"),
        F.col("k").cast("bigint").alias("pk"),
        F.col("st.totalprice").alias("totalprice"),
        F.col("st.status").alias("status"),
        F.col("st.before_totalprice").alias("before_totalprice"),
        F.col("st.before_status").alias("before_status"),
        F.col("st.changed_cols").alias("changed_cols"),
    )


def change_feed(spark: SparkSession, sf_dir: str, with_customer: bool = False) -> DataFrame:
    """The structured change feed as a DataFrame (see module docstring).

    When :func:`materialize_feeds` has been called for this ``sf_dir``
    (the bench does this once per session), the feed is served from its
    parquet snapshot instead of being re-derived from orders/customer —
    so downstream timings measure the CDC operators, not this fixture
    generator.  Semantically identical: the feed is an unordered relation
    and every consumer orders by (scn, ssn) internally.

    Scale note: every step is narrow except the per-xid max for control
    records, which is one partial-aggregated shuffle on ``xid``.
    """
    path = _FEED_CACHE.get((os.path.abspath(sf_dir), with_customer))
    if path is not None:
        return spark.read.parquet(path)
    return _build_change_feed(spark, sf_dir, with_customer)


def materialize_feeds(spark: SparkSession, sf_dir: str, cache_dir: str | None = None) -> str:
    """Snapshot both change-feed variants to parquet once per session;
    later ``change_feed`` calls for the same ``sf_dir`` read the snapshot.
    Returns the cache directory (caller owns its lifetime)."""
    base = cache_dir or tempfile.mkdtemp(prefix="oracdc_feed_")
    for wc in (False, True):
        key = (os.path.abspath(sf_dir), wc)
        if key in _FEED_CACHE:
            continue
        path = os.path.join(base, "feed_wc" if wc else "feed_plain")
        _build_change_feed(spark, sf_dir, wc).write.mode("overwrite").parquet(path)
        _FEED_CACHE[key] = path
    return base


def clear_feed_cache() -> None:
    _FEED_CACHE.clear()


_FEED_CACHE: dict[tuple[str, bool], str] = {}


def _build_change_feed(
    spark: SparkSession, sf_dir: str, with_customer: bool = False
) -> DataFrame:
    s = SPEC
    data = _order_rows(spark, sf_dir)

    ctl = (
        data.groupBy("xid_n")
        .agg((F.max("scn") + s.commit_scn_gap).alias("scn"))
        .filter(F.col("xid_n") % s.txn_ctl_mod != s.txn_open_rem)
        .select(
            F.col("scn").cast("bigint"),
            F.lit(0).cast("bigint").alias("ssn"),
            F.col("xid_n").cast("bigint"),
            F.when(F.col("xid_n") % s.txn_ctl_mod == s.txn_rollback_rem, F.lit(OP_ROLLBACK))
            .otherwise(F.lit(OP_COMMIT))
            .cast("int")
            .alias("op"),
            F.lit(False).alias("rollback"),
            F.lit(None).cast("bigint").alias("pk"),
            F.lit(None).cast("double").alias("totalprice"),
            F.lit(None).cast("string").alias("status"),
            F.lit(None).cast("double").alias("before_totalprice"),
            F.lit(None).cast("string").alias("before_status"),
            F.lit("").alias("changed_cols"),
        )
    )

    unioned = data.unionAll(ctl)
    out = unioned.select(
        "scn",
        "ssn",
        F.concat(F.lit("1."), F.col("scn"), F.lit("."), F.col("ssn")).alias("rba"),
        F.concat(F.lit("XID"), F.lpad(F.col("xid_n").cast("string"), 3, "0")).alias("xid"),
        "op",
        "rollback",
        F.lit("SCOTT").alias("owner"),
        F.lit("ORDERS").alias("table_name"),
        F.when(F.col("pk").isNotNull(), F.concat(F.lit("R"), F.col("pk"))).alias("row_id"),
        "pk",
        "totalprice",
        "status",
        "before_totalprice",
        "before_status",
        F.lit(CON_ID_ORDERS).cast("int").alias("con_id"),
        "changed_cols",
    )
    if with_customer:
        out = out.unionAll(customer_feed(spark, sf_dir))
    return out


def customer_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INSERT-only feed from ``customer`` under owner AP (multi-table cases)."""
    s = SPEC
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        (F.lit(s.cust_scn_base) + F.col("c_custkey") * 10).cast("bigint").alias("scn"),
        F.lit(0).cast("bigint").alias("ssn"),
        F.concat(
            F.lit("2."), F.lit(s.cust_scn_base) + F.col("c_custkey") * 10, F.lit(".0")
        ).alias("rba"),
        F.concat(F.lit("CXI"), F.lpad((F.col("c_custkey") % 53).cast("string"), 3, "0")).alias("xid"),
        F.lit(OP_INSERT).cast("int").alias("op"),
        F.lit(False).alias("rollback"),
        F.lit("AP").alias("owner"),
        F.lit("CUSTOMER").alias("table_name"),
        F.concat(F.lit("C"), F.col("c_custkey")).alias("row_id"),
        F.col("c_custkey").cast("bigint").alias("pk"),
        F.col("c_acctbal").cast("double").alias("totalprice"),
        F.col("c_mktsegment").cast("string").alias("status"),
        F.lit(None).cast("double").alias("before_totalprice"),
        F.lit(None).cast("string").alias("before_status"),
        F.lit(CON_ID_CUSTOMER).cast("int").alias("con_id"),
        F.lit(ALL_COLS_CHANGED).alias("changed_cols"),
    )


def commits(feed: DataFrame) -> DataFrame:
    """Commit control records → (xid, commit_scn)."""
    return feed.filter(F.col("op") == OP_COMMIT).select(
        "xid", F.col("scn").alias("commit_scn")
    )


def _s(template: str) -> str:
    return template.format(s=SPEC)


# ---------------------------------------------------------------------------
# The identical derivation in ANSI SQL, for the DuckDB oracle.  Prefix any
# oracle query with CHANGE_FEED_CTE (a complete WITH clause producing the
# `changes` and `commits` relations).
# ---------------------------------------------------------------------------

CHANGE_FEED_CTE = _s(
    """
WITH ord_base AS (
  SELECT o_orderkey AS k, o_orderkey % {s.xid_mod} AS xid_n,
         o_totalprice, o_orderstatus
  FROM orders
),
data_rows AS (
  SELECT CAST(k*10 AS BIGINT) AS scn, CAST(0 AS BIGINT) AS ssn,
         CAST(xid_n AS BIGINT) AS xid_n, 1 AS op, FALSE AS rollback,
         CAST(k AS BIGINT) AS pk,
         CAST(o_totalprice AS DOUBLE) AS totalprice,
         CAST(o_orderstatus AS VARCHAR) AS status,
         CAST(NULL AS DOUBLE) AS before_totalprice,
         CAST(NULL AS VARCHAR) AS before_status,
         'TOTALPRICE,STATUS' AS changed_cols
  FROM ord_base
  UNION ALL
  SELECT CAST(k*10+1 AS BIGINT), CAST(1 AS BIGINT), CAST(xid_n AS BIGINT),
         3, FALSE, CAST(k AS BIGINT),
         CAST(CASE WHEN k % {s.noop_update_mod} = 0 THEN o_totalprice
              ELSE o_totalprice + {s.update_delta} END AS DOUBLE),
         CAST(CASE WHEN k % {s.noop_update_mod} = 0 THEN o_orderstatus
              WHEN k % {s.partial_upd_mod} = {s.partial_upd_rem} THEN o_orderstatus
              ELSE 'U' END AS VARCHAR),
         CAST(o_totalprice AS DOUBLE), CAST(o_orderstatus AS VARCHAR),
         CASE WHEN k % {s.noop_update_mod} <> 0
                   AND k % {s.partial_upd_mod} = {s.partial_upd_rem}
              THEN 'TOTALPRICE' ELSE 'TOTALPRICE,STATUS' END
  FROM ord_base WHERE k % {s.update_mod} = 0
  UNION ALL
  SELECT CAST(k*10+1 AS BIGINT), CAST(0 AS BIGINT), CAST(xid_n AS BIGINT),
         3, TRUE, CAST(k AS BIGINT),
         CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR),
         CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR), ''
  FROM ord_base
  WHERE k % {s.update_mod} = 0 AND k % {s.rb_first_mod} = {s.rb_first_rem}
  UNION ALL
  SELECT CAST(k*10+1 AS BIGINT), CAST(2 AS BIGINT), CAST(xid_n AS BIGINT),
         3, TRUE, CAST(k AS BIGINT),
         CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR),
         CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR), ''
  FROM ord_base
  WHERE k % {s.update_mod} = 0 AND k % {s.partial_rb_mod} = {s.partial_rb_rem}
  UNION ALL
  SELECT CAST(k*10+1 AS BIGINT), CAST(3 AS BIGINT), CAST(xid_n AS BIGINT),
         3, FALSE, CAST(k AS BIGINT),
         CAST(CASE WHEN k % {s.noop_update_mod} = 0 THEN o_totalprice
              ELSE o_totalprice + {s.update_delta} END + {s.update_delta} AS DOUBLE),
         CAST('W' AS VARCHAR),
         CAST(CASE WHEN k % {s.noop_update_mod} = 0 THEN o_totalprice
              ELSE o_totalprice + {s.update_delta} END AS DOUBLE),
         CAST(CASE WHEN k % {s.noop_update_mod} = 0 THEN o_orderstatus
              WHEN k % {s.partial_upd_mod} = {s.partial_upd_rem} THEN o_orderstatus
              ELSE 'U' END AS VARCHAR),
         'TOTALPRICE,STATUS'
  FROM ord_base WHERE k % {s.update_mod} = 0 AND k % {s.double_upd_mod} = {s.double_upd_rem}
  UNION ALL
  SELECT CAST(k*10+2 AS BIGINT), CAST(0 AS BIGINT), CAST(xid_n AS BIGINT),
         2, FALSE, CAST(k AS BIGINT),
         CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR),
         CAST(o_totalprice AS DOUBLE), CAST(o_orderstatus AS VARCHAR), ''
  FROM ord_base WHERE k % {s.delete_mod} = 0
),
ctl_rows AS (
  SELECT CAST(MAX(scn) + {s.commit_scn_gap} AS BIGINT) AS scn,
         CAST(0 AS BIGINT) AS ssn, xid_n,
         CASE WHEN xid_n % {s.txn_ctl_mod} = {s.txn_rollback_rem} THEN 36 ELSE 7 END AS op,
         FALSE AS rollback, CAST(NULL AS BIGINT) AS pk,
         CAST(NULL AS DOUBLE) AS totalprice, CAST(NULL AS VARCHAR) AS status,
         CAST(NULL AS DOUBLE) AS before_totalprice, CAST(NULL AS VARCHAR) AS before_status,
         '' AS changed_cols
  FROM data_rows
  GROUP BY xid_n
  HAVING xid_n % {s.txn_ctl_mod} <> {s.txn_open_rem}
),
changes AS (
  SELECT scn, ssn,
         '1.' || CAST(scn AS VARCHAR) || '.' || CAST(ssn AS VARCHAR) AS rba,
         'XID' || LPAD(CAST(xid_n AS VARCHAR), 3, '0') AS xid,
         op, rollback,
         'SCOTT' AS owner, 'ORDERS' AS table_name,
         CASE WHEN pk IS NULL THEN NULL ELSE 'R' || CAST(pk AS VARCHAR) END AS row_id,
         pk, totalprice, status, before_totalprice, before_status,
         CAST(3 AS INT) AS con_id, changed_cols
  FROM (SELECT * FROM data_rows UNION ALL SELECT * FROM ctl_rows)
),
cust_changes AS (
  SELECT CAST({s.cust_scn_base} + c_custkey*10 AS BIGINT) AS scn,
         CAST(0 AS BIGINT) AS ssn,
         '2.' || CAST({s.cust_scn_base} + c_custkey*10 AS VARCHAR) || '.0' AS rba,
         'CXI' || LPAD(CAST(c_custkey % 53 AS VARCHAR), 3, '0') AS xid,
         1 AS op, FALSE AS rollback,
         'AP' AS owner, 'CUSTOMER' AS table_name,
         'C' || CAST(c_custkey AS VARCHAR) AS row_id,
         CAST(c_custkey AS BIGINT) AS pk,
         CAST(c_acctbal AS DOUBLE) AS totalprice,
         CAST(c_mktsegment AS VARCHAR) AS status,
         CAST(NULL AS DOUBLE) AS before_totalprice,
         CAST(NULL AS VARCHAR) AS before_status,
         CAST(4 AS INT) AS con_id,
         'TOTALPRICE,STATUS' AS changed_cols
  FROM customer
),
all_changes AS (
  SELECT * FROM changes UNION ALL SELECT * FROM cust_changes
),
commits AS (
  SELECT xid, scn AS commit_scn FROM changes WHERE op = 7
)
"""
)
