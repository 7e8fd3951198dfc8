"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship CDC pipeline (change feed → committed /
partial-rollback-filtered → commit-ordered → last-write-wins MERGE
materialization) on sf0.001.  ``queries()`` declares every implemented
operator from SURVEY.md §2 (+ the LLM-pipeline operators);
``oracle_sql()`` gives the DuckDB-equivalent ANSI SQL for each (entries
without portable SQL — simhash bit ops, pandas-UDF byte decoders on
synthetic frames — are declared rows-only by omission).
"""

from __future__ import annotations

import functools
import hashlib
from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from oracdc_spark import transforms
from oracdc_spark.catalog import load_table
from oracdc_spark.feed import CHANGE_FEED_CTE, SPEC, change_feed
from oracdc_spark.operators import (
    analytics,
    asof,
    cdc,
    change_vector,
    dedup,
    envelope,
    fusion,
    lob,
    multimodal,
    pq,
    similarity,
    textops,
)
from oracdc_spark.operators.filters import table_list_column, table_list_sql
# every driver-literal fixture table (decoder goldens, registry DDL
# replays, TDE vectors) builds as a LocalRelation, not a Python-RDD
# Scan ExistingRDD — guide §4: the RDD path launches a Python-worker
# stage per materialization for rows that never needed to cross the
# JVM↔Python boundary at all (r12 wave 3 pattern, extended r13)
from oracdc_spark.plans.literal import local_df as _ldf
from oracdc_spark.session import ship_package
from oracdc_spark.sources import initial_load, mvlog

# ---------------------------------------------------------------------------
# replay-filter restart coordinates (arbitrary fixed offsets, both engines)
# ---------------------------------------------------------------------------
REPLAY_COMMIT_SCN = 75_000
REPLAY_SCN = 74_000
REPLAY_SSN = 1

TABLE_LIST = "SCOTT.ORD%, AP.CUSTOMER"

SCN_LO, SCN_HI = 100_000, 5_000_000


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: end-to-end CDC materialization at sf0.001."""
    ship_package(spark)
    return cdc.apply_changes(change_feed(spark, "/root/testdata/sf0.001"))


def _shipping(build: Callable[[SparkSession, str], DataFrame]):
    """``build`` after making the package importable on the session's
    Python workers, whichever session and cwd the caller runs with."""

    @functools.wraps(build)
    def shipped(spark: SparkSession, sf_dir: str) -> DataFrame:
        ship_package(spark)
        return build(spark, sf_dir)

    return shipped


# ---------------------------------------------------------------------------
# Spark-side queries
# ---------------------------------------------------------------------------


def _q_archived_log_discovery(spark, sf_dir):
    from oracdc_spark.sources.archived_log import discover_sequences

    return discover_sequences(
        change_feed(spark, sf_dir), first_scn=20_000, next_scn=100_000,
        seq_span=10_000,
    )


def _q_cdc_feed(spark, sf_dir):
    return change_feed(spark, sf_dir, with_customer=True)


def _q_cdc_op_filter(spark, sf_dir):
    return cdc.op_filter(change_feed(spark, sf_dir, with_customer=True))


def _q_cdc_scn_window(spark, sf_dir):
    return cdc.scn_window(change_feed(spark, sf_dir, with_customer=True), SCN_LO, SCN_HI)


def _q_cdc_table_include(spark, sf_dir):
    feed = change_feed(spark, sf_dir, with_customer=True)
    return feed.filter(table_list_column(TABLE_LIST))


def _q_cdc_container_filter(spark, sf_dir):
    """F3 — CDB container filter on the feed-native ``con_id`` column
    (KafkaSourceLogMinerTask.java:252-255): ``SRC_CON_ID IN (…)``.
    A plain `isin` on a feed column → pushed into the scan."""
    feed = change_feed(spark, sf_dir, with_customer=True)
    return feed.filter(F.col("con_id").isin(3))


def _q_cdc_partial_rollback(spark, sf_dir):
    feed = change_feed(spark, sf_dir)
    return cdc.partial_rollback_filter(cdc.op_filter(feed))


def _q_cdc_committed(spark, sf_dir):
    return cdc.committed_changes(change_feed(spark, sf_dir))


def _q_cdc_commit_order(spark, sf_dir):
    return cdc.commit_ordered(change_feed(spark, sf_dir))


def _q_cdc_replay_filter(spark, sf_dir):
    stamped = cdc.commit_stamped(change_feed(spark, sf_dir))
    return cdc.replay_filter(stamped, REPLAY_COMMIT_SCN, REPLAY_SCN, REPLAY_SSN)


def _q_cdc_txn_stats(spark, sf_dir):
    return cdc.txn_stats(change_feed(spark, sf_dir))


def _q_cdc_restart_scn(spark, sf_dir):
    return cdc.restart_scn(change_feed(spark, sf_dir))


def _q_cdc_batch_dedup(spark, sf_dir):
    return cdc.batch_pk_dedup(cdc.commit_stamped(change_feed(spark, sf_dir)))


def _q_cdc_apply_changes(spark, sf_dir):
    return cdc.apply_changes(change_feed(spark, sf_dir))


def _q_ora_rowid_decode(spark, sf_dir):
    """Golden-construction ROWID decode: build 18-char ROWIDs from
    order-key-derived components with the public base-64 alphabet, then
    decode them back with the JVM-side arithmetic (no UDF).  Both the
    construction and the decode are mirrored in the oracle, so the hash
    check proves the decode math is engine-exact; the component
    roundtrip itself is unit-tested against a Python reference encoder
    (tests/test_decoders.py)."""
    from oracdc_spark.functions.decoders import ROWID_ALPHABET, rowid_components

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("pk"),
        (F.col("o_orderkey") % 262144).alias("obj"),
        (F.col("o_orderkey") % 61 + 1).alias("fil"),
        (F.col("o_orderkey") * 7 % 1000000).alias("blk"),
        (F.col("o_orderkey") % 4096).alias("rw"),
    )
    alpha = F.array(*[F.lit(c) for c in ROWID_ALPHABET])

    def enc(v, n):
        return F.concat(
            *[
                F.element_at(alpha, (F.floor(v / F.lit(64**k)) % 64 + 1).cast("int"))
                for k in reversed(range(n))
            ]
        )

    rid = F.concat(
        enc(F.col("obj"), 6), enc(F.col("fil"), 3), enc(F.col("blk"), 6), enc(F.col("rw"), 3)
    )
    return o.select("pk", rid.alias("row_id")).select(
        "pk", "row_id", *rowid_components(F.col("row_id"))
    )


def _q_cdc_scd2(spark, sf_dir):
    return cdc.scd2_history(change_feed(spark, sf_dir))


def _q_cdc_net_effect(spark, sf_dir):
    st = cdc.commit_stamped(change_feed(spark, sf_dir))
    return cdc.batch_net_effect(st).select(
        "owner", "table_name", "pk", "net_op", "totalprice", "status"
    )


def _q_cdc_replica_reconcile(spark, sf_dir):
    # reconcile the CDC-materialized ORDERS replica against the orders
    # table it was synthesized from: rolled-back/uncommitted txns and
    # trailing deletes populate match / value_mismatch /
    # missing_in_replica (extra_in_replica is empty by construction —
    # replica keys derive from orders keys); the hash pins the exact
    # per-class counts and key ranges
    feed = change_feed(spark, sf_dir)
    replica = cdc.apply_changes(feed).filter(
        F.col("table_name") == "ORDERS"
    ).select("pk", "totalprice", "status")
    src = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("pk"),
        F.col("o_totalprice").alias("totalprice"),
        F.col("o_orderstatus").alias("status"),
    )
    return cdc.replica_reconcile(replica, src)


def _q_cdc_scd2_asof(spark, sf_dir):
    # interval-table time travel; the oracle is the INDEPENDENT log
    # replay (cdc_replica_asof's ranked replay at the same cut), so a
    # hash match proves the SCD2 interval algebra == replaying the log
    return cdc.scd2_as_of_relative(change_feed(spark, sf_dir))


def _q_cdc_replica_asof(spark, sf_dir):
    """Flashback AS OF SCN: replica state at the midpoint of the commit
    SCN range (scale-factor independent; mirrored in the oracle's scalar
    subqueries). The cut is derived in-plan — one job."""
    return cdc.replica_as_of_relative(change_feed(spark, sf_dir), 0.5)


def _q_cdc_suppress_unchanged(spark, sf_dir):
    return cdc.suppress_unchanged_updates(change_feed(spark, sf_dir))


def _q_cdc_debezium(spark, sf_dir):
    return envelope.debezium_flat(change_feed(spark, sf_dir))


def _q_cdc_tombstones(spark, sf_dir):
    return envelope.kafka_tombstones(change_feed(spark, sf_dir))


def _q_cdc_single_mode(spark, sf_dir):
    return envelope.single_mode(change_feed(spark, sf_dir))


def _q_mvlog_batch(spark, sf_dir):
    return mvlog.mvlog_batch(spark, sf_dir, last_seq=1000, batch_size=500)


def _q_mvlog_consumption(spark, sf_dir):
    """S8 driver parity — consumed-log delete as offset-commit: the log
    state observable after a poll commits max(seq) of its batch
    (KafkaSnapshotLogTable.java:224-226)."""
    return mvlog.mvlog_consumption(spark, sf_dir, last_seq=1000, batch_size=500)


def _q_hybrid_retrieval(spark, sf_dir):
    """Hybrid lexical+semantic retrieval fused with RRF (SIGIR 2009) —
    shingle-overlap ranking × embedding-cosine top-k, only integer
    ranks cross the fusion boundary (operators/retrieval.py)."""
    from oracdc_spark.operators import retrieval

    return retrieval.hybrid_rrf_topk(
        load_table(spark, sf_dir, "documents"),
        load_table(spark, sf_dir, "embeddings"),
    )


def _q_initial_load(spark, sf_dir):
    return initial_load.initial_load_union(spark, sf_dir)


# ---------------------------------------------------------------------------
# G8 schema evolution driver parity (registry_evolution)
# ---------------------------------------------------------------------------

_EVO_TYPES = [  # h → Oracle type text for generated ADD specs
    "NUMBER(9)",
    "VARCHAR2(100)",
    "NUMBER(5,2)",
    "TIMESTAMP",
    "BINARY_DOUBLE",
    "DATE",
]


def _evolution_ddls(n: int, nm: str) -> list[str]:
    """Deterministic captured-DDL stream for nation key ``n``: K = 2+n%5
    single-verb statements (ADD / DROP COLUMN / SET UNUSED) followed by
    one compound multi-clause statement.  Drop-eligibility follows the
    recurrence is_drop(k) = raw_drop(k) AND NOT is_drop(k-1) with
    raw_drop(k) = (n*37 + k*101) % 10 >= 6, so a drop always targets the
    column added by the immediately preceding step (C0 at k=1) — the
    closed form the DuckDB oracle mirrors via gaps-and-islands."""
    ddls = []
    prev_drop = False
    for k in range(1, 2 + n % 5 + 1):
        h = (n * 37 + k * 101) % 10
        is_drop = h >= 6 and not prev_drop
        if is_drop:
            target = f"C{k - 1}" if k > 1 else "C0"
            if h % 2 == 1:
                ddls.append(f'ALTER TABLE SCOTT."{nm}" SET UNUSED ({target})')
            else:
                ddls.append(f'ALTER TABLE SCOTT."{nm}" DROP COLUMN {target}')
        else:
            typ = _EVO_TYPES[h % 6]
            if h % 2 == 1:
                ddls.append(f'ALTER TABLE SCOTT."{nm}" ADD C{k} {typ}')
            else:
                ddls.append(f'ALTER TABLE SCOTT."{nm}" ADD (C{k} {typ})')
        prev_drop = is_drop
    ddls.append(
        f'ALTER TABLE SCOTT."{nm}" ADD ("Z one" NUMBER(9), Z2 VARCHAR2(50)) '
        'MODIFY (C0 VARCHAR2(200)) DROP (Z2) RENAME COLUMN "Z one" TO Z1'
    )
    return ddls


def _q_registry_defaults(spark, sf_dir):
    """P11 driver parity: dictionary DEFAULT values parsed from captured
    DDL (OraCdcColumn.java:123-194) substitute for NULLs at record
    binding (KafkaConnectSchema.java:181-279 schema defaults) — DELETE
    statements and rollback markers carry no after-image, so their value
    columns take the defaults.  Substitution is a pure coalesce
    projection (codegen, no shuffle)."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from oracdc_spark.registry import SchemaRegistry, TableDef

    reg = SchemaRegistry()
    reg.register(
        TableDef(
            "SCOTT",
            "ORDERS",
            StructType(
                [
                    StructField("PK", LongType(), False),
                    StructField("TOTALPRICE", DoubleType(), True),
                    StructField("STATUS", StringType(), True),
                ]
            ),
            ("PK",),
        )
    )
    td = reg.apply_ddl(
        "SCOTT",
        "ORDERS",
        "ALTER TABLE SCOTT.ORDERS MODIFY "
        "(TOTALPRICE BINARY_DOUBLE DEFAULT 0, STATUS VARCHAR2(1) DEFAULT 'N')",
    )
    feed = change_feed(spark, sf_dir).select(
        "scn", "ssn", "op", "rollback", "pk", "totalprice", "status"
    )
    return transforms.apply_default_values(feed, td.defaults)


def _q_registry_key_guard(spark, sf_dir):
    """S10 key preference + F8 guard/unused suppression driver parity:
    per nation-derived table, discover the key per the reference's
    preference order (well-defined PK → NOT NULL unique index → ROWID
    pseudo-key, with the per-table ROWID override taking precedence —
    OraDictSqlTexts.java:242-356, OraCdcKeyOverrideTypes.java:28) and
    register the schema with functional-index guard (``SYS_NC…$``) and
    set-unused (``SYS_C…$``) columns hidden (OraCdcColumn.java:93-94).
    Driver-side dictionary work, bounded by table count (see
    ``_q_registry_evolution``)."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from oracdc_spark import registry as R

    nats = sorted(
        load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name").collect(),
        key=lambda r: int(r.n_nationkey),
    )
    reg = R.SchemaRegistry()
    rows = []
    for r in nats:
        n, nm = int(r.n_nationkey), r.n_name
        fields = [
            StructField("ID", LongType(), False),
            StructField("VAL", StringType(), True),
            StructField("SYS_NC00007$", StringType(), True),  # guard col
        ]
        if n % 2 == 0:
            fields.append(StructField("EXTRA", StringType(), True))
            # Oracle's rename of a set-unused column
            fields.append(StructField("SYS_C42_20240101:12:34$", StringType(), True))
        pk = ("ID",) if n % 3 == 0 else ()
        uq = ("VAL",) if n % 3 == 1 else ()
        override = R.OVERRIDE_ROWID if n % 7 == 0 else R.OVERRIDE_NONE
        key_cols, key_kind = R.choose_key(pk, uq, override)
        td = reg.register(
            R.TableDef("SCOTT", nm, StructType(fields), key_cols, key_kind)
        )
        rows.append(
            (
                "SCOTT",
                nm,
                key_kind,
                ",".join(key_cols),
                ",".join(sorted(f.name for f in td.schema.fields)),
            )
        )
    return _ldf(spark, 
        rows,
        "owner string, table_name string, key_kind string, "
        "key_cols string, columns string",
    )


def _q_smt_sanitize(spark, sf_dir):
    """P12 + §2.8 SMT chain driver parity: Avro-illegal field names
    sanitized (KafkaUtils.fixAvroFieldName: non-[A-Za-z0-9_] → '_',
    leading digit prefixed) then the ToLowerCase name converter —
    pure schema rewrites, values pass through untouched."""
    p = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("1PK"),
        F.col("p_name").alias("NAME W SPACE"),
        F.col("p_retailprice").cast("double").alias("PRICE@$!"),
    )
    return transforms.to_lowercase_names(transforms.sanitize_avro_names(p))


def _q_smt_header_to_field(spark, sf_dir):
    """§2.8 HeaderToFieldConverter driver parity: the record's op header
    copied into a value field through the configured value map —
    ``map=c:I,u:U`` with `d` deliberately UNMAPPED so the pass-through
    branch is exercised (HeaderToFieldConverter semantics: unmapped
    header values copy verbatim)."""
    stamped = cdc.commit_stamped(change_feed(spark, sf_dir))
    hdr = stamped.withColumn(
        "hdr_op",
        F.when(F.col("op") == 1, F.lit("c"))
        .when(F.col("op") == 3, F.lit("u"))
        .otherwise(F.lit("d")),
    )
    out = transforms.header_to_field(hdr, "hdr_op", "_oracdcp", {"c": "I", "u": "U"})
    return out.select("scn", "ssn", "xid", "hdr_op", "_oracdcp")


def _q_smt_key_to_value(spark, sf_dir):
    """§2.8 KeyToValueConverter driver parity: key fields merged into
    the value schema under the configured prefix; existing value fields
    untouched."""
    stamped = cdc.commit_stamped(change_feed(spark, sf_dir))
    base = stamped.select("owner", "table_name", "pk", "totalprice", "scn", "ssn")
    return transforms.key_to_value(base, ["pk", "table_name"], prefix="_key_")


def _q_lob_plugin_transform(spark, sf_dir):
    """§2.8 LOB transformation plugin driver parity
    (OraCdcLobTransformationsIntf.java:50, wired at
    KafkaStructDataBinder.java:148-155): chunked LOBs are reassembled,
    then a sample user plugin (text-extract style: tagged uppercased
    prefix) rewrites the LOB column before envelope binding; the
    oracle recomputes the plugin over the ORIGINAL document text, so
    chunk→reassemble→plugin must round-trip exactly."""
    docs = load_table(spark, sf_dir, "documents")
    chunks = lob.lob_chunks(docs, lob.CHUNK)
    re = lob.reassemble_lobs(chunks)
    out = transforms.apply_lob_transforms(
        re,
        {"value": lambda c: F.concat(F.lit("TXT:"), F.upper(F.substring(c, 1, 24)))},
    )
    return out.select(F.col("lob_id"), F.col("value"))


def _q_jdbc_autocreate(spark, sf_dir):
    """K4 auto-create driver parity: the CREATE TABLE text generated for
    one sink schema across all five dialect type maps
    (TargetDbSqlUtils.java:77-186); the oracle is an independent
    hand-written restatement of the expected DDL (golden parity, like
    the decoder vectors)."""
    from pyspark.sql.types import (
        BinaryType,
        BooleanType,
        DecimalType,
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from oracdc_spark.sinks.jdbc_sql import DIALECTS, SinkTable, create_table_sql

    t = SinkTable(
        "ORDERS_SINK",
        StructType(
            [
                StructField("PK", LongType(), False),
                StructField("SKEY", StringType(), False),
                StructField("AMOUNT", DecimalType(12, 2), True),
                StructField("RATIO", DoubleType(), True),
                StructField("NOTE", StringType(), True),
                StructField("PAYLOAD", BinaryType(), True),
                StructField("TS", TimestampType(), True),
                StructField("OK", BooleanType(), True),
            ]
        ),
        ("PK", "SKEY"),
    )
    rows = [(d, create_table_sql(t, d)) for d in DIALECTS]
    return _ldf(spark, rows, "dialect string, ddl string")


def _q_registry_evolution(spark, sf_dir):
    """G8 driver parity: replay a deterministic captured-DDL stream
    through the versioned SchemaRegistry (ADD / DROP / MODIFY / RENAME /
    SET UNUSED, bare, paren, quoted-identifier and compound multi-clause
    forms) and emit the final registry state per table.

    The registry is driver-side dictionary metadata by design (the
    reference keeps it in connector memory, OraCdcTableBase.java:404-530);
    the 25-row nation dim supplies table identities, so this loop is
    bounded by dictionary size, never data size — at 100 TB the table
    count, not the row count, is the driver."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from oracdc_spark.registry import SchemaRegistry, TableDef

    nats = sorted(
        load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name").collect(),
        key=lambda r: int(r.n_nationkey),
    )
    reg = SchemaRegistry()
    rows = []
    for r in nats:
        n, nm = int(r.n_nationkey), r.n_name
        reg.register(
            TableDef(
                owner="SCOTT",
                name=nm,
                schema=StructType(
                    [
                        StructField("PK", LongType(), False),
                        StructField("C0", StringType(), True),
                    ]
                ),
                key_cols=("PK",),
            )
        )
        for ddl in _evolution_ddls(n, nm):
            reg.apply_ddl("SCOTT", nm, ddl)
        td = reg.get("SCOTT", nm)
        rows.append(
            (
                td.owner,
                td.name,
                td.version,
                ",".join(sorted(f.name for f in td.schema.fields)),
            )
        )
    return _ldf(spark, 
        rows, "owner string, table_name string, version long, columns string"
    )


def _q_cdc_pseudo_columns(spark, sf_dir):
    return transforms.add_pseudo_columns(cdc.commit_stamped(change_feed(spark, sf_dir)))


def _q_cdc_pseudo_named(spark, sf_dir):
    """Config-named pseudocolumns through the connector surface:
    a2.pseudocolumn.* properties bind fields with the CONFIGURED names
    (plus one audit attribute, which is schema-only in the structured
    feed)."""
    stamped = cdc.commit_stamped(change_feed(spark, sf_dir))
    named = transforms.pseudo_columns_from_config(
        stamped,
        {
            "ora_rowscn": "SRC_SCN",
            "ora_commitscn": "COMMIT_SCN_F",
            "ora_operation": "OP_NAME",
            "ora_xid": "TXN_ID",
            "ora_username": "AUDIT_USER",
        },
    )
    return named.select(
        "scn", "ssn", "xid", "SRC_SCN", "COMMIT_SCN_F", "OP_NAME", "TXN_ID", "AUDIT_USER"
    )


def _q_cdc_delete_all_cols(spark, sf_dir):
    """Tombstone matrix, FLG_ALL_COLS_ON_DELETE=true: DELETE events emit
    the full before-image instead of a key-only tombstone
    (OraCdcTableBase.java:93, KafkaStructDataBinder.java:318-344)."""
    stamped = cdc.commit_stamped(change_feed(spark, sf_dir))
    return stamped.filter(F.col("op") == 2).select(
        "owner",
        "table_name",
        F.col("pk").alias("key_pk"),
        F.col("before_totalprice").alias("value_totalprice"),
        F.col("before_status").alias("value_status"),
        F.lit("d").alias("header_op"),
        "commit_scn",
        "scn",
    )


def _q_pipeline_curation(spark, sf_dir):
    """End-to-end training-data curation: quality filter → exact-dedup
    keep → embedding join — the composed LLM-pipeline showcase."""
    docs = load_table(spark, sf_dir, "documents")
    kept = textops.quality_scores(docs).filter(F.col("keep")).select("doc_id", "n_tokens")
    deduped = dedup.exact_dedup_keep(docs).select("doc_id", "lang")
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "label"
    )
    return (
        kept.join(deduped, "doc_id")
        .join(emb, "doc_id", "left")
        .select("doc_id", "n_tokens", "lang", "label")
    )


def _q_pipeline_curation_v2(spark, sf_dir):
    """r5 curation composition: Gopher-rules gate → near-dup drop list
    (Jaccard-confirmed pairs, keep-min decision, anti join) →
    per-(lang, source) survivor inventory — the quality/dedup stages a
    crawl-scale pipeline chains before sampling.  All stages are the
    already-audited operators; the composition adds only an anti join
    and one integer aggregation."""
    docs = load_table(spark, sf_dir, "documents")
    # the corpus-lexicon stop list (the synthetic vocabulary has only
    # one of the paper's 8 function words, which would zero the gate)
    gq = (
        textops.gopher_quality(docs, stopwords=textops.STOPWORDS)
        .filter(F.col("keep"))
        .select("doc_id")
    )
    drops = dedup.dedup_decisions(
        dedup.jaccard_pairs(docs, n=5, threshold=0.5)
    ).select("doc_id")
    return (
        docs.join(gq, "doc_id")
        .join(drops, "doc_id", "left_anti")
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


def _q_pipeline_curation_v3(spark, sf_dir):
    """r6 curation composition — topic-conditioned mining: hybrid RRF
    retrieval (seed docs × lexical/semantic fusion) mines the candidate
    set, the Gopher-rules gate drops low-quality hits, and the greedy
    packer assembles the survivors into training sequences.  Every
    stage is an already-audited operator; the composition adds two semi
    joins and a union-distinct."""
    from oracdc_spark.operators import retrieval, sampling

    docs = load_table(spark, sf_dir, "documents")
    vecs = load_table(spark, sf_dir, "embeddings")
    fused = retrieval.hybrid_rrf_topk(docs, vecs)
    mined = (
        fused.select(F.col("neighbor_id").alias("doc_id"))
        .union(fused.select(F.col("query_id").alias("doc_id")))
        .distinct()
    )
    gq = (
        textops.gopher_quality(docs, stopwords=textops.STOPWORDS)
        .filter(F.col("keep"))
        .select("doc_id")
    )
    final_docs = docs.join(mined, "doc_id", "semi").join(gq, "doc_id", "semi")
    return sampling.pack_sequences(final_docs, budget=1024, n_shards=8)


def _q_pipeline_curation_v4(spark, sf_dir):
    """r7 curation composition — budget-capped clean-head corpus (the
    FineWeb/CCNet recipe shape): C4 badwords page gate (on the
    marker-injected fixture corpus, so the gate has real positives) ∧
    CCNet perplexity head+middle (tail dropped) ∧ exact-dedup keeper,
    then the GLOBAL token-budget cut over the survivors.  Every stage
    is an individually-audited r7 operator; the composition adds three
    semi joins and one survivor join-back."""
    from oracdc_spark.operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    bw_keep = (
        textops.c4_badwords_filter(_badword_injected(spark, sf_dir), _BADWORD_HASHES)
        .filter(F.col("keep"))
        .select("doc_id")
    )
    pb_keep = (
        textops.perplexity_buckets(docs)
        .filter(F.col("bucket") != "tail")
        .select("doc_id")
    )
    ex_keep = dedup.exact_dedup_keep(docs).select("doc_id")
    survivors = (
        docs.join(bw_keep, "doc_id", "semi")
        .join(pb_keep, "doc_id", "semi")
        .join(ex_keep, "doc_id", "semi")
    )
    sel = sampling.token_budget_global(survivors, budget=8000)
    return sel.join(docs.select("doc_id", "lang", "source"), "doc_id").select(
        "doc_id", "lang", "source", "n_tokens", "score", "cum_tokens"
    )


def _q_pipeline_curation_v5(spark, sf_dir):
    """r8 curation composition — v4's chain (badwords ∧ perplexity
    head+middle ∧ exact-dedup keeper) extended with the round's three
    QC gates before the same global token-budget cut:

    * char-entropy floor (≥ 2.6): compression-junk pages out;
    * n-gram novelty floor (drop novelty < 0.05, NULL passes — short
      docs carry no signal): assembled-from-elsewhere pages out even
      when no single pair crosses a dedup threshold;
    * semantic decontamination: train docs whose embedding sits within
      cosine 0.12-score of any eval item out (docs without an
      embedding pass — no screen signal, the honest contract).

    Every stage is an individually-audited operator; the composition
    adds one semi and two anti joins to v4's plan."""
    from oracdc_spark.operators import sampling, similarity

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    bw_keep = (
        textops.c4_badwords_filter(_badword_injected(spark, sf_dir), _BADWORD_HASHES)
        .filter(F.col("keep"))
        .select("doc_id")
    )
    pb_keep = (
        textops.perplexity_buckets(docs)
        .filter(F.col("bucket") != "tail")
        .select("doc_id")
    )
    ex_keep = dedup.exact_dedup_keep(docs).select("doc_id")
    ent_keep = (
        textops.char_entropy(docs)
        .filter(F.col("entropy") >= 2.6)
        .select("doc_id")
    )
    nov_drop = (
        textops.ngram_novelty(docs)
        .filter(F.col("novelty") < 0.05)
        .select("doc_id")
    )
    dec_drop = similarity.decontamination_screen(emb, 100, 0.12).select(
        F.col("vec_id").alias("doc_id")
    )
    survivors = (
        docs.join(bw_keep, "doc_id", "semi")
        .join(pb_keep, "doc_id", "semi")
        .join(ex_keep, "doc_id", "semi")
        .join(ent_keep, "doc_id", "semi")
        .join(nov_drop, "doc_id", "anti")
        .join(dec_drop, "doc_id", "anti")
    )
    sel = sampling.token_budget_global(survivors, budget=8000)
    return sel.join(docs.select("doc_id", "lang", "source"), "doc_id").select(
        "doc_id", "lang", "source", "n_tokens", "score", "cum_tokens"
    )


def _q_pipeline_curation_funnel(spark, sf_dir):
    """Per-source survivor funnel over the v4 curation stages — the
    run-report a data-engineering dashboard shows: how many documents
    each gate (badwords, perplexity tail-drop, exact dedup, global
    token budget) costs each source.  Pure composition: four LEFT
    semi-flags over the individually-audited stage outputs, one
    source aggregate; the cumulative-AND counts are exact integers."""
    from oracdc_spark.operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    bw = (
        textops.c4_badwords_filter(_badword_injected(spark, sf_dir), _BADWORD_HASHES)
        .filter(F.col("keep"))
        .select("doc_id", F.lit(1).alias("f_bw"))
    )
    pb = (
        textops.perplexity_buckets(docs)
        .filter(F.col("bucket") != "tail")
        .select("doc_id", F.lit(1).alias("f_pb"))
    )
    ex = dedup.exact_dedup_keep(docs).select("doc_id", F.lit(1).alias("f_ex"))
    survivors = (
        docs.join(bw.select("doc_id"), "doc_id", "semi")
        .join(pb.select("doc_id"), "doc_id", "semi")
        .join(ex.select("doc_id"), "doc_id", "semi")
    )
    sel = sampling.token_budget_global(survivors, budget=8000).select(
        "doc_id", F.lit(1).alias("f_sel")
    )
    flagged = (
        docs.select("doc_id", "source")
        .join(bw, "doc_id", "left")
        .join(pb, "doc_id", "left")
        .join(ex, "doc_id", "left")
        .join(sel, "doc_id", "left")
    )
    c = lambda cond: F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_raw"),
        c(F.col("f_bw").isNotNull()).alias("n_badwords"),
        c(F.col("f_bw").isNotNull() & F.col("f_pb").isNotNull()).alias("n_perplexity"),
        c(
            F.col("f_bw").isNotNull()
            & F.col("f_pb").isNotNull()
            & F.col("f_ex").isNotNull()
        ).alias("n_dedup"),
        c(F.col("f_sel").isNotNull()).alias("n_selected"),
    )


def _q_row_fusion(spark, sf_dir):
    return fusion.row_fusion(spark, sf_dir)


def _q_change_vector(spark, sf_dir):
    return change_vector.change_vector_projection(spark, sf_dir)


def _q_chained_fusion(spark, sf_dir):
    return fusion.chained_fusion(spark, sf_dir)


def _q_chained_incomplete(spark, sf_dir):
    return fusion.chained_incomplete(spark, sf_dir)


def _q_multirow_expansion(spark, sf_dir):
    return fusion.multirow_expansion(spark, sf_dir)


def _q_direct_load(spark, sf_dir):
    return fusion.direct_load(spark, sf_dir)


def _q_lob_inflate(spark, sf_dir):
    return lob.lob_inflate_roundtrip(spark, sf_dir)


def _q_lob_reassembly(spark, sf_dir):
    return lob.lob_roundtrip(spark, sf_dir)


def _q_multimodal_features(spark, sf_dir):
    media = multimodal.synthetic_media(load_table(spark, sf_dir, "documents"))
    return multimodal.extract_features(media)


def _q_multimodal_frame_plan(spark, sf_dir):
    """Video frame-sampling work units (explode-to-work-units pattern) —
    (media_id, frame_idx) without decoding; per-task memory stays flat."""
    media = multimodal.synthetic_media(load_table(spark, sf_dir, "documents"))
    plan = multimodal.frame_sample_plan(media, every_n=10)
    return plan.select("media_id", F.col("frame_idx").cast("bigint").alias("frame_idx"))


def _q_multimodal_decode(spark, sf_dir):
    """Multimodal decode with REAL stdlib codecs (binary PPM + RIFF/WAV):
    payloads are generated arithmetically, so every decoded feature is
    mirrored in ANSI SQL — a full oracle check of the decode dataflow."""
    media = multimodal.synthetic_codec_media(load_table(spark, sf_dir, "documents"))
    return multimodal.decode_features(media)


def _q_multimodal_image_ahash(spark, sf_dir):
    """Perceptual-hash image dedup over REAL PPM decode: the arithmetic
    pixel generator makes the whole pipeline (decode → grayscale → 4×4
    block means → threshold bits) mirrorable in ANSI SQL."""
    media = multimodal.synthetic_codec_media(load_table(spark, sf_dir, "documents"))
    return multimodal.image_ahash(media, grid=4)


def _q_multimodal_image_dhash(spark, sf_dir):
    """Gradient difference-hash over the same real PPM decode — aHash's
    brightness-invariant companion (5-column block frame, horizontal
    neighbor comparisons)."""
    media = multimodal.synthetic_codec_media(load_table(spark, sf_dir, "documents"))
    return multimodal.image_dhash(media, grid=4)


def _q_multimodal_image_near_dups(spark, sf_dir):
    """Banded Hamming near-dup pairs over the perceptual hashes —
    exact-complete at max_hamming < bands (pigeonhole), so the SQL
    mirror is a full oracle, not a recall check."""
    media = multimodal.synthetic_codec_media(load_table(spark, sf_dir, "documents"))
    return multimodal.image_near_dups(media, grid=4, max_hamming=3, bands=4)


def _q_multimodal_audio_near_dups(spark, sf_dir):
    """Audio-side banded Hamming near-dups over a 16-segment energy
    hash (the 8-segment default is too coarse to band)."""
    media = multimodal.synthetic_codec_media(load_table(spark, sf_dir, "documents"))
    return multimodal.audio_near_dups(media, segments=16, max_hamming=3, bands=4)


def _q_multimodal_audio_zcr(spark, sf_dir):
    """Zero-crossing-rate audio fingerprint over the same WAV decode —
    energy-hash's spectral companion (sign-transition counting per
    segment, per-mille integer rates)."""
    media = multimodal.synthetic_codec_media(load_table(spark, sf_dir, "documents"))
    return multimodal.audio_zcr_hash(media, segments=8)


def _q_multimodal_audio_ehash(spark, sf_dir):
    """Energy-envelope audio fingerprint over REAL WAV decode; the
    arithmetic sample generator mirrors decode → segment energies →
    threshold bits in ANSI SQL."""
    media = multimodal.synthetic_codec_media(load_table(spark, sf_dir, "documents"))
    return multimodal.audio_energy_hash(media, segments=8)


def _q_cdc_wrapped_flat(spark, sf_dir):
    """Wrapped tri-state mode, flattened for hashability: presence flag +
    value per wrapped column.  Presence comes from the statement's
    changed-column set, so partial UPDATEs genuinely omit STATUS
    (absent ≠ NULL — KafkaWrappedSchemas.java:60-176)."""
    stamped = cdc.commit_stamped(change_feed(spark, sf_dir))
    tp, st = envelope.col_present("totalprice"), envelope.col_present("status")
    return stamped.select(
        "owner",
        "table_name",
        "pk",
        tp.alias("totalprice_present"),
        F.when(tp, F.col("totalprice")).alias("totalprice_v"),
        st.alias("status_present"),
        F.when(st, F.col("status")).alias("status_v"),
        "commit_scn",
        "scn",
    )


def _q_cdc_wrapped_apply(spark, sf_dir):
    return envelope.wrapped_apply(change_feed(spark, sf_dir))


def _q_cdc_completeness_rejects(spark, sf_dir):
    """F7 — reject side-output: non-DELETE DML missing a mandatory
    column under supplemental-log-ALL (KafkaStructDataBinder.java:
    258-287; tolerate flag skips instead of failing)."""
    from oracdc_spark.operators.filters import completeness_check

    _, rejects = completeness_check(change_feed(spark, sf_dir))
    return rejects.select("scn", "ssn", "xid", "op", "pk", "changed_cols")


# golden decode vectors (OraDumpDecoderTest.java constants, FIXTURES.md §3)
_NUMBER_GOLDENS = [
    (1, "3f534966", -0.1828),
    (2, "c1024a153351", 1.7320508),
    (3, "80", 0.0),
    (4, "c202", 100.0),
]
_BF_BD_GOLDENS = [
    (1, "bfddb3d7", "bffbb67ae8584caa"),
]
# INTERVAL YM/DS golden vectors (encoding per data/OraIntervalYM.java /
# OraIntervalDS.java: excess-2^31 leading field, excess-60 small fields,
# excess-2^31 nanos; values cross-checked against decode_interval_* unit
# vectors) — gives P5 a tabular driver row instead of pytest-only (r8)
_INTERVAL_GOLDENS = [
    (1, "ym", "800000033e", "+3-2"),
    (2, "ym", "7fffffff39", "-1-3"),
    (3, "ds", "8000000546484a80000000", "+5 10:12:14.000000000"),
    (4, "ds", "800000023d3e3f875bcd15", "+2 01:02:03.123456789"),
    (5, "ds", "7fffffff3a393880000000", "-1 02:03:04.000000000"),
]


def _q_ora_number_decode(spark, sf_dir):
    from oracdc_spark.functions.decoders import ora_number_to_double

    df = _ldf(spark, 
        [(i, h) for i, h, _ in _NUMBER_GOLDENS], "id bigint, hex string"
    )
    return df.select("id", ora_number_to_double(F.col("hex")).alias("val"))


def _q_ora_interval_decode(spark, sf_dir):
    """P5 — INTERVAL YEAR TO MONTH / DAY TO SECOND decode to the
    reference's canonical string forms (OraInterval SMT output shape)."""
    from oracdc_spark.functions.decoders import (
        ora_interval_ds_str,
        ora_interval_ym_str,
    )

    df = _ldf(spark, 
        [(i, k, h) for i, k, h, _ in _INTERVAL_GOLDENS],
        "id bigint, kind string, hex string",
    )
    return df.select(
        "id",
        "kind",
        F.when(F.col("kind") == "ym", ora_interval_ym_str(F.col("hex")))
        .otherwise(ora_interval_ds_str(F.col("hex")))
        .alias("s"),
    )


def _q_ora_binary_fp_decode(spark, sf_dir):
    from oracdc_spark.functions.decoders import ora_binary_double, ora_binary_float

    df = _ldf(spark, 
        [(i, bf, bd) for i, bf, bd in _BF_BD_GOLDENS], "id bigint, bf string, bd string"
    )
    return df.select(
        "id",
        ora_binary_float(F.col("bf")).cast("double").alias("bf_val"),
        ora_binary_double(F.col("bd")).alias("bd_val"),
    )


# DATE/TIMESTAMP/INTERVAL golden vectors (P4/P5; formats per
# GenericDecoders.java:210-393 and decoders.py docstring)
_DATETIME_GOLDENS = [
    (1, "78770c1f183c3c", "date", "2019-12-31 23:59:59"),
    (2, "78770c1f183c3c075bcd15", "ts", "2019-12-31 23:59:59.123456"),
    (3, "800000053f", "ym", "+5-3"),
    (4, "7ffffff931", "ym", "-7-11"),
    (5, "800000023f4041875bcd15", "ds", "+2 03:04:05.123456789"),
]


def _q_ora_datetime_decode(spark, sf_dir):
    """P4/P5 — DATE / TIMESTAMP / INTERVAL YM / INTERVAL DS byte decode,
    normalized to strings for hashability."""
    from oracdc_spark.functions.decoders import (
        ora_date,
        ora_interval_ds_str,
        ora_interval_ym_str,
        ora_timestamp,
    )

    def _frame(kind):
        rows = [(i, h) for i, h, k, _ in _DATETIME_GOLDENS if k == kind]
        return _ldf(spark, rows, "id bigint, hex string")

    # one frame per kind: when() would evaluate every decode UDF on every
    # row (a 7-byte DATE decoder on interval bytes raises)
    parts = [
        _frame("date").select(
            "id",
            F.date_format(ora_date(F.col("hex")), "yyyy-MM-dd HH:mm:ss").alias("s"),
        ),
        _frame("ts").select(
            "id",
            F.date_format(
                ora_timestamp(F.col("hex")), "yyyy-MM-dd HH:mm:ss.SSSSSS"
            ).alias("s"),
        ),
        _frame("ym").select("id", ora_interval_ym_str(F.col("hex")).alias("s")),
        _frame("ds").select("id", ora_interval_ds_str(F.col("hex")).alias("s")),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


# TSTZ/TSLTZ golden vectors (synthesized from the public 13-byte
# oracle.sql.TIMESTAMPTZ layout; expected strings = reference's ISO-8601
# Kafka form, OraTimestamp.java:67-94)
_TSTZ_GOLDENS = [
    # UTC instant 2019-02-07T11:34:56.123456789 displayed at +05:30
    (1, "787702070c2339075bcd15195a", "2019-02-07T17:04:56.123456+05:30"),
    # 2000-01-01T00:00:00 UTC displayed at -08:00
    (2, "78640101010101000000000c3c", "1999-12-31T16:00:00-08:00"),
    # region-id zone form (bit7 of byte 11 set): instant correct, UTC display
    (3, "787c060f0d01011dcd65009428", "2024-06-15T12:00:00.500000+00:00"),
]
_TSLTZ_GOLDENS = [
    # wall 2021-07-04T12:00:00.250 in DB zone America/New_York → UTC
    (4, "787907040d01010ee6b280", "2021-07-04T16:00:00.250000+00:00"),
]
_TSLTZ_DB_ZONE = "America/New_York"


def _q_ora_tstz_decode(spark, sf_dir):
    """P4 — TIMESTAMP WITH (LOCAL) TIME ZONE decode to the reference's
    ISO-8601 string form (round-1 verdict missing item 1)."""
    from oracdc_spark.functions.decoders import (
        ora_timestamp_ltz_str,
        ora_timestamp_tz_str,
    )

    tstz = _ldf(spark, 
        [(i, h) for i, h, _ in _TSTZ_GOLDENS], "id bigint, hex string"
    )
    ltz = _ldf(spark, 
        [(i, h) for i, h, _ in _TSLTZ_GOLDENS], "id bigint, hex string"
    )
    return tstz.select("id", ora_timestamp_tz_str(F.col("hex")).alias("s")).unionAll(
        ltz.select("id", ora_timestamp_ltz_str(_TSLTZ_DB_ZONE)(F.col("hex")).alias("s"))
    )


# charset golden vectors (OraDumpDecoderTest.java:55-66, FIXTURES.md §3.2)
_CHARSET_GOLDENS = [
    (1, "7468616e6b73", "thanks"),
    (2, "e8ac9de8ac9de595a6", "謝謝啦"),
    (3, "cea3ceb1cf8220ceb5cf85cf87ceb1cf81ceb9cf83cf84cf8e", "Σας ευχαριστώ"),
    (4, "d0a1d0bfd0b0d181d0b8d0b1d0be", "Спасибо"),
]

# VECTOR float32 golden (VectorTest.java:64-67): decoded element values
_VECTOR_F32_HEX = (
    "00700001010c00800001000000010000002124ad00374890003100002d01db000012"
    "02000000" "07" "c01d8d0d8958b5f2"
    "c0066666c0333333ba83126fbb03126fc0600000c083d70ac067ae14"
)
_VECTOR_F32_VALS = [
    2.0999999046325684, 2.799999952316284, 0.0010000000474974513,
    0.0020000000949949026, 3.5, 4.119999885559082, 3.619999885559082,
]


# P10 TDE goldens (public vectors, OraCdcTdeColumnDecrypterTest.java):
# (id, data-key-blob hex, ENCALG, INTALG, salted, column-image hex, plaintext)
_TDE_BLOB_256_SHA1 = (
    "8AC759A42F0D447528014DEA2E9830631B3EB88E529DDE924D658AC280138F9D"
    "21342A1AE4323EB0E70060DEE6F1C030CC5064D1DA70E70F9D49416A39B2EADE"
    "449CB91F0C0C0C0C0C0C0C0C0C0C0C0C"
)
_TDE_BLOB_256_NOMAC = (
    "8AC759A42F0D447528014DEA2E983063CE874BD9AC7DD1D3116F1ACB0733F83F"
    "B6A725765986FF72F3436E8C5DBB15B24628FCEC8F1803B9ADFDD31CEFAF6124"
    "9A7C283D0C0C0C0C0C0C0C0C0C0C0C0C"
)
_TDE_BLOB_192_SHA1 = (
    "8AC759A42F0D447528014DEA2E983063CC5D432F4C62F8297E1C62068F06AD68"
    "54322095944A21C4901B9F6305D655437A58D87AEABD7C81B062A60504040404"
)
_TDE_GOLDENS = [
    (1, _TDE_BLOB_256_SHA1, 4, 1, True,
     "2a1a581d67445ffe2d4209eefdbd53101156769066 53d5de29289d77ca5eab69"
     "425888da4274b5d724f7ad0b08938074487f65af".replace(" ", ""),
     "ABCDEFGHIJKLMN"),
    (2, _TDE_BLOB_256_SHA1, 4, 1, True,
     "cd340393b0c284f68024574c6481765d30234bb8b252889885f8b5e30be097e7"
     "c5ad9c78f0ec066e8c0fcb763f565749c0c42503",
     "OPQRSTUVWXYZ"),
    (3, _TDE_BLOB_256_NOMAC, 4, 2, False,
     "8cf71610a8a82e479bc3367f8f1e14ba", "ABCDEFGHIJKLMN"),
    (4, _TDE_BLOB_256_NOMAC, 4, 2, False,
     "da06e45b3c1f876f54be5b13116527cc", "0123456789"),
    (5, _TDE_BLOB_192_SHA1, 3, 1, True,
     "d08104ba0244ca2994cef53f76eb2b022785a9ec6663c50bd177d9344fed6ca3"
     "9f19834433dbd9e2204f20f1ee774ae9b3f43820",
     "ABCDEFGHIJKLMN"),
    (6, _TDE_BLOB_192_SHA1, 3, 1, False,
     "e8506d551d0bc2a36cb5c0563db6f7be659f1429d19db8ae591de7e5b2aac897"
     "8c431794",
     "ABCDEFGHIJKLMN"),
]


def _q_ora_tde_decrypt(spark, sf_dir):
    """P10 — full Oracle TDE column decrypt over the reference's public
    vectors: data-key blob parse, [ct‖mac‖salt-iv] layout, zero-IV
    no-salt path, orcl pad strip (OraCdcTdeColumnDecrypter.java)."""
    from oracdc_spark.functions.tde import OraTdeColumnDecrypter

    rows = [(i, blob, enc, intg, salt, ct)
            for i, blob, enc, intg, salt, ct, _ in _TDE_GOLDENS]
    df = _ldf(spark, 
        rows, "id bigint, blob string, enc int, intg int, salted boolean, ct string"
    )

    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import StringType

    @pandas_udf(StringType())
    def _dec(blob, enc, intg, salted, ct):
        # untyped on purpose: the module's future-annotations would make
        # pd.Series hints unresolvable strings for the UDF inferrer
        out = []
        for b, e, g, s, c in zip(blob, enc, intg, salted, ct):
            d = OraTdeColumnDecrypter(bytes.fromhex(b), int(e), int(g))
            out.append(d.decrypt(bytes.fromhex(c), bool(s)).decode("ascii"))
        return pd.Series(out)

    return df.select("id", _dec("blob", "enc", "intg", "salted", "ct").alias("s"))


# TDE INTALG 3 (GCM) goldens: wallet-blob layout (16-byte header + key),
# column layout [ct | tag 0x10 | salt-iv 0x10] per
# OraCdcTdeColumnDecrypter.java:160-178.  Ciphertext+tag generated with
# an INDEPENDENT implementation (OpenSSL via `cryptography`) — the
# engine's pure-Python SP 800-38D construction must reproduce the
# plaintext byte-exact and verify the tag.  (id, blob_hex, enc_alg,
# int_alg, salted, column_hex, plaintext)
_TDE_GCM_GOLDENS = [
    (0, "05060708090a0b0c0d0e0f10111213140b0e1114171a1d202326292c2f32353800000000", 2, 3, True, "455e53f4ad59fdd076b0484e0cad3cb29ea4d3053f666f44978ff15e9c39cc86ac8b7a5b0708090a0b0c0d0e0f10111213141516", "GCM_AES128_SALTED_OK"),
    (1, "0a0b0c0d0e0f1011121314151617181916191c1f2225282b2e3134373a3d404300000000", 2, 3, False, "4a4a7a981244cb1ac8671b3ce93a72b5e3f9fa2ec419990c058e1917a6778c8f6111f914c5cad41213", "GCM_AES128_NOSALT_ZERO_IV"),
    (2, "0f101112131415161718191a1b1c1d1e2124272a2d303336393c3f4245484b4e5154575a5d60636600000000", 3, 3, True, "c3131b598c7f737a2e09a36be713d1e99d75490b15a0475dd7d078eb9159e30319848f303af9eb7f15161718191a1b1c1d1e1f2021222324", "GCM_AES192_SALTED_COLUMN"),
    (3, "1415161718191a1b1c1d1e1f202122232c2f3235383b3e4144474a4d505356595c5f6265686b6e7174777a7d8083868900000000", 4, 3, True, "237182d9284b5a0304af88d98e31ccf712e0fe96cf8722b3224a3c0ba04b37cf5bdbd215631c1d1e1f202122232425262728292a2b", "GCM_AES256_SALTED_TDE"),
    (4, "191a1b1c1d1e1f202122232425262728373a3d404346494c4f5255585b5e6164676a6d707376797c7f8285888b8e919400000000", 4, 3, False, "31eaa3104936faef4fd631f5cb4ae06ef9ea2243e2841c68c9937de7ce8d794797", "GCM_AES256_NOSALT"),
]


def _q_ora_tde_gcm(spark, sf_dir):
    """P10 GCM — TDE INTALG 3 column decrypt: full SP 800-38D AES-GCM
    (CTR keystream + GHASH, 16-byte Oracle salt-IV J0 derivation, tag
    VERIFIED over the ciphertext) across AES-128/192/256, salted and
    zero-IV unsalted layouts.  The reference's shipped GCM branch is
    dead as written (tag region passed as AAD with a tagless doFinal,
    OraCdcTdeColumnDecrypter.java:177-183); this implements the evident
    intent — divergence documented in COVERAGE.md."""
    from oracdc_spark.functions.tde import OraTdeColumnDecrypter

    rows = [(i, blob, enc, intg, salt, ct)
            for i, blob, enc, intg, salt, ct, _ in _TDE_GCM_GOLDENS]
    df = _ldf(spark, 
        rows, "id bigint, blob string, enc int, intg int, salted boolean, ct string"
    )

    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import StringType

    @pandas_udf(StringType())
    def _dec(blob, enc, intg, salted, ct):
        out = []
        for b, e, g, s, c in zip(blob, enc, intg, salted, ct):
            d = OraTdeColumnDecrypter(bytes.fromhex(b), int(e), int(g))
            out.append(d.decrypt(bytes.fromhex(c), bool(s)).decode("ascii"))
        return pd.Series(out)

    return df.select("id", _dec("blob", "enc", "intg", "salted", "ct").alias("s"))


def _q_ora_charset_decode(spark, sf_dir):
    from oracdc_spark.functions.decoders import ora_charset_decode

    df = _ldf(spark, 
        [(i, h) for i, h, _ in _CHARSET_GOLDENS], "id bigint, hex string"
    )
    return df.select("id", ora_charset_decode("utf-8")(F.unhex(F.col("hex"))).alias("s"))


def _q_sql_redo_parse(spark, sf_dir):
    """P1 at corpus scale — build LogMiner-style SQL_REDO text from
    orders, parse it back (OraCdcLogMinerTable.java:155-400 semantics:
    quoted idents, quoted values, HEXTORAW squeeze, NULL)."""
    from oracdc_spark.functions.sql_redo import redo_after_value

    o = load_table(spark, sf_dir, "orders")
    text = F.concat(
        F.lit('insert into "SCOTT"."ORDERS"("PK","TOTALPRICE","STATUS","RAWKEY","NOTE") values (\''),
        F.col("o_orderkey").cast("string"),
        F.lit("','"),
        F.col("o_totalprice").cast("string"),
        F.lit("','"),
        F.col("o_orderstatus"),
        F.lit("',HEXTORAW('"),
        F.hex(F.col("o_orderkey")),
        F.lit("'),NULL)"),
    )
    parsed = o.select(F.col("o_orderkey").alias("id"), text.alias("redo"))
    return parsed.select(
        "id",
        redo_after_value("PK")(F.col("redo")).cast("bigint").alias("pk"),
        redo_after_value("TOTALPRICE")(F.col("redo")).cast("double").alias("totalprice"),
        redo_after_value("STATUS")(F.col("redo")).alias("status"),
        redo_after_value("RAWKEY")(F.col("redo")).alias("rawkey"),
        redo_after_value("NOTE")(F.col("redo")).alias("note"),
    )


def _q_ora_number_roundtrip(spark, sf_dir):
    """P3 at corpus scale — encode every order total to Oracle NUMBER
    bytes and decode back; the oracle reads the source value directly,
    so a single mis-encoded mantissa digit anywhere in the corpus fails
    the hash."""
    from oracdc_spark.functions.decoders import (
        ora_number_encode_hex,
        ora_number_to_double,
    )

    o = load_table(spark, sf_dir, "orders")
    return o.select(
        F.col("o_orderkey").alias("id"),
        ora_number_to_double(ora_number_encode_hex(F.col("o_totalprice"))).alias("val"),
    )


# charset-id golden vectors: (id, NLS charset id, hex, expected)
_CHARSET_ID_GOLDENS = [
    (1, 178, "636166e9", "café"),            # WE8MSWIN1252
    (2, 171, "c4e0", "Да"),                  # CL8MSWIN1251
    (3, 832, "93fa967b", "日本"),            # JA16SJIS
    (4, 873, "7468616e6b73", "thanks"),      # AL32UTF8
    (5, 2000, "007400680061006e006b0073", "thanks"),  # AL16UTF16
]

# the reference's public OSON fixture (OsonTest.java:56-58) — LobLocator-
# wrapped binary JSON {"fruit":"pineapple","quantity":20}
_OSON_GOLDEN_HEX = (
    "00700001010c00800001000000010000"
    "0008a48700414890003b000037"
    "01ff4a5a01210602000f0015000091d8"
    "00000006056672756974087175616e74"
    "69747984020102000800120970696e65"
    "6170706c6521c115"
)
_OSON_GOLDEN_JSON = '{"fruit":"pineapple","quantity":20}'


def _q_ora_charset_id_decode(spark, sf_dir):
    """P6 — dictionary-path charset decode: Oracle NLS charset *id* →
    codec (RdbmsCharsetMapping.java semantics; round-1 verdict missing
    item 2)."""
    from oracdc_spark.functions.charsets import ora_decode_by_charset_id

    df = _ldf(spark, 
        [(i, cs, h) for i, cs, h, _ in _CHARSET_ID_GOLDENS],
        "id bigint, cs_id bigint, hex string",
    )
    return df.select(
        "id", ora_decode_by_charset_id(F.unhex(F.col("hex")), F.col("cs_id")).alias("s")
    )


def _q_oson_decode(spark, sf_dir):
    """P8 — binary OSON decode to JSON text (KafkaConnectSchema.java:
    531-537; fixture OsonTest.java; round-1 verdict missing item 3)."""
    from oracdc_spark.functions.oson import ora_oson_to_json

    df = _ldf(spark, 
        [(1, _OSON_GOLDEN_HEX)], "id bigint, hex string"
    )
    return df.select("id", ora_oson_to_json(F.unhex(F.col("hex"))).alias("s"))


def _q_ora_vector_decode(spark, sf_dir):
    from oracdc_spark.functions.vector import ora_vector

    df = _ldf(spark, [(1, _VECTOR_F32_HEX)], "id bigint, hex string")
    return df.select(
        "id", F.posexplode(ora_vector(F.col("hex"))).alias("i", "val")
    ).select("id", F.col("i").cast("bigint").alias("i"), "val")


def _q_kafka_records(spark, sf_dir):
    """K1 — Kafka record binding: topic (default mapper), JSON key/value,
    op header; tombstone (null value) on delete."""
    stamped = cdc.commit_stamped(change_feed(spark, sf_dir))
    key_json = F.concat(F.lit('{"pk":'), F.col("pk").cast("string"), F.lit("}"))
    value_json = F.when(
        F.col("op") != 2,
        F.concat(
            F.lit('{"pk":'), F.col("pk").cast("string"),
            F.lit(',"totalprice":'), F.col("totalprice").cast("string"),
            F.lit(',"status":"'), F.col("status"), F.lit('"}'),
        ),
    )
    return stamped.select(
        F.concat_ws("_", F.col("owner"), F.col("table_name")).alias("topic"),
        key_json.alias("key_json"),
        value_json.alias("value_json"),
        F.when(F.col("op") == 1, "c").when(F.col("op") == 3, "u").otherwise("d").alias("header_op"),
        "commit_scn",
        "scn",
        "ssn",
    )


def _q_dedup_exact_groups(spark, sf_dir):
    return dedup.exact_dedup_groups(load_table(spark, sf_dir, "documents"))


def _q_dedup_exact_keep(spark, sf_dir):
    return dedup.exact_dedup_keep(load_table(spark, sf_dir, "documents"))


def _q_streaming_dedup_gate(spark, sf_dir):
    # Batch-equivalence mirror of the streaming exact-dedup gate (r7
    # verdict item 8): documents arrive as three ordered micro-batches
    # (doc_id % 3 == 0, 1, 2), each folded through
    # streaming_sketches.dedup_gate_batch against a fresh digest-state
    # dir; the union of emitted rows must equal first-occurrence-per-
    # digest under (batch, doc_id) arrival order — exactly what the
    # oracle's ROW_NUMBER computes.  The 3-iteration driver loop is the
    # trigger loop, not a data loop (bounded by batch COUNT, not size).
    import shutil
    import tempfile

    from oracdc_spark.streaming import sketches as streaming_sketches

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    state_dir = tempfile.mkdtemp(prefix="oracdc_gate_state_")
    state_path = state_dir + "/digests"
    emitted = []
    try:
        for b in range(3):
            batch = docs.filter(F.col("doc_id") % 3 == b)
            emitted.append(
                streaming_sketches.dedup_gate_batch(spark, batch, state_path)
            )
        out = emitted[0]
        for e in emitted[1:]:
            out = out.unionAll(e)
        # emitted rows are localCheckpoint-severed from the state, so
        # collecting the plan here is safe after the tmpdir vanishes
        return out.select(
            "doc_id",
            F.md5("text").alias("digest"),
            (F.col("doc_id") % 3).cast("bigint").alias("batch"),
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(state_dir, ignore_errors=True)


def _q_streaming_interval_join(spark, sf_dir):
    # Batch-equivalence mirror of the stream-stream interval join (r8
    # verdict item 4, the streaming_dedup_gate promotion pattern):
    # events arrive as three micro-batches (event_id % 3), each folded
    # through windows.interval_join_fold_batch against buffered
    # purchase/click state; a pair is emitted exactly once, at the
    # batch where its LATER side arrives (append-mode inner-join
    # contract), so the union of emissions equals the batch interval
    # join — the oracle's plain equality-plus-range join.  horizon=None:
    # the bounded equivalence fold evicts nothing; the eviction path is
    # exercised by tests/test_streaming_windows.py with a tight horizon.
    import shutil
    import tempfile

    from oracdc_spark.streaming import windows as sw

    ev = load_table(spark, sf_dir, "events")
    state_dir = tempfile.mkdtemp(prefix="oracdc_ij_state_")
    emitted = []
    try:
        for b in range(3):
            batch = ev.filter(F.col("event_id") % 3 == b)
            emitted.append(
                sw.interval_join_fold_batch(
                    spark,
                    batch.filter(F.col("event_type") == "purchase"),
                    batch.filter(F.col("event_type") == "click"),
                    state_dir,
                    window="2 hours",
                )
            )
        out = emitted[0]
        for e in emitted[1:]:
            out = out.unionAll(e)
        # emissions are localCheckpoint-severed from the state files,
        # so collecting after the tmpdir vanishes is safe
        return out.select(
            "purchase_id",
            "user_id",
            F.unix_micros("purchase_ts").alias("purchase_us"),
            "click_id",
            F.unix_micros("click_ts").alias("click_us"),
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(state_dir, ignore_errors=True)


def _q_streaming_session_fold(spark, sf_dir):
    # Batch-equivalence mirror of gap-based sessionization: three
    # event_id%3 micro-batches folded through windows.session_fold_batch
    # (sessionize the batch, merge touch-or-overlap fragments into the
    # stored state — exact because a fragment's [start, end] interval is
    # the contiguous union of its member events' [ts, ts+gap] intervals).
    # The final state must equal session_windows over ALL events — the
    # oracle's lag-gap island SQL.
    import shutil
    import tempfile

    from oracdc_spark.streaming import windows as sw

    ev = load_table(spark, sf_dir, "events")
    state_dir = tempfile.mkdtemp(prefix="oracdc_sess_state_")
    state_path = state_dir + "/sessions"
    try:
        for b in range(3):
            merged = sw.session_fold_batch(
                spark, ev.filter(F.col("event_id") % 3 == b), state_path
            )
        return merged  # localCheckpoint-severed by session_fold_batch
    finally:
        shutil.rmtree(state_dir, ignore_errors=True)


def _q_dedup_jaccard(spark, sf_dir):
    return dedup.jaccard_pairs(load_table(spark, sf_dir, "documents"), n=5, threshold=0.5)


def _q_dedup_minhash_signatures(spark, sf_dir):
    return dedup.minhash_signatures(load_table(spark, sf_dir, "documents"), n=5, num_hashes=8)


def _q_dedup_minhash_lsh(spark, sf_dir):
    return dedup.minhash_lsh_candidates(
        load_table(spark, sf_dir, "documents"), n=5, num_hashes=8, bands=4
    )


def _q_dedup_lsh_recall(spark, sf_dir):
    return dedup.lsh_recall_audit(load_table(spark, sf_dir, "documents"))


def _q_dedup_tfidf_cosine(spark, sf_dir):
    return dedup.tfidf_cosine_pairs(load_table(spark, sf_dir, "documents"))


def _q_dedup_containment(spark, sf_dir):
    return dedup.containment_pairs(load_table(spark, sf_dir, "documents"))


def _q_dedup_method_matrix(spark, sf_dir):
    return dedup.method_capture_matrix(load_table(spark, sf_dir, "documents"))


def _q_dedup_canonical_quality(spark, sf_dir):
    return dedup.dedup_canonical_quality(load_table(spark, sf_dir, "documents"))


def _q_text_pmi_collocations(spark, sf_dir):
    return textops.pmi_collocations(load_table(spark, sf_dir, "documents"))


def _q_text_stupid_backoff(spark, sf_dir):
    return textops.stupid_backoff_logprob(load_table(spark, sf_dir, "documents"))


def _q_text_zipf_audit(spark, sf_dir):
    return textops.zipf_hapax_audit(load_table(spark, sf_dir, "documents"))


def _q_text_char_entropy(spark, sf_dir):
    return textops.char_entropy(load_table(spark, sf_dir, "documents"))


def _q_text_topic_clusters(spark, sf_dir):
    return textops.pmi_topic_clusters(load_table(spark, sf_dir, "documents"))


def _q_graph_kcore(spark, sf_dir):
    from oracdc_spark.operators import graph

    out = graph.kcore_members(
        graph.trade_edges(
            load_table(spark, sf_dir, "orders"),
            load_table(spark, sf_dir, "lineitem"),
        )
    )
    # peels run on trade_edges' bigint ids; the public 'C…'/'S…' label
    # is rendered on the OUTPUT rows only (oracle emits the same form)
    return out.select(
        graph.node_label("node").alias("node"), "core_deg", "is_core"
    )


def _q_dedup_lsh_incremental(spark, sf_dir):
    """Incremental index maintenance: every 7th document (doc_id%7==3)
    plays the NEW crawl batch, the rest the already-indexed corpus."""
    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 7 == 3)
    indexed = docs.filter(F.col("doc_id") % 7 != 3)
    return dedup.minhash_lsh_incremental(new, indexed, n=5, num_hashes=8, bands=4)


def _q_dedup_simhash(spark, sf_dir):
    # rotations=3 promoted from the default single prefix in r7: the
    # dedup_simhash_recall audit quantifies the recall gap between 1 and
    # 3 rotations on the same corpus — ship the config the audit favors.
    return dedup.simhash_candidates(
        load_table(spark, sf_dir, "documents"), rotations=3
    )


def _q_dedup_decisions(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return dedup.dedup_decisions(dedup.jaccard_pairs(docs, n=5, threshold=0.5))


def _q_dedup_clusters(spark, sf_dir):
    return dedup.dedup_clusters(load_table(spark, sf_dir, "documents"), n=5, threshold=0.5)


def _q_dedup_canonical(spark, sf_dir):
    return dedup.dedup_canonical(load_table(spark, sf_dir, "documents"), n=5, threshold=0.5)


def _q_dedup_clusters_fast(spark, sf_dir):
    # pointer-jumping variant — same declared semantics as
    # dedup_clusters, proven against the SAME independent recursive-CTE
    # oracle (the equivalence is a theorem, the oracle row the evidence)
    return dedup.dedup_clusters_fast(
        load_table(spark, sf_dir, "documents"), n=5, threshold=0.5
    )


def _q_pipeline_sample(spark, sf_dir):
    return dedup.sample_by_hash(load_table(spark, sf_dir, "documents"))


def _q_text_top_ngrams(spark, sf_dir):
    return textops.top_ngrams(load_table(spark, sf_dir, "documents"), n=2, k=20)


def _q_text_contamination(spark, sf_dir):
    """Benchmark contamination: every 20th document plays the held-out
    benchmark; the rest of the corpus is screened against it."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    target = docs.filter(F.col("doc_id") % 20 != 0)
    return textops.contamination_check(target, bench, n=5)


def _q_sim_centroids(spark, sf_dir):
    return similarity.cell_centroids(load_table(spark, sf_dir, "embeddings"))


def _q_sim_kmeans(spark, sf_dir):
    """IVF cell training end-to-end: 2 Lloyd iterations from the
    vec_id%8 seed over the quantized components (the trainer that
    produces the coarse cells the `label` column stands in for)."""
    from oracdc_spark.operators import clustering

    return clustering.kmeans_profile(
        load_table(spark, sf_dir, "embeddings"), k=8, iters=2
    )


def _q_graph_pagerank(spark, sf_dir):
    """Domain-authority ranking of the customer↔supplier trade graph:
    3 damped PageRank iterations in exact integer micro-units."""
    from oracdc_spark.operators import graph

    return graph.pagerank_top(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
        iters=3,
        k=20,
    )


def _q_sim_bruteforce(spark, sf_dir):
    return similarity.brute_force_topk(load_table(spark, sf_dir, "embeddings"), 100, 5)


def _q_sim_ivf(spark, sf_dir):
    return similarity.ivf_topk(load_table(spark, sf_dir, "embeddings"), 100, 3)


def _q_sim_ivf_mp(spark, sf_dir):
    return similarity.ivf_multiprobe_topk(
        load_table(spark, sf_dir, "embeddings"), 100, 3, 2
    )


def _q_sim_sq8_recall(spark, sf_dir):
    return similarity.sq8_recall(load_table(spark, sf_dir, "embeddings"), 100, 5)


def _q_sim_near_dups(spark, sf_dir):
    return similarity.embedding_near_dups(load_table(spark, sf_dir, "embeddings"), 0.16)


def _q_sim_pq_topk(spark, sf_dir):
    return pq.pq_topk(load_table(spark, sf_dir, "embeddings"), 100, 5)


def _q_sim_pq_recall(spark, sf_dir):
    return pq.pq_recall(load_table(spark, sf_dir, "embeddings"), 100, 5)


def _q_sim_hyperplane_lsh(spark, sf_dir):
    return pq.hyperplane_lsh_candidates(load_table(spark, sf_dir, "embeddings"))


def _q_sim_hyperplane_planted(spark, sf_dir):
    return pq.hyperplane_planted_audit(load_table(spark, sf_dir, "embeddings"))


def _q_sim_hyperplane_recall(spark, sf_dir):
    return pq.hyperplane_recall_audit(load_table(spark, sf_dir, "embeddings"), 100)


def _q_sim_ann_purity(spark, sf_dir):
    return pq.ann_label_purity(load_table(spark, sf_dir, "embeddings"), 100, 5)


def _q_sim_opq_recall(spark, sf_dir):
    # same audit as similarity_pq_recall but with the Walsh-Hadamard
    # pre-rotation (OPQ stand-in) ahead of the subspace split — the two
    # rows together quantify the rotation's recall lift
    return pq.pq_recall(
        load_table(spark, sf_dir, "embeddings"), 100, 5, rotate=True
    )


def _q_sim_opq_balanced_recall(spark, sf_dir):
    # third split row: variance-balanced dimension permutation (the
    # OPQ-P eigenvalue-allocation family reduced to its exact-integer
    # diagonal form, pq._balanced_alloc) — read next to the interleave
    # (similarity_pq_recall) and WHT (similarity_opq_recall) rows, the
    # three quantify what each subspace decomposition buys
    return pq.pq_recall(
        load_table(spark, sf_dir, "embeddings"), 100, 5, split="balanced"
    )


def _q_sim_norm_outliers(spark, sf_dir):
    from oracdc_spark.operators import similarity

    return similarity.norm_outliers(load_table(spark, sf_dir, "embeddings"), 1)


def _q_retrieval_mmr(spark, sf_dir):
    from oracdc_spark.operators import retrieval

    return retrieval.mmr_rerank(
        load_table(spark, sf_dir, "embeddings"), 100, 20, 3
    )


def _q_sim_hard_negatives(spark, sf_dir):
    from oracdc_spark.operators import similarity

    return similarity.hard_negatives(
        load_table(spark, sf_dir, "embeddings"), 100, 5
    )


def _q_sim_nprobe_curve(spark, sf_dir):
    from oracdc_spark.operators import similarity

    return similarity.ivf_nprobe_curve(
        load_table(spark, sf_dir, "embeddings"), 100, 5, n_probes=(1, 2, 3, 4)
    )


def _q_sim_matryoshka_recall(spark, sf_dir):
    from oracdc_spark.operators import similarity

    return similarity.matryoshka_recall(
        load_table(spark, sf_dir, "embeddings"), 100, 5, dims=(32, 16, 8)
    )


def _q_sim_decontamination(spark, sf_dir):
    from oracdc_spark.operators import similarity

    return similarity.decontamination_screen(
        load_table(spark, sf_dir, "embeddings"), 100, 0.12
    )


def _q_sim_opq_learned_audit(spark, sf_dir):
    # rows-only by necessity (the OPQ-NP fit is an SVD — no DuckDB
    # replay): one row per alternation count pairing the fit's own
    # objective (sample MSE, monotone down) with corpus recall vs the
    # raw exact ground truth — see pq.opq_learned_audit for why the
    # CURVE is the deliverable
    return pq.opq_learned_audit(load_table(spark, sf_dir, "embeddings"), 100, 5)


def _q_sim_ivfpq(spark, sf_dir):
    return pq.ivfpq_topk(load_table(spark, sf_dir, "embeddings"), 100, 5, 2)


def _q_dedup_simhash_recall(spark, sf_dir):
    return dedup.simhash_recall_audit(load_table(spark, sf_dir, "documents"))


def _q_sim_ivfpq_refine(spark, sf_dir):
    return pq.ivfpq_refine_topk(load_table(spark, sf_dir, "embeddings"), 100, 5, 2, 4)


def _q_text_tokens(spark, sf_dir):
    return textops.token_stats(load_table(spark, sf_dir, "documents"))


def _q_text_corpus_datasheet(spark, sf_dir):
    return textops.corpus_datasheet(load_table(spark, sf_dir, "documents"))


def _q_text_boilerplate_strip(spark, sf_dir):
    return textops.boilerplate_strip(load_table(spark, sf_dir, "documents"))


def _q_events_zorder_key(spark, sf_dir):
    """Surface the Z-order layout primitive (plans/zorder.py — Morton
    interleave + coarse bucket, Delta OPTIMIZE ZORDER BY's key) as an
    oracle-checked row; the actual partition-pruning proof lives in
    tests/test_zorder.py."""
    import pyspark.sql.functions as F

    from oracdc_spark.plans.zorder import zbucket, zorder_key

    e = load_table(spark, sf_dir, "events")
    day = F.datediff(F.to_date("ts"), F.to_date(F.lit("2024-01-01")))
    return e.select(
        "event_id",
        zorder_key(F.col("user_id"), day).alias("zkey"),
        zbucket(F.col("user_id"), day).cast("bigint").alias("zb"),
    )


def _q_text_quality(spark, sf_dir):
    return textops.quality_scores(load_table(spark, sf_dir, "documents"))


def _q_text_gopher(spark, sf_dir):
    return textops.gopher_quality(load_table(spark, sf_dir, "documents"))


def _q_text_lang(spark, sf_dir):
    return textops.language_id(load_table(spark, sf_dir, "documents"))


def _q_text_fingerprint(spark, sf_dir):
    return textops.fingerprint(load_table(spark, sf_dir, "documents"))


def _q_text_fp_groups(spark, sf_dir):
    return textops.fingerprint_dup_groups(load_table(spark, sf_dir, "documents"))


def _q_text_unigram_logprob(spark, sf_dir):
    return textops.unigram_logprob(load_table(spark, sf_dir, "documents"))


def _q_text_bigram_logprob(spark, sf_dir):
    return textops.bigram_logprob(load_table(spark, sf_dir, "documents"))


def _q_text_tfidf(spark, sf_dir):
    return textops.tfidf_top_terms(load_table(spark, sf_dir, "documents"))


def _q_text_hll(spark, sf_dir):
    return textops.hll_distinct_tokens(load_table(spark, sf_dir, "documents"))


def _q_text_cms(spark, sf_dir):
    return textops.cms_estimate_topk(load_table(spark, sf_dir, "documents"))


def _q_text_repetition(spark, sf_dir):
    return textops.repetition_scores(load_table(spark, sf_dir, "documents"))


def _q_text_ngram_novelty(spark, sf_dir):
    return textops.ngram_novelty(load_table(spark, sf_dir, "documents"))


def _q_dedup_rate_by_source(spark, sf_dir):
    return textops.dedup_rate_by_source(load_table(spark, sf_dir, "documents"))


def _q_quota_sample(spark, sf_dir):
    from oracdc_spark.operators import sampling

    return sampling.quota_sample(load_table(spark, sf_dir, "documents"))


def _q_ab_assign(spark, sf_dir):
    from oracdc_spark.operators import sampling

    return sampling.ab_assign(
        load_table(spark, sf_dir, "documents"),
        arms=("control", "treatment", "holdout"),
        weights=(2, 2, 1),
        salt="exp1",
    )


def _q_temperature_mix(spark, sf_dir):
    from oracdc_spark.operators import sampling

    return sampling.temperature_mix(load_table(spark, sf_dir, "documents"))


def _q_pipeline_split(spark, sf_dir):
    from oracdc_spark.operators import sampling

    return sampling.train_split(load_table(spark, sf_dir, "documents"))


def _q_pipeline_split_leakage(spark, sf_dir):
    from oracdc_spark.operators import sampling

    return sampling.split_leakage_audit(load_table(spark, sf_dir, "documents"))


def _q_pipeline_mixture_rebalance(spark, sf_dir):
    from oracdc_spark.operators import sampling

    return sampling.mixture_rebalance(load_table(spark, sf_dir, "documents"))


def _q_dedup_semantic(spark, sf_dir):
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster-bucketed embedding-cosine near-dup pairs
    (LSH-banded inside k-means cells — never all-pairs) reduced to a
    keep-min/drop-rest decision list, the delete-list a curation
    pipeline applies before training.  Composition of two verified
    operators: similarity.embedding_near_dups × dedup.dedup_decisions."""
    vecs = load_table(spark, sf_dir, "embeddings")
    pairs = similarity.embedding_near_dups(vecs).select(
        F.col("v1").alias("d1"), F.col("v2").alias("d2")
    )
    return dedup.dedup_decisions(pairs).select(
        F.col("doc_id").alias("vec_id"),
        F.col("keeper_doc_id").alias("keeper_vec_id"),
    )


def _q_pack_sequences(spark, sf_dir):
    from oracdc_spark.operators import sampling

    return sampling.pack_sequences(load_table(spark, sf_dir, "documents"))


def _q_pack_efficiency(spark, sf_dir):
    """Packing-quality audit (1 row): fill ratio vs the ceil(total/
    budget) bin lower bound — the audit row a loader pipeline logs."""
    from oracdc_spark.operators import sampling

    return sampling.pack_efficiency_audit(load_table(spark, sf_dir, "documents"))


def _q_text_bm25(spark, sf_dir):
    return textops.bm25_rank(load_table(spark, sf_dir, "documents"))


def _q_text_bpe_merges(spark, sf_dir):
    return textops.bpe_merges(load_table(spark, sf_dir, "documents"))


def _q_dedup_content_chunks(spark, sf_dir):
    return dedup.content_chunk_dedup_stats(load_table(spark, sf_dir, "documents"))


def _q_text_bpe_compression(spark, sf_dir):
    return textops.bpe_compression(load_table(spark, sf_dir, "documents"))


def _q_events_wau_hll(spark, sf_dir):
    return analytics.events_wau_hll_audit(spark, sf_dir)


def _q_orders_bloom_revenue(spark, sf_dir):
    return analytics.bloom_pruned_revenue(spark, sf_dir)


def _q_text_stem_reduction(spark, sf_dir):
    return textops.stem_vocab_reduction(load_table(spark, sf_dir, "documents"))


def _q_graph_triangles(spark, sf_dir):
    from oracdc_spark.operators import graph

    return graph.copurchase_triangles(spark, sf_dir)


def _q_text_typo_pairs(spark, sf_dir):
    # the synthetic corpus shares one clean vocabulary, so (like the
    # badwords fixture) the gate needs planted positives: docs with
    # doc_id % 13 == 0 get their first token re-appended with its 3rd
    # char dropped — a deterministic deletion-distance-1 misspelling
    # derived from the corpus itself, mirrored verbatim in the oracle
    docs = load_table(spark, sf_dir, "documents")
    first = F.element_at(F.split(F.trim(F.lower("text")), r"\s+"), 1)
    mangled = F.concat(first.substr(F.lit(1), F.lit(2)), first.substr(F.lit(4), F.length(first)))
    injected = docs.withColumn(
        "text",
        F.when(
            (F.col("doc_id") % 13 == 0) & first.rlike("^[a-z]{5,}$"),
            F.concat(F.col("text"), F.lit(" "), mangled),
        ).otherwise(F.col("text")),
    )
    return textops.typo_pairs(injected)


def _q_text_perplexity_buckets(spark, sf_dir):
    return textops.perplexity_buckets(load_table(spark, sf_dir, "documents"))


def _q_text_exact_substr_trim(spark, sf_dir):
    from oracdc_spark.operators import winnow

    return winnow.exact_substr_trim(load_table(spark, sf_dir, "documents"))


def _q_text_split_divergence(spark, sf_dir):
    from oracdc_spark.operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    return textops.split_divergence(docs, sampling.train_split(docs))


def _q_text_langid_confusion(spark, sf_dir):
    return textops.langid_confusion(load_table(spark, sf_dir, "documents"))


def _q_text_length_quantiles(spark, sf_dir):
    return textops.doc_length_quantiles(load_table(spark, sf_dir, "documents"))


def _q_dedup_minhash_estimate(spark, sf_dir):
    return dedup.minhash_estimate_audit(load_table(spark, sf_dir, "documents"))


def _q_text_dsir(spark, sf_dir):
    return textops.dsir_weights(load_table(spark, sf_dir, "documents"))


def _q_text_vocab_coverage(spark, sf_dir):
    return textops.vocab_coverage(load_table(spark, sf_dir, "documents"))


def _q_text_winnow(spark, sf_dir):
    from oracdc_spark.operators import winnow

    return winnow.winnow_candidates(load_table(spark, sf_dir, "documents"))


def _q_text_dup_spans(spark, sf_dir):
    from oracdc_spark.operators import winnow

    return winnow.dup_span_fraction(load_table(spark, sf_dir, "documents"))


def _q_text_bloom(spark, sf_dir):
    return textops.bloom_membership_audit(load_table(spark, sf_dir, "documents"))


def _q_events_asof(spark, sf_dir):
    return asof.events_asof_orders(
        load_table(spark, sf_dir, "events"), load_table(spark, sf_dir, "orders")
    )


def _q_events_asof_tolerance(spark, sf_dir):
    return asof.events_asof_tolerance(
        load_table(spark, sf_dir, "events"), load_table(spark, sf_dir, "orders")
    )


def _q_events_asof_nearest(spark, sf_dir):
    return asof.events_asof_nearest(load_table(spark, sf_dir, "events"))


def _q_events_sax_candidates(spark, sf_dir):
    from oracdc_spark.operators import tsindex

    return tsindex.sax_candidates(load_table(spark, sf_dir, "events"))


def _q_events_sax_recall(spark, sf_dir):
    from oracdc_spark.operators import tsindex

    return tsindex.sax_recall_audit(spark, sf_dir)


def _q_events_sax_topk(spark, sf_dir):
    from oracdc_spark.operators import tsindex

    return tsindex.sax_topk(spark, sf_dir)


def _q_events_sax_planted(spark, sf_dir):
    from oracdc_spark.operators import tsindex

    return tsindex.sax_planted_audit(load_table(spark, sf_dir, "events"))


def _q_pipeline_domain_quota(spark, sf_dir):
    """Domain-balanced sampling: cap documents per registrable domain —
    the provenance-mixing composition (url_domain_stats' site key x
    quota_sample's deterministic cap) over the messy-URL fixture."""
    from oracdc_spark.operators import sampling

    docs = _full_url_injected(spark, sf_dir)
    host = F.lower(F.regexp_extract("text", textops.URL_RE, 1))
    host_np = F.split(host, ":").getItem(0)
    site = F.when(host == "", F.lit("none")).otherwise(
        F.array_join(F.slice(F.split(host_np, r"\."), -2, 2), ".")
    )
    d = docs.select("doc_id", site.alias("site"))
    return sampling.quota_sample(d, group_col="site", quota=30)


def _pii_injected(spark, sf_dir):
    """Deterministic PII fixture: the synthetic corpus has no PII, so
    inject emails/URLs/IPs by doc_id class (mirrored in the oracle CTE).
    doc_id%4: 0 email, 1 URL, 2 IPv4, 3 untouched."""
    d = load_table(spark, sf_dir, "documents")
    k = F.col("doc_id") % 4
    did = F.col("doc_id").cast("string")
    return d.select(
        "doc_id",
        F.when(k == 0, F.concat("text", F.lit(" contact user"), did, F.lit("@example.com now")))
        .when(k == 1, F.concat("text", F.lit(" see https://ex.example/p/"), did, F.lit(" ok")))
        .when(k == 2, F.concat("text", F.lit(" host 10.0."), (F.col("doc_id") % 256).cast("string"), F.lit(".7 up")))
        .otherwise(F.col("text"))
        .alias("text"),
    )


def _q_text_pii_scrub(spark, sf_dir):
    return textops.pii_scrub(_pii_injected(spark, sf_dir))


def _url_injected(spark, sf_dir):
    """Deterministic URL fixture: the synthetic corpus has no URLs, so
    inject them by doc_id class (mirrored in the oracle CTE).
    doc_id%3: 0 one CDN URL, 1 a news URL + a CDN URL, 2 untouched."""
    d = load_table(spark, sf_dir, "documents")
    k = F.col("doc_id") % 3
    did = F.col("doc_id").cast("string")
    cdn = F.concat(
        F.lit("https://cdn"),
        (F.col("doc_id") % 5).cast("string"),
        F.lit(".media.example.org"),
    )
    return d.select(
        "doc_id",
        F.when(k == 0, F.concat("text", F.lit(" ref "), cdn, F.lit("/a/"), did, F.lit(" end")))
        .when(
            k == 1,
            F.concat(
                F.lit("src http://www.example-news.com/p/"),
                did,
                F.lit(" plus "),
                cdn,
                F.lit("/b "),
                F.col("text"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )


def _q_text_url_domains(spark, sf_dir):
    return textops.url_domain_stats(_url_injected(spark, sf_dir))


def _line_injected(spark, sf_dir):
    """Deterministic multi-line fixture: the synthetic corpus is
    single-line, so build C4-shaped pages from token slices (mirrored
    in the oracle CTE): terminal-punctuated lines, a javascript line, a
    short line, an unpunctuated line, and doc_id-classed page poisons
    ('{' for doc_id%7==0, 'lorem ipsum' for doc_id%11==3)."""
    d = load_table(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")

    def seg(start, n):
        return F.array_join(F.slice(w, start, n), " ")

    l1 = F.concat(seg(1, 6), F.lit("."))
    l2 = F.concat(F.lit("javascript required "), seg(7, 5), F.lit("."))
    l3 = seg(13, 3)
    l4 = F.concat(seg(16, 7), F.lit("?"))
    l5 = F.concat(seg(23, 5), F.lit("!"))
    l6 = F.when(F.col("doc_id") % 7 == 0, F.lit("var cfg = { a: 1 }")).otherwise(
        F.concat(seg(28, 6), F.lit("."))
    )
    l7 = F.when(
        F.col("doc_id") % 11 == 3, F.lit("lorem ipsum dolor sit amet.")
    ).otherwise(seg(34, 4))
    return d.select(
        "doc_id", F.concat_ws("\n", l1, l2, l3, l4, l5, l6, l7).alias("text")
    )


def _q_text_c4_lines(spark, sf_dir):
    return textops.c4_line_filter(_line_injected(spark, sf_dir))


# The badwords fixture: two deterministic marker tokens injected on
# disjoint doc_id residues (the corpus vocabulary itself is benign, so
# positives must be planted — mirrored in the oracle CTE); the declared
# blocklist is their md5s, exactly how a real deployment ships the
# public C4 list (hashes, not words).
_BADWORD_HASHES = [
    hashlib.md5(b"zyxbad").hexdigest(),
    hashlib.md5(b"qwxnaughty").hexdigest(),
]


def _badword_injected(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 7 == 0, F.lit(" zyxbad")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 11 == 3, F.lit(" qwxnaughty")).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )


def _q_text_c4_badwords(spark, sf_dir):
    return textops.c4_badwords_filter(
        _badword_injected(spark, sf_dir), _BADWORD_HASHES
    )


def _full_url_injected(spark, sf_dir):
    """Deterministic messy-URL fixture (mirrored in the oracle CTE):
    class 0 gets an upper-cased host + utm params + fragment (twice,
    second clean), class 1 the same logical URL via :443 + no tracking,
    class 2 an :80 host with a trailing slash, class 3 no URL.  Classes
    0 and 1 canonicalize to the SAME url (cross-doc dups)."""
    d = load_table(spark, sf_dir, "documents")
    n5 = (F.col("doc_id") % 5).cast("string")
    n20 = (F.col("doc_id") % 20).cast("string")
    k = F.col("doc_id") % 4
    c0 = F.concat(
        F.col("text"),
        F.lit(" see HTTPS://WWW.Example.COM/Path/?utm_source=x&utm_campaign=c"),
        n5,
        F.lit("&id="),
        n5,
        F.lit("#frag and https://www.example.com/Path/?id="),
        n5,
        F.lit(" end"),
    )
    c1 = F.concat(
        F.col("text"), F.lit(" see https://www.example.com:443/Path/?id="), n5
    )
    c2 = F.concat(
        F.col("text"), F.lit(" ref http://News.example.org:80/a/"), n20, F.lit("/")
    )
    return d.select(
        "doc_id",
        F.when(k == 0, c0).when(k == 1, c1).when(k == 2, c2).otherwise(
            F.col("text")
        ).alias("text"),
    )


def _q_dedup_url_canonical(spark, sf_dir):
    return textops.url_canonical_dedup(_full_url_injected(spark, sf_dir))


def _q_token_budget(spark, sf_dir):
    from oracdc_spark.operators import sampling

    return sampling.token_budget_select(load_table(spark, sf_dir, "documents"))


def _q_token_budget_global(spark, sf_dir):
    from oracdc_spark.operators import sampling

    return sampling.token_budget_global(load_table(spark, sf_dir, "documents"))


def _q_weighted_sample(spark, sf_dir):
    from oracdc_spark.operators import sampling

    return sampling.weighted_sample(load_table(spark, sf_dir, "documents"), k=100)


def _q_doc_chunks(spark, sf_dir):
    from oracdc_spark.operators import sampling

    return sampling.chunk_documents(load_table(spark, sf_dir, "documents"))


def _q_chunk_dedup(spark, sf_dir):
    return dedup.chunk_dedup_stats(load_table(spark, sf_dir, "documents"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # NOTE on ordering: the external driver's correctness gate checks a
    # 50-query window from the FRONT of this dict.  Since r7 the dict
    # literal below is a CATALOG in historical/narrative order; the
    # actual front-of-dict window is assembled from _R12_WINDOW at the
    # end of this function — edit that list (not the literal's order)
    # to rotate.  After r6 every declared query has ≥1 driver row, so
    # each round's window = new queries + everything the round changed
    # + the stalest re-checks (last-checked round ascending, computed
    # from the CORRECTNESS_r0*.json history).
    # S5/G10/G11/§2.7 remain inherently pytest-only.
    q = {
        # --- first driver rows: TPC-H breadth block (declared r5) ---
        "q4_order_priority": analytics.q4_order_priority,
        "q7_volume_shipping": analytics.q7_volume_shipping,
        "q8_market_share": analytics.q8_market_share,
        "q9_product_profit": analytics.q9_product_profit,
        "q10_returned_items": analytics.q10_returned_items,
        "q13_customer_distribution": analytics.q13_customer_distribution,
        "q15_top_supplier": analytics.q15_top_supplier,
        "q17_small_qty_revenue": analytics.q17_small_qty_revenue,
        "q18_large_volume_customers": analytics.q18_large_volume_customers,
        "q19_discounted_revenue": analytics.q19_discounted_revenue,
        "q22_sales_opportunity": analytics.q22_sales_opportunity,
        # --- first driver rows: window frames, LSH audit, curation v2 ---
        "orders_lag_gap": analytics.orders_lag_gap,
        "events_range_frame": analytics.events_range_frame,
        "dedup_lsh_recall": _q_dedup_lsh_recall,
        "pipeline_curation_v2": _q_pipeline_curation_v2,
        # --- changed r6: eager counts -> lazy 1-row broadcast aggregates ---
        "text_bm25": _q_text_bm25,
        "text_perplexity_buckets": _q_text_perplexity_buckets,
        "text_exact_substr_trim": _q_text_exact_substr_trim,
        # declared late-r7 BEHIND the window (sf0.001 parity-gate checked;
        # first driver rows land in the r8 window — see _R8_WINDOW)
        "text_langid_confusion": _q_text_langid_confusion,
        "text_split_divergence": _q_text_split_divergence,
        "text_length_quantiles": _q_text_length_quantiles,
        "dedup_minhash_estimate": _q_dedup_minhash_estimate,
        "dedup_clusters_fast": _q_dedup_clusters_fast,
        "events_asof_tolerance": _q_events_asof_tolerance,
        "events_asof_nearest": _q_events_asof_nearest,
        "events_user_similarity": analytics.events_user_similarity,
        "events_sax_candidates": _q_events_sax_candidates,
        "events_sax_recall": _q_events_sax_recall,
        "events_sax_topk": _q_events_sax_topk,
        "events_sax_planted": _q_events_sax_planted,
        "pipeline_domain_quota": _q_pipeline_domain_quota,
        "text_dsir": _q_text_dsir,
        "text_tfidf_top_terms": _q_text_tfidf,
        "text_hll_distinct": _q_text_hll,
        # --- changed r6: pseudo-column order / single-topic fallback ---
        "cdc_pseudo_named": _q_cdc_pseudo_named,
        "cdc_pseudo_columns": _q_cdc_pseudo_columns,
        "kafka_records": _q_kafka_records,
        # --- new r6: TDE GCM, HeaderToField/KeyToValue, LOB plugin ---
        "ora_tde_gcm": _q_ora_tde_gcm,
        "smt_header_to_field": _q_smt_header_to_field,
        "smt_key_to_value": _q_smt_key_to_value,
        "lob_plugin_transform": _q_lob_plugin_transform,
        # --- changed r6: PQ codebook trained once per session ---
        "similarity_pq_topk": _q_sim_pq_topk,
        "similarity_ivfpq_topk": _q_sim_ivfpq,
        # --- re-checks: catalog now reads with explicit footer schemas;
        #     the events ts decode path changed the most ---
        # new r6: topic-conditioned curation (retrieval x gopher x pack)
        "pipeline_curation_v3": _q_pipeline_curation_v3,
        # new r6: URL/domain provenance stats; RAG token-window chunking
        "text_url_domains": _q_text_url_domains,
        "pipeline_doc_chunks": _q_doc_chunks,
        # new r6: packing-quality audit (pack_sequences' audit row)
        "pipeline_pack_efficiency": _q_pack_efficiency,
        # new r6: RefinedWeb-style cross-doc repeated-passage stats
        "dedup_chunk_passages": _q_chunk_dedup,
        "text_c4_lines": _q_text_c4_lines,
        "text_c4_badwords": _q_text_c4_badwords,
        "dedup_url_canonical": _q_dedup_url_canonical,
        "pipeline_token_budget": _q_token_budget,
        "pipeline_token_budget_global": _q_token_budget_global,
        "pipeline_curation_v4": _q_pipeline_curation_v4,
        # new r8: v4 + entropy floor + novelty floor + semantic decontam
        "pipeline_curation_v5": _q_pipeline_curation_v5,
        "similarity_ivfpq_refine": _q_sim_ivfpq_refine,
        "dedup_simhash_recall": _q_dedup_simhash_recall,
        "archived_log_discovery": _q_archived_log_discovery,
        "cdc_committed": _q_cdc_committed,
        "cdc_partial_rollback": _q_cdc_partial_rollback,
        "cdc_commit_order": _q_cdc_commit_order,
        # new r6: the TPC-H completion block — all 22 Q-shapes now
        # declared (q2/q11/q16/q20 over observed supply relationships,
        # q12/q21 over ship-lag; see analytics.py docstrings)
        "q2_min_cost_supplier": analytics.q2_min_cost_supplier,
        "q11_important_stock": analytics.q11_important_stock,
        "q12_shipping_lag": analytics.q12_shipping_lag,
        "q16_parts_supplier_count": analytics.q16_parts_supplier_count,
        "q20_excess_supply": analytics.q20_excess_supply,
        "q21_waiting_suppliers": analytics.q21_waiting_suppliers,
        # new r6: S8 offset-commit parity; hybrid RRF retrieval
        "mvlog_consumption": _q_mvlog_consumption,
        "hybrid_retrieval": _q_hybrid_retrieval,
        "events_sessionize": analytics.events_sessionize,
        "events_asof_join": _q_events_asof,
        "cdc_apply_changes": _q_cdc_apply_changes,
        "cdc_batch_dedup": _q_cdc_batch_dedup,
        "events_hourly": analytics.events_hourly,
        "similarity_pq_recall": _q_sim_pq_recall,
        "similarity_opq_recall": _q_sim_opq_recall,
        "similarity_opq_balanced_recall": _q_sim_opq_balanced_recall,
        "similarity_opq_learned_audit": _q_sim_opq_learned_audit,
        "similarity_hard_negatives": _q_sim_hard_negatives,
        # new r8: MRL prefix-truncation recall audit
        "similarity_matryoshka_recall": _q_sim_matryoshka_recall,
        # new r8: IVF nprobe sweep (recall-vs-cost tuning curve)
        "similarity_nprobe_curve": _q_sim_nprobe_curve,
        # new r8: embedding-space eval-contamination screen
        "similarity_decontamination": _q_sim_decontamination,
        "retrieval_mmr": _q_retrieval_mmr,
        "similarity_norm_outliers": _q_sim_norm_outliers,
        "similarity_hyperplane_lsh": _q_sim_hyperplane_lsh,
        "similarity_hyperplane_recall": _q_sim_hyperplane_recall,
        "similarity_ann_purity": _q_sim_ann_purity,
        "similarity_hyperplane_planted": _q_sim_hyperplane_planted,
        # ================= end of 50-query window =================
        # green at their latest driver check; unchanged this round
        "events_range_join": analytics.events_range_join,
        "events_value_profile": analytics.events_value_profile,
        "events_moving_avg": analytics.events_moving_avg,
        "events_funnel": analytics.events_funnel,
        "events_retention_cohorts": analytics.events_retention_cohorts,
        "events_active_users": analytics.events_active_users,
        "events_transitions": analytics.events_transitions,
        "events_funnel_windowed": analytics.events_funnel_windowed,
        "orders_rfm_segments": analytics.rfm_segments,
        "lineitem_copurchase_lift": analytics.copurchase_lift,
        # cdc_feed's scan is exercised by the five in-window CDC queries
        "cdc_feed": _q_cdc_feed,
        "q1_pricing_summary": analytics.q1_pricing_summary,
        "q3_shipping_priority": analytics.q3_shipping_priority,
        "q5_region_revenue": analytics.q5_region_revenue,
        "dedup_exact_groups": _q_dedup_exact_groups,
        "dedup_minhash_lsh": _q_dedup_minhash_lsh,
        "text_quality": _q_text_quality,
        "multimodal_decode": _q_multimodal_decode,
        "initial_load_union": _q_initial_load,
        "dedup_simhash": _q_dedup_simhash,
        "similarity_bruteforce_topk": _q_sim_bruteforce,
        "similarity_ivf_topk": _q_sim_ivf,
        "similarity_ivf_multiprobe": _q_sim_ivf_mp,
        "similarity_sq8_recall": _q_sim_sq8_recall,
        "similarity_near_dups": _q_sim_near_dups,
        "text_token_stats": _q_text_tokens,
        "text_corpus_datasheet": _q_text_corpus_datasheet,
        "text_boilerplate_strip": _q_text_boilerplate_strip,
        # new late-r7: BPE tokenizer training (first 3 merges) + its
        # corpus-compression audit (marginal-gain identity)
        "text_bpe_merges": _q_text_bpe_merges,
        "text_bpe_compression": _q_text_bpe_compression,
        # new late-r7: shift-resistant passage dedup (content-defined
        # chunk boundaries — the FastCDC trick at token granularity)
        "dedup_content_chunks": _q_dedup_content_chunks,
        # new late-r7: HLL sliding-WAU estimate audited against the
        # exact bounded-explode decomposition (the 100 TB serving path)
        "events_wau_hll": _q_events_wau_hll,
        # new late-r7: runtime Bloom semi-join pruning on the star
        # schema (lossless — oracle runs the plain semi-join)
        "orders_bloom_revenue": _q_orders_bloom_revenue,
        # new late-r7: Harman S-stemmer vocab-reduction audit
        "text_stem_reduction": _q_text_stem_reduction,
        # new late-r7: per-source survivor funnel over the v4 stages
        "pipeline_curation_funnel": _q_pipeline_curation_funnel,
        # new late-r7: SymSpell deletion-neighborhood typo pairing
        "text_typo_pairs": _q_text_typo_pairs,
        # new late-r7: degree-oriented triangle count + clustering coeff
        "graph_triangles": _q_graph_triangles,
        # new late-r7: sequential-Poisson weight-proportional sampling
        "pipeline_weighted_sample": _q_weighted_sample,
        "events_zorder_key": _q_events_zorder_key,
        "text_gopher_quality": _q_text_gopher,
        "text_language_id": _q_text_lang,
        "text_fingerprint": _q_text_fingerprint,
        "text_fingerprint_groups": _q_text_fp_groups,
        "text_repetition": _q_text_repetition,
        "text_unigram_logprob": _q_text_unigram_logprob,
        "text_cms_topk": _q_text_cms,
        "text_bloom_membership": _q_text_bloom,
        "text_bigram_logprob": _q_text_bigram_logprob,
        "text_winnow_candidates": _q_text_winnow,
        "text_dup_span_fraction": _q_text_dup_spans,
        "text_pii_scrub": _q_text_pii_scrub,
        "multimodal_image_ahash": _q_multimodal_image_ahash,
        # new r8: gradient dHash companion
        "multimodal_image_dhash": _q_multimodal_image_dhash,
        "multimodal_image_near_dups": _q_multimodal_image_near_dups,
        "multimodal_audio_ehash": _q_multimodal_audio_ehash,
        # new r8: ZCR spectral companion
        "multimodal_audio_zcr": _q_multimodal_audio_zcr,
        "multimodal_audio_near_dups": _q_multimodal_audio_near_dups,
        "registry_evolution": _q_registry_evolution,
        "promo_revenue": analytics.promo_revenue,
        "cdc_replay_filter": _q_cdc_replay_filter,
        "cdc_txn_stats": _q_cdc_txn_stats,
        "pipeline_pack_sequences": _q_pack_sequences,
        "cdc_wrapped_flat": _q_cdc_wrapped_flat,
        "cdc_wrapped_apply": _q_cdc_wrapped_apply,
        "cdc_replica_asof": _q_cdc_replica_asof,
        "dedup_semantic": _q_dedup_semantic,
        "registry_defaults": _q_registry_defaults,
        "ora_tde_decrypt": _q_ora_tde_decrypt,
        "registry_key_guard": _q_registry_key_guard,
        "smt_sanitize": _q_smt_sanitize,
        "jdbc_autocreate": _q_jdbc_autocreate,
        "cdc_suppress_unchanged": _q_cdc_suppress_unchanged,
        "cdc_restart_scn": _q_cdc_restart_scn,
        "cdc_change_vector": _q_change_vector,
        "cdc_row_fusion": _q_row_fusion,
        "cdc_debezium": _q_cdc_debezium,
        "cdc_scd2_history": _q_cdc_scd2,
        # new r8: as-of snapshot served from the SCD2 interval table,
        # proven against the independent log-replay oracle
        "cdc_scd2_asof": _q_cdc_scd2_asof,
        # new r8: replica<->source consistency reconciliation report
        "cdc_replica_reconcile": _q_cdc_replica_reconcile,
        # new r8: net-effect batch collapse (I+D nets to nothing)
        "cdc_net_effect": _q_cdc_net_effect,
        "cdc_tombstones": _q_cdc_tombstones,
        "lob_reassembly": _q_lob_reassembly,
        "mvlog_batch": _q_mvlog_batch,
        "pipeline_curation": _q_pipeline_curation,
        "top_orders": analytics.top_orders,
        "customer_order_rank": analytics.customer_order_rank,
        "customers_set_ops": analytics.customers_set_ops,
        "orders_rollup": analytics.orders_rollup,
        # new r8: explicit GROUPING SETS + GROUPING() markers
        "orders_grouping_sets": analytics.orders_grouping_sets,
        # new r8: percent_rank / cume_dist / ntile window breadth
        "orders_rank_report": analytics.orders_rank_report,
        "orders_cube": analytics.orders_cube,
        "orders_pivot": analytics.orders_pivot,
        "q6_forecast_revenue": analytics.q6_forecast_revenue,
        "orders_by_year": analytics.orders_by_year,
        "lineitem_distinct_stats": analytics.lineitem_distinct_stats,
        "supplier_min_acctbal": analytics.supplier_min_acctbal,
        "events_topk_per_type": analytics.events_topk_per_type,
        "big_orders_having": analytics.big_orders_having,
        "conditional_agg": analytics.conditional_agg,
        "customers_without_orders": analytics.customers_without_orders,
        "orders_above_cust_avg": analytics.orders_above_cust_avg,
        "events_value_histogram": analytics.events_value_histogram,
        "customers_with_orders_semi": analytics.customers_with_orders_semi,
        "events_running_total": analytics.events_running_total,
        "events_type_stats": analytics.events_type_stats,
        "dedup_exact_keep": _q_dedup_exact_keep,
        # r8: batch-equivalence driver row for the streaming dedup gate
        "streaming_dedup_gate": _q_streaming_dedup_gate,
        # new r9 (r8 verdict item 4): the remaining batch-parity
        # streaming surfaces promoted the same way — stream-stream
        # interval join and gap-session fold as 3-batch folds
        "streaming_interval_join": _q_streaming_interval_join,
        "streaming_session_fold": _q_streaming_session_fold,
        # new r8: sparse TF-IDF cosine pairing (df-bounded inverted index)
        "dedup_tfidf_cosine": _q_dedup_tfidf_cosine,
        # new r8: asymmetric containment (sub-document duplication)
        "dedup_containment": _q_dedup_containment,
        # new r8: cross-method planted-twin capture matrix
        "dedup_method_matrix": _q_dedup_method_matrix,
        # new r8: quality-ranked canonical (distinct-token key)
        "dedup_canonical_quality": _q_dedup_canonical_quality,
        # new r8: Church-Hanks PMI collocation top-k
        "text_pmi_collocations": _q_text_pmi_collocations,
        # new r8: per-doc novel-ngram fraction (memorization axis)
        "text_ngram_novelty": _q_text_ngram_novelty,
        # new r8: per-source exact/fingerprint duplication dashboard
        "dedup_rate_by_source": _q_dedup_rate_by_source,
        # new r8: k-core peeling over the trade graph (fixed 4 rounds)
        "graph_kcore": _q_graph_kcore,
        # new r8: last-touch attribution (single-exchange carry-forward)
        "events_attribution": analytics.events_attribution,
        # new r8: Zipf-slope / hapax vocabulary-health audit
        "text_zipf_audit": _q_text_zipf_audit,
        # new r8: stupid-backoff scoring vs a count-pruned bigram LM
        "text_stupid_backoff": _q_text_stupid_backoff,
        # new r8: char-entropy junk gate (compression-ratio proxy)
        "text_char_entropy": _q_text_char_entropy,
        # new r8: strong-PMI co-occurrence topic clusters (vocab CC)
        "text_topic_clusters": _q_text_topic_clusters,
        # new r8: per-type z-score outlier QC gate
        "events_zscore_outliers": analytics.events_zscore_outliers,
        # new r8: robust MAD outliers (masking-resistant companion)
        "events_mad_outliers": analytics.events_mad_outliers,
        # new r8: mergeable-histogram quantile sketch + exact-rank audit
        "events_quantile_sketch": analytics.events_quantile_sketch,
        # new r8: cohort LTV curve (revenue companion to retention)
        "events_cohort_ltv": analytics.events_cohort_ltv,
        # new r8: revenue concentration (top-p% shares + exact Gini)
        "orders_pareto": analytics.orders_pareto,
        # new r8: funnel time-to-convert exact quantiles
        "events_time_to_convert": analytics.events_time_to_convert,
        "dedup_ngram_jaccard": _q_dedup_jaccard,
        "dedup_minhash_signatures": _q_dedup_minhash_signatures,
        "dedup_lsh_incremental": _q_dedup_lsh_incremental,
        "dedup_decisions": _q_dedup_decisions,
        "dedup_clusters": _q_dedup_clusters,
        "dedup_canonical": _q_dedup_canonical,
        "pipeline_sample": _q_pipeline_sample,
        "pipeline_quota_sample": _q_quota_sample,
        # new r8: deterministic A/B bucketing + SRM chi-square audit
        "pipeline_ab_assign": _q_ab_assign,
        "pipeline_temperature_mix": _q_temperature_mix,
        "pipeline_split": _q_pipeline_split,
        "pipeline_split_leakage": _q_pipeline_split_leakage,
        "pipeline_mixture_rebalance": _q_pipeline_mixture_rebalance,
        "text_vocab_coverage": _q_text_vocab_coverage,
        "text_top_ngrams": _q_text_top_ngrams,
        "text_contamination": _q_text_contamination,
        "similarity_cell_centroids": _q_sim_centroids,
        "similarity_kmeans_cells": _q_sim_kmeans,
        "graph_pagerank": _q_graph_pagerank,
        "cdc_op_filter": _q_cdc_op_filter,
        "cdc_scn_window": _q_cdc_scn_window,
        "cdc_table_include": _q_cdc_table_include,
        "cdc_container_filter": _q_cdc_container_filter,
        "cdc_single_mode": _q_cdc_single_mode,
        "cdc_completeness_rejects": _q_cdc_completeness_rejects,
        "cdc_delete_all_cols": _q_cdc_delete_all_cols,
        "cdc_chained_fusion": _q_chained_fusion,
        "cdc_chained_incomplete": _q_chained_incomplete,
        "cdc_multirow_expansion": _q_multirow_expansion,
        "cdc_direct_load": _q_direct_load,
        "lob_inflate": _q_lob_inflate,
        "ora_number_decode": _q_ora_number_decode,
        "ora_number_roundtrip": _q_ora_number_roundtrip,
        "sql_redo_parse": _q_sql_redo_parse,
        "ora_binary_fp_decode": _q_ora_binary_fp_decode,
        "ora_charset_decode": _q_ora_charset_decode,
        "ora_vector_decode": _q_ora_vector_decode,
        "ora_tstz_decode": _q_ora_tstz_decode,
        # r8: P5 interval decode promoted from pytest-only to a driver row
        "ora_interval_decode": _q_ora_interval_decode,
        "ora_datetime_decode": _q_ora_datetime_decode,
        "ora_charset_id_decode": _q_ora_charset_id_decode,
        "oson_decode": _q_oson_decode,
        "ora_rowid_decode": _q_ora_rowid_decode,
        "multimodal_features": _q_multimodal_features,
        "multimodal_frame_plan": _q_multimodal_frame_plan,
    }
    rest = [k for k in q if k not in set(_R13_WINDOW)]
    return {k: _shipping(q[k]) for k in list(_R13_WINDOW) + rest}


# ROUND-13 window (the 50 entries the driver's gate checks this round).
# r13 is OPTIMIZATION round 2 of 2.  The round's product diff is the
# completion of the wave-3 LocalRelation pattern (r12 verdict item 3,
# extended): every remaining driver-literal table — the sampling
# target/arm tables in operators/sampling.py AND the 13 decoder/registry
# fixture tables built inline in this file — now builds as a
# LocalRelation instead of a Python-RDD Scan ExistingRDD (guide §4:
# zero Python-worker stages for rows that never needed to cross the
# boundary; warm min-of-3 A/B: ora_tde_decrypt 0.461->0.135 s,
# ora_tde_gcm 0.380->0.116 s, registry_evolution 0.511->0.239 s,
# pipeline_mixture_rebalance 1.250->0.928 s, pipeline_ab_assign
# 0.716->0.383 s).  That changed the PLAN of exactly 16 declared
# queries (the plan-fingerprint gate's CHANGED set), and the window
# discipline (r9/r10 verdicts) makes every changed plan re-enter, so:
#   (a) the 16 changed-this-round queries (each parity-checked vs the
#       DuckDB oracle at sf0.001 + sf0.01 before commit — results
#       identical by construction);
#   (b) the FULL displaced r6 re-check queue (r12 verdict item 1):
#       text_hll_distinct (queue head) + the 23 remaining r6 rows
#       (ora_tde_gcm, the 24th, is already in via its plan change);
#   (c) the 11 stalest r7-cohort rows (alphabetical; ora_number_decode,
#       also r7, enters via its plan change).
# After this window ZERO rows are older than r7 and the documented
# residual queue (oldest first, all green in the r12 three-scale
# sweeps) is the remaining r7 cohort — cdc_restart_scn,
# cdc_row_fusion,
# cdc_scd2_history, cdc_scn_window, cdc_single_mode,
# cdc_suppress_unchanged, cdc_tombstones, dedup_url_canonical,
# events_asof_join, events_hourly, events_sessionize,
# initial_load_union, lob_inflate, lob_reassembly, multimodal_decode,
# mvlog_batch, ora_number_roundtrip, pipeline_curation,
# pipeline_token_budget_global, text_c4_badwords, text_url_domains —
# then the r8 cohort continues the ~3-round re-check cadence.
_R13_WINDOW = [
    # (a) the 16 changed-this-round plans (LocalRelation re-entries)
    "pipeline_mixture_rebalance",
    "pipeline_ab_assign",
    "ora_tde_decrypt",
    "ora_tde_gcm",
    "registry_evolution",
    "registry_key_guard",
    "jdbc_autocreate",
    "ora_number_decode",
    "ora_interval_decode",
    "ora_binary_fp_decode",
    "ora_datetime_decode",
    "ora_tstz_decode",
    "ora_charset_decode",
    "ora_charset_id_decode",
    "oson_decode",
    "ora_vector_decode",
    # (b) the displaced r6 re-check queue, burned down in full
    "text_hll_distinct",
    "archived_log_discovery",
    "cdc_commit_order",
    "cdc_committed",
    "cdc_partial_rollback",
    "cdc_pseudo_columns",
    "cdc_pseudo_named",
    "dedup_chunk_passages",
    "kafka_records",
    "lob_plugin_transform",
    "mvlog_consumption",
    "pipeline_doc_chunks",
    "pipeline_pack_efficiency",
    "pipeline_token_budget",
    "q2_min_cost_supplier",
    "q11_important_stock",
    "q12_shipping_lag",
    "q16_parts_supplier_count",
    "q20_excess_supply",
    "q21_waiting_suppliers",
    "smt_header_to_field",
    "smt_key_to_value",
    "text_c4_lines",
    # (c) the stalest r7-cohort rows (alphabetical)
    "cdc_batch_dedup",
    "cdc_chained_fusion",
    "cdc_chained_incomplete",
    "cdc_change_vector",
    "cdc_completeness_rejects",
    "cdc_container_filter",
    "cdc_debezium",
    "cdc_delete_all_cols",
    "cdc_direct_load",
    "cdc_multirow_expansion",
    "cdc_op_filter",
]


# ---------------------------------------------------------------------------
# DuckDB oracle SQL
# ---------------------------------------------------------------------------

_FEED_COLS_SQL = (
    "scn, ssn, rba, xid, op, rollback, owner, table_name, row_id, pk, "
    "totalprice, status, before_totalprice, before_status, con_id, changed_cols"
)

# committed DML (partial-rollback pairs cancelled greedy-LIFO backwards,
# rolled-back/open txns dropped) — reused by several oracles.  Mirrors
# cdc.partial_rollback_filter's bracket-matching closed form: within a
# pair key (xid,row_id,scn) ordered by ssn, rb_run = running (markers −
# originals); an original is cancelled iff a later event's rb_run exceeds
# its own (a marker's backward scan reaches it).  Unpaired markers —
# including marker-before-original — cancel nothing (reference
# OraCdcTransactionArrayList.java:82-107).
_RB_RESOLVED = """
rb_d AS (
  SELECT c.*, SUM(CASE WHEN rollback THEN 1 ELSE -1 END) OVER (
      PARTITION BY xid, row_id, scn ORDER BY ssn, rollback
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rb_run
  FROM changes c WHERE c.op IN (1,2,3)
),
rb_resolved AS (
  SELECT *, MAX(rb_run) OVER (
      PARTITION BY xid, row_id, scn ORDER BY ssn, rollback
      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS rb_mx
  FROM rb_d
)
"""

_COMMITTED = (
    _RB_RESOLVED
    + f""",
committed AS (
  SELECT {_FEED_COLS_SQL}
  FROM rb_resolved d
  WHERE NOT rollback AND (rb_mx IS NULL OR rb_mx <= rb_run)
    AND EXISTS (SELECT 1 FROM commits cm WHERE cm.xid = d.xid)
)
"""
)

_STAMPED = (
    _COMMITTED
    + """,
stamped AS (
  SELECT c.*, m.commit_scn FROM committed c JOIN commits m USING (xid)
)
"""
)

_RANKED = (
    _STAMPED
    + """,
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY owner, table_name, pk
      ORDER BY commit_scn DESC, scn DESC, ssn DESC) AS rn
  FROM stamped
)
"""
)

_TOKS = """
toks AS (
  SELECT doc_id, text, lang, source, n_chars,
         list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS w
  FROM documents
)
"""

_SHINGLES = (
    _TOKS
    + """,
sh AS (
  SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS shingle
  FROM toks, UNNEST(generate_series(1, len(w)-4)) AS t(i)
  WHERE len(w) >= 5
)
"""
)

_QUANT = """
qv AS (
  SELECT vec_id, label, i,
         CAST(round(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS q
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
)
"""

_DEC = "DECIMAL(12,2)"
_REV = f"CAST(l_extendedprice AS {_DEC}) * (1 - CAST(l_discount AS {_DEC}))"


def oracle_sql() -> dict[str, str]:
    cte = CHANGE_FEED_CTE
    sql: dict[str, str] = {}

    from oracdc_spark.functions.decoders import ROWID_ALPHABET as _RA

    def _enc_sql(v: str, n: int) -> str:
        return " || ".join(
            f"substr('{_RA}', CAST(({v} // {64**k}) % 64 AS INT) + 1, 1)"
            for k in reversed(range(n))
        )

    def _field_sql(start: int, n: int) -> str:
        expr = "0"
        for k in range(n):
            expr = f"({expr} * 64 + (instr('{_RA}', substr(row_id, {start + k}, 1)) - 1))"
        return expr

    sql["ora_rowid_decode"] = f"""
WITH base AS (
  SELECT o_orderkey AS pk,
         o_orderkey % 262144 AS obj,
         o_orderkey % 61 + 1 AS fil,
         o_orderkey * 7 % 1000000 AS blk,
         o_orderkey % 4096 AS rw
  FROM orders
),
rid AS (
  SELECT pk,
         {_enc_sql('obj', 6)} || {_enc_sql('fil', 3)}
         || {_enc_sql('blk', 6)} || {_enc_sql('rw', 3)} AS row_id
  FROM base
)
SELECT pk, row_id,
       CAST({_field_sql(1, 6)} AS BIGINT) AS data_object_id,
       CAST({_field_sql(7, 3)} AS BIGINT) AS file_no,
       CAST({_field_sql(10, 6)} AS BIGINT) AS block_no,
       CAST({_field_sql(16, 3)} AS BIGINT) AS row_no
FROM rid
"""

    sql["cdc_feed"] = cte + "SELECT * FROM all_changes"
    # S4 archived-log discovery (V$ARCHIVED_LOG overlap scan,
    # OraDictSqlTexts.java:425-478): sequence = fixed SCN span per redo
    # thread (RBA prefix), NEXT_CHANGE# = max(scn)+1 per Oracle convention
    sql["archived_log_discovery"] = cte + """,
cat AS (
  SELECT CAST(string_split(rba, '.')[1] AS BIGINT) AS thread,
         CAST(scn // 10000 AS BIGINT) AS sequence,
         CAST(MIN(scn) AS BIGINT) AS first_change,
         CAST(MAX(scn) + 1 AS BIGINT) AS next_change,
         CAST(COUNT(*) AS BIGINT) AS n_records
  FROM all_changes GROUP BY 1, 2
)
SELECT thread, sequence, first_change, next_change, n_records
FROM cat WHERE first_change < 100000 AND next_change > 20000
ORDER BY thread, sequence
"""
    sql["cdc_op_filter"] = cte + "SELECT * FROM all_changes WHERE op IN (1,2,3)"
    sql["cdc_scn_window"] = (
        cte + f"SELECT * FROM all_changes WHERE scn BETWEEN {SCN_LO} AND {SCN_HI}"
    )
    sql["cdc_table_include"] = (
        cte + "SELECT * FROM all_changes WHERE " + table_list_sql(TABLE_LIST)
    )
    sql["cdc_container_filter"] = cte + (
        "SELECT * FROM all_changes WHERE con_id IN (3)"
    )
    sql["cdc_partial_rollback"] = cte + ", " + _RB_RESOLVED + (
        f"""
SELECT {_FEED_COLS_SQL} FROM rb_resolved
WHERE NOT rollback AND (rb_mx IS NULL OR rb_mx <= rb_run)"""
    )
    sql["cdc_committed"] = cte + ", " + _COMMITTED + "SELECT * FROM committed"
    sql["cdc_commit_order"] = cte + ", " + _STAMPED + "SELECT * FROM stamped"
    sql["cdc_replay_filter"] = cte + ", " + _STAMPED + (
        f"SELECT * FROM stamped WHERE commit_scn > {REPLAY_COMMIT_SCN} "
        f"OR (commit_scn = {REPLAY_COMMIT_SCN} AND scn > {REPLAY_SCN}) "
        f"OR (commit_scn = {REPLAY_COMMIT_SCN} AND scn = {REPLAY_SCN} AND ssn > {REPLAY_SSN})"
    )
    sql["cdc_txn_stats"] = cte + (
        "SELECT xid, CAST(COUNT(*) AS BIGINT) AS n_stmts, MIN(scn) AS first_scn, "
        "MAX(scn) AS last_scn, CAST(COUNT(DISTINCT row_id) AS BIGINT) AS n_rows "
        "FROM changes WHERE op IN (1,2,3) AND NOT rollback GROUP BY xid"
    )
    sql["cdc_restart_scn"] = cte + (
        "SELECT MIN(scn) AS restart_scn FROM changes c WHERE c.op IN (1,2,3) "
        "AND NOT EXISTS (SELECT 1 FROM changes t WHERE t.op IN (7,36) AND t.xid = c.xid)"
    )
    sql["cdc_batch_dedup"] = cte + ", " + _RANKED + (
        f"SELECT {_FEED_COLS_SQL}, commit_scn FROM ranked WHERE rn = 1"
    )
    sql["cdc_apply_changes"] = cte + ", " + _RANKED + (
        "SELECT owner, table_name, pk, totalprice, status FROM ranked "
        "WHERE rn = 1 AND op <> 2"
    )
    sql["cdc_scd2_history"] = cte + ", " + _STAMPED + """
SELECT owner, table_name, pk,
       CAST(ROW_NUMBER() OVER w AS BIGINT) AS version,
       commit_scn AS valid_from_scn,
       LEAD(commit_scn) OVER w AS valid_to_scn,
       CASE WHEN op = 2 THEN 1 ELSE 0 END AS is_deleted,
       CASE WHEN LEAD(commit_scn) OVER w IS NULL AND op <> 2 THEN 1 ELSE 0 END
           AS is_current,
       totalprice, status
FROM stamped
WINDOW w AS (PARTITION BY owner, table_name, pk ORDER BY commit_scn, scn, ssn)
"""
    sql["cdc_net_effect"] = cte + ", " + _STAMPED + """,
m AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY owner, table_name, pk
                            ORDER BY commit_scn DESC, scn DESC, ssn DESC) AS rn,
         FIRST_VALUE(op) OVER w AS f,
         LAST_VALUE(op) OVER (PARTITION BY owner, table_name, pk
                              ORDER BY commit_scn, scn, ssn
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND UNBOUNDED FOLLOWING) AS l
  FROM stamped
  WINDOW w AS (PARTITION BY owner, table_name, pk ORDER BY commit_scn, scn, ssn)
)
SELECT owner, table_name, pk,
       CAST(CASE WHEN f = 1 THEN 1 WHEN l = 2 THEN 2 ELSE 3 END AS INT) AS net_op,
       totalprice, status
FROM m WHERE rn = 1 AND NOT (f = 1 AND l = 2)
"""
    sql["cdc_replica_reconcile"] = cte + ", " + _RANKED + """,
rep AS (SELECT pk, totalprice, status FROM ranked
        WHERE rn = 1 AND op <> 2 AND table_name = 'ORDERS'),
src AS (SELECT o_orderkey AS pk, o_totalprice AS totalprice,
               o_orderstatus AS status FROM orders)
SELECT diff_class, CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(MIN(pk) AS BIGINT) AS min_pk, CAST(MAX(pk) AS BIGINT) AS max_pk
FROM (
  SELECT COALESCE(r.pk, s.pk) AS pk,
         CASE WHEN s.pk IS NULL THEN 'extra_in_replica'
              WHEN r.pk IS NULL THEN 'missing_in_replica'
              WHEN r.totalprice IS NOT DISTINCT FROM s.totalprice
                   AND r.status IS NOT DISTINCT FROM s.status THEN 'match'
              ELSE 'value_mismatch' END AS diff_class
  FROM rep r FULL OUTER JOIN src s ON r.pk = s.pk
) GROUP BY diff_class
"""
    # the SCD2 interval lookup is proven against the INDEPENDENT log
    # replay (same text as cdc_replica_asof): hash match == the interval
    # algebra and the replay agree at the same cut
    sql["cdc_scd2_asof"] = cte + ", " + _STAMPED + """,
upto AS (SELECT * FROM stamped
         WHERE commit_scn <= CAST(FLOOR(
             (SELECT MIN(commit_scn) FROM stamped)
             + 0.5 * ((SELECT MAX(commit_scn) FROM stamped)
                      - (SELECT MIN(commit_scn) FROM stamped))) AS BIGINT)),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY owner, table_name, pk
      ORDER BY commit_scn DESC, scn DESC, ssn DESC) AS rn
  FROM upto
)
SELECT owner, table_name, pk, totalprice, status FROM ranked
WHERE rn = 1 AND op <> 2
"""
    sql["cdc_replica_asof"] = cte + ", " + _STAMPED + """,
upto AS (SELECT * FROM stamped
         WHERE commit_scn <= CAST(FLOOR(
             (SELECT MIN(commit_scn) FROM stamped)
             + 0.5 * ((SELECT MAX(commit_scn) FROM stamped)
                      - (SELECT MIN(commit_scn) FROM stamped))) AS BIGINT)),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY owner, table_name, pk
      ORDER BY commit_scn DESC, scn DESC, ssn DESC) AS rn
  FROM upto
)
SELECT owner, table_name, pk, totalprice, status FROM ranked
WHERE rn = 1 AND op <> 2
"""
    sql["cdc_suppress_unchanged"] = cte + (
        "SELECT * FROM changes WHERE NOT (op = 3 AND NOT rollback "
        "AND totalprice IS NOT DISTINCT FROM before_totalprice "
        "AND status IS NOT DISTINCT FROM before_status)"
    )
    sql["cdc_debezium"] = cte + ", " + _STAMPED + (
        "SELECT CASE op WHEN 1 THEN 'c' WHEN 3 THEN 'u' WHEN 2 THEN 'd' END AS op_char, "
        "owner, table_name, pk, before_totalprice, before_status, "
        "CASE WHEN op <> 2 THEN totalprice END AS after_totalprice, "
        "CASE WHEN op <> 2 THEN status END AS after_status, "
        "scn, xid, commit_scn FROM stamped"
    )
    sql["cdc_tombstones"] = cte + ", " + _STAMPED + (
        "SELECT owner, table_name, pk AS key_pk, "
        "CAST(NULL AS DOUBLE) AS value_totalprice, "
        "CAST(NULL AS VARCHAR) AS value_status, "
        "'d' AS header_op, commit_scn, scn FROM stamped WHERE op = 2"
    )
    sql["cdc_single_mode"] = cte + ", " + _STAMPED + (
        "SELECT pk, totalprice, status, "
        "CASE op WHEN 1 THEN 'c' WHEN 3 THEN 'u' WHEN 2 THEN 'd' END AS ora_op, "
        "scn AS ora_row_scn, commit_scn AS ora_commit_scn, xid AS ora_xid, "
        "owner, table_name FROM stamped"
    )

    sql["cdc_pseudo_columns"] = cte + ", " + _STAMPED + (
        "SELECT s.*, scn AS ORA_ROW_SCN, commit_scn AS ORA_COMMIT_SCN, "
        "xid AS ORA_XID, "
        "CASE op WHEN 1 THEN 'c' WHEN 3 THEN 'u' ELSE 'd' END AS ORA_OP "
        "FROM stamped s"
    )
    # config-named pseudocolumns (connector a2.pseudocolumn.* surface,
    # KafkaPseudoColumnsProcessor.java): configured field names,
    # reference opName() strings, audit attribute as typed NULL
    sql["cdc_pseudo_named"] = cte + ", " + _STAMPED + (
        "SELECT scn, ssn, xid, scn AS SRC_SCN, commit_scn AS COMMIT_SCN_F, "
        "CASE op WHEN 1 THEN 'INSERT' WHEN 3 THEN 'UPDATE' WHEN 2 THEN 'DELETE' "
        "ELSE 'XML DOC BEGIN' END AS OP_NAME, "
        "xid AS TXN_ID, CAST(NULL AS VARCHAR) AS AUDIT_USER "
        "FROM stamped"
    )
    # §2.8 HeaderToFieldConverter: op header through a PARTIAL value map
    # (c:I, u:U; d passes through verbatim)
    sql["smt_header_to_field"] = cte + ", " + _STAMPED + (
        "SELECT scn, ssn, xid, "
        "CASE op WHEN 1 THEN 'c' WHEN 3 THEN 'u' ELSE 'd' END AS hdr_op, "
        "CASE op WHEN 1 THEN 'I' WHEN 3 THEN 'U' ELSE 'd' END AS _oracdcp "
        "FROM stamped"
    )
    # §2.8 KeyToValueConverter: key fields copied into the value schema
    # under the configured prefix
    sql["smt_key_to_value"] = cte + ", " + _STAMPED + (
        "SELECT owner, table_name, pk, totalprice, scn, ssn, "
        "pk AS _key_pk, table_name AS _key_table_name FROM stamped"
    )
    # §2.8 LOB transformation plugin: reassembly must round-trip the
    # original text, so the oracle applies the plugin to documents.text
    sql["lob_plugin_transform"] = (
        "SELECT doc_id AS lob_id, 'TXT:' || upper(substr(text, 1, 24)) AS value "
        "FROM documents"
    )
    tp_pres = "(op = 1 OR (op = 3 AND contains(changed_cols, 'TOTALPRICE')))"
    st_pres = "(op = 1 OR (op = 3 AND contains(changed_cols, 'STATUS')))"
    sql["cdc_wrapped_flat"] = cte + ", " + _STAMPED + (
        f"SELECT owner, table_name, pk, "
        f"{tp_pres} AS totalprice_present, "
        f"CASE WHEN {tp_pres} THEN totalprice END AS totalprice_v, "
        f"{st_pres} AS status_present, "
        f"CASE WHEN {st_pres} THEN status END AS status_v, "
        f"commit_scn, scn FROM stamped"
    )
    sql["cdc_completeness_rejects"] = cte + (
        "SELECT scn, ssn, xid, op, pk, changed_cols FROM changes "
        "WHERE op IN (1,3) AND NOT rollback "
        "AND NOT (contains(changed_cols, 'TOTALPRICE') "
        "AND contains(changed_cols, 'STATUS'))"
    )
    sql["cdc_wrapped_apply"] = cte + ", " + _STAMPED + (
        f""",
latest AS (
  SELECT owner, table_name, pk FROM (
    SELECT owner, table_name, pk, op, ROW_NUMBER() OVER (
        PARTITION BY owner, table_name, pk
        ORDER BY commit_scn DESC, scn DESC, ssn DESC) AS rn
    FROM stamped) t
  WHERE rn = 1 AND op <> 2
),
tp AS (
  SELECT owner, table_name, pk, totalprice FROM (
    SELECT owner, table_name, pk, totalprice, ROW_NUMBER() OVER (
        PARTITION BY owner, table_name, pk
        ORDER BY commit_scn DESC, scn DESC, ssn DESC) AS vrn
    FROM stamped WHERE {tp_pres}) t
  WHERE vrn = 1
),
st AS (
  SELECT owner, table_name, pk, status FROM (
    SELECT owner, table_name, pk, status, ROW_NUMBER() OVER (
        PARTITION BY owner, table_name, pk
        ORDER BY commit_scn DESC, scn DESC, ssn DESC) AS vrn
    FROM stamped WHERE {st_pres}) t
  WHERE vrn = 1
)
SELECT l.owner, l.table_name, l.pk, tp.totalprice, st.status
FROM latest l
LEFT JOIN tp USING (owner, table_name, pk)
LEFT JOIN st USING (owner, table_name, pk)"""
    )
    sql["cdc_delete_all_cols"] = cte + ", " + _STAMPED + (
        "SELECT owner, table_name, pk AS key_pk, "
        "before_totalprice AS value_totalprice, "
        "before_status AS value_status, "
        "'d' AS header_op, commit_scn, scn FROM stamped WHERE op = 2"
    )
    sql["pipeline_curation"] = """
WITH toks AS (
  SELECT doc_id, lang, text,
         list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS w
  FROM documents
),
kept AS (
  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens
  FROM toks
  WHERE len(w) >= 20
    AND CAST(len(list_filter(w, x -> list_contains(['the','a','of','and','to','in','is','on','for','with'], x))) AS DOUBLE) / len(w) <= 0.6
),
deduped AS (
  SELECT doc_id, lang FROM documents
  WHERE doc_id IN (SELECT MIN(doc_id) FROM documents GROUP BY md5(text))
)
SELECT k.doc_id, k.n_tokens, d.lang, e.label
FROM kept k
JOIN deduped d ON k.doc_id = d.doc_id
LEFT JOIN embeddings e ON k.doc_id = e.vec_id
"""
    sql["cdc_row_fusion"] = fusion.ROW_FUSION_SQL
    sql["cdc_change_vector"] = change_vector.CHANGE_VECTOR_SQL
    sql["cdc_chained_fusion"] = fusion.CHAINED_FUSION_SQL
    sql["cdc_chained_incomplete"] = fusion.CHAINED_INCOMPLETE_SQL
    sql["cdc_multirow_expansion"] = fusion.MULTIROW_SQL
    sql["cdc_direct_load"] = fusion.DIRECT_LOAD_SQL
    sql["lob_reassembly"] = lob.LOB_ROUNDTRIP_SQL.format(chunk=lob.CHUNK)
    sql["lob_inflate"] = lob.LOB_INFLATE_SQL.format(chunk=lob.CHUNK)
    sql["ora_number_decode"] = " UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS id, CAST({v!r} AS DOUBLE) AS val"
        for i, _, v in _NUMBER_GOLDENS
    )
    sql["ora_number_roundtrip"] = (
        "SELECT o_orderkey AS id, CAST(o_totalprice AS DOUBLE) AS val FROM orders"
    )
    sql["sql_redo_parse"] = (
        "SELECT o_orderkey AS id, o_orderkey AS pk, "
        "CAST(o_totalprice AS DOUBLE) AS totalprice, "
        "o_orderstatus AS status, "
        "upper(to_hex(o_orderkey)) AS rawkey, "
        "CAST(NULL AS VARCHAR) AS note "
        "FROM orders"
    )
    sql["ora_interval_decode"] = " UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS id, {k!r} AS kind, {s!r} AS s"
        for i, k, _, s in _INTERVAL_GOLDENS
    )
    sql["ora_binary_fp_decode"] = (
        "SELECT CAST(1 AS BIGINT) AS id, "
        "CAST(1.7320507764816284 AS DOUBLE) AS bf_val, "
        "CAST(1.7320508075688772 AS DOUBLE) AS bd_val"
    )
    sql["ora_charset_decode"] = " UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS id, '{s}' AS s" for i, _, s in _CHARSET_GOLDENS
    )
    sql["ora_tde_decrypt"] = " UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS id, '{p}' AS s"
        for i, _, _, _, _, _, p in _TDE_GOLDENS
    )
    sql["ora_tde_gcm"] = " UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS id, '{p}' AS s"
        for i, _, _, _, _, _, p in _TDE_GCM_GOLDENS
    )
    sql["ora_charset_id_decode"] = " UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS id, '{s}' AS s"
        for i, _, _, s in _CHARSET_ID_GOLDENS
    )
    sql["oson_decode"] = (
        f"SELECT CAST(1 AS BIGINT) AS id, '{_OSON_GOLDEN_JSON}' AS s"
    )
    sql["ora_datetime_decode"] = " UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS id, '{s}' AS s"
        for i, _, _, s in _DATETIME_GOLDENS
    )
    sql["ora_tstz_decode"] = " UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS id, '{s}' AS s"
        for i, _, s in _TSTZ_GOLDENS + _TSLTZ_GOLDENS
    )
    sql["ora_vector_decode"] = " UNION ALL ".join(
        f"SELECT CAST(1 AS BIGINT) AS id, CAST({i} AS BIGINT) AS i, "
        f"CAST({v!r} AS DOUBLE) AS val"
        for i, v in enumerate(_VECTOR_F32_VALS)
    )
    sql["kafka_records"] = cte + ", " + _STAMPED + (
        "SELECT owner || '_' || table_name AS topic, "
        "'{\"pk\":' || CAST(pk AS VARCHAR) || '}' AS key_json, "
        "CASE WHEN op <> 2 THEN "
        "'{\"pk\":' || CAST(pk AS VARCHAR) || ',\"totalprice\":' || "
        "CAST(totalprice AS VARCHAR) || ',\"status\":\"' || status || '\"}' "
        "END AS value_json, "
        "CASE op WHEN 1 THEN 'c' WHEN 3 THEN 'u' ELSE 'd' END AS header_op, "
        "commit_scn, scn, ssn FROM stamped"
    )
    sql["multimodal_features"] = """
SELECT doc_id AS media_id,
       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
       CAST(strlen(text) AS BIGINT) AS n_bytes,
       sha256(text) AS digest,
       CASE WHEN doc_id % 3 = 0
            THEN CAST(CAST('0x' || substr(sha256(text), 1, 4) AS INT) % 1920 + 1 AS INT)
       END AS width,
       CASE WHEN doc_id % 3 = 0
            THEN CAST(CAST('0x' || substr(sha256(text), 5, 4) AS INT) % 1080 + 1 AS INT)
       END AS height,
       'v1-stub' AS feature_version
FROM documents
"""
    sql["multimodal_frame_plan"] = """
WITH vids AS (
  SELECT doc_id AS media_id,
         GREATEST(CAST(floor(length(text)/100.0) AS INT) - 1, 0) AS max_frame
  FROM documents WHERE doc_id % 3 = 2
)
SELECT media_id, CAST(i AS BIGINT) AS frame_idx
FROM vids, UNNEST(generate_series(0, max_frame, 10)) AS t(i)
"""
    sql["multimodal_image_ahash"] = """
WITH m AS (SELECT doc_id AS media_id FROM documents WHERE doc_id % 3 = 0),
dims AS (
  SELECT media_id, CAST((media_id % 16) + 1 AS BIGINT) AS w,
         CAST((media_id % 8) + 1 AS BIGINT) AS h
  FROM m
),
px AS (
  SELECT media_id,
         ( ((media_id*7 + (3*(y*w+x)+0)*13) % 256)
         + ((media_id*7 + (3*(y*w+x)+1)*13) % 256)
         + ((media_id*7 + (3*(y*w+x)+2)*13) % 256) ) // 3 AS gray,
         (x * 4) // w AS bx, (y * 4) // h AS by
  FROM dims,
       UNNEST(generate_series(0, w - 1)) AS tx(x),
       UNNEST(generate_series(0, h - 1)) AS ty(y)
),
blocks AS (
  SELECT media_id, bx, by, SUM(gray) // COUNT(*) AS bv
  FROM px GROUP BY media_id, bx, by
),
means AS (SELECT media_id, SUM(bv) // COUNT(*) AS mv FROM blocks GROUP BY media_id),
hashes AS (
  SELECT b.media_id,
         CAST(SUM(CASE WHEN bv > mv
                       THEN CAST(1 AS BIGINT) << CAST(by*4 + bx AS INT)
                       ELSE 0 END) AS BIGINT) AS ahash
  FROM blocks b JOIN means USING (media_id) GROUP BY b.media_id
)
SELECT media_id, ahash,
       CAST(COUNT(*) OVER (PARTITION BY ahash) AS BIGINT) AS n_same_hash
FROM hashes
"""
    # dHash: same deterministic pixel generator, 5-column block frame,
    # one bit per horizontal neighbor comparison; absent blocks read 0
    # via the generated full frame + COALESCE (mirrors numpy zeros)
    sql["multimodal_image_dhash"] = """
WITH m AS (SELECT doc_id AS media_id FROM documents WHERE doc_id % 3 = 0),
dims AS (
  SELECT media_id, CAST((media_id % 16) + 1 AS BIGINT) AS w,
         CAST((media_id % 8) + 1 AS BIGINT) AS h
  FROM m
),
px AS (
  SELECT media_id,
         ( ((media_id*7 + (3*(y*w+x)+0)*13) % 256)
         + ((media_id*7 + (3*(y*w+x)+1)*13) % 256)
         + ((media_id*7 + (3*(y*w+x)+2)*13) % 256) ) // 3 AS gray,
         (x * 5) // w AS bx, (y * 4) // h AS by
  FROM dims,
       UNNEST(generate_series(0, w - 1)) AS tx(x),
       UNNEST(generate_series(0, h - 1)) AS ty(y)
),
blocks AS (
  SELECT media_id, bx, by, SUM(gray) // COUNT(*) AS bv
  FROM px GROUP BY media_id, bx, by
),
frame AS (
  SELECT media_id, t2.by AS by, t1.bx AS bx
  FROM m, UNNEST(generate_series(0, 4)) AS t1(bx),
       UNNEST(generate_series(0, 3)) AS t2(by)
),
full_blocks AS (
  SELECT f.media_id, f.by, f.bx, COALESCE(b.bv, 0) AS bv
  FROM frame f LEFT JOIN blocks b
    ON b.media_id = f.media_id AND b.by = f.by AND b.bx = f.bx
),
hashes AS (
  SELECT l.media_id,
         CAST(SUM(CASE WHEN l.bv > r.bv
                       THEN CAST(1 AS BIGINT) << CAST(l.by*4 + l.bx AS INT)
                       ELSE 0 END) AS BIGINT) AS dhash
  FROM full_blocks l JOIN full_blocks r
    ON l.media_id = r.media_id AND l.by = r.by AND r.bx = l.bx + 1
  WHERE l.bx < 4
  GROUP BY l.media_id
)
SELECT media_id, dhash,
       CAST(COUNT(*) OVER (PARTITION BY dhash) AS BIGINT) AS n_same_hash
FROM hashes
"""
    # banded Hamming near-dups over the same hashes CTE: 4 bands x 4
    # bits, exact-complete at hamming <= 3 (pigeonhole — one band must
    # survive untouched), so the band join + exact filter IS the answer
    sql["multimodal_image_near_dups"] = sql["multimodal_image_ahash"].rsplit(
        "SELECT media_id", 1
    )[0] + """,
banded AS (
  SELECT media_id, ahash, t.b AS band, (ahash >> (t.b * 4)) & 15 AS val
  FROM hashes, UNNEST(generate_series(0, 3)) AS t(b)
)
SELECT DISTINCT a.media_id AS m1, b.media_id AS m2,
       CAST(bit_count(xor(a.ahash, b.ahash)) AS BIGINT) AS hamming
FROM banded a
JOIN banded b ON a.band = b.band AND a.val = b.val AND a.media_id < b.media_id
WHERE bit_count(xor(a.ahash, b.ahash)) <= 3
"""
    sql["multimodal_audio_ehash"] = """
WITH a AS (SELECT doc_id AS media_id FROM documents WHERE doc_id % 3 = 1),
dims AS (SELECT media_id, CAST((media_id % 100) + 1 AS BIGINT) AS n FROM a),
smp AS (
  SELECT media_id, n,
         ((media_id*31 + i*17) % 65536) - 32768 AS s,
         (i * 8) // n AS seg
  FROM dims, UNNEST(generate_series(0, n - 1)) AS t(i)
),
segs AS (
  SELECT media_id, seg, SUM(s * s) // COUNT(*) AS ev
  FROM smp GROUP BY media_id, seg
),
means AS (SELECT media_id, SUM(ev) // COUNT(*) AS mv FROM segs GROUP BY media_id),
hashes AS (
  SELECT s.media_id,
         CAST(SUM(CASE WHEN ev > mv
                       THEN CAST(1 AS BIGINT) << CAST(seg AS INT)
                       ELSE 0 END) AS BIGINT) AS ehash
  FROM segs s JOIN means USING (media_id) GROUP BY s.media_id
)
SELECT media_id, ehash,
       CAST(COUNT(*) OVER (PARTITION BY ehash) AS BIGINT) AS n_same_hash
FROM hashes
"""
    # ZCR: transitions computed closed-form (s(i) and s(i+1) from the
    # generator), per-mille integer rates over present segments, <2
    # samples hash to 0 via the left join
    sql["multimodal_audio_zcr"] = """
WITH a AS (SELECT doc_id AS media_id FROM documents WHERE doc_id % 3 = 1),
dims AS (SELECT media_id, CAST((media_id % 100) + 1 AS BIGINT) AS n FROM a),
tr AS (
  SELECT media_id, n, (i * 8) // n AS seg,
         CASE WHEN (((media_id*31 + i*17) % 65536) - 32768 >= 0)
                   <> (((media_id*31 + (i+1)*17) % 65536) - 32768 >= 0)
              THEN 1 ELSE 0 END AS zc
  FROM dims, UNNEST(generate_series(0, n - 2)) AS t(i)
  WHERE n >= 2
),
segs AS (
  SELECT media_id, seg, (SUM(zc) * 1000) // COUNT(*) AS zq
  FROM tr GROUP BY media_id, seg
),
means AS (SELECT media_id, SUM(zq) // COUNT(*) AS mv FROM segs GROUP BY media_id),
hashes AS (
  SELECT s.media_id,
         CAST(SUM(CASE WHEN zq > mv
                       THEN CAST(1 AS BIGINT) << CAST(seg AS INT)
                       ELSE 0 END) AS BIGINT) AS zhash
  FROM segs s JOIN means USING (media_id) GROUP BY s.media_id
),
allh AS (
  SELECT a.media_id, COALESCE(h.zhash, 0) AS zhash
  FROM a LEFT JOIN hashes h USING (media_id)
)
SELECT media_id, zhash,
       CAST(COUNT(*) OVER (PARTITION BY zhash) AS BIGINT) AS n_same_hash
FROM allh
"""
    # 16-segment ehash variant + the same banded Hamming join as the
    # image oracle (4 bands x 4 bits, exact-complete at hamming <= 3)
    sql["multimodal_audio_near_dups"] = """
WITH a AS (SELECT doc_id AS media_id FROM documents WHERE doc_id % 3 = 1),
dims AS (SELECT media_id, CAST((media_id % 100) + 1 AS BIGINT) AS n FROM a),
smp AS (
  SELECT media_id, n,
         ((media_id*31 + i*17) % 65536) - 32768 AS s,
         (i * 16) // n AS seg
  FROM dims, UNNEST(generate_series(0, n - 1)) AS t(i)
),
segs AS (
  SELECT media_id, seg, SUM(s * s) // COUNT(*) AS ev
  FROM smp GROUP BY media_id, seg
),
means AS (SELECT media_id, SUM(ev) // COUNT(*) AS mv FROM segs GROUP BY media_id),
hashes AS (
  SELECT s.media_id,
         CAST(SUM(CASE WHEN ev > mv
                       THEN CAST(1 AS BIGINT) << CAST(seg AS INT)
                       ELSE 0 END) AS BIGINT) AS ehash
  FROM segs s JOIN means USING (media_id) GROUP BY s.media_id
),
banded AS (
  SELECT media_id, ehash, t.b AS band, (ehash >> (t.b * 4)) & 15 AS val
  FROM hashes, UNNEST(generate_series(0, 3)) AS t(b)
)
SELECT DISTINCT a.media_id AS m1, b.media_id AS m2,
       CAST(bit_count(xor(a.ehash, b.ehash)) AS BIGINT) AS hamming
FROM banded a
JOIN banded b ON a.band = b.band AND a.val = b.val AND a.media_id < b.media_id
WHERE bit_count(xor(a.ehash, b.ehash)) <= 3
"""
    sql["multimodal_decode"] = """
WITH m AS (
  SELECT doc_id AS media_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image' ELSE 'audio' END AS kind
  FROM documents WHERE doc_id % 3 IN (0, 1)
),
img AS (
  SELECT media_id,
         CAST((media_id % 16) + 1 AS INT) AS width,
         CAST((media_id % 8) + 1 AS INT) AS height
  FROM m WHERE kind = 'image'
),
imgsum AS (
  SELECT media_id, CAST(SUM((media_id*7 + j*13) % 256) AS BIGINT) AS sum_pixels
  FROM img, UNNEST(generate_series(0, width*height*3 - 1)) AS t(j)
  GROUP BY media_id
),
aud AS (
  SELECT media_id, CAST((media_id % 100) + 1 AS BIGINT) AS n_samples
  FROM m WHERE kind = 'audio'
),
audsum AS (
  SELECT media_id,
         CAST(SUM(
           (((media_id*31 + i*17) % 65536) - 32768)
           * (((media_id*31 + i*17) % 65536) - 32768)
         ) AS BIGINT) AS sum_sq_amplitude
  FROM aud, UNNEST(generate_series(0, n_samples - 1)) AS t(i)
  GROUP BY media_id
)
SELECT i.media_id, 'image' AS kind, width, height, s.sum_pixels,
       CAST(NULL AS BIGINT) AS n_samples, CAST(NULL AS BIGINT) AS duration_us,
       CAST(NULL AS BIGINT) AS sum_sq_amplitude
FROM img i JOIN imgsum s USING (media_id)
UNION ALL
SELECT a.media_id, 'audio', CAST(NULL AS INT), CAST(NULL AS INT),
       CAST(NULL AS BIGINT), a.n_samples, a.n_samples * 125, q.sum_sq_amplitude
FROM aud a JOIN audsum q USING (media_id)
"""
    # P11 — defaults substitute for NULL value columns (orders feed)
    sql["registry_defaults"] = cte + """
SELECT scn, ssn, op, rollback, pk,
       COALESCE(totalprice, 0.0) AS totalprice,
       COALESCE(status, 'N') AS status
FROM changes
"""
    # S10 + F8 — closed form of _q_registry_key_guard's table specs
    sql["registry_key_guard"] = """
WITH nat AS (SELECT CAST(n_nationkey AS BIGINT) AS n, n_name AS nm FROM nation)
SELECT 'SCOTT' AS owner, nm AS table_name,
       CASE WHEN n % 7 = 0 THEN 'rowid'
            WHEN n % 3 = 0 THEN 'pk'
            WHEN n % 3 = 1 THEN 'unique_index'
            ELSE 'rowid' END AS key_kind,
       CASE WHEN n % 7 = 0 THEN 'ORA_ROW_ID'
            WHEN n % 3 = 0 THEN 'ID'
            WHEN n % 3 = 1 THEN 'VAL'
            ELSE 'ORA_ROW_ID' END AS key_cols,
       CASE WHEN n % 2 = 0 THEN 'EXTRA,ID,VAL' ELSE 'ID,VAL' END AS columns
FROM nat
"""
    # P12 + ToLowerCase SMT — sanitized + lowercased aliases, values as-is
    sql["smt_sanitize"] = """
SELECT p_partkey AS _1pk, p_name AS name_w_space,
       CAST(p_retailprice AS DOUBLE) AS price___
FROM part
"""
    # K4 — hand-written expected DDL per dialect (independent golden
    # restatement of TargetDbSqlUtils.java:77-186 type maps)
    _acreate = {
        "postgresql": (
            "CREATE TABLE ORDERS_SINK (\n"
            "  PK bigint NOT NULL,\n  SKEY varchar(255) NOT NULL,\n"
            "  AMOUNT decimal(12,2),\n  RATIO double precision,\n"
            "  NOTE text,\n  PAYLOAD bytea,\n  TS timestamp,\n  OK boolean,\n"
            "  PRIMARY KEY (PK, SKEY)\n)"
        ),
        "mysql": (
            "CREATE TABLE ORDERS_SINK (\n"
            "  PK bigint NOT NULL,\n  SKEY varchar(255) NOT NULL,\n"
            "  AMOUNT decimal(12,2),\n  RATIO double,\n"
            "  NOTE text,\n  PAYLOAD blob,\n  TS datetime(6),\n  OK boolean,\n"
            "  PRIMARY KEY (PK, SKEY)\n)"
        ),
        "oracle": (
            "CREATE TABLE ORDERS_SINK (\n"
            "  PK NUMBER(19) NOT NULL,\n  SKEY VARCHAR2(255) NOT NULL,\n"
            "  AMOUNT NUMBER(12,2),\n  RATIO BINARY_DOUBLE,\n"
            "  NOTE VARCHAR2(4000),\n  PAYLOAD BLOB,\n  TS TIMESTAMP,\n"
            "  OK NUMBER(1),\n  PRIMARY KEY (PK, SKEY)\n)"
        ),
        "mssql": (
            "CREATE TABLE ORDERS_SINK (\n"
            "  PK bigint NOT NULL,\n  SKEY nvarchar(255) NOT NULL,\n"
            "  AMOUNT decimal(12,2),\n  RATIO float,\n"
            "  NOTE nvarchar(max),\n  PAYLOAD varbinary(max),\n"
            "  TS datetime2,\n  OK bit,\n  PRIMARY KEY (PK, SKEY)\n)"
        ),
        "clickhouse": (
            "CREATE TABLE ORDERS_SINK (\n"
            "  PK Int64 NOT NULL,\n  SKEY String NOT NULL,\n"
            "  AMOUNT Decimal(12, 2),\n  RATIO Float64,\n"
            "  NOTE String,\n  PAYLOAD String,\n  TS DateTime64(6),\n"
            "  OK Bool\n) ENGINE = ReplacingMergeTree ORDER BY (PK, SKEY)"
        ),
    }
    sql["jdbc_autocreate"] = (
        "SELECT * FROM (VALUES "
        + ", ".join(
            "('{}', e'{}')".format(
                d, ddl.replace("'", "''").replace("\n", "\\n")
            )
            for d, ddl in _acreate.items()
        )
        + ") AS t(dialect, ddl)"
    )
    # G8 schema evolution — closed form of _evolution_ddls: is_drop
    # alternates within each maximal run of raw_drop=true steps
    # (gaps-and-islands), a drop kills the previous step's column (C0 at
    # k=1), the trailing compound statement nets +Z1; version = initial 1
    # + K single-verb bumps + 1 compound bump = 4 + n%5.
    sql["registry_evolution"] = """
WITH nat AS (SELECT CAST(n_nationkey AS BIGINT) AS n, n_name AS nm FROM nation),
steps AS (
  SELECT n, nm, CAST(t.k AS BIGINT) AS k,
         ((n*37 + t.k*101) % 10) >= 6 AS raw_drop
  FROM nat, UNNEST(generate_series(1, 2 + (n % 5))) AS t(k)
),
isl AS (
  SELECT *, k - ROW_NUMBER() OVER (PARTITION BY n, raw_drop ORDER BY k) AS grp
  FROM steps
),
flags AS (
  SELECT n, nm, k,
         raw_drop AND (ROW_NUMBER() OVER (
             PARTITION BY n, raw_drop, grp ORDER BY k) % 2 = 1) AS is_drop
  FROM isl
),
ordered AS (
  SELECT *, COALESCE(LEAD(is_drop) OVER (PARTITION BY n ORDER BY k), FALSE) AS next_drop
  FROM flags
),
kept AS (
  SELECT n, nm, 'C' || CAST(k AS VARCHAR) AS col
  FROM ordered WHERE NOT is_drop AND NOT next_drop
  UNION ALL
  SELECT n, nm, 'C0' FROM ordered WHERE k = 1 AND NOT is_drop
  UNION ALL
  SELECT n, nm, 'PK' FROM nat
  UNION ALL
  SELECT n, nm, 'Z1' FROM nat
)
SELECT 'SCOTT' AS owner, nm AS table_name,
       CAST(4 + (n % 5) AS BIGINT) AS version,
       string_agg(col, ',' ORDER BY col) AS columns
FROM kept GROUP BY n, nm
"""
    sql["mvlog_batch"] = mvlog.MVLOG_BATCH_SQL.format(last_seq=1000, batch_size=500)
    sql["mvlog_consumption"] = mvlog.MVLOG_CONSUMPTION_SQL.format(
        last_seq=1000, batch_size=500
    )
    # hybrid retrieval: semantic = the bruteforce-cosine CTEs at k=20,
    # lexical = shingle-overlap ranking at k=20, fused with RRF (only
    # integer ranks cross the fusion boundary — fixed expression shape)
    sql["hybrid_retrieval"] = (
        "WITH "
        + _SHINGLES
        + ", "
        + _QUANT.strip().lstrip()
        + """,
q AS (SELECT vec_id AS query_id, i, q FROM qv WHERE vec_id % 100 = 0),
c AS (SELECT vec_id AS neighbor_id, i, q FROM qv),
dots AS (
  SELECT query_id, neighbor_id, CAST(SUM(a.q * b.q) AS BIGINT) AS dot
  FROM q a JOIN c b USING (i)
  WHERE a.query_id <> b.neighbor_id
  GROUP BY query_id, neighbor_id
),
qn AS (SELECT query_id, CAST(SUM(q*q) AS BIGINT) AS qn FROM q GROUP BY query_id),
cn AS (SELECT neighbor_id, CAST(SUM(q*q) AS BIGINT) AS cn FROM c GROUP BY neighbor_id),
sem_scored AS (
  SELECT query_id, neighbor_id,
         (CASE WHEN dot < 0 THEN -1.0 WHEN dot > 0 THEN 1.0 ELSE 0.0 END)
         * (CAST(dot AS DOUBLE) * CAST(dot AS DOUBLE))
         / (CAST(qn AS DOUBLE) * CAST(cn AS DOUBLE)) AS score
  FROM dots JOIN qn USING (query_id) JOIN cn USING (neighbor_id)
),
sem AS (
  SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS sem_rank FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, neighbor_id) AS rank
    FROM sem_scored) t
  WHERE rank <= 20
),
qsh AS (SELECT doc_id AS query_id, shingle FROM sh WHERE doc_id % 100 = 0),
lex_common AS (
  SELECT q.query_id, s.doc_id AS neighbor_id, CAST(COUNT(*) AS BIGINT) AS common
  FROM qsh q JOIN sh s USING (shingle)
  WHERE q.query_id <> s.doc_id
  GROUP BY q.query_id, s.doc_id
),
lex AS (
  SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS lex_rank FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY common DESC, neighbor_id) AS rank
    FROM lex_common) t
  WHERE rank <= 20
),
fused AS (
  SELECT COALESCE(sem.query_id, lex.query_id) AS query_id,
         COALESCE(sem.neighbor_id, lex.neighbor_id) AS neighbor_id,
         sem.sem_rank, lex.lex_rank,
         COALESCE(1.0 / (60 + sem.sem_rank), 0.0)
         + COALESCE(1.0 / (60 + lex.lex_rank), 0.0) AS score
  FROM sem FULL OUTER JOIN lex
    ON sem.query_id = lex.query_id AND sem.neighbor_id = lex.neighbor_id
)
SELECT query_id, neighbor_id, sem_rank, lex_rank,
       ROUND(score, 6) AS score, CAST(rank AS BIGINT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id) AS rank
      FROM fused) t
WHERE rank <= 10
"""
    )
    sql["initial_load_union"] = initial_load.INITIAL_LOAD_SQL.format(
        base=SPEC.cust_scn_base, cut=initial_load.DEFAULT_CUT
    )

    # --- relational operators ---
    dec = "DECIMAL(12,2)"
    sql["q1_pricing_summary"] = f"""
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS {dec})) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS {dec})) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST({_REV} AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(CAST({_REV} AS DECIMAL(18,4)) * (1 + CAST(l_tax AS {dec}))) AS DOUBLE) AS sum_charge,
  CAST(SUM(CAST(l_quantity AS {dec})) AS DOUBLE) / COUNT(*) AS avg_qty,
  CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""
    sql["q3_shipping_priority"] = f"""
SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_orderpriority,
       CAST(SUM(CAST({_REV} AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey LIMIT 10
"""
    sql["q5_region_revenue"] = f"""
SELECT n_name, CAST(SUM(CAST({_REV} AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
"""
    sql["top_orders"] = (
        "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"
    )
    sql["customer_order_rank"] = """
SELECT o_custkey, o_orderkey, o_totalprice, CAST(rk AS BIGINT) AS rk FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rk
  FROM orders) t
WHERE rk <= 3
"""
    sql["customers_set_ops"] = """
SELECT o_custkey, 'open_only' AS tag FROM (
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
  EXCEPT
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F') a
UNION ALL
SELECT o_custkey, 'partial_and_open' AS tag FROM (
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
  INTERSECT
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O') b
"""
    sql["orders_rollup"] = f"""
SELECT o_orderstatus, o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS {dec})) AS DOUBLE) AS sum_price
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""
    sql["orders_rank_report"] = """
SELECT o_orderstatus, o_orderkey, o_totalprice, pct_rank, cume, quartile
FROM (
  SELECT o_orderstatus, o_orderkey, o_totalprice,
         ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
         ROUND(CUME_DIST() OVER w, 6) AS cume,
         CAST(NTILE(4) OVER w AS INT) AS quartile,
         ROW_NUMBER() OVER w AS rn
  FROM orders
  WINDOW w AS (PARTITION BY o_orderstatus
               ORDER BY o_totalprice DESC, o_orderkey)
) WHERE rn <= 5
"""
    sql["orders_grouping_sets"] = f"""
WITH base AS (SELECT o_orderstatus, o_orderpriority,
                     CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
                     o_totalprice FROM orders)
SELECT o_orderstatus, o_orderpriority, yr,
       CAST(GROUPING(o_orderstatus) AS INT) AS g_st,
       CAST(GROUPING(o_orderpriority) AS INT) AS g_pr,
       CAST(GROUPING(yr) AS INT) AS g_yr,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS {dec})) AS DOUBLE) AS sum_price
FROM base
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                        (o_orderstatus, yr), ())
"""
    sql["orders_by_year"] = f"""
SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr, o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS {dec})) AS DOUBLE) AS revenue
FROM orders GROUP BY 1, 2
"""
    sql["orders_cube"] = """
SELECT o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""
    sql["q6_forecast_revenue"] = f"""
SELECT CAST(SUM(CAST(l_extendedprice AS {_DEC}) * CAST(l_discount AS {_DEC}))
            AS DOUBLE) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lineitems
FROM lineitem
WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
"""
    sql["orders_pivot"] = """
SELECT o_orderstatus,
       CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS p1,
       CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS p2,
       CAST(SUM(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS p3,
       CAST(SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS p4,
       CAST(SUM(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS p5
FROM orders GROUP BY o_orderstatus
"""
    sql["lineitem_distinct_stats"] = """
SELECT l_returnflag,
       CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
       CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
FROM lineitem GROUP BY l_returnflag
"""
    sql["supplier_min_acctbal"] = """
WITH m AS (SELECT s_nationkey, MIN(s_acctbal) AS min_bal FROM supplier GROUP BY s_nationkey)
SELECT s.s_nationkey, s.s_suppkey, s.s_name, s.s_acctbal
FROM supplier s JOIN m ON s.s_nationkey = m.s_nationkey
WHERE s.s_acctbal = m.min_bal
"""
    sql["events_topk_per_type"] = """
SELECT event_type, event_id, ROUND(value, 6) AS value, CAST(rk AS BIGINT) AS rk FROM (
  SELECT event_type, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rk
  FROM events) t
WHERE rk <= 5
"""
    sql["big_orders_having"] = """
SELECT l_orderkey,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem GROUP BY l_orderkey
HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) > 150.0
"""
    sql["conditional_agg"] = """
SELECT o_orderstatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM orders GROUP BY o_orderstatus
"""
    sql["customers_without_orders"] = """
SELECT c_custkey, c_name, c_mktsegment FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""
    sql["promo_revenue"] = f"""
SELECT 100.0 * CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
                 THEN CAST({_REV} AS DECIMAL(18,4))
                 ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
       / CAST(SUM(CAST({_REV} AS DECIMAL(18,4))) AS DOUBLE) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
"""
    sql["orders_above_cust_avg"] = f"""
WITH a AS (
  SELECT o_custkey,
         CAST(SUM(CAST(o_totalprice AS {dec})) AS DOUBLE) / COUNT(*) AS avg_price
  FROM orders GROUP BY o_custkey
)
SELECT o.o_custkey, o.o_orderkey, o.o_totalprice
FROM orders o JOIN a ON o.o_custkey = a.o_custkey
WHERE o.o_totalprice > a.avg_price
"""
    sql["events_moving_avg"] = """
SELECT event_id, user_id,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
             / COUNT(*) OVER w, 6) AS moving_avg
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
"""
    sql["events_value_profile"] = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       quantile_cont(value, 0.5) AS p50,
       quantile_cont(value, 0.95) AS p95,
       quantile_cont(value, 0.99) AS p99
FROM events GROUP BY event_type
"""
    sql["events_value_histogram"] = """
SELECT event_type,
       CAST(LEAST(GREATEST(FLOOR((value - 0.0) / 5.0), 0), 19) AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events
GROUP BY event_type, LEAST(GREATEST(FLOOR((value - 0.0) / 5.0), 0), 19)
"""
    sql["customers_with_orders_semi"] = """
SELECT c_custkey, c_name, c_nationkey
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_orderpriority = '1-URGENT')
"""
    # --- TPC-H-style breadth block (operators/analytics.py, r5) ---
    sql["q4_order_priority"] = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
GROUP BY o_orderpriority
"""
    sql["q7_volume_shipping"] = f"""
SELECT supp_nation, cust_nation, l_year, CAST(SUM(rev) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
         CAST({_REV} AS DECIMAL(18,4)) AS rev
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE n1.n_name IN ('NATION_1', 'NATION_2')
    AND n2.n_name IN ('NATION_1', 'NATION_2')
    AND n1.n_name <> n2.n_name
    AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
) t GROUP BY supp_nation, cust_nation, l_year
"""
    sql["q8_market_share"] = f"""
SELECT o_year,
       CAST(SUM(CASE WHEN supp_nation = 'NATION_5' THEN rev
                     ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
       / CAST(SUM(rev) AS DOUBLE) AS mkt_share,
       CAST(SUM(rev) AS DOUBLE) AS total_revenue
FROM (
  SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
         ns.n_name AS supp_nation, CAST({_REV} AS DECIMAL(18,4)) AS rev
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation nc ON c_nationkey = nc.n_nationkey
  JOIN region ON nc.n_regionkey = r_regionkey
  JOIN nation ns ON s_nationkey = ns.n_nationkey
  WHERE r_name = 'ASIA' AND p_type = 'PROMO'
) t GROUP BY o_year
"""
    sql["q9_product_profit"] = f"""
SELECT ns.n_name AS nation,
       CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
       CAST(SUM(CAST({_REV} AS DECIMAL(18,4))) AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ns ON s_nationkey = ns.n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY nation, o_year
"""
    sql["q10_returned_items"] = f"""
SELECT c_custkey, c_name, c_acctbal, n_name, CAST(rev_dec AS DOUBLE) AS revenue
FROM (
  SELECT c_custkey, c_name, c_acctbal, n_name,
         SUM(CAST({_REV} AS DECIMAL(18,4))) AS rev_dec
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  WHERE l_returnflag = 'R'
    AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
  GROUP BY c_custkey, c_name, c_acctbal, n_name
  ORDER BY rev_dec DESC, c_custkey LIMIT 20
) t
"""
    sql["q13_customer_distribution"] = """
SELECT CAST(c_count AS BIGINT) AS c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
) t GROUP BY c_count
"""
    sql["q15_top_supplier"] = f"""
WITH per_supp AS (
  SELECT l_suppkey AS s_suppkey, SUM(CAST({_REV} AS DECIMAL(18,4))) AS rev_dec
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
),
mx AS (SELECT MAX(rev_dec) AS max_rev FROM per_supp)
SELECT p.s_suppkey, s.s_name, CAST(p.rev_dec AS DOUBLE) AS total_revenue
FROM per_supp p
CROSS JOIN mx
JOIN supplier s ON p.s_suppkey = s.s_suppkey
WHERE p.rev_dec = mx.max_rev
"""
    sql["q17_small_qty_revenue"] = f"""
WITH j AS (
  SELECT l_quantity, l_extendedprice,
         CAST(SUM(CAST(l_quantity AS {_DEC})) OVER (PARTITION BY l_partkey) AS DOUBLE)
         / COUNT(*) OVER (PARTITION BY l_partkey) AS avg_qty
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#3'
)
SELECT CAST(SUM(CAST(l_extendedprice AS {_DEC})) AS DOUBLE) / 7.0 AS avg_yearly
FROM j WHERE l_quantity < 0.2 * avg_qty
"""
    sql["q18_large_volume_customers"] = f"""
WITH big AS (
  SELECT l_orderkey, SUM(CAST(l_quantity AS {_DEC})) AS qty_dec
  FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS {_DEC})) > 250
)
SELECT c_custkey, c_name, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o_totalprice, CAST(qty_dec AS DOUBLE) AS sum_qty
FROM big
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
"""
    sql["q19_discounted_revenue"] = f"""
SELECT CAST(SUM(CAST({_REV} AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND l_quantity BETWEEN 20 AND 30)
"""
    sql["orders_lag_gap"] = """
SELECT o_custkey, o_orderkey,
       CAST(date_diff('day',
                      lag(o_orderdate) OVER (PARTITION BY o_custkey
                                             ORDER BY o_orderdate, o_orderkey),
                      o_orderdate) AS BIGINT) AS gap_days
FROM orders
"""
    sql["events_range_frame"] = """
SELECT event_id, user_id,
       CAST(SUM(CAST(round(value * 1000) AS BIGINT)) OVER (
         PARTITION BY user_id ORDER BY epoch_ms(ts)
         RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW) AS BIGINT)
         AS hour_sum_q
FROM events
"""
    sql["q22_sales_opportunity"] = f"""
WITH avg_bal AS (
  SELECT CAST(SUM(CAST(c_acctbal AS {_DEC})) AS DOUBLE) / COUNT(*) AS avg_bal
  FROM customer WHERE c_acctbal > 0
)
SELECT n_name, CAST(COUNT(*) AS BIGINT) AS numcust,
       CAST(SUM(CAST(c_acctbal AS {_DEC})) AS DOUBLE) AS totacctbal
FROM customer
CROSS JOIN avg_bal
JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > avg_bal
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY n_name
"""
    # --- TPC-H completion block (r6): see analytics.py docstrings for
    # the schema adaptations (no partsupp / shipmode / receiptdate) ---
    _DEC18 = "DECIMAL(18,2)"
    sql["q2_min_cost_supplier"] = f"""
WITH supply AS (
  SELECT l_partkey AS p_partkey, s_name, n_name,
         CAST(s_acctbal AS DOUBLE) AS s_acctbal,
         MIN(CAST(l_extendedprice AS {_DEC18})) AS cost
  FROM lineitem
  JOIN part ON l_partkey = part.p_partkey AND p_type = 'LARGE'
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
  GROUP BY l_partkey, s_name, n_name, s_acctbal
),
best AS (
  SELECT *, MIN(cost) OVER (PARTITION BY p_partkey) AS min_cost FROM supply
)
SELECT s_acctbal, s_name, n_name, CAST(p_partkey AS BIGINT) AS p_partkey,
       CAST(cost AS DOUBLE) AS cost
FROM best WHERE cost = min_cost
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""
    sql["q11_important_stock"] = f"""
WITH per_part AS (
  SELECT l_partkey, SUM(CAST(l_extendedprice AS {_DEC18})) AS value
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'
  GROUP BY l_partkey
),
tot AS (SELECT SUM(value) AS total FROM per_part)
SELECT CAST(l_partkey AS BIGINT) AS p_partkey, CAST(value AS DOUBLE) AS value
FROM per_part CROSS JOIN tot
WHERE value * 10000 > total
"""
    sql["q12_shipping_lag"] = """
SELECT CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                           CAST(l_shipdate AS DATE)) < 30 THEN 'FAST'
            WHEN date_diff('day', CAST(o_orderdate AS DATE),
                           CAST(l_shipdate AS DATE)) < 90 THEN 'NORMAL'
            ELSE 'SLOW' END AS ship_band,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY 1
"""
    sql["q16_parts_supplier_count"] = """
SELECT p_brand, p_type, CAST(p_size AS INT) AS p_size,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
GROUP BY p_brand, p_type, p_size
"""
    sql["q20_excess_supply"] = f"""
WITH sp AS (
  SELECT l_partkey, l_suppkey, SUM(CAST(l_quantity AS {_DEC18})) AS qty
  FROM lineitem
  JOIN part ON l_partkey = p_partkey AND p_name LIKE '%widget'
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate < TIMESTAMP '1998-01-01'
  GROUP BY l_partkey, l_suppkey
),
dominant AS (
  SELECT DISTINCT l_suppkey FROM (
    SELECT *, SUM(qty) OVER (PARTITION BY l_partkey) AS part_total FROM sp
  ) t WHERE qty * 2 > part_total
)
SELECT s_name, CAST(s_acctbal AS DOUBLE) AS s_acctbal
FROM supplier
WHERE s_suppkey IN (SELECT l_suppkey FROM dominant)
  AND s_nationkey IN (SELECT n_nationkey FROM nation
                      WHERE n_name IN ('NATION_3', 'NATION_13', 'NATION_23'))
"""
    sql["q21_waiting_suppliers"] = """
WITH per_os AS (
  SELECT l_orderkey, l_suppkey, MAX(l_shipdate) AS s_max
  FROM lineitem
  WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')
  GROUP BY l_orderkey, l_suppkey
),
m1 AS (
  SELECT *,
         COUNT(*) OVER (PARTITION BY l_orderkey) AS n_supp,
         MAX(s_max) OVER (PARTITION BY l_orderkey) AS o_max
  FROM per_os
),
marked AS (
  SELECT *, SUM(CASE WHEN s_max = o_max THEN 1 ELSE 0 END)
              OVER (PARTITION BY l_orderkey) AS n_at_max
  FROM m1
)
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM marked JOIN supplier ON l_suppkey = s_suppkey
WHERE n_supp >= 2 AND n_at_max = 1 AND s_max = o_max
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""
    sql["events_transitions"] = """
WITH steps AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
),
tc AS (
  SELECT prev_type, event_type, CAST(COUNT(*) AS BIGINT) AS n_steps
  FROM steps WHERE prev_type IS NOT NULL
  GROUP BY prev_type, event_type
)
SELECT prev_type, event_type, n_steps,
       ROUND(CAST(n_steps AS DOUBLE)
             / CAST(SUM(n_steps) OVER (PARTITION BY prev_type) AS DOUBLE),
             6) AS p
FROM tc
"""
    sql["events_active_users"] = """
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
dau AS (
  SELECT day, CAST(COUNT(*) AS BIGINT) AS n_dau FROM ud GROUP BY day
),
contrib AS (
  SELECT DISTINCT user_id, CAST(t.d AS DATE) AS day
  FROM ud, UNNEST(generate_series(CAST(day AS TIMESTAMP),
                                  CAST(day AS TIMESTAMP) + INTERVAL 6 DAY,
                                  INTERVAL 1 DAY)) AS t(d)
),
wau AS (
  SELECT day, CAST(COUNT(*) AS BIGINT) AS n_wau FROM contrib GROUP BY day
)
SELECT strftime(dau.day, '%Y-%m-%d') AS day, n_dau, n_wau,
       ROUND(CAST(n_dau AS DOUBLE) / n_wau * 100, 4) AS stickiness_pct
FROM dau JOIN wau USING (day)
"""
    sql["events_cohort_ltv"] = """
WITH ud AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CASE WHEN event_type = 'purchase'
              THEN CAST(round(value * 1000) AS BIGINT) ELSE 0 END AS qv
  FROM events
),
c AS (
  SELECT user_id, day, qv, MIN(day) OVER (PARTITION BY user_id) AS cohort
  FROM ud
),
agg AS (
  SELECT cohort, CAST(date_diff('day', cohort, day) AS BIGINT) AS day_offset,
         CAST(SUM(qv) AS BIGINT) AS qsum,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active
  FROM c GROUP BY cohort, day_offset
)
SELECT strftime(cohort, '%Y-%m-%d') AS cohort_day, day_offset,
       ROUND(CAST(qsum AS DOUBLE) / 1000, 3) AS day_value,
       ROUND(CAST(cum AS DOUBLE) / 1000, 3) AS cum_value,
       size AS cohort_size,
       ROUND((CAST(cum AS DOUBLE) / 1000) / size, 6) AS cum_per_user
FROM (
  SELECT cohort, day_offset, qsum,
         CAST(SUM(qsum) OVER (PARTITION BY cohort ORDER BY day_offset) AS BIGINT) AS cum,
         CAST(FIRST_VALUE(n_active) OVER (PARTITION BY cohort ORDER BY day_offset) AS BIGINT) AS size
  FROM agg
)
"""
    sql["events_retention_cohorts"] = """
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
udc AS (
  SELECT user_id, day, MIN(day) OVER (PARTITION BY user_id) AS cohort FROM ud
),
sizes AS (
  SELECT cohort, COUNT(*) AS cohort_size FROM udc WHERE day = cohort GROUP BY cohort
),
act AS (
  SELECT cohort, CAST(date_diff('day', cohort, day) AS BIGINT) AS day_offset,
         CAST(COUNT(*) AS BIGINT) AS n_active
  FROM udc GROUP BY cohort, day_offset
)
SELECT strftime(a.cohort, '%Y-%m-%d') AS cohort_day,
       a.day_offset, a.n_active,
       CAST(s.cohort_size AS BIGINT) AS cohort_size,
       ROUND(CAST(a.n_active AS DOUBLE) / s.cohort_size * 100, 4) AS retention_pct
FROM act a JOIN sizes s USING (cohort)
"""
    sql["events_funnel"] = """
WITH s1 AS (
  SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'signup'
  GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.t1
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
  GROUP BY e.user_id
)
SELECT CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS n_signup,
       CAST((SELECT COUNT(*) FROM s2) AS BIGINT) AS n_click_after,
       CAST((SELECT COUNT(*) FROM s3) AS BIGINT) AS n_purchase_after,
       CASE WHEN (SELECT COUNT(*) FROM s1) > 0 THEN
         ROUND(CAST((SELECT COUNT(*) FROM s3) AS DOUBLE)
               / (SELECT COUNT(*) FROM s1) * 100, 4)
       END AS conversion_pct
"""
    sql["lineitem_copurchase_lift"] = """
WITH citems AS (
  SELECT DISTINCT l.l_orderkey, p.p_brand AS brand
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
no AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM citems),
marg AS (SELECT brand, CAST(COUNT(*) AS BIGINT) AS n_b FROM citems GROUP BY brand),
cpairs AS (
  SELECT a.brand AS brand_a, b.brand AS brand_b,
         CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM citems a JOIN citems b
    ON a.l_orderkey = b.l_orderkey AND a.brand < b.brand
  GROUP BY a.brand, b.brand
  HAVING COUNT(*) >= 5
)
SELECT brand_a, brand_b, n_ab,
       ROUND(CAST(n_ab * n_orders AS DOUBLE)
             / CAST(ma.n_b * mb.n_b AS DOUBLE), 6) AS lift
FROM cpairs
JOIN marg ma ON ma.brand = cpairs.brand_a
JOIN marg mb ON mb.brand = cpairs.brand_b
CROSS JOIN no
"""
    sql["orders_rfm_segments"] = """
WITH pc AS (
  SELECT o_custkey AS custkey,
         MAX(CAST(o_orderdate AS DATE)) AS last_date,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS mon
  FROM orders GROUP BY o_custkey
),
ref AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS ref_date FROM orders),
base AS (
  SELECT custkey,
         CAST(date_diff('day', last_date, ref_date) AS BIGINT) AS recency_days,
         frequency, mon
  FROM pc, ref
),
scored AS (
  SELECT custkey, recency_days, frequency, CAST(mon AS DOUBLE) AS monetary,
         CAST(NTILE(4) OVER (ORDER BY recency_days, custkey) AS BIGINT) AS r,
         CAST(NTILE(4) OVER (ORDER BY frequency DESC, custkey) AS BIGINT) AS f,
         CAST(NTILE(4) OVER (ORDER BY mon DESC, custkey) AS BIGINT) AS m
  FROM base
)
SELECT custkey, recency_days, frequency, monetary, r, f, m,
       CAST(r AS VARCHAR) || '-' || CAST(f AS VARCHAR) || '-' || CAST(m AS VARCHAR) AS segment
FROM scored
"""
    sql["events_funnel_windowed"] = """
WITH w1 AS (
  SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'signup'
  GROUP BY user_id
),
w2 AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN w1 ON e.user_id = w1.user_id
  WHERE e.event_type = 'click' AND e.ts > w1.t1
    AND e.ts <= w1.t1 + INTERVAL 24 HOUR
  GROUP BY e.user_id
),
w3 AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN w2 ON e.user_id = w2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > w2.t2
    AND e.ts <= w2.t2 + INTERVAL 24 HOUR
  GROUP BY e.user_id
)
SELECT CAST((SELECT COUNT(*) FROM w1) AS BIGINT) AS n_signup,
       CAST((SELECT COUNT(*) FROM w2) AS BIGINT) AS n_click_24h,
       CAST((SELECT COUNT(*) FROM w3) AS BIGINT) AS n_purchase_24h,
       CASE WHEN (SELECT COUNT(*) FROM w1) > 0 THEN
         ROUND(CAST((SELECT COUNT(*) FROM w3) AS DOUBLE)
               / (SELECT COUNT(*) FROM w1) * 100, 4)
       END AS conversion_pct
"""
    sql["events_asof_join"] = """
WITH l AS (
  SELECT user_id AS k, epoch_us(ts) AS t, 1 AS is_left,
         CAST(NULL AS VARCHAR) AS mark, event_id, ts
  FROM events
),
r AS (
  SELECT o_custkey AS k, epoch_us(o_orderdate) AS t, 0 AS is_left,
         lpad(CAST(epoch_us(o_orderdate) AS VARCHAR), 19, '0') || '|' ||
         lpad(CAST(o_orderkey AS VARCHAR), 19, '0') AS mark,
         CAST(NULL AS BIGINT) AS event_id, CAST(NULL AS TIMESTAMP) AS ts
  FROM orders
),
u AS (
  SELECT *, MAX(mark) OVER (PARTITION BY k ORDER BY t, is_left, mark
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS best
  FROM (SELECT * FROM l UNION ALL SELECT * FROM r) z
)
SELECT event_id, k AS user_id, ts,
       CAST(substr(best, 21, 19) AS BIGINT) AS asof_orderkey,
       make_timestamp(CAST(substr(best, 1, 19) AS BIGINT)) AS asof_orderdate
FROM u WHERE is_left = 1
"""
    # merge_asof tolerance knob: same sortable-mark plan, match
    # discarded when the gap exceeds the tolerance (NULLs, left-outer)
    sql["events_asof_tolerance"] = """
WITH l AS (
  SELECT user_id AS k, epoch_us(ts) AS t, 1 AS is_left,
         CAST(NULL AS VARCHAR) AS mark, event_id, ts
  FROM events
),
r AS (
  SELECT o_custkey AS k, epoch_us(o_orderdate) AS t, 0 AS is_left,
         lpad(CAST(epoch_us(o_orderdate) AS VARCHAR), 19, '0') || '|' ||
         lpad(CAST(o_orderkey AS VARCHAR), 19, '0') AS mark,
         CAST(NULL AS BIGINT) AS event_id, CAST(NULL AS TIMESTAMP) AS ts
  FROM orders
),
u AS (
  SELECT *, MAX(mark) OVER (PARTITION BY k ORDER BY t, is_left, mark
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS best
  FROM (SELECT * FROM l UNION ALL SELECT * FROM r) z
),
v AS (
  SELECT *, (best IS NOT NULL
             AND t - CAST(substr(best, 1, 19) AS BIGINT) <= 750000000000000) AS ok
  FROM u WHERE is_left = 1
)
SELECT event_id, k AS user_id, ts,
       CASE WHEN ok THEN CAST(substr(best, 21, 19) AS BIGINT) END AS asof_orderkey,
       CASE WHEN ok THEN CAST(substr(best, 1, 19) AS BIGINT) END AS asof_orderdate_micros
FROM v
"""
    # merge_asof nearest direction: clicks x purchases inside events —
    # backward running max + forward running max over the negated
    # timestamp (2^62 - t), closer match wins, ties to backward,
    # 2-day tolerance
    sql["events_asof_nearest"] = """
WITH l AS (
  SELECT user_id AS k, epoch_us(ts) AS t, 1 AS is_left,
         CAST(NULL AS VARCHAR) AS mark_b, CAST(NULL AS VARCHAR) AS mark_f,
         event_id, ts
  FROM events WHERE event_type = 'click'
),
r AS (
  SELECT user_id AS k, epoch_us(ts) AS t, 0 AS is_left,
         lpad(CAST(epoch_us(ts) AS VARCHAR), 19, '0') || '|' ||
         lpad(CAST(event_id AS VARCHAR), 19, '0') AS mark_b,
         lpad(CAST(4611686018427387904 - epoch_us(ts) AS VARCHAR), 19, '0') || '|' ||
         lpad(CAST(event_id AS VARCHAR), 19, '0') AS mark_f,
         CAST(NULL AS BIGINT) AS event_id, CAST(NULL AS TIMESTAMP) AS ts
  FROM events WHERE event_type = 'purchase'
),
u AS (
  SELECT *,
         MAX(mark_b) OVER (PARTITION BY k ORDER BY t, is_left, mark_b
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS best_b,
         MAX(mark_f) OVER (PARTITION BY k ORDER BY t DESC, is_left, mark_f
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS best_f
  FROM (SELECT * FROM l UNION ALL SELECT * FROM r) z
),
d AS (
  SELECT event_id, k, ts, t,
         CAST(substr(best_b, 1, 19) AS BIGINT) AS ts_b,
         CAST(substr(best_b, 21, 19) AS BIGINT) AS key_b,
         4611686018427387904 - CAST(substr(best_f, 1, 19) AS BIGINT) AS ts_f,
         CAST(substr(best_f, 21, 19) AS BIGINT) AS key_f,
         best_b IS NOT NULL AND t - CAST(substr(best_b, 1, 19) AS BIGINT)
           <= 172800000000 AS vb,
         best_f IS NOT NULL
           AND (4611686018427387904 - CAST(substr(best_f, 1, 19) AS BIGINT)) - t
           <= 172800000000 AS vf
  FROM u WHERE is_left = 1
)
SELECT event_id, k AS user_id, ts,
       CASE WHEN vb AND (NOT vf OR t - ts_b <= ts_f - t) THEN key_b
            WHEN vf THEN key_f END AS nearest_purchase_id,
       CASE WHEN vb AND (NOT vf OR t - ts_b <= ts_f - t) THEN ts_b
            WHEN vf THEN ts_f END AS nearest_purchase_ts_micros
FROM d
"""
    sql["events_range_join"] = """
WITH p AS (
  SELECT event_id, user_id, epoch_us(ts) AS p_us
  FROM events WHERE event_type = 'purchase'
),
c AS (
  SELECT user_id, epoch_us(ts) AS c_us
  FROM events WHERE event_type = 'click'
),
hits AS (
  SELECT p.event_id, CAST(COUNT(*) AS BIGINT) AS n
  FROM p JOIN c ON p.user_id = c.user_id
              AND c.c_us >= p.p_us - 600000000
              AND c.c_us < p.p_us
  GROUP BY p.event_id
)
SELECT p.event_id, p.user_id, COALESCE(h.n, 0) AS n_prior_clicks
FROM p LEFT JOIN hits h ON p.event_id = h.event_id
"""
    sql["events_hourly"] = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""
    # SAX word construction shared by the candidate index and its audit
    # (mirrors operators/tsindex.py: PAA segment sums, sample-trained
    # quartile breakpoints, 2-bit symbols packed into one word)
    _SAX_SEGS = ",\n".join(
        f"""         CAST(SUM(CASE WHEN hour(ts) >= {s * 4} AND hour(ts) < {(s + 1) * 4}
                       THEN CAST(round(value * 1000) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS s{s}"""
        for s in range(6)
    )
    _SAX_LONG = " UNION ALL ".join(
        f"SELECT user_id, CAST({s} AS BIGINT) AS seg, s{s} AS raw FROM paa"
        for s in range(6)
    )
    _SAX_WORDS = f"""paa AS (
  SELECT user_id,
{_SAX_SEGS}
  FROM events GROUP BY user_id
),
longf0 AS ({_SAX_LONG}),
l1t AS (SELECT user_id, SUM(ABS(raw)) AS l1 FROM longf0 GROUP BY user_id),
longf AS (
  SELECT user_id, seg,
         CAST(CASE WHEN l1 > 0
                   THEN FLOOR(CAST(raw AS DOUBLE) * 1000000 / l1)
                   ELSE 0 END AS BIGINT) AS v
  FROM longf0 JOIN l1t USING (user_id)
),
samp AS (SELECT seg, v FROM longf WHERE user_id % 2 = 0),
ranked AS (
  SELECT seg, v, ROW_NUMBER() OVER (PARTITION BY seg ORDER BY v) AS rk
  FROM samp
),
ns AS (SELECT seg, COUNT(*) AS n FROM samp GROUP BY seg),
bp AS (
  SELECT r.seg,
         MIN(CASE WHEN rk = GREATEST(1, (n * 1) // 4) THEN v END) AS b1,
         MIN(CASE WHEN rk = GREATEST(1, (n * 2) // 4) THEN v END) AS b2,
         MIN(CASE WHEN rk = GREATEST(1, (n * 3) // 4) THEN v END) AS b3
  FROM ranked r JOIN ns USING (seg) GROUP BY r.seg
),
sym AS (
  SELECT user_id, seg,
         CAST(CASE WHEN v >= b1 THEN 1 ELSE 0 END
              + CASE WHEN v >= b2 THEN 1 ELSE 0 END
              + CASE WHEN v >= b3 THEN 1 ELSE 0 END AS BIGINT) AS sym
  FROM longf JOIN bp USING (seg)
),
words AS (
  SELECT user_id, CAST(SUM(sym << CAST(2 * seg AS INT)) AS BIGINT) AS word
  FROM sym GROUP BY user_id
)"""
    # planted-twin audit: twin users carry all original events + one
    # extra 0.001-value copy of the earliest event (one quantized unit)
    _SAX_WORDS_PLANTED = _SAX_WORDS.replace(
        "FROM events GROUP BY user_id", "FROM events2 GROUP BY user_id"
    )
    sql["events_sax_planted"] = (
        """WITH firstev AS (
  SELECT user_id, ts, 0.001 AS value FROM (
    SELECT user_id, ts, event_id,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
    FROM events) t WHERE rn = 1
),
events2 AS (
  SELECT user_id, ts, value FROM events
  UNION ALL
  SELECT user_id + 1000000 AS user_id, ts, value FROM events
  UNION ALL
  SELECT user_id + 1000000 AS user_id, ts, value FROM firstev
),
"""
        + _SAX_WORDS_PLANTED
        + """,
bkt AS (SELECT user_id, word & 255 AS bucket FROM words),
hits AS (
  SELECT o.user_id
  FROM bkt o JOIN bkt t
    ON t.user_id = o.user_id + 1000000 AND t.bucket = o.bucket
  WHERE o.user_id < 1000000
),
np AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_planted FROM events),
nh AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hits FROM hits)
SELECT n_planted, n_hits,
       ROUND(CAST(n_hits AS DOUBLE) / n_planted, 6) AS capture
FROM np, nh
"""
    )
    sql["events_sax_candidates"] = (
        "WITH "
        + _SAX_WORDS
        + """,
bkt AS (SELECT user_id, word & 255 AS bucket FROM words)
SELECT a.user_id AS u1, b.user_id AS u2, a.bucket AS bucket
FROM bkt a JOIN bkt b
  ON a.bucket = b.bucket AND a.user_id < b.user_id
"""
    )
    # time-series similarity: 24-dim hourly value profiles, quantized
    # cosine top-k for the bounded query batch (user_id % 50 = 0)
    sql["events_user_similarity"] = """
WITH prof AS (
  SELECT user_id, CAST(hour(ts) AS BIGINT) AS h,
         CAST(SUM(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS q
  FROM events GROUP BY user_id, hour(ts)
),
qq AS (SELECT user_id AS query_user, h, q AS qa FROM prof WHERE user_id % 50 = 0),
cc AS (SELECT user_id AS neighbor_user, h, q AS qb FROM prof),
dots AS (
  SELECT query_user, neighbor_user, CAST(SUM(qa * qb) AS BIGINT) AS dot
  FROM qq JOIN cc USING (h)
  WHERE query_user <> neighbor_user
  GROUP BY query_user, neighbor_user
),
qn AS (SELECT query_user, CAST(SUM(qa * qa) AS BIGINT) AS qn FROM qq GROUP BY query_user),
cn AS (SELECT neighbor_user, CAST(SUM(qb * qb) AS BIGINT) AS cn FROM cc GROUP BY neighbor_user),
scored AS (
  SELECT query_user, neighbor_user,
         (CASE WHEN dot < 0 THEN -1.0 WHEN dot > 0 THEN 1.0 ELSE 0.0 END)
         * (CAST(dot AS DOUBLE) * CAST(dot AS DOUBLE))
         / (CAST(qn AS DOUBLE) * CAST(cn AS DOUBLE)) AS score
  FROM dots JOIN qn USING (query_user) JOIN cn USING (neighbor_user)
)
SELECT query_user, neighbor_user, CAST(rank AS BIGINT) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_user
                               ORDER BY score DESC, neighbor_user) AS rank
  FROM scored) t
WHERE rank <= 5
"""
    sql["events_sax_recall"] = (
        "WITH "
        + _SAX_WORDS
        + """,
bkt AS (SELECT user_id, word & 255 AS bucket FROM words),
cand AS (
  SELECT a.user_id AS u1, b.user_id AS u2
  FROM bkt a JOIN bkt b
    ON a.bucket = b.bucket AND a.user_id < b.user_id
),
prof AS (
  SELECT user_id, CAST(hour(ts) AS BIGINT) AS h,
         CAST(SUM(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS q
  FROM events GROUP BY user_id, hour(ts)
),
qq AS (SELECT user_id AS qu, h, q AS qa FROM prof WHERE user_id % 50 = 0),
cc AS (SELECT user_id AS nu, h, q AS qb FROM prof),
dots AS (
  SELECT qu, nu, CAST(SUM(qa * qb) AS BIGINT) AS dot
  FROM qq JOIN cc USING (h) WHERE qu <> nu GROUP BY qu, nu
),
qn AS (SELECT qu, CAST(SUM(qa * qa) AS BIGINT) AS qn FROM qq GROUP BY qu),
cn AS (SELECT nu, CAST(SUM(qb * qb) AS BIGINT) AS cn FROM cc GROUP BY nu),
pairs AS (
  SELECT LEAST(qu, nu) AS u1, GREATEST(qu, nu) AS u2,
         MAX((CASE WHEN dot < 0 THEN -1.0 WHEN dot > 0 THEN 1.0 ELSE 0.0 END)
             * (CAST(dot AS DOUBLE) * CAST(dot AS DOUBLE))
             / (CAST(qn AS DOUBLE) * CAST(cn AS DOUBLE))) AS score
  FROM dots JOIN qn USING (qu) JOIN cn USING (nu)
  GROUP BY 1, 2
)
SELECT CAST(FLOOR(p.score * 20) AS BIGINT) AS band,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN c.u1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       ROUND(CAST(SUM(CASE WHEN c.u1 IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS capture
FROM pairs p LEFT JOIN cand c ON p.u1 = c.u1 AND p.u2 = c.u2
GROUP BY 1
"""
    )
    sql["events_sax_topk"] = (
        "WITH "
        + _SAX_WORDS
        + """,
bkt AS (SELECT user_id, word & 255 AS bucket FROM words),
qb AS (SELECT user_id AS query_user, bucket FROM bkt WHERE user_id % 50 = 0),
cand AS (
  SELECT q.query_user, b.user_id AS neighbor_user
  FROM qb q JOIN bkt b USING (bucket)
  WHERE q.query_user <> b.user_id
),
prof AS (
  SELECT user_id, CAST(hour(ts) AS BIGINT) AS h,
         CAST(SUM(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS q
  FROM events GROUP BY user_id, hour(ts)
),
dots AS (
  SELECT c.query_user, c.neighbor_user, CAST(SUM(a.q * b.q) AS BIGINT) AS dot
  FROM cand c
  JOIN prof a ON a.user_id = c.query_user
  JOIN prof b ON b.user_id = c.neighbor_user AND b.h = a.h
  GROUP BY c.query_user, c.neighbor_user
),
qn AS (SELECT user_id, CAST(SUM(q * q) AS BIGINT) AS qn FROM prof GROUP BY user_id),
cn AS (SELECT user_id, CAST(SUM(q * q) AS BIGINT) AS cn FROM prof GROUP BY user_id),
scored AS (
  SELECT d.query_user, d.neighbor_user,
         (CASE WHEN dot < 0 THEN -1.0 WHEN dot > 0 THEN 1.0 ELSE 0.0 END)
         * (CAST(dot AS DOUBLE) * CAST(dot AS DOUBLE))
         / (CAST(q1.qn AS DOUBLE) * CAST(c1.cn AS DOUBLE)) AS score
  FROM dots d
  JOIN qn q1 ON q1.user_id = d.query_user
  JOIN cn c1 ON c1.user_id = d.neighbor_user
)
SELECT query_user, neighbor_user, CAST(rank AS BIGINT) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_user
                               ORDER BY score DESC, neighbor_user) AS rank
  FROM scored) t
WHERE rank <= 3
"""
    )
    sql["events_running_total"] = """
SELECT event_id, user_id,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
         PARTITION BY user_id ORDER BY ts, event_id) AS DOUBLE), 6) AS running_value
FROM events
"""
    sql["events_time_to_convert"] = """
WITH s1 AS (
  SELECT user_id, MIN(epoch_us(ts)) AS s_us FROM events
  WHERE event_type = 'signup' GROUP BY user_id
),
p1 AS (
  SELECT e.user_id, MIN(epoch_us(ts) - s_us) AS delay_us
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE event_type = 'purchase' AND epoch_us(ts) >= s_us
  GROUP BY e.user_id
),
delays AS (SELECT delay_us // 1000000 AS d FROM p1),
vh AS (SELECT d, COUNT(*) AS cnt FROM delays GROUP BY d),
cum AS (SELECT d, CAST(SUM(cnt) OVER (ORDER BY d) AS BIGINT) AS cum FROM vh),
nt AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM vh),
want AS (SELECT p, n, CAST(CEIL(p * n) AS BIGINT) AS k
         FROM (SELECT UNNEST([CAST(0.25 AS DOUBLE), CAST(0.5 AS DOUBLE),
                              CAST(0.75 AS DOUBLE), CAST(0.9 AS DOUBLE)]) AS p),
              nt)
SELECT p, n AS n_converted, MIN(d) AS delay_s
FROM want JOIN cum ON cum >= k GROUP BY p, n
"""
    sql["events_quantile_sketch"] = """
WITH e AS (SELECT CAST(round(value * 1000) AS BIGINT) AS qv FROM events),
vh AS (SELECT qv, COUNT(*) AS cnt FROM e GROUP BY qv),
cum AS (SELECT qv, CAST(SUM(cnt) OVER (ORDER BY qv) AS BIGINT) AS cum FROM vh),
nt AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM vh),
bh AS (SELECT qv - (qv % 1000) AS bin_lo, COUNT(*) AS bcnt FROM e GROUP BY 1),
bcum AS (SELECT bin_lo, CAST(SUM(bcnt) OVER (ORDER BY bin_lo) AS BIGINT) AS bcum
         FROM bh),
want AS (SELECT p, n, CAST(CEIL(p * n) AS BIGINT) AS k
         FROM (SELECT UNNEST([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE),
                              CAST(0.99 AS DOUBLE)]) AS p), nt),
exact AS (SELECT p, n, k, MIN(qv) AS exact_qv
          FROM want JOIN cum ON cum >= k GROUP BY p, n, k),
est AS (SELECT p, MIN(bin_lo) AS est_lo
        FROM want JOIN bcum ON bcum >= k GROUP BY p)
SELECT exact.p AS p, n,
       ROUND(CAST(exact_qv AS DOUBLE) / 1000, 3) AS exact_q,
       ROUND(CAST(est_lo + 500 AS DOUBLE) / 1000, 3) AS est_q,
       ROUND(CAST(ABS((est_lo + 500) - exact_qv) AS DOUBLE) / 1000, 3) AS abs_err
FROM exact JOIN est ON exact.p = est.p
"""
    sql["events_zscore_outliers"] = """
WITH e AS (
  SELECT event_id, event_type, value,
         CAST(round(value * 1000) AS BIGINT) AS qv
  FROM events
),
st AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(qv) AS BIGINT) AS s,
         CAST(SUM(qv * qv) AS BIGINT) AS q
  FROM e GROUP BY event_type
)
SELECT event_id, event_type, value, z FROM (
  SELECT event_id, e.event_type, value,
         ROUND((CAST(qv AS DOUBLE) - CAST(s AS DOUBLE) / n)
               / sqrt(CAST(q AS DOUBLE) / n
                      - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)),
               4) AS z
  FROM e JOIN st ON e.event_type = st.event_type
  WHERE CAST(q AS DOUBLE) / n
        - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n) > 0
)
WHERE ABS(z) >= 3.0
"""
    # revenue concentration: rank window over the customer-sized
    # aggregate; Gini closed form over exact decimal sums
    sql["orders_pareto"] = """
WITH totals AS (
  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS t
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY t ASC, o_custkey ASC) AS i FROM totals
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(t) AS total_t,
         SUM(i * t) AS iwt
  FROM ranked
),
s1 AS (SELECT SUM(t) AS v1 FROM ranked, stats
       WHERE i > n - CAST(ceil(n * 1 / 100) AS BIGINT)),
s10 AS (SELECT SUM(t) AS v10 FROM ranked, stats
        WHERE i > n - CAST(ceil(n * 10 / 100) AS BIGINT)),
s20 AS (SELECT SUM(t) AS v20 FROM ranked, stats
        WHERE i > n - CAST(ceil(n * 20 / 100) AS BIGINT))
SELECT n AS n_customers,
       CAST(total_t AS DOUBLE) AS total_revenue,
       ROUND(CAST(v1 AS DOUBLE) / CAST(total_t AS DOUBLE), 6) AS top1_share,
       ROUND(CAST(v10 AS DOUBLE) / CAST(total_t AS DOUBLE), 6) AS top10_share,
       ROUND(CAST(v20 AS DOUBLE) / CAST(total_t AS DOUBLE), 6) AS top20_share,
       ROUND(2.0 * CAST(iwt AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(total_t AS DOUBLE))
             - CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS gini
FROM stats, s1, s10, s20
"""
    # robust MAD outliers: exact per-type lower medians via the
    # histogram decomposition, run twice (values, then |value-median|)
    sql["events_mad_outliers"] = """
WITH e AS (
  SELECT event_id, event_type, value,
         CAST(round(value * 1000) AS BIGINT) AS qv
  FROM events
),
vh AS (SELECT event_type, qv, COUNT(*) AS cnt FROM e GROUP BY event_type, qv),
vcum AS (
  SELECT event_type, qv,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY qv
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM vh
),
nt AS (SELECT event_type, COUNT(*) AS n FROM e GROUP BY event_type),
med AS (
  SELECT event_type, MIN(qv) AS med_qv
  FROM vcum JOIN nt USING (event_type)
  WHERE cum >= CAST(ceil(CAST(n AS DOUBLE) / 2) AS BIGINT)
  GROUP BY event_type
),
dev AS (
  SELECT e.event_type, ABS(qv - med_qv) AS ad
  FROM e JOIN med USING (event_type)
),
ah AS (SELECT event_type, ad, COUNT(*) AS cnt FROM dev GROUP BY event_type, ad),
acum AS (
  SELECT event_type, ad,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY ad
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM ah
),
mad AS (
  SELECT event_type, MIN(ad) AS mad
  FROM acum JOIN nt USING (event_type)
  WHERE cum >= CAST(ceil(CAST(n AS DOUBLE) / 2) AS BIGINT)
  GROUP BY event_type
)
SELECT event_id, event_type, value, robust_z FROM (
  SELECT event_id, e.event_type, value,
         ROUND(0.6745 * CAST(qv - med_qv AS DOUBLE) / CAST(mad AS DOUBLE), 4)
           AS robust_z
  FROM e JOIN med USING (event_type) JOIN mad USING (event_type)
  WHERE mad > 0
)
WHERE ABS(robust_z) >= 3.5
"""
    sql["events_attribution"] = """
WITH touched AS (
  SELECT event_type, value,
         COALESCE(
           LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END
                      IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           '(none)') AS touch_type
  FROM events
)
SELECT touch_type,
       CAST(COUNT(*) AS BIGINT) AS n_attributed,
       ROUND(CAST(SUM(CAST(round(value * 1000) AS BIGINT)) AS DOUBLE) / 1000, 3)
           AS credited_value
FROM touched WHERE event_type = 'purchase'
GROUP BY touch_type
"""
    sql["events_sessionize"] = """
WITH s AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL THEN 1
              WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000 THEN 1
              ELSE 0 END AS new_sess,
         ts
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s2 AS (
  SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS session_id
  FROM s
)
SELECT user_id, session_id, CAST(COUNT(*) AS BIGINT) AS n_events,
       MIN(us) AS start_us, MAX(us) AS end_us
FROM s2 GROUP BY user_id, session_id
"""
    sql["events_type_stats"] = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(SUM(CAST(regexp_extract(props, '"k":\\s*(-?\\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k
FROM events GROUP BY event_type
"""

    # --- dedup / similarity / text ---
    sql["dedup_exact_groups"] = (
        "SELECT md5(text) AS digest, CAST(COUNT(*) AS BIGINT) AS n_docs, "
        "MIN(doc_id) AS keeper_doc_id FROM documents GROUP BY md5(text)"
    )
    sql["dedup_exact_keep"] = (
        "SELECT * FROM documents WHERE doc_id IN "
        "(SELECT MIN(doc_id) FROM documents GROUP BY md5(text))"
    )
    sql["text_char_entropy"] = """
WITH ch AS (
  SELECT doc_id, t.c AS c
  FROM documents, UNNEST(regexp_split_to_array(text, '')) AS t(c)
),
counts AS (SELECT doc_id, c, CAST(COUNT(*) AS BIGINT) AS cnt
           FROM ch GROUP BY doc_id, c),
per AS (SELECT doc_id, cnt,
               CAST(round(ln(CAST(cnt AS DOUBLE)) * 1000000) AS BIGINT) AS qln
        FROM counts),
agg AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_chars,
               CAST(COUNT(*) AS BIGINT) AS n_distinct,
               CAST(SUM(cnt * qln) AS BIGINT) AS s
        FROM per GROUP BY doc_id)
SELECT doc_id, n_chars, n_distinct,
       ROUND(ln(CAST(n_chars AS DOUBLE))
             - (CAST(s AS DOUBLE) / n_chars) / 1000000, 6) AS entropy
FROM agg
"""
    sql["text_stupid_backoff"] = (
        "WITH "
        + _TOKS
        + """,
lw AS (SELECT doc_id, list_transform(w, x -> lower(x)) AS w FROM toks),
dp AS (
  SELECT doc_id, w[i] AS w1, w[i+1] AS w2, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM lw, UNNEST(range(1, len(w))) AS t(i)
  GROUP BY doc_id, w[i], w[i+1]
),
pruned AS (SELECT w1, w2, CAST(SUM(cnt) AS BIGINT) AS c_bi
           FROM dp GROUP BY w1, w2 HAVING SUM(cnt) >= 3),
ctx AS (SELECT w1, CAST(SUM(c_bi) AS BIGINT) AS c_ctx FROM pruned GROUP BY w1),
ps AS (SELECT pruned.w1, w2,
              CAST(round(ln(CAST(c_bi AS DOUBLE) / c_ctx) * 1000000) AS BIGINT) AS q_bi
       FROM pruned JOIN ctx ON pruned.w1 = ctx.w1),
uni AS (SELECT t.tok AS tok, CAST(COUNT(*) AS BIGINT) AS c_uni
        FROM lw, UNNEST(w) AS t(tok) GROUP BY t.tok),
n_tok AS (SELECT CAST(SUM(c_uni) AS BIGINT) AS n_tok FROM uni),
w2s AS (SELECT tok AS w2,
               CAST(round(ln(0.4 * (CAST(c_uni AS DOUBLE) / n_tok)) * 1000000)
                    AS BIGINT) AS q_bo
        FROM uni, n_tok),
scored AS (
  SELECT doc_id, cnt, COALESCE(q_bi, q_bo) AS q,
         CASE WHEN q_bi IS NULL THEN 1 ELSE 0 END AS bo
  FROM dp LEFT JOIN ps ON dp.w1 = ps.w1 AND dp.w2 = ps.w2
          JOIN w2s ON dp.w2 = w2s.w2
)
SELECT doc_id,
       CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
       CAST(SUM(bo * cnt) AS BIGINT) AS n_backoff,
       ROUND((CAST(SUM(q * cnt) AS DOUBLE) / SUM(cnt)) / 1000000, 6)
           AS mean_logprob
FROM scored GROUP BY doc_id
"""
    )
    # topic clusters: the pmi scorer's CTE chain + exact recursive
    # reachability (the engine's fixed hook+shortcut rounds must match
    # the true closure — convergence is part of what the hash proves)
    sql["text_topic_clusters"] = (
        "WITH RECURSIVE "
        + _TOKS
        + """,
lw AS (SELECT doc_id, list_transform(w, x -> lower(x)) AS w FROM toks),
bic AS (
  SELECT w[i] AS w1, w[i+1] AS w2, CAST(COUNT(*) AS BIGINT) AS c_bi
  FROM lw, UNNEST(range(1, len(w))) AS t(i)
  GROUP BY w[i], w[i+1]
),
n_bi AS (SELECT CAST(SUM(c_bi) AS BIGINT) AS n_bi FROM bic),
uni AS (
  SELECT t.tok AS tok, CAST(COUNT(*) AS BIGINT) AS c_uni
  FROM lw, UNNEST(w) AS t(tok) GROUP BY t.tok
),
n_tok AS (SELECT CAST(SUM(c_uni) AS BIGINT) AS n_tok FROM uni),
scored AS (
  SELECT w1, w2,
         CAST(round(ln((CAST(c_bi AS DOUBLE) / n_bi)
                       / ((CAST(u1.c_uni AS DOUBLE) / n_tok)
                          * (CAST(u2.c_uni AS DOUBLE) / n_tok))) * 1000000)
              AS BIGINT) AS q_pmi
  FROM bic JOIN uni u1 ON bic.w1 = u1.tok
           JOIN uni u2 ON bic.w2 = u2.tok, n_bi, n_tok
  WHERE c_bi >= 5
),
eg AS (SELECT w1, w2 FROM scored WHERE q_pmi >= 300000 AND w1 <> w2),
edges AS (SELECT w1, w2 FROM eg UNION SELECT w2 AS w1, w1 AS w2 FROM eg),
nodes AS (SELECT DISTINCT w1 AS word FROM edges),
reach AS (
  SELECT word, word AS root FROM nodes
  UNION
  SELECT e.w2 AS word, r.root FROM reach r JOIN edges e ON e.w1 = r.word
)
SELECT word, MIN(root) AS cluster_id FROM reach GROUP BY word
"""
    )
    sql["text_zipf_audit"] = (
        "WITH "
        + _TOKS
        + """,
tk AS (SELECT lower(t.tok) AS tok FROM toks, UNNEST(w) AS t(tok)),
vocab AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM tk GROUP BY tok),
ranked AS (
  SELECT cnt,
         CAST(round(ln(CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS DOUBLE)) * 1000) AS BIGINT) AS x,
         CAST(round(ln(CAST(cnt AS DOUBLE)) * 1000) AS BIGINT) AS y
  FROM vocab
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_types,
         CAST(SUM(cnt) AS BIGINT) AS n_tokens,
         CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
         CAST(SUM(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) AS BIGINT) AS dis,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy, CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM ranked
)
SELECT n_types, n_tokens, hapax, dis,
       ROUND(CAST(n_types AS DOUBLE) / n_tokens, 6) AS ttr,
       ROUND((CAST(n_types AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / (CAST(n_types AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 6)
           AS zipf_slope
FROM agg
"""
    )
    sql["text_pmi_collocations"] = (
        "WITH "
        + _TOKS
        + """,
lw AS (SELECT doc_id, list_transform(w, x -> lower(x)) AS w FROM toks),
bic AS (
  SELECT w[i] AS w1, w[i+1] AS w2, CAST(COUNT(*) AS BIGINT) AS c_bi
  FROM lw, UNNEST(range(1, len(w))) AS t(i)
  GROUP BY w[i], w[i+1]
),
n_bi AS (SELECT CAST(SUM(c_bi) AS BIGINT) AS n_bi FROM bic),
uni AS (
  SELECT t.tok AS tok, CAST(COUNT(*) AS BIGINT) AS c_uni
  FROM lw, UNNEST(w) AS t(tok) GROUP BY t.tok
),
n_tok AS (SELECT CAST(SUM(c_uni) AS BIGINT) AS n_tok FROM uni),
scored AS (
  SELECT w1, w2, c_bi,
         CAST(round(ln((CAST(c_bi AS DOUBLE) / n_bi)
                       / ((CAST(u1.c_uni AS DOUBLE) / n_tok)
                          * (CAST(u2.c_uni AS DOUBLE) / n_tok))) * 1000000)
              AS BIGINT) AS q_pmi
  FROM bic JOIN uni u1 ON bic.w1 = u1.tok
           JOIN uni u2 ON bic.w2 = u2.tok, n_bi, n_tok
  WHERE c_bi >= 5
)
SELECT * FROM (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY q_pmi DESC, w1, w2) AS BIGINT) AS rank,
         w1, w2, c_bi, q_pmi
  FROM scored
) WHERE rank <= 15
"""
    )
    # sparse TF-IDF cosine pairs: the oracle mirrors the df-bounded
    # inverted index literally — quantized integer weights, exact
    # integer dot/norms, ONE final IEEE division (same convention as
    # the quantized-cosine dense path)
    sql["dedup_tfidf_cosine"] = """
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS w
  FROM documents
),
total AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
tfq AS (
  SELECT doc_id, concat_ws(' ', w[i], w[i+1], w[i+2]) AS term,
         CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks, UNNEST(range(1, len(w) - 1)) AS t(i)
  GROUP BY doc_id, term
),
dfq AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df
  FROM tfq GROUP BY term HAVING COUNT(*) BETWEEN 2 AND 1000
),
post AS (
  SELECT doc_id, tfq.term,
         CAST(round(tf * ln(1 + CAST(n AS DOUBLE) / df) * 1000) AS BIGINT) AS w
  FROM tfq JOIN dfq ON tfq.term = dfq.term, total
),
norms AS (SELECT doc_id, CAST(SUM(w * w) AS BIGINT) AS n2 FROM post GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2,
         CAST(COUNT(*) AS BIGINT) AS n_shared_terms,
         CAST(SUM(a.w * b.w) AS BIGINT) AS dot
  FROM post a JOIN post b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT * FROM (
  SELECT d1, d2, n_shared_terms,
         ROUND((CAST(dot AS DOUBLE) * CAST(dot AS DOUBLE))
               / (CAST(x.n2 AS DOUBLE) * CAST(y.n2 AS DOUBLE)), 6) AS score
  FROM pairs JOIN norms x ON pairs.d1 = x.doc_id
             JOIN norms y ON pairs.d2 = y.doc_id
) WHERE score >= 0.04
"""
    # first occurrence per digest under (batch, doc_id) arrival order —
    # the algebraic statement of what the micro-batch gate fold emits
    sql["streaming_dedup_gate"] = """
SELECT doc_id, digest, CAST(doc_id % 3 AS BIGINT) AS batch
FROM (SELECT doc_id, md5(text) AS digest,
             ROW_NUMBER() OVER (PARTITION BY md5(text)
                                ORDER BY doc_id % 3, doc_id) AS rn
      FROM documents)
WHERE rn = 1
"""
    # union of per-batch emissions of the interval-join fold = the plain
    # batch interval join (each pair emitted once, at its later side's
    # arrival batch — arrival partition cancels out of the union)
    sql["streaming_interval_join"] = """
SELECT p.event_id AS purchase_id, p.user_id,
       epoch_us(p.ts) AS purchase_us,
       c.event_id AS click_id, epoch_us(c.ts) AS click_us
FROM events p JOIN events c
  ON p.event_type = 'purchase' AND c.event_type = 'click'
 AND p.user_id = c.user_id
 AND c.ts >= p.ts - INTERVAL 2 HOUR AND c.ts <= p.ts
"""
    # final state of the session fold = gap-sessionization of ALL events:
    # lag-gap break detection (STRICT >: an event exactly `gap` after the
    # previous one merges — F.session_window's semantics) + island
    # prefix-sum; end = last event + gap
    sql["streaming_session_fold"] = """
WITH m AS (
  SELECT user_id, epoch_us(ts) AS us,
         CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s AS (
  SELECT user_id, us,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY us) AS sid
  FROM m
)
SELECT user_id, MIN(us) AS start_us,
       MAX(us) + 1800000000 AS end_us,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM s GROUP BY user_id, sid
"""
    sql["dedup_ngram_jaccard"] = (
        "WITH "
        + _SHINGLES
        + """,
counts AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(COUNT(*) AS BIGINT) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT d1, d2, common,
       ROUND(CAST(common AS DOUBLE) / (c1.n_sh + c2.n_sh - common), 4) AS jac
FROM pairs
JOIN counts c1 ON c1.doc_id = d1
JOIN counts c2 ON c2.doc_id = d2
WHERE ROUND(CAST(common AS DOUBLE) / (c1.n_sh + c2.n_sh - common), 4) >= 0.5
"""
    )
    sql["dedup_containment"] = (
        "WITH "
        + _SHINGLES
        + """,
counts AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(COUNT(*) AS BIGINT) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT * FROM (
  SELECT d1, d2, common,
         ROUND(CAST(common AS DOUBLE) / c1.n_sh, 4) AS c1_in_2,
         ROUND(CAST(common AS DOUBLE) / c2.n_sh, 4) AS c2_in_1
  FROM pairs
  JOIN counts c1 ON c1.doc_id = d1
  JOIN counts c2 ON c2.doc_id = d2
) WHERE c1_in_2 >= 0.8 OR c2_in_1 >= 0.8
"""
    )
    mh_cols = ", ".join(
        f"MIN(md5('{i}|' || shingle)) AS mh{i}" for i in range(8)
    )
    sql["dedup_minhash_signatures"] = (
        "WITH " + _SHINGLES + f"\nSELECT doc_id, {mh_cols} FROM sh GROUP BY doc_id"
    )
    sql["dedup_minhash_lsh"] = (
        "WITH "
        + _SHINGLES
        + """,
sig AS (
  SELECT doc_id, seed,
         MIN(md5(CAST(seed AS VARCHAR) || '|' || shingle)) AS mh
  FROM sh CROSS JOIN (SELECT UNNEST(generate_series(0, 7)) AS seed) seeds
  GROUP BY doc_id, seed
),
banded AS (
  SELECT doc_id, CAST(seed // 2 AS INT) AS band,
         string_agg(mh, '|' ORDER BY seed) AS band_sig
  FROM sig GROUP BY doc_id, CAST(seed // 2 AS INT)
)
SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(COUNT(*) AS BIGINT) AS n_shared_bands
FROM banded a
JOIN banded b ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
"""
    )
    # LSH index-quality audit (dedup.lsh_recall_audit): composes the
    # exact-Jaccard and LSH-candidate oracles; 1-row exact-integer counts
    sql["dedup_lsh_recall"] = (
        "WITH exact AS (SELECT d1, d2 FROM ("
        + sql["dedup_ngram_jaccard"]
        + """) e),
cand AS (SELECT d1, d2 FROM ("""
        + sql["dedup_minhash_lsh"]
        + """) c),
ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM exact),
nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates FROM cand),
nh AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hits
       FROM exact JOIN cand USING (d1, d2))
SELECT n_exact, n_candidates, n_hits,
       CASE WHEN n_exact > 0
            THEN ROUND(CAST(n_hits AS DOUBLE) / n_exact, 6)
            ELSE 1.0 END AS recall
FROM ne CROSS JOIN nc CROSS JOIN nh
"""
    )
    # MinHash estimate-vs-exact audit over the LSH candidate pairs
    # (dedup.minhash_estimate_audit): ppm-quantized integers so the
    # error aggregates exactly
    sql["dedup_minhash_estimate"] = (
        "WITH cand AS (SELECT d1, d2 FROM ("
        + sql["dedup_minhash_lsh"]
        + """) c),
"""
        + _SHINGLES.strip().rstrip()
        + """,
sig AS (
  SELECT doc_id, seed,
         MIN(md5(CAST(seed AS VARCHAR) || '|' || shingle)) AS mh
  FROM sh CROSS JOIN (SELECT UNNEST(generate_series(0, 7)) AS seed) seeds
  GROUP BY doc_id, seed
),
p1 AS (
  SELECT c.d1, c.d2,
         CAST(CAST(1000000 AS BIGINT)
              * SUM(CASE WHEN s1.mh = s2.mh THEN 1 ELSE 0 END) // 8
              AS BIGINT) AS est_ppm
  FROM cand c
  JOIN sig s1 ON s1.doc_id = c.d1
  JOIN sig s2 ON s2.doc_id = c.d2 AND s2.seed = s1.seed
  GROUP BY c.d1, c.d2
),
icnt AS (
  SELECT c.d1, c.d2, COUNT(*) AS n_inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.d1
  JOIN sh b ON b.doc_id = c.d2 AND b.shingle = a.shingle
  GROUP BY c.d1, c.d2
),
scnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
p2 AS (
  SELECT i.d1, i.d2,
         CAST(CAST(1000000 AS BIGINT) * n_inter
              // (ca.n_sh + cb.n_sh - n_inter) AS BIGINT) AS exact_ppm
  FROM icnt i
  JOIN scnt ca ON ca.doc_id = i.d1
  JOIN scnt cb ON cb.doc_id = i.d2
),
pp AS (
  SELECT est_ppm, exact_ppm, ABS(est_ppm - exact_ppm) AS err_ppm
  FROM p1 JOIN p2 USING (d1, d2)
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND(AVG(est_ppm), 1) AS mean_est_ppm,
       ROUND(AVG(exact_ppm), 1) AS mean_exact_ppm,
       ROUND(AVG(err_ppm), 1) AS mean_abs_err_ppm,
       CAST(MAX(err_ppm) AS BIGINT) AS max_abs_err_ppm
FROM pp
"""
    )
    sql["dedup_lsh_incremental"] = (
        "WITH "
        + _SHINGLES
        + """,
sig AS (
  SELECT doc_id, seed,
         MIN(md5(CAST(seed AS VARCHAR) || '|' || shingle)) AS mh
  FROM sh CROSS JOIN (SELECT UNNEST(generate_series(0, 7)) AS seed) seeds
  GROUP BY doc_id, seed
),
banded AS (
  SELECT doc_id, CAST(seed // 2 AS INT) AS band,
         string_agg(mh, '|' ORDER BY seed) AS band_sig
  FROM sig GROUP BY doc_id, CAST(seed // 2 AS INT)
)
SELECT a.doc_id AS new_doc_id, b.doc_id AS indexed_doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shared_bands
FROM banded a
JOIN banded b ON a.band = b.band AND a.band_sig = b.band_sig
WHERE a.doc_id % 7 = 3 AND b.doc_id % 7 <> 3
GROUP BY a.doc_id, b.doc_id
"""
    )
    sql["dedup_decisions"] = (
        "WITH "
        + _SHINGLES
        + """,
counts AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(COUNT(*) AS BIGINT) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
jac AS (
  SELECT d1, d2 FROM pairs
  JOIN counts c1 ON c1.doc_id = d1
  JOIN counts c2 ON c2.doc_id = d2
  WHERE ROUND(CAST(common AS DOUBLE) / (c1.n_sh + c2.n_sh - common), 4) >= 0.5
)
SELECT d2 AS doc_id, MIN(d1) AS keeper_doc_id FROM jac GROUP BY d2
"""
    )
    sql["dedup_clusters"] = (
        "WITH RECURSIVE "
        + _SHINGLES
        + """,
counts AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(COUNT(*) AS BIGINT) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
jac AS (
  SELECT d1, d2 FROM pairs
  JOIN counts c1 ON c1.doc_id = d1
  JOIN counts c2 ON c2.doc_id = d2
  WHERE ROUND(CAST(common AS DOUBLE) / (c1.n_sh + c2.n_sh - common), 4) >= 0.5
),
edges AS (SELECT d1, d2 FROM jac UNION ALL SELECT d2 AS d1, d1 AS d2 FROM jac),
reach AS (
  SELECT doc_id, doc_id AS root FROM documents
  UNION
  SELECT e.d2 AS doc_id, r.root FROM reach r JOIN edges e ON e.d1 = r.doc_id
)
SELECT doc_id, MIN(root) AS cluster_id FROM reach GROUP BY doc_id
"""
    )
    # the pointer-jumping variant declares the SAME semantics — same
    # independent recursive-CTE oracle
    sql["dedup_clusters_fast"] = sql["dedup_clusters"]
    # canonical representative per cluster: longest member, ties to the
    # lowest doc_id (dedup.dedup_canonical)
    sql["dedup_canonical"] = (
        """
SELECT doc_id, cluster_id, n_chars, n_members FROM (
  SELECT c.doc_id, c.cluster_id, CAST(d.n_chars AS BIGINT) AS n_chars,
         ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                            ORDER BY d.n_chars DESC, c.doc_id) AS rk,
         CAST(COUNT(*) OVER (PARTITION BY c.cluster_id) AS BIGINT) AS n_members
  FROM ("""
        + sql["dedup_clusters"]
        + """) c JOIN documents d USING (doc_id)
) t WHERE rk = 1
"""
    )
    sql["pipeline_sample"] = (
        "SELECT * FROM documents WHERE "
        "substring(md5(CAST(doc_id AS VARCHAR) || '|' || text), 1, 2) < '1a'"
    )
    # A/B bucketing + SRM: the md5 coin mod the total weight maps to an
    # arm by cumulative-weight interval; zero-unit arms still report
    sql["pipeline_ab_assign"] = """
WITH arms(arm, lo, hi, w) AS (
  VALUES ('control', 0, 2, 2), ('treatment', 2, 4, 2), ('holdout', 4, 5, 1)
),
assigned AS (
  SELECT CAST('0x' || substr(md5('exp1|' || CAST(doc_id AS VARCHAR)), 1, 8)
              AS BIGINT) % 5 AS bucket
  FROM documents
),
obs AS (
  SELECT arm, w, COUNT(bucket) AS n_docs
  FROM arms LEFT JOIN assigned ON bucket >= lo AND bucket < hi
  GROUP BY arm, w
),
tot AS (SELECT COUNT(*) AS n_total FROM documents)
SELECT arm, CAST(n_docs AS BIGINT) AS n_docs,
       ROUND(CAST(n_total AS DOUBLE) * w / 5, 6) AS expected_docs,
       CASE WHEN n_total > 0 THEN
         ROUND(POWER(CAST(n_docs AS DOUBLE) - CAST(n_total AS DOUBLE) * w / 5, 2)
               / (CAST(n_total AS DOUBLE) * w / 5), 6)
       END AS chi2_component
FROM obs, tot
"""
    sql["pipeline_split"] = """
SELECT doc_id,
       CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                 < 214748364 THEN 'test'
            WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                 < 429496729 THEN 'val'
            ELSE 'train' END AS split
FROM documents
"""
    # near-dup leakage across the split boundary: LSH candidate pairs
    # (the dedup_minhash_lsh statement verbatim) x the split coin
    sql["pipeline_split_leakage"] = (
        "WITH cand AS (SELECT d1, d2 FROM ("
        + sql["dedup_minhash_lsh"]
        + """) c),
sp AS ("""
        + sql["pipeline_split"]
        + """)
SELECT LEAST(a.split, b.split) AS split_a,
       GREATEST(a.split, b.split) AS split_b,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       LEAST(a.split, b.split) <> GREATEST(a.split, b.split) AS leaked
FROM cand
JOIN sp a ON cand.d1 = a.doc_id
JOIN sp b ON cand.d2 = b.doc_id
GROUP BY 1, 2
"""
    )
    # downsample-only mixture rebalance (sampling.mixture_rebalance):
    # keep f_g = (w_g/t_g)/max_h(w_h/t_h); membership by pure integer
    # cross-multiplication in HUGEINT (mirrors the DECIMAL(38,0) Spark
    # side); argmax by double ratio + group-name tie-break (correctly
    # rounded division agrees across engines)
    sql["pipeline_mixture_rebalance"] = (
        "WITH "
        + _TOKS
        + """,
mbase AS (
  SELECT doc_id, lang, CAST(len(w) AS BIGINT) AS n_tokens FROM toks
),
tgt(lang, tw) AS (VALUES ('de', 200000), ('en', 500000), ('es', 200000), ('fr', 100000)),
gt AS (
  SELECT b.lang, CAST(SUM(n_tokens) AS BIGINT) AS t, MAX(tw) AS tw
  FROM mbase b JOIN tgt USING (lang) GROUP BY b.lang
),
hstar AS (
  SELECT tw AS wh, t AS th FROM gt
  ORDER BY CAST(tw AS DOUBLE) / t DESC, lang LIMIT 1
),
thr AS (SELECT lang, t, tw, wh, th FROM gt, hstar)
SELECT b.doc_id, b.lang, b.n_tokens
FROM mbase b JOIN thr USING (lang)
WHERE CAST(CAST('0x' || substr(md5(CAST(b.doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS HUGEINT)
        * CAST(t AS HUGEINT) * CAST(wh AS HUGEINT)
      < CAST(4294967296 AS HUGEINT) * CAST(tw AS HUGEINT) * CAST(th AS HUGEINT)
"""
    )
    # train/val distribution drift: JSD over unigram distributions,
    # per-term contributions quantized to 1e9 integers before the
    # vocabulary sum (textops.split_divergence)
    sql["text_split_divergence"] = (
        "WITH "
        + _TOKS
        + """,
sp AS (
  SELECT doc_id,
         CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                   < 214748364 THEN 'test'
              WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                   < 429496729 THEN 'val'
              ELSE 'train' END AS split
  FROM documents
),
tk AS (
  SELECT sp.split, lower(t.tok) AS tok
  FROM toks JOIN sp USING (doc_id), UNNEST(w) AS t(tok)
  WHERE sp.split IN ('train', 'val')
),
counts AS (
  SELECT tok,
         CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS train,
         CAST(SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS val
  FROM tk GROUP BY tok
),
totals AS (SELECT SUM(train) AS nt, SUM(val) AS nv FROM counts),
per_term AS (
  SELECT train, val,
         CAST(round((
           (CASE WHEN train > 0 AND nt > 0 AND nv > 0
                 THEN (CAST(train AS DOUBLE) / nt)
                      * ln((CAST(train AS DOUBLE) / nt)
                           / ((CAST(train AS DOUBLE) / nt + CAST(val AS DOUBLE) / nv) / 2))
                 ELSE 0.0 END
          + CASE WHEN val > 0 AND nt > 0 AND nv > 0
                 THEN (CAST(val AS DOUBLE) / nv)
                      * ln((CAST(val AS DOUBLE) / nv)
                           / ((CAST(train AS DOUBLE) / nt + CAST(val AS DOUBLE) / nv) / 2))
                 ELSE 0.0 END) / 2 * 1e9)) AS BIGINT) AS qc
  FROM counts, totals
)
SELECT CAST(MAX(nt) AS BIGINT) AS n_train_tokens,
       CAST(MAX(nv) AS BIGINT) AS n_val_tokens,
       CAST(SUM(CASE WHEN train > 0 AND val > 0 THEN 1 ELSE 0 END) AS BIGINT) AS shared_vocab,
       CAST(SUM(CASE WHEN train > 0 AND val = 0 THEN 1 ELSE 0 END) AS BIGINT) AS train_only_vocab,
       CAST(SUM(CASE WHEN train = 0 AND val > 0 THEN 1 ELSE 0 END) AS BIGINT) AS val_only_vocab,
       CASE WHEN MAX(nt) > 0 AND MAX(nv) > 0
            THEN ROUND(CAST(SUM(qc) AS DOUBLE) / 1e9, 6) END AS jsd
FROM per_term, totals
"""
    )
    sql["text_vocab_coverage"] = (
        "WITH "
        + _TOKS
        + """,
tk AS (SELECT lower(t.tok) AS tok FROM toks, UNNEST(w) AS t(tok)),
counts AS (SELECT tok, COUNT(*) AS n FROM tk GROUP BY tok),
ranked AS (
  SELECT ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS rank,
         SUM(n) OVER (ORDER BY n DESC, tok
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM counts
),
tot AS (SELECT SUM(n) AS n_total FROM counts),
th AS (SELECT * FROM (VALUES (50), (90), (99)) t(pct))
SELECT CAST(th.pct AS INT) AS pct,
       CAST(MIN(rank) AS BIGINT) AS vocab_size,
       CAST(MAX(n_total) AS BIGINT) AS n_total
FROM ranked, tot, th
WHERE cum * 100 >= n_total * th.pct
GROUP BY th.pct
"""
    )
    sql["pipeline_quota_sample"] = """
WITH h AS (
  SELECT doc_id, lang,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS h32
  FROM documents
),
r AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h32, doc_id) AS rk
  FROM h
)
SELECT doc_id, lang, CAST(rk AS BIGINT) AS rk FROM r WHERE rk <= 20
"""
    sql["pipeline_temperature_mix"] = """
WITH counts AS (SELECT lang, COUNT(*) AS n_l FROM documents GROUP BY lang),
weights AS (
  SELECT lang, n_l,
         CAST(round(sqrt(n_l) * 1000000) AS DECIMAL(38,0)) AS w_l
  FROM counts
),
tot AS (
  SELECT CAST(SUM(w_l) AS DECIMAL(38,0)) AS w_tot,
         CAST(SUM(n_l) AS DECIMAL(38,0)) AS n_tot
  FROM weights
)
SELECT d.doc_id, d.lang, CAST(w.n_l AS BIGINT) AS n_l
FROM documents d JOIN weights w ON d.lang = w.lang, tot
WHERE CAST(CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT)
           AS DECIMAL(38,0)) * tot.w_tot * CAST(w.n_l AS DECIMAL(38,0))
      < w.w_l * tot.n_tot * CAST(4294967296 AS DECIMAL(38,0))
"""
    sql["text_top_ngrams"] = (
        "WITH "
        + _TOKS
        + """,
grams AS (
  SELECT lower(array_to_string(w[i:i+1], ' ')) AS ngram
  FROM toks, UNNEST(generate_series(1, len(w)-1)) AS t(i)
  WHERE len(w) >= 2
)
SELECT ngram, CAST(COUNT(*) AS BIGINT) AS n_occurrences
FROM grams GROUP BY ngram
ORDER BY n_occurrences DESC, ngram LIMIT 20
"""
    )
    sql["text_contamination"] = (
        "WITH "
        + _SHINGLES
        + """,
bench_sh AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 20 = 0),
target AS (SELECT * FROM sh WHERE doc_id % 20 <> 0),
tc AS (
  SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
         CAST(SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_contaminated
  FROM target t LEFT JOIN bench_sh b ON t.shingle = b.shingle
  GROUP BY t.doc_id
)
SELECT doc_id, n_shingles, n_contaminated,
       ROUND(CAST(n_contaminated AS DOUBLE) / n_shingles, 6) AS contamination_ratio
FROM tc
"""
    )
    sql["similarity_cell_centroids"] = similarity.CELL_CENTROIDS_SQL

    # kmeans: 2 Lloyd iterations unrolled as CTE pairs (refit c<n>,
    # re-assign a<n>) — exact integer distances, floor-quantized centroid
    # means, (dist2, cluster) argmin tie-break, vec_id%k seed: the literal
    # SQL image of clustering.kmeans_profile
    def _kmeans_sql(k: int, iters: int) -> str:
        out = [
            "WITH qv AS (",
            "  SELECT vec_id, i,",
            "         CAST(round(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS q",
            "  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)",
            "),",
            f"a0 AS (SELECT vec_id, CAST(vec_id % {k} AS BIGINT) AS cluster FROM embeddings)",
        ]
        for n in range(1, iters + 1):
            out.append(
                f""",
c{n} AS (
  SELECT cluster, i,
         CAST(FLOOR(CAST(SUM(q) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cq
  FROM qv JOIN a{n - 1} USING (vec_id) GROUP BY cluster, i
),
d{n} AS (
  SELECT qv.vec_id, c{n}.cluster, CAST(SUM((q - cq) * (q - cq)) AS BIGINT) AS dist2
  FROM qv JOIN c{n} USING (i) GROUP BY qv.vec_id, c{n}.cluster
),
a{n} AS (
  SELECT vec_id, cluster, dist2 FROM (
    SELECT vec_id, cluster, dist2,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2, cluster) AS rk
    FROM d{n}) WHERE rk = 1
)"""
            )
        out.append(
            f"""
SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dist2) AS BIGINT) AS wss
FROM a{iters} GROUP BY cluster"""
        )
        return "\n".join(out)

    sql["similarity_kmeans_cells"] = _kmeans_sql(8, 2)

    # pagerank: 3 damped iterations unrolled, exact integer micro-units
    # (pr//deg contributions, 150000 + (85*inbound)//100 update) — the
    # literal SQL image of graph.pagerank_top; // and Spark's div agree
    # on the non-negative values here
    def _pagerank_sql(iters: int, k: int) -> str:
        out = [
            """WITH pairs AS (
  SELECT DISTINCT 'C' || CAST(o_custkey AS VARCHAR) AS c,
                  'S' || CAST(l_suppkey AS VARCHAR) AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
edges AS (
  SELECT c AS src, s AS dst FROM pairs
  UNION ALL
  SELECT s AS src, c AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
outdeg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
pr0 AS (SELECT node, CAST(1000000 AS BIGINT) AS pr FROM nodes)"""
        ]
        for n in range(1, iters + 1):
            out.append(
                f""",
con{n} AS (
  SELECT e.dst, SUM(p.pr // o.deg) AS inbound
  FROM edges e JOIN pr{n - 1} p ON e.src = p.node JOIN outdeg o ON e.src = o.src
  GROUP BY e.dst
),
pr{n} AS (
  SELECT n.node,
         CAST(150000 + (85 * COALESCE(c.inbound, 0)) // 100 AS BIGINT) AS pr
  FROM nodes n LEFT JOIN con{n} c ON n.node = c.dst
)"""
            )
        out.append(
            f"""
SELECT CAST(rank AS INT) AS rank, node, pr FROM (
  SELECT ROW_NUMBER() OVER (ORDER BY pr DESC, node ASC) AS rank, node, pr
  FROM pr{iters})
WHERE rank <= {k}"""
        )
        return "\n".join(out)

    sql["graph_pagerank"] = _pagerank_sql(3, 20)

    # k-core peeling: the fixed 4 simultaneous-peel rounds unrolled
    # verbatim (standard SQL cannot aggregate in a recursive term, so
    # the engine pins the round count and the oracle mirrors it —
    # same discipline as the pagerank unroll above)
    def _kcore_sql(k: int, rounds: int) -> str:
        out = [
            """WITH pairs AS (
  SELECT DISTINCT 'C' || CAST(o_custkey AS VARCHAR) AS c,
                  'S' || CAST(l_suppkey AS VARCHAR) AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
e0 AS (
  SELECT c AS src, s AS dst FROM pairs
  UNION ALL
  SELECT s AS src, c AS dst FROM pairs
)"""
        ]
        for r in range(1, rounds + 1):
            out.append(
                f""",
keep{r} AS (
  SELECT src FROM (SELECT src, COUNT(*) AS deg FROM e{r - 1} GROUP BY src)
  WHERE deg >= {k}
),
e{r} AS (
  SELECT e.src, e.dst
  FROM e{r - 1} e JOIN keep{r} a ON e.src = a.src
                  JOIN keep{r} b ON e.dst = b.src
)"""
            )
        out.append(
            f"""
SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS core_deg,
       CASE WHEN COUNT(*) >= {k} THEN 1 ELSE 0 END AS is_core
FROM e{rounds} GROUP BY src"""
        )
        return "\n".join(out)

    sql["graph_kcore"] = _kcore_sql(30, 4)
    sql["similarity_bruteforce_topk"] = (
        "WITH "
        + _QUANT
        + """,
q AS (SELECT vec_id AS query_id, i, q FROM qv WHERE vec_id % 100 = 0),
c AS (SELECT vec_id AS neighbor_id, i, q FROM qv),
dots AS (
  SELECT query_id, neighbor_id, CAST(SUM(a.q * b.q) AS BIGINT) AS dot
  FROM q a JOIN c b USING (i)
  WHERE a.query_id <> b.neighbor_id
  GROUP BY query_id, neighbor_id
),
qn AS (SELECT query_id, CAST(SUM(q*q) AS BIGINT) AS qn FROM q GROUP BY query_id),
cn AS (SELECT neighbor_id, CAST(SUM(q*q) AS BIGINT) AS cn FROM c GROUP BY neighbor_id),
scored AS (
  SELECT query_id, neighbor_id,
         (CASE WHEN dot < 0 THEN -1.0 WHEN dot > 0 THEN 1.0 ELSE 0.0 END)
         * (CAST(dot AS DOUBLE) * CAST(dot AS DOUBLE))
         / (CAST(qn AS DOUBLE) * CAST(cn AS DOUBLE)) AS score
  FROM dots JOIN qn USING (query_id) JOIN cn USING (neighbor_id)
)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY score DESC, neighbor_id) AS rank
  FROM scored) t
WHERE rank <= 5
"""
    )
    # IVF nprobe sweep: the multiprobe oracle parameterized over the
    # probe count, each leg's top-5 intersected with the shared exact
    # top-5 and reduced to one (n_probe, n_queries, n_matches, recall)
    def _nprobe_leg(p: int) -> str:
        return f"""
probe{p} AS (
  SELECT query_id, cell FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2, cell) AS rk
    FROM dist) z
  WHERE rk <= {p}
),
agg{p} AS (
  SELECT a.query_id, b.neighbor_id,
         CAST(SUM(a.q * b.q) AS BIGINT) AS dot,
         CAST(SUM(a.q * a.q) AS BIGINT) AS qn,
         CAST(SUM(b.q * b.q) AS BIGINT) AS cn
  FROM qd a
  JOIN probe{p} p ON a.query_id = p.query_id
  JOIN cc b ON b.cell = p.cell AND b.i = a.i
  WHERE a.query_id <> b.neighbor_id
  GROUP BY a.query_id, b.neighbor_id
),
ap{p} AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
             (CASE WHEN dot < 0 THEN -1.0 WHEN dot > 0 THEN 1.0 ELSE 0.0 END)
             * (CAST(dot AS DOUBLE) * CAST(dot AS DOUBLE))
             / (CAST(qn AS DOUBLE) * CAST(cn AS DOUBLE)) DESC,
             neighbor_id) AS rank
    FROM agg{p}) t
  WHERE rank <= 5
),
leg{p} AS (
  SELECT CAST({p} AS BIGINT) AS n_probe,
         (SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT) FROM ex) AS n_queries,
         CAST((SELECT COUNT(*) FROM ap{p} JOIN ex USING (query_id, neighbor_id))
              AS BIGINT) AS n_matches,
         ROUND(CAST((SELECT COUNT(*) FROM ap{p} JOIN ex
                     USING (query_id, neighbor_id)) AS DOUBLE)
               / (5 * CAST((SELECT COUNT(DISTINCT query_id) FROM ex) AS DOUBLE)),
               6) AS recall
)"""

    sql["similarity_nprobe_curve"] = (
        "WITH "
        + _QUANT
        + """,
cents AS (
  SELECT label AS cell, i,
         CAST(round(CAST(SUM(q) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cq
  FROM qv GROUP BY label, i
),
qd AS (SELECT vec_id AS query_id, i, q FROM qv WHERE vec_id % 100 = 0),
cc AS (SELECT vec_id AS neighbor_id, label AS cell, i, q FROM qv),
dist AS (
  SELECT query_id, cell, SUM((q - cq) * (q - cq)) AS d2
  FROM qd JOIN cents ON qd.i = cents.i
  GROUP BY query_id, cell
),
exdots AS (
  SELECT a.query_id, b.neighbor_id,
         CAST(SUM(a.q * b.q) AS BIGINT) AS dot,
         CAST(SUM(a.q * a.q) AS BIGINT) AS qn,
         CAST(SUM(b.q * b.q) AS BIGINT) AS cn
  FROM qd a JOIN cc b USING (i)
  WHERE a.query_id <> b.neighbor_id
  GROUP BY a.query_id, b.neighbor_id
),
ex AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
             (CASE WHEN dot < 0 THEN -1.0 WHEN dot > 0 THEN 1.0 ELSE 0.0 END)
             * (CAST(dot AS DOUBLE) * CAST(dot AS DOUBLE))
             / (CAST(qn AS DOUBLE) * CAST(cn AS DOUBLE)) DESC,
             neighbor_id) AS rank
    FROM exdots) t
  WHERE rank <= 5
)"""
        + "".join(f",{_nprobe_leg(p)}" for p in (1, 2, 3, 4))
        + """
SELECT * FROM leg1 UNION ALL SELECT * FROM leg2
UNION ALL SELECT * FROM leg3 UNION ALL SELECT * FROM leg4
"""
    )
    # MRL truncation audit: per prefix width d, the exact top-k over
    # components i <= d (1-based UNNEST) vs the full-width exact top-k.
    # Truncation commutes with quantization (both per-component), so
    # the truncated legs reuse the same qv CTE with an i-bound.
    def _mrl_leg(d: int) -> str:
        return f"""
ap{d} AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY score DESC, neighbor_id) AS rank
    FROM (
      SELECT a.query_id, b.neighbor_id,
             (CASE WHEN SUM(a.q * b.q) < 0 THEN -1.0
                   WHEN SUM(a.q * b.q) > 0 THEN 1.0 ELSE 0.0 END)
             * (CAST(SUM(a.q * b.q) AS DOUBLE) * CAST(SUM(a.q * b.q) AS DOUBLE))
             / (CAST(qnt.qn AS DOUBLE) * CAST(cnt.cn AS DOUBLE)) AS score
      FROM q a JOIN c b USING (i)
      JOIN (SELECT query_id, SUM(q*q) AS qn FROM q WHERE i <= {d}
            GROUP BY query_id) qnt ON a.query_id = qnt.query_id
      JOIN (SELECT neighbor_id, SUM(q*q) AS cn FROM c WHERE i <= {d}
            GROUP BY neighbor_id) cnt ON b.neighbor_id = cnt.neighbor_id
      WHERE a.query_id <> b.neighbor_id AND a.i <= {d}
      GROUP BY a.query_id, b.neighbor_id, qnt.qn, cnt.cn
    )
  ) WHERE rank <= 5
),
hit{d} AS (
  SELECT query_id, COUNT(*) AS n FROM ap{d} JOIN ex USING (query_id, neighbor_id)
  GROUP BY query_id
),
leg{d} AS (
  SELECT CAST({d} AS BIGINT) AS dims, query_id,
         CAST(COALESCE(n, 0) AS BIGINT) AS n_matches,
         ROUND(CAST(COALESCE(n, 0) AS DOUBLE) / 5, 6) AS recall
  FROM qids LEFT JOIN hit{d} USING (query_id)
)"""

    sql["similarity_matryoshka_recall"] = (
        "WITH "
        + _QUANT
        + """,
q AS (SELECT vec_id AS query_id, i, q FROM qv WHERE vec_id % 100 = 0),
c AS (SELECT vec_id AS neighbor_id, i, q FROM qv),
ex AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY score DESC, neighbor_id) AS rank
    FROM (
      SELECT a.query_id, b.neighbor_id,
             (CASE WHEN SUM(a.q * b.q) < 0 THEN -1.0
                   WHEN SUM(a.q * b.q) > 0 THEN 1.0 ELSE 0.0 END)
             * (CAST(SUM(a.q * b.q) AS DOUBLE) * CAST(SUM(a.q * b.q) AS DOUBLE))
             / (CAST(qnt.qn AS DOUBLE) * CAST(cnt.cn AS DOUBLE)) AS score
      FROM q a JOIN c b USING (i)
      JOIN (SELECT query_id, SUM(q*q) AS qn FROM q GROUP BY query_id) qnt
           ON a.query_id = qnt.query_id
      JOIN (SELECT neighbor_id, SUM(q*q) AS cn FROM c GROUP BY neighbor_id) cnt
           ON b.neighbor_id = cnt.neighbor_id
      WHERE a.query_id <> b.neighbor_id
      GROUP BY a.query_id, b.neighbor_id, qnt.qn, cnt.cn
    )
  ) WHERE rank <= 5
),
qids AS (SELECT DISTINCT query_id FROM ex)"""
        + "".join(f",{_mrl_leg(d)}" for d in (32, 16, 8))
        + """
SELECT * FROM leg32 UNION ALL SELECT * FROM leg16 UNION ALL SELECT * FROM leg8
"""
    )
    # embedding decontamination: per TRAIN vector, its nearest EVAL
    # item (row_number ties on eval_id) kept when the quantized-cosine
    # score clears the threshold
    sql["similarity_decontamination"] = (
        "WITH "
        + _QUANT
        + """,
q AS (SELECT vec_id AS eval_id, i, q FROM qv WHERE vec_id % 100 = 0),
c AS (SELECT vec_id, i, q FROM qv WHERE vec_id % 100 <> 0),
dots AS (
  SELECT eval_id, vec_id, CAST(SUM(a.q * b.q) AS BIGINT) AS dot
  FROM q a JOIN c b USING (i)
  GROUP BY eval_id, vec_id
),
qn AS (SELECT eval_id, CAST(SUM(q*q) AS BIGINT) AS qn FROM q GROUP BY eval_id),
cn AS (SELECT vec_id, CAST(SUM(q*q) AS BIGINT) AS cn FROM c GROUP BY vec_id),
scored AS (
  SELECT vec_id, eval_id,
         (CASE WHEN dot < 0 THEN -1.0 WHEN dot > 0 THEN 1.0 ELSE 0.0 END)
         * (CAST(dot AS DOUBLE) * CAST(dot AS DOUBLE))
         / (CAST(qn AS DOUBLE) * CAST(cn AS DOUBLE)) AS score
  FROM dots JOIN qn USING (eval_id) JOIN cn USING (vec_id)
)
SELECT vec_id, eval_id, ROUND(score, 6) AS score FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                               ORDER BY score DESC, eval_id) AS rn
  FROM scored) t
WHERE rn = 1 AND score >= 0.12
"""
    )
    # embedding-norm QC: rank-based 1% trim, oracle = the literal
    # global-sort ROW_NUMBER (the engine decomposes it over bins)
    sql["similarity_norm_outliers"] = (
        "WITH "
        + _QUANT
        + """,
nrm AS (SELECT vec_id, CAST(SUM(q*q) AS BIGINT) AS norm2 FROM qv GROUP BY vec_id),
rr AS (
  SELECT vec_id, norm2,
         CAST(ROW_NUMBER() OVER (ORDER BY norm2, vec_id) AS BIGINT) AS rn,
         CAST(COUNT(*) OVER () AS BIGINT) AS n
  FROM nrm
)
SELECT vec_id, norm2, rn,
       CASE WHEN 100 * rn <= 1 * n THEN 'low' ELSE 'high' END AS side
FROM rr WHERE 100 * rn <= 1 * n OR 100 * rn > 99 * n
"""
    )
    # MMR diversified re-rank (retrieval.mmr_rerank): greedy k=3 loop
    # unrolled; argmax ties to the lower doc id; 0.7/0.3 cast to DOUBLE
    # so both engines combine identical IEEE values
    _mmr_score = (
        "(CASE WHEN dot < 0 THEN -1.0 WHEN dot > 0 THEN 1.0 ELSE 0.0 END)"
        " * (CAST(dot AS DOUBLE) * CAST(dot AS DOUBLE))"
    )
    sql["retrieval_mmr"] = (
        "WITH "
        + _QUANT
        + f""",
mq AS (SELECT vec_id AS query_id, i, q FROM qv WHERE vec_id % 100 = 0),
mc AS (SELECT vec_id AS neighbor_id, i, q FROM qv),
mdots AS (
  SELECT query_id, neighbor_id, CAST(SUM(a.q * b.q) AS BIGINT) AS dot
  FROM mq a JOIN mc b USING (i)
  WHERE a.query_id <> b.neighbor_id
  GROUP BY query_id, neighbor_id
),
nn AS (SELECT vec_id, CAST(SUM(q*q) AS BIGINT) AS n2 FROM qv GROUP BY vec_id),
mscored AS (
  SELECT query_id, neighbor_id,
         {_mmr_score} / (CAST(a.n2 AS DOUBLE) * CAST(b.n2 AS DOUBLE)) AS score
  FROM mdots JOIN nn a ON a.vec_id = mdots.query_id
             JOIN nn b ON b.vec_id = mdots.neighbor_id
),
cand AS (
  SELECT query_id, neighbor_id, score FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, neighbor_id) AS rk
    FROM mscored) t WHERE rk <= 20
),
cp AS (
  SELECT DISTINCT a.neighbor_id AS da, b.neighbor_id AS db
  FROM cand a JOIN cand b USING (query_id)
  WHERE a.neighbor_id <> b.neighbor_id
),
pd AS (
  SELECT cp.da, cp.db, CAST(SUM(x.q * y.q) AS BIGINT) AS dot
  FROM cp JOIN qv x ON x.vec_id = cp.da
          JOIN qv y ON y.vec_id = cp.db AND y.i = x.i
  GROUP BY cp.da, cp.db
),
psim AS (
  SELECT da, db,
         {_mmr_score} / (CAST(a.n2 AS DOUBLE) * CAST(b.n2 AS DOUBLE)) AS sim
  FROM pd JOIN nn a ON a.vec_id = pd.da JOIN nn b ON b.vec_id = pd.db
),
sel1 AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, neighbor_id) AS rk
    FROM cand) t WHERE rk = 1
),
rem1 AS (
  SELECT c.* FROM cand c LEFT JOIN sel1 s
    ON c.query_id = s.query_id AND c.neighbor_id = s.neighbor_id
  WHERE s.neighbor_id IS NULL
),
mmr2 AS (
  SELECT r.query_id, r.neighbor_id,
         CAST(0.7 AS DOUBLE) * r.score - CAST(0.3 AS DOUBLE) * MAX(p.sim) AS mmr
  FROM rem1 r JOIN sel1 s ON r.query_id = s.query_id
  JOIN psim p ON p.da = r.neighbor_id AND p.db = s.neighbor_id
  GROUP BY r.query_id, r.neighbor_id, r.score
),
sel2 AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY mmr DESC, neighbor_id) AS rk
    FROM mmr2) t WHERE rk = 1
),
rem2 AS (
  SELECT r.* FROM rem1 r LEFT JOIN sel2 s
    ON r.query_id = s.query_id AND r.neighbor_id = s.neighbor_id
  WHERE s.neighbor_id IS NULL
),
sel12 AS (SELECT * FROM sel1 UNION ALL SELECT * FROM sel2),
mmr3 AS (
  SELECT r.query_id, r.neighbor_id,
         CAST(0.7 AS DOUBLE) * r.score - CAST(0.3 AS DOUBLE) * MAX(p.sim) AS mmr
  FROM rem2 r JOIN sel12 s ON r.query_id = s.query_id
  JOIN psim p ON p.da = r.neighbor_id AND p.db = s.neighbor_id
  GROUP BY r.query_id, r.neighbor_id, r.score
),
sel3 AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY mmr DESC, neighbor_id) AS rk
    FROM mmr3) t WHERE rk = 1
)
SELECT query_id, neighbor_id AS doc_id, CAST(1 AS BIGINT) AS position FROM sel1
UNION ALL
SELECT query_id, neighbor_id, CAST(2 AS BIGINT) FROM sel2
UNION ALL
SELECT query_id, neighbor_id, CAST(3 AS BIGINT) FROM sel3
"""
    )
    # hard-negative mining: exact scores restricted to label-mismatched
    # pairs (similarity.hard_negatives)
    sql["similarity_hard_negatives"] = (
        "WITH "
        + _QUANT
        + """,
q AS (SELECT vec_id AS query_id, i, q FROM qv WHERE vec_id % 100 = 0),
c AS (SELECT vec_id AS neighbor_id, i, q FROM qv),
lab AS (SELECT vec_id, label FROM embeddings),
dots AS (
  SELECT query_id, neighbor_id, CAST(SUM(a.q * b.q) AS BIGINT) AS dot
  FROM q a JOIN c b USING (i)
  WHERE a.query_id <> b.neighbor_id
  GROUP BY query_id, neighbor_id
),
qn AS (SELECT query_id, CAST(SUM(q*q) AS BIGINT) AS qn FROM q GROUP BY query_id),
cn AS (SELECT neighbor_id, CAST(SUM(q*q) AS BIGINT) AS cn FROM c GROUP BY neighbor_id),
scored AS (
  SELECT query_id, neighbor_id,
         (CASE WHEN dot < 0 THEN -1.0 WHEN dot > 0 THEN 1.0 ELSE 0.0 END)
         * (CAST(dot AS DOUBLE) * CAST(dot AS DOUBLE))
         / (CAST(qn AS DOUBLE) * CAST(cn AS DOUBLE)) AS score
  FROM dots JOIN qn USING (query_id) JOIN cn USING (neighbor_id)
  JOIN lab ql ON ql.vec_id = dots.query_id
  JOIN lab nl ON nl.vec_id = dots.neighbor_id
  WHERE ql.label <> nl.label
)
SELECT query_id, negative_id, CAST(rank AS BIGINT) AS rank FROM (
  SELECT query_id, neighbor_id AS negative_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score DESC, neighbor_id) AS rank
  FROM scored) t
WHERE rank <= 5
"""
    )
    sql["similarity_sq8_recall"] = (
        "WITH "
        + _QUANT
        + """,
comps AS (
  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
),
stats AS (SELECT i, MIN(x) AS mn, MAX(x) AS mx FROM comps GROUP BY i),
codes AS (
  SELECT vec_id, comps.i,
         CAST(CASE WHEN mx > mn THEN round((x - mn) * 255 / (mx - mn))
                   ELSE 0 END AS INT) AS c
  FROM comps JOIN stats ON comps.i = stats.i
),
dec AS (
  SELECT vec_id AS neighbor_id, codes.i,
         CAST(round((mn + c * (mx - mn) / 255) * 1000) AS BIGINT) AS q
  FROM codes JOIN stats ON codes.i = stats.i
),
q AS (SELECT vec_id AS query_id, i, q FROM qv WHERE vec_id % 100 = 0),
c AS (SELECT vec_id AS neighbor_id, i, q FROM qv),
adots AS (
  SELECT query_id, neighbor_id, CAST(SUM(a.q * b.q) AS BIGINT) AS dot
  FROM q a JOIN dec b USING (i)
  WHERE a.query_id <> b.neighbor_id
  GROUP BY query_id, neighbor_id
),
qn AS (SELECT query_id, CAST(SUM(q*q) AS BIGINT) AS qn FROM q GROUP BY query_id),
acn AS (SELECT neighbor_id, CAST(SUM(q*q) AS BIGINT) AS cn FROM dec GROUP BY neighbor_id),
ascored AS (
  SELECT query_id, neighbor_id,
         (CASE WHEN dot < 0 THEN -1.0 WHEN dot > 0 THEN 1.0 ELSE 0.0 END)
         * (CAST(dot AS DOUBLE) * CAST(dot AS DOUBLE))
         / (CAST(qn AS DOUBLE) * CAST(cn AS DOUBLE)) AS score
  FROM adots JOIN qn USING (query_id) JOIN acn USING (neighbor_id)
),
approx AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, neighbor_id) AS rank
    FROM ascored) t
  WHERE rank <= 5
),
edots AS (
  SELECT query_id, neighbor_id, CAST(SUM(a.q * b.q) AS BIGINT) AS dot
  FROM q a JOIN c b USING (i)
  WHERE a.query_id <> b.neighbor_id
  GROUP BY query_id, neighbor_id
),
ecn AS (SELECT neighbor_id, CAST(SUM(q*q) AS BIGINT) AS cn FROM c GROUP BY neighbor_id),
escored AS (
  SELECT query_id, neighbor_id,
         (CASE WHEN dot < 0 THEN -1.0 WHEN dot > 0 THEN 1.0 ELSE 0.0 END)
         * (CAST(dot AS DOUBLE) * CAST(dot AS DOUBLE))
         / (CAST(qn AS DOUBLE) * CAST(cn AS DOUBLE)) AS score
  FROM edots JOIN qn USING (query_id) JOIN ecn USING (neighbor_id)
),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, neighbor_id) AS rank
    FROM escored) t
  WHERE rank <= 5
),
hits AS (
  SELECT a.query_id, CAST(COUNT(*) AS BIGINT) AS n_matches
  FROM approx a JOIN exact e
    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
  GROUP BY a.query_id
)
SELECT eq.query_id,
       COALESCE(h.n_matches, 0) AS n_matches,
       ROUND(CAST(COALESCE(h.n_matches, 0) AS DOUBLE) / 5, 6) AS recall
FROM (SELECT DISTINCT query_id FROM exact) eq
LEFT JOIN hits h ON eq.query_id = h.query_id
"""
    )
    sql["similarity_ivf_topk"] = (
        "WITH "
        + _QUANT
        + """,
q AS (SELECT vec_id AS query_id, label, i, q FROM qv WHERE vec_id % 100 = 0),
c AS (SELECT vec_id AS neighbor_id, label, i, q FROM qv),
agg AS (
  SELECT query_id, neighbor_id,
         CAST(SUM(a.q * b.q) AS BIGINT) AS dot,
         CAST(SUM(a.q * a.q) AS BIGINT) AS qn,
         CAST(SUM(b.q * b.q) AS BIGINT) AS cn
  FROM q a JOIN c b ON a.label = b.label AND a.i = b.i
  WHERE a.query_id <> b.neighbor_id
  GROUP BY query_id, neighbor_id
),
scored AS (
  SELECT query_id, neighbor_id,
         (CASE WHEN dot < 0 THEN -1.0 WHEN dot > 0 THEN 1.0 ELSE 0.0 END)
         * (CAST(dot AS DOUBLE) * CAST(dot AS DOUBLE))
         / (CAST(qn AS DOUBLE) * CAST(cn AS DOUBLE)) AS score
  FROM agg
)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY score DESC, neighbor_id) AS rank
  FROM scored) t
WHERE rank <= 3
"""
    )
    sql["similarity_ivf_multiprobe"] = (
        "WITH "
        + _QUANT
        + """,
cents AS (
  SELECT label AS cell, i,
         CAST(round(CAST(SUM(q) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cq
  FROM qv GROUP BY label, i
),
qd AS (SELECT vec_id AS query_id, i, q FROM qv WHERE vec_id % 100 = 0),
dist AS (
  SELECT query_id, cell, SUM((q - cq) * (q - cq)) AS d2
  FROM qd JOIN cents ON qd.i = cents.i
  GROUP BY query_id, cell
),
probe AS (
  SELECT query_id, cell FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2, cell) AS rk
    FROM dist) z
  WHERE rk <= 2
),
c AS (SELECT vec_id AS neighbor_id, label AS cell, i, q FROM qv),
agg AS (
  SELECT a.query_id, b.neighbor_id,
         CAST(SUM(a.q * b.q) AS BIGINT) AS dot,
         CAST(SUM(a.q * a.q) AS BIGINT) AS qn,
         CAST(SUM(b.q * b.q) AS BIGINT) AS cn
  FROM qd a
  JOIN probe p ON a.query_id = p.query_id
  JOIN c b ON b.cell = p.cell AND b.i = a.i
  WHERE a.query_id <> b.neighbor_id
  GROUP BY a.query_id, b.neighbor_id
),
scored AS (
  SELECT query_id, neighbor_id,
         (CASE WHEN dot < 0 THEN -1.0 WHEN dot > 0 THEN 1.0 ELSE 0.0 END)
         * (CAST(dot AS DOUBLE) * CAST(dot AS DOUBLE))
         / (CAST(qn AS DOUBLE) * CAST(cn AS DOUBLE)) AS score
  FROM agg
)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY score DESC, neighbor_id) AS rank
  FROM scored) t
WHERE rank <= 3
"""
    )
    # mirror of similarity.lsh_signatures: arithmetic hyperplanes over the
    # 0-based dimension (qv's i is 1-based → i-1), exact integer sums
    lsh_sums = ", ".join(
        f"SUM(q * ((({1009 * b} + 9173*(i-1)) % 2003) - 1001)) AS s{b}"
        for b in range(8)
    )

    def _band(bits):
        return " + ".join(
            f"{1 << j}*(CASE WHEN s{b} >= 0 THEN 1 ELSE 0 END)"
            for j, b in enumerate(bits)
        )

    sql["similarity_near_dups"] = (
        "WITH "
        + _QUANT
        + f""",
sig_sums AS (
  SELECT vec_id, {lsh_sums} FROM qv GROUP BY vec_id
),
sigc AS (
  SELECT s.vec_id, e.label AS cell,
         {_band([0, 1, 2, 3])} AS band0,
         {_band([4, 5, 6, 7])} AS band1
  FROM sig_sums s JOIN embeddings e ON e.vec_id = s.vec_id
),
cands AS (
  SELECT a.vec_id AS v1, b.vec_id AS v2
  FROM sigc a JOIN sigc b
    ON a.cell = b.cell AND a.band0 = b.band0 AND a.vec_id < b.vec_id
  UNION
  SELECT a.vec_id, b.vec_id
  FROM sigc a JOIN sigc b
    ON a.cell = b.cell AND a.band1 = b.band1 AND a.vec_id < b.vec_id
),
agg AS (
  SELECT c.v1, c.v2,
         CAST(SUM(a.q * b.q) AS BIGINT) AS dot,
         CAST(SUM(a.q * a.q) AS BIGINT) AS n1,
         CAST(SUM(b.q * b.q) AS BIGINT) AS n2
  FROM cands c
  JOIN qv a ON a.vec_id = c.v1
  JOIN qv b ON b.vec_id = c.v2 AND b.i = a.i
  GROUP BY c.v1, c.v2
)
SELECT v1, v2,
       (CASE WHEN dot < 0 THEN -1.0 WHEN dot > 0 THEN 1.0 ELSE 0.0 END)
       * (CAST(dot AS DOUBLE) * CAST(dot AS DOUBLE))
       / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS score
FROM agg
WHERE (CASE WHEN dot < 0 THEN -1.0 WHEN dot > 0 THEN 1.0 ELSE 0.0 END)
      * (CAST(dot AS DOUBLE) * CAST(dot AS DOUBLE))
      / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) >= 0.16
"""
    )
    # SemDeDup decision list: keep-min / drop-rest over the near-dup
    # pair list (MIN keeps BIGINT — no HUGEINT widening)
    sql["dedup_semantic"] = (
        "SELECT v2 AS vec_id, MIN(v1) AS keeper_vec_id FROM ("
        + sql["similarity_near_dups"]
        + ") p GROUP BY v2"
    )

    # Product quantization (operators/pq.py): interleaved-subspace
    # ((i-1) % m over DuckDB's 1-based index == Spark's i % m over
    # 0-based posexplode), per-subspace Lloyd iterations unrolled as
    # CTEs (the clustering.py integer-exact recipe keyed by (sub,
    # cluster)), codes = final assignment, codebook = refit over codes,
    # ADC scoring through the per-query (sub, cluster) dot LUT with the
    # decoded corpus norm — every intermediate an exact bigint, one
    # final double division.
    def _pq_sql(
        m: int, k: int, iters: int, query_mod: int, topk: int, recall: bool,
        n_probe: int | None = None, refine: int | None = None,
        smod: int = 2, opq: bool = False, balanced: bool = False,
    ) -> str:
        # r7: training runs over the vec_id % smod = 0 SAMPLE (sv) with
        # (vec_id // smod) % k seeding (mirrors pq._lloyd_train — the
        # engine trains the codebook driver-side on the same sample);
        # the full corpus is then assigned once against the trained
        # codebook (cd0/codes — mirrors the engine's encode pass).
        # opq=True routes every component through the fixed d=64
        # Walsh-Hadamard rotation first (mirrors pq.opq_components:
        # y[o] = sum_j (-1)^popcount(o&j) * q[j], exact int64) — the
        # exact side then also computes in rotated space, which is
        # bit-identical to raw-space scoring (uniform power-of-2 dot
        # scaling), so the recall compare stays apples-to-apples.
        # balanced=True replaces the interleaved (i-1)%m subspace map
        # with the variance-balanced dimension permutation (mirrors
        # pq._balanced_alloc: rank dims by the exact-integer variance
        # numerator n*sum(q^2)-sum(q)^2 over the training sample, ties
        # to the lower dim id, snake-deal ranks into subspaces); the
        # exact side computes over the RAW pre-allocation components
        # (mirrors brute_force_topk — a permutation never changes (i,q),
        # but the alloc inner join drops sample-unseen dims from the
        # approx side only, so the ground truth must not route through
        # it).
        if balanced:
            qv_cte = f"""WITH qv0 AS (
  SELECT vec_id, label, CAST(i AS BIGINT) AS i,
         CAST(round(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS q
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
),
vstat AS (
  SELECT i, COUNT(*) * SUM(q * q) - SUM(q) * SUM(q) AS vnum
  FROM qv0 WHERE vec_id % {smod} = 0 GROUP BY i
),
alloc AS (
  SELECT i, CAST(CASE WHEN ((rk - 1) // {m}) % 2 = 0
                      THEN (rk - 1) % {m}
                      ELSE {m} - 1 - ((rk - 1) % {m}) END AS BIGINT) AS sub
  FROM (SELECT i, ROW_NUMBER() OVER (ORDER BY vnum DESC, i) AS rk FROM vstat) r
),
qv AS (
  SELECT vec_id, label, i, sub, q FROM qv0 JOIN alloc USING (i)
),"""
        elif opq:
            qv_cte = f"""WITH rawc AS (
  SELECT vec_id, label, CAST(i - 1 AS BIGINT) AS j,
         CAST(round(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS q
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
),
hh AS (
  SELECT o.io, jj.j,
         CASE WHEN bit_count(o.io & jj.j) % 2 = 0 THEN 1 ELSE -1 END AS sgn
  FROM (SELECT CAST(unnest(generate_series(0, 63)) AS BIGINT) AS io) o,
       (SELECT CAST(unnest(generate_series(0, 63)) AS BIGINT) AS j) jj
),
qv AS (
  SELECT vec_id, label, io + 1 AS i, CAST(io % {m} AS BIGINT) AS sub,
         CAST(SUM(sgn * q) AS BIGINT) AS q
  FROM rawc JOIN hh USING (j)
  GROUP BY vec_id, label, io
),"""
        else:
            qv_cte = f"""WITH qv AS (
  SELECT vec_id, label, i, CAST((i - 1) % {m} AS BIGINT) AS sub,
         CAST(round(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS q
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
),"""
        out = [
            qv_cte
            + f"""
sv AS (SELECT * FROM qv WHERE vec_id % {smod} = 0),
a0 AS (
  SELECT vec_id, CAST(s.sub AS BIGINT) AS sub,
         CAST((vec_id // {smod}) % {k} AS BIGINT) AS cluster
  FROM embeddings, UNNEST(generate_series(0, {m - 1})) AS s(sub)
  WHERE vec_id % {smod} = 0
)"""
        ]
        for n in range(1, iters + 1):
            out.append(
                f""",
c{n} AS (
  SELECT sub, cluster, i,
         CAST(FLOOR(CAST(SUM(q) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cq
  FROM sv JOIN a{n - 1} USING (vec_id, sub) GROUP BY sub, cluster, i
),
d{n} AS (
  SELECT sv.vec_id, sv.sub, c{n}.cluster,
         CAST(SUM((q - cq) * (q - cq)) AS BIGINT) AS dist2
  FROM sv JOIN c{n} ON sv.sub = c{n}.sub AND sv.i = c{n}.i
  GROUP BY sv.vec_id, sv.sub, c{n}.cluster
),
a{n} AS (
  SELECT vec_id, sub, cluster FROM (
    SELECT vec_id, sub, cluster,
           ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                              ORDER BY dist2, cluster) AS rk
    FROM d{n}) WHERE rk = 1
)"""
            )
        out.append(
            f""",
cb AS (
  SELECT sub, cluster, i,
         CAST(FLOOR(CAST(SUM(q) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cq
  FROM sv JOIN a{iters} USING (vec_id, sub) GROUP BY sub, cluster, i
),
cd0 AS (
  SELECT qv.vec_id, qv.sub, cb.cluster,
         CAST(SUM((q - cq) * (q - cq)) AS BIGINT) AS dist2
  FROM qv JOIN cb ON qv.sub = cb.sub AND qv.i = cb.i
  GROUP BY qv.vec_id, qv.sub, cb.cluster
),
codes AS (
  SELECT vec_id, sub, cluster FROM (
    SELECT vec_id, sub, cluster,
           ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                              ORDER BY dist2, cluster) AS rk
    FROM cd0) WHERE rk = 1
),
qq AS (SELECT vec_id AS query_id, sub, i, q FROM qv WHERE vec_id % {query_mod} = 0),
lut AS (
  SELECT query_id, cb.sub, cb.cluster, CAST(SUM(qq.q * cb.cq) AS BIGINT) AS pdot
  FROM qq JOIN cb ON qq.sub = cb.sub AND qq.i = cb.i
  GROUP BY query_id, cb.sub, cb.cluster
),
nn AS (SELECT sub, cluster, CAST(SUM(cq * cq) AS BIGINT) AS nn FROM cb GROUP BY sub, cluster),
qn AS (SELECT query_id, CAST(SUM(q * q) AS BIGINT) AS qn FROM qq GROUP BY query_id)"""
        )
        if n_probe is not None:
            # IVF-PQ: integer coarse centroids, n_probe nearest cells per
            # query, PQ-ADC over probed cells only
            out.append(
                f""",
cents AS (
  SELECT label AS cell, i,
         CAST(round(CAST(SUM(q) AS DOUBLE) / COUNT(*)) AS BIGINT) AS ccq
  FROM qv GROUP BY label, i
),
pdist AS (
  SELECT qq.query_id, cents.cell,
         CAST(SUM((qq.q - ccq) * (qq.q - ccq)) AS BIGINT) AS d2
  FROM qq JOIN cents USING (i) GROUP BY qq.query_id, cents.cell
),
probe AS (
  SELECT query_id, cell FROM (
    SELECT query_id, cell,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2, cell) AS rk
    FROM pdist) WHERE rk <= {n_probe}
),
cellmap AS (SELECT vec_id, label AS cell FROM embeddings),
pagg AS (
  SELECT l.query_id, cd.vec_id AS neighbor_id,
         CAST(SUM(l.pdot) AS BIGINT) AS dot, CAST(SUM(n.nn) AS BIGINT) AS cn
  FROM codes cd
  JOIN cellmap cm ON cd.vec_id = cm.vec_id
  JOIN probe p ON cm.cell = p.cell
  JOIN lut l ON p.query_id = l.query_id AND cd.sub = l.sub AND cd.cluster = l.cluster
  JOIN nn n ON cd.sub = n.sub AND cd.cluster = n.cluster
  WHERE l.query_id <> cd.vec_id
  GROUP BY l.query_id, cd.vec_id
)"""
            )
        else:
            out.append(
                f""",
pagg AS (
  SELECT l.query_id, cd.vec_id AS neighbor_id,
         CAST(SUM(l.pdot) AS BIGINT) AS dot, CAST(SUM(n.nn) AS BIGINT) AS cn
  FROM codes cd
  JOIN lut l ON cd.sub = l.sub AND cd.cluster = l.cluster
  JOIN nn n ON cd.sub = n.sub AND cd.cluster = n.cluster
  WHERE l.query_id <> cd.vec_id
  GROUP BY l.query_id, cd.vec_id
)"""
            )
        out.append(
            f""",
pscored AS (
  SELECT query_id, neighbor_id,
         (CASE WHEN dot < 0 THEN -1.0 WHEN dot > 0 THEN 1.0 ELSE 0.0 END)
         * (CAST(dot AS DOUBLE) * CAST(dot AS DOUBLE))
         / (CAST(qn AS DOUBLE) * CAST(cn AS DOUBLE)) AS score
  FROM pagg JOIN qn USING (query_id)
),
approx AS (
  SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, neighbor_id) AS rank
    FROM pscored) t
  WHERE rank <= {topk}
)"""
        )
        if refine is not None:
            # refine stage: exact full-precision re-score of the approx
            # candidate pairs only, re-ranked to the final top-`refine`
            out.append(
                f""",
rc AS (SELECT vec_id AS neighbor_id, i, q FROM qv),
rdots AS (
  SELECT a.query_id, a.neighbor_id, CAST(SUM(qq.q * rc.q) AS BIGINT) AS dot
  FROM approx a
  JOIN qq ON qq.query_id = a.query_id
  JOIN rc ON rc.neighbor_id = a.neighbor_id AND rc.i = qq.i
  GROUP BY a.query_id, a.neighbor_id
),
rcn AS (
  SELECT neighbor_id, CAST(SUM(q * q) AS BIGINT) AS cn FROM rc
  WHERE neighbor_id IN (SELECT DISTINCT neighbor_id FROM approx)
  GROUP BY neighbor_id
),
rscored AS (
  SELECT query_id, neighbor_id,
         (CASE WHEN dot < 0 THEN -1.0 WHEN dot > 0 THEN 1.0 ELSE 0.0 END)
         * (CAST(dot AS DOUBLE) * CAST(dot AS DOUBLE))
         / (CAST(qn AS DOUBLE) * CAST(cn AS DOUBLE)) AS score
  FROM rdots JOIN qn USING (query_id) JOIN rcn USING (neighbor_id)
)
SELECT query_id, neighbor_id, rank FROM (
  SELECT query_id, neighbor_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, neighbor_id) AS BIGINT) AS rank
  FROM rscored) t WHERE rank <= {refine}"""
            )
            return "".join(out)
        if not recall:
            out.append("\nSELECT query_id, neighbor_id, rank FROM approx")
            return "".join(out)
        # exact ground truth: raw pre-allocation components when the
        # approx side routed through the alloc join (balanced), else qv
        # (identical to raw under opq's bit-identity / interleave)
        esrc = "qv0" if balanced else "qv"
        out.append(
            f""",
ec AS (SELECT vec_id AS neighbor_id, i, q FROM {esrc}),
eqq AS (SELECT vec_id AS query_id, i, q FROM {esrc} WHERE vec_id % {query_mod} = 0),
eqn AS (SELECT query_id, CAST(SUM(q * q) AS BIGINT) AS qn FROM eqq GROUP BY query_id),
edots AS (
  SELECT query_id, neighbor_id, CAST(SUM(a.q * b.q) AS BIGINT) AS dot
  FROM eqq a JOIN ec b USING (i)
  WHERE a.query_id <> b.neighbor_id
  GROUP BY query_id, neighbor_id
),
ecn AS (SELECT neighbor_id, CAST(SUM(q * q) AS BIGINT) AS cn FROM ec GROUP BY neighbor_id),
escored AS (
  SELECT query_id, neighbor_id,
         (CASE WHEN dot < 0 THEN -1.0 WHEN dot > 0 THEN 1.0 ELSE 0.0 END)
         * (CAST(dot AS DOUBLE) * CAST(dot AS DOUBLE))
         / (CAST(qn AS DOUBLE) * CAST(cn AS DOUBLE)) AS score
  FROM edots JOIN eqn USING (query_id) JOIN ecn USING (neighbor_id)
),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, neighbor_id) AS rank
    FROM escored) t
  WHERE rank <= {topk}
),
hits AS (
  SELECT a.query_id, CAST(COUNT(*) AS BIGINT) AS n_matches
  FROM approx a JOIN exact e
    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
  GROUP BY a.query_id
)
SELECT eq.query_id,
       COALESCE(h.n_matches, 0) AS n_matches,
       ROUND(CAST(COALESCE(h.n_matches, 0) AS DOUBLE) / {topk}, 6) AS recall
FROM (SELECT DISTINCT query_id FROM exact) eq
LEFT JOIN hits h ON eq.query_id = h.query_id"""
        )
        return "".join(out)

    sql["similarity_pq_topk"] = _pq_sql(16, 16, 2, 100, 5, recall=False)
    sql["similarity_pq_recall"] = _pq_sql(16, 16, 2, 100, 5, recall=True)
    sql["similarity_opq_recall"] = _pq_sql(16, 16, 2, 100, 5, recall=True, opq=True)
    sql["similarity_opq_balanced_recall"] = _pq_sql(
        16, 16, 2, 100, 5, recall=True, balanced=True
    )

    # label-purity audit: each leg wraps an already-declared top-k
    # statement (exact / PQ-ADC / IVF-PQ) and joins the label column
    def _purity_leg(method: str, subsql: str) -> str:
        same = "SUM(CASE WHEN ql.label = nl.label THEN 1 ELSE 0 END)"
        return f"""SELECT '{method}' AS method,
       CAST(COUNT(DISTINCT t.query_id) AS BIGINT) AS n_queries,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST({same} AS BIGINT) AS n_same_label,
       ROUND(CAST({same} AS DOUBLE) / COUNT(*), 6) AS purity
FROM ({subsql}) t
JOIN embeddings ql ON ql.vec_id = t.query_id
JOIN embeddings nl ON nl.vec_id = t.neighbor_id"""

    sql["similarity_ann_purity"] = "\nUNION ALL\n".join(
        [
            _purity_leg("exact", sql["similarity_bruteforce_topk"]),
            _purity_leg("pq", _pq_sql(16, 16, 2, 100, 5, recall=False)),
            _purity_leg(
                "ivfpq", _pq_sql(16, 16, 2, 100, 5, recall=False, n_probe=2)
            ),
        ]
    )
    # Hyperplane LSH (pq.hyperplane_lsh_candidates): the WHT rows are
    # the hyperplane normals; 8 tables x 8 sign bits over the 64
    # rotated components; candidates = bucket-equality pairs per table.
    def _hlsh_cte(n_bits: int, n_tables: int) -> str:
        return f"""rawc AS (
  SELECT vec_id, CAST(i - 1 AS BIGINT) AS j,
         CAST(round(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS q
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
),
hh AS (
  SELECT o.io, jj.j,
         CASE WHEN bit_count(o.io & jj.j) % 2 = 0 THEN 1 ELSE -1 END AS sgn
  FROM (SELECT CAST(unnest(generate_series(0, 63)) AS BIGINT) AS io) o,
       (SELECT CAST(unnest(generate_series(0, 63)) AS BIGINT) AS j) jj
),
rot AS (
  SELECT vec_id, io, CAST(SUM(sgn * q) AS BIGINT) AS y
  FROM rawc JOIN hh USING (j) GROUP BY vec_id, io
),
bkt AS (
  SELECT vec_id, CAST(io // {n_bits} AS BIGINT) AS tbl,
         CAST(SUM((CASE WHEN y > 0 THEN CAST(1 AS BIGINT)
                        ELSE CAST(0 AS BIGINT) END) << (io % {n_bits}))
              AS BIGINT) AS bucket
  FROM rot WHERE io < {n_bits * n_tables} GROUP BY vec_id, io // {n_bits}
),
hcand AS (
  SELECT a.vec_id AS d1, b.vec_id AS d2,
         CAST(COUNT(*) AS BIGINT) AS n_tables_hit
  FROM bkt a JOIN bkt b
    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
  GROUP BY a.vec_id, b.vec_id
)"""

    # planted-positive audit: every vector gets a +1-integer-unit twin
    # (component = vec_id % 64); capture = twins sharing >= 1 bucket
    sql["similarity_hyperplane_planted"] = """
WITH rawc0 AS (
  SELECT vec_id, CAST(i - 1 AS BIGINT) AS j,
         CAST(round(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS q
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
),
twin AS (
  SELECT ovid + 1000000 AS vec_id, j, q2 AS q FROM (
    SELECT vec_id AS ovid, j,
           q + CASE WHEN j = vec_id % 64 THEN 1 ELSE 0 END AS q2
    FROM rawc0) s
),
rawc AS (SELECT * FROM rawc0 UNION ALL SELECT * FROM twin),
hh AS (
  SELECT o.io, jj.j,
         CASE WHEN bit_count(o.io & jj.j) % 2 = 0 THEN 1 ELSE -1 END AS sgn
  FROM (SELECT CAST(unnest(generate_series(0, 63)) AS BIGINT) AS io) o,
       (SELECT CAST(unnest(generate_series(0, 63)) AS BIGINT) AS j) jj
),
rot AS (
  SELECT vec_id, io, CAST(SUM(sgn * q) AS BIGINT) AS y
  FROM rawc JOIN hh USING (j) GROUP BY vec_id, io
),
bkt AS (
  SELECT vec_id, CAST(io // 8 AS BIGINT) AS tbl,
         CAST(SUM((CASE WHEN y > 0 THEN CAST(1 AS BIGINT)
                        ELSE CAST(0 AS BIGINT) END) << (io % 8))
              AS BIGINT) AS bucket
  FROM rot WHERE io < 64 GROUP BY vec_id, io // 8
),
hits AS (
  SELECT DISTINCT o.vec_id
  FROM bkt o JOIN bkt t
    ON t.vec_id = o.vec_id + 1000000 AND t.tbl = o.tbl
   AND t.bucket = o.bucket
  WHERE o.vec_id < 1000000
),
np AS (SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_planted FROM embeddings),
nh AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hits FROM hits)
SELECT n_planted, n_hits,
       ROUND(CAST(n_hits AS DOUBLE) / n_planted, 6) AS capture
FROM np, nh
"""
    sql["similarity_hyperplane_lsh"] = (
        "WITH " + _hlsh_cte(8, 8) + "\nSELECT d1, d2, n_tables_hit FROM hcand\n"
    )
    # audit = capture-vs-similarity curve: all pairs of the bounded
    # query batch, banded by floor(score*20), LEFT-joined to candidates
    sql["similarity_hyperplane_recall"] = (
        "WITH "
        + _hlsh_cte(8, 8)
        + """,
q AS (SELECT vec_id AS query_id, j AS i, q FROM rawc WHERE vec_id % 100 = 0),
c AS (SELECT vec_id AS neighbor_id, j AS i, q FROM rawc),
dots AS (
  SELECT query_id, neighbor_id, CAST(SUM(a.q * b.q) AS BIGINT) AS dot
  FROM q a JOIN c b USING (i)
  WHERE a.query_id <> b.neighbor_id
  GROUP BY query_id, neighbor_id
),
qn AS (SELECT query_id, CAST(SUM(q*q) AS BIGINT) AS qn FROM q GROUP BY query_id),
cn AS (SELECT neighbor_id, CAST(SUM(q*q) AS BIGINT) AS cn FROM c GROUP BY neighbor_id),
scored AS (
  SELECT query_id, neighbor_id,
         (CASE WHEN dot < 0 THEN -1.0 WHEN dot > 0 THEN 1.0 ELSE 0.0 END)
         * (CAST(dot AS DOUBLE) * CAST(dot AS DOUBLE))
         / (CAST(qn AS DOUBLE) * CAST(cn AS DOUBLE)) AS score
  FROM dots JOIN qn USING (query_id) JOIN cn USING (neighbor_id)
),
pairs AS (
  SELECT LEAST(query_id, neighbor_id) AS d1,
         GREATEST(query_id, neighbor_id) AS d2,
         MAX(score) AS score
  FROM scored GROUP BY 1, 2
)
SELECT CAST(FLOOR(p.score * 20) AS BIGINT) AS band,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN h.d1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       ROUND(CAST(SUM(CASE WHEN h.d1 IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS capture
FROM pairs p LEFT JOIN hcand h ON p.d1 = h.d1 AND p.d2 = h.d2
GROUP BY 1
"""
    )
    sql["similarity_ivfpq_topk"] = _pq_sql(16, 16, 2, 100, 5, recall=False, n_probe=2)
    # refine: candidate list = top-20 ADC (5*r_factor 4), exact re-rank to 5
    sql["similarity_ivfpq_refine"] = _pq_sql(
        16, 16, 2, 100, 20, recall=False, n_probe=2, refine=5
    )
    # Okapi BM25 (text_bm25): quantized-integer formulation — numerator
    # and denominator are exact bigints (see bm25_rank docstring), the
    # score division is IEEE-identical across engines
    sql["text_bm25"] = (
        "WITH "
        + _TOKS
        + """,
tkall AS (SELECT doc_id, lower(t.tok) AS term FROM toks, UNNEST(w) AS t(tok)),
dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tkall GROUP BY doc_id),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM tkall),
nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tkall
       WHERE term IN ('merge','window','hash') GROUP BY doc_id, term),
dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
idf AS (
  SELECT term,
         CAST(round(ln(1 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5))
                    * 1000000) AS BIGINT) AS idf_q
  FROM dfreq, nd
),
scored AS (
  SELECT tf.term, tf.doc_id, tf.tf,
         CAST(idf.idf_q * 22 * tf.tf * tot.total AS DOUBLE)
         / CAST(10 * tot.total * tf.tf + 3 * tot.total
                + 9 * nd.n_docs * dl.dl AS DOUBLE)
         / 1000000.0 AS score
  FROM tf
  JOIN idf ON tf.term = idf.term
  JOIN dl ON dl.doc_id = tf.doc_id, tot, nd
)
SELECT term, rank, doc_id, tf, ROUND(score, 6) AS score
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY term
                                   ORDER BY score DESC, doc_id) AS rank
      FROM scored) t
WHERE rank <= 10
"""
    )
    # DSIR importance weights (text_dsir): hashed-unigram log-ratios
    # quantized to integers; per-doc sum order-independent
    sql["text_dsir"] = (
        "WITH "
        + _TOKS
        + """,
tk AS (
  SELECT doc_id, lang,
         CAST('0x' || substr(md5(lower(t.tok)), 1, 6) AS BIGINT) % 256 AS b
  FROM toks, UNNEST(w) AS t(tok)
),
raw AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS raw_n FROM tk GROUP BY b),
tgt AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS tgt_n FROM tk
        WHERE lang = 'en' GROUP BY b),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS raw_total,
         CAST(COUNT(*) FILTER (WHERE lang = 'en') AS BIGINT) AS tgt_total
  FROM tk
),
ratios AS (
  SELECT r.b,
         CAST(round((ln(CAST(COALESCE(t.tgt_n, 0) + 1 AS DOUBLE)
                        / (tgt_total + 256))
                     - ln(CAST(r.raw_n + 1 AS DOUBLE)
                          / (raw_total + 256))) * 1000000) AS BIGINT) AS lr_q
  FROM raw r LEFT JOIN tgt t ON r.b = t.b, tot
),
weights AS (
  SELECT doc_id, CAST(SUM(lr_q) AS BIGINT) AS weight_q
  FROM tk JOIN ratios USING (b) GROUP BY doc_id
),
top AS (SELECT * FROM weights ORDER BY weight_q DESC, doc_id LIMIT 50)
SELECT ROW_NUMBER() OVER (ORDER BY weight_q DESC, doc_id) AS rank, doc_id,
       ROUND(CAST(weight_q AS DOUBLE) / 1000000, 6) AS weight
FROM top
"""
    )
    # greedy contiguous sequence packing (pipeline_pack_sequences):
    # shard-local prefix sums, integer div binning — mirrors
    # sampling.pack_sequences exactly (budget 1024, 64 shards)
    sql["pipeline_pack_sequences"] = (
        "WITH "
        + _TOKS
        + """,
nt AS (
  SELECT doc_id, CAST(doc_id % 64 AS BIGINT) AS shard,
         CAST(len(w) AS BIGINT) AS n_tokens
  FROM toks
),
pf AS (
  SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prefix
  FROM nt
),
b AS (SELECT *, CAST(prefix // 1024 AS BIGINT) AS seq_id FROM pf)
SELECT shard, seq_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM b GROUP BY shard, seq_id
"""
    )
    # packing-quality audit: 1-row fill ratio vs the integer-div ceil
    # lower bound, composed over the pack_sequences CTE chain
    sql["pipeline_pack_efficiency"] = (
        "WITH "
        + _TOKS
        + """,
nt AS (
  SELECT doc_id, CAST(doc_id % 64 AS BIGINT) AS shard,
         CAST(len(w) AS BIGINT) AS n_tokens
  FROM toks
),
pf AS (
  SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prefix
  FROM nt
),
b AS (SELECT *, CAST(prefix // 1024 AS BIGINT) AS seq_id FROM pf),
seqs AS (
  SELECT shard, seq_id, CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
  FROM b GROUP BY shard, seq_id
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_seqs,
         CAST(SUM(sum_tokens) AS BIGINT) AS total_tokens
  FROM seqs
)
SELECT n_seqs, total_tokens,
       ROUND(CAST(total_tokens AS DOUBLE) / (n_seqs * 1024), 6) AS fill_ratio,
       CAST((total_tokens + 1023) // 1024 AS BIGINT) AS ideal_seqs,
       ROUND(CAST(n_seqs - (total_tokens + 1023) // 1024 AS DOUBLE)
             / ((total_tokens + 1023) // 1024) * 100, 4) AS overhead_pct
FROM agg
"""
    )
    # Morton interleave mirrored bit-by-bit (16 bits per coordinate,
    # bucket = top 6 bits of the 32-bit key — mirrors plans/zorder.py)
    _z_terms = " | ".join(
        f"(((u >> {i}) & 1) << {2 * i}) | (((d >> {i}) & 1) << {2 * i + 1})"
        for i in range(16)
    )
    sql["events_zorder_key"] = f"""
WITH zc AS (
  SELECT event_id, CAST(user_id AS BIGINT) AS u,
         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS d
  FROM events
),
zk AS (SELECT event_id, CAST({_z_terms} AS BIGINT) AS zkey FROM zc)
SELECT event_id, zkey, CAST(zkey >> 26 AS BIGINT) AS zb FROM zk
"""
    sql["text_boilerplate_strip"] = """
WITH bparts AS (
  SELECT doc_id, source, string_split(text, chr(10)) AS parts FROM documents
),
blines AS (
  SELECT doc_id, source, CAST(i - 1 AS BIGINT) AS pos, parts[i] AS line
  FROM bparts, UNNEST(generate_series(1, len(parts))) AS t(i)
),
boiler AS (
  SELECT source, line FROM blines GROUP BY source, line
  HAVING COUNT(DISTINCT doc_id) >= 3
)
SELECT l.doc_id,
       COALESCE(string_agg(CASE WHEN b.line IS NULL THEN l.line END,
                           chr(10) ORDER BY l.pos), '') AS cleaned_text,
       CAST(SUM(CASE WHEN b.line IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_lines_removed
FROM blines l
LEFT JOIN boiler b ON l.source = b.source AND l.line = b.line
GROUP BY l.doc_id
"""
    sql["text_corpus_datasheet"] = (
        "WITH "
        + _TOKS
        + """,
dbase AS (
  SELECT lang, source, CAST(len(w) AS BIGINT) AS tok,
         CAST(n_chars AS BIGINT) AS nch,
         CAST(ceil(CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) / 4) AS BIGINT) AS bpe
  FROM toks
)
SELECT
  CASE WHEN GROUPING(lang) = 1 THEN '(all)' ELSE coalesce(lang, '(null)') END AS lang,
  CASE WHEN GROUPING(source) = 1 THEN '(all)' ELSE coalesce(source, '(null)') END AS source,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(tok) AS BIGINT) AS n_tokens,
  CAST(SUM(nch) AS BIGINT) AS n_chars,
  CAST(SUM(bpe) AS BIGINT) AS bpe_est_tokens
FROM dbase
GROUP BY CUBE (lang, source)
"""
    )
    sql["text_token_stats"] = (
        "WITH "
        + _TOKS
        + """
SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
  CAST(length(regexp_replace(text, '\\s', '', 'g')) AS BIGINT) AS n_nonspace_chars,
  CAST(ceil(CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) / 4) AS BIGINT) AS bpe_est_tokens,
  CAST(len(list_filter(w, x -> regexp_matches(x, '^[a-zA-Z]+$'))) AS BIGINT) AS n_alpha_tokens
FROM toks
"""
    )
    stop_list = "['" + "','".join(textops.STOPWORDS) + "']"
    sql["text_quality"] = (
        "WITH "
        + _TOKS
        + f""",
m AS (
  SELECT doc_id,
         CAST(length(text) AS BIGINT) AS n_chars_calc,
         CAST(len(w) AS BIGINT) AS n_tokens,
         CAST(len(list_filter(w, x -> list_contains({stop_list}, x))) AS BIGINT) AS n_stop,
         CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct,
         CAST(length(regexp_replace(text, '\\s', '', 'g')) AS BIGINT) AS n_nonspace
  FROM toks
)
SELECT doc_id, n_chars_calc, n_tokens,
       ROUND(CAST(n_stop AS DOUBLE) / n_tokens, 6) AS stopword_ratio,
       ROUND(CAST(n_distinct AS DOUBLE) / n_tokens, 6) AS distinct_ratio,
       ROUND(CAST(n_nonspace AS DOUBLE) / n_tokens, 6) AS mean_token_len,
       (n_tokens >= 20 AND CAST(n_stop AS DOUBLE) / n_tokens <= 0.6) AS keep
FROM m
"""
    )
    # Gopher-rules gate (textops.gopher_quality): every keep condition
    # an exact integer comparison — bit-deterministic across engines.
    # Parameterized by the stop-word lexicon (paper list by default,
    # corpus lexicon in the curation composition).
    def _gopher_sql(stops: tuple) -> str:
        gopher_stops = "['" + "','".join(stops) + "']"
        return (
            "WITH "
            + _TOKS
            + f""",
m AS (
  SELECT doc_id,
         CAST(len(w) AS BIGINT) AS wc,
         CAST(length(regexp_replace(text, '\\s', '', 'g')) AS BIGINT) AS chars,
         CAST(length(text) - length(regexp_replace(text, '[#…]', '', 'g')) AS BIGINT) AS sym,
         CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS alpha,
         CAST(len(list_intersect(list_distinct(w), {gopher_stops})) AS BIGINT) AS stop_hits,
         list_filter(string_split(text, chr(10)), x -> x <> '') AS lines
  FROM toks
),
m2 AS (
  SELECT doc_id, wc, chars, sym, alpha, stop_hits,
         CAST(len(lines) AS BIGINT) AS n_lines,
         CAST(len(list_filter(lines, x -> starts_with(x, '•') OR starts_with(x, '- '))) AS BIGINT) AS bullets,
         CAST(len(list_filter(lines, x -> ends_with(x, '...') OR ends_with(x, '…'))) AS BIGINT) AS ellipses
  FROM m
)
SELECT doc_id, wc AS n_words,
       ROUND(CAST(chars AS DOUBLE) / wc, 6) AS mean_word_len,
       sym AS n_symbols, alpha AS alpha_words, stop_hits,
       (wc >= 50 AND wc <= 100000
        AND 3 * wc <= chars AND chars <= 10 * wc
        AND 10 * sym <= wc
        AND 5 * alpha >= 4 * wc
        AND stop_hits >= 2
        AND 10 * bullets <= 9 * n_lines
        AND 10 * ellipses <= 3 * n_lines) AS keep
FROM m2
"""
        )

    sql["text_gopher_quality"] = _gopher_sql(textops.GOPHER_STOPWORDS)
    # r5 curation composition: gopher gate ∘ Jaccard drop list ∘ inventory
    # (defined here because it embeds the gopher oracle above; the gate
    # uses the corpus lexicon — see _q_pipeline_curation_v2)
    sql["pipeline_curation_v2"] = (
        "WITH g AS (SELECT doc_id FROM ("
        + _gopher_sql(textops.STOPWORDS)
        + """) t WHERE keep),
drops AS (SELECT doc_id FROM ("""
        + sql["dedup_decisions"]
        + """) d)
SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents JOIN g USING (doc_id)
WHERE doc_id NOT IN (SELECT doc_id FROM drops)
GROUP BY lang, source
"""
    )
    # r6 topic-conditioned curation: retrieval-mined set ∩ gopher gate →
    # greedy packing (budget 1024, 8 shards) — composes the audited
    # hybrid_retrieval / gopher / pack oracles
    sql["pipeline_curation_v3"] = (
        "WITH fused AS ("
        + sql["hybrid_retrieval"]
        + """),
mined AS (
  SELECT DISTINCT doc_id FROM (
    SELECT neighbor_id AS doc_id FROM fused
    UNION ALL SELECT query_id FROM fused) u
),
g AS (SELECT doc_id FROM ("""
        + _gopher_sql(textops.STOPWORDS)
        + """) t WHERE keep),
sel AS (SELECT doc_id FROM mined JOIN g USING (doc_id)),
toks2 AS (
  SELECT d.doc_id,
         list_filter(regexp_split_to_array(trim(d.text), '\\s+'), x -> x <> '') AS w
  FROM documents d JOIN sel USING (doc_id)
),
nt AS (
  SELECT doc_id, CAST(doc_id % 8 AS BIGINT) AS shard,
         CAST(len(w) AS BIGINT) AS n_tokens
  FROM toks2
),
pf AS (
  SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prefix
  FROM nt
),
b AS (SELECT *, CAST(prefix // 1024 AS BIGINT) AS seq_id FROM pf)
SELECT shard, seq_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM b GROUP BY shard, seq_id
"""
    )
    lang_cases = []
    for lang, markers in sorted(textops.LANG_MARKERS.items()):
        lst = "['" + "','".join(markers) + "']"
        lang_cases.append((lang, f"len(list_filter(w, x -> list_contains({lst}, x)))"))
    hit_cols = ", ".join(f"{expr} AS h_{lang}" for lang, expr in lang_cases)
    langs = [lang for lang, _ in lang_cases]
    case_parts = []
    for i, lang in enumerate(langs):
        conds = [f"h_{lang} >= h_{other}" for other in langs[i + 1 :]]
        cond = " AND ".join(conds) if conds else "TRUE"
        case_parts.append(f"WHEN {cond} THEN '{lang}'")
    case_sql = "CASE " + " ".join(case_parts) + " END"
    sql["text_language_id"] = (
        "WITH "
        + _TOKS
        + f""",
h AS (SELECT doc_id, lang, {hit_cols} FROM toks)
SELECT doc_id, lang, {case_sql} AS pred_lang, (lang = {case_sql}) AS match
FROM h
"""
    )
    # confusion matrix over the language_id heuristic (one cell per
    # observed (actual, predicted) pair + per-actual-class recall)
    sql["text_langid_confusion"] = (
        "WITH li AS ("
        + sql["text_language_id"]
        + """),
cells AS (
  SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM li GROUP BY lang, pred_lang
),
totals AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS lang_total FROM li GROUP BY lang)
SELECT c.lang, c.pred_lang, c.n_docs, t.lang_total,
       ROUND(CAST(c.n_docs AS DOUBLE) / t.lang_total, 6) AS recall
FROM cells c JOIN totals t USING (lang)
"""
    )
    # exact length quantiles via the cumulative histogram (the
    # vocab_coverage formulation over doc token lengths)
    sql["text_length_quantiles"] = (
        "WITH "
        + _TOKS
        + """,
lens AS (SELECT CAST(len(w) AS BIGINT) AS len FROM toks),
hist AS (SELECT len, COUNT(*) AS cnt FROM lens GROUP BY len),
ranked AS (
  SELECT len,
         SUM(cnt) OVER (ORDER BY len ROWS UNBOUNDED PRECEDING) AS cum
  FROM hist
),
n AS (SELECT COUNT(*) AS n_docs FROM lens)
SELECT pct, CAST(MIN(len) AS BIGINT) AS n_tokens,
       CAST(MAX(n_docs) AS BIGINT) AS n_docs
FROM ranked, n, (SELECT UNNEST([50, 90, 99]) AS pct) p
WHERE cum * 100 >= n_docs * pct
GROUP BY pct
"""
    )
    # per-doc novel-ngram fraction: distinct (doc, 3-gram) explode, df
    # aggregate, join back; <3-word docs have no grams -> novelty NULL
    sql["text_ngram_novelty"] = (
        "WITH "
        + _TOKS
        + """,
dg AS (
  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS g
  FROM toks, UNNEST(generate_series(1, len(w)-2)) AS t(i)
  WHERE len(w) >= 3
),
dfreq AS (SELECT g, COUNT(*) AS df FROM dg GROUP BY g),
per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_ngrams,
         CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
  FROM dg JOIN dfreq USING (g) GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(n_ngrams, 0) AS BIGINT) AS n_ngrams,
       CAST(COALESCE(n_novel, 0) AS BIGINT) AS n_novel,
       CASE WHEN n_ngrams IS NOT NULL
            THEN ROUND(CAST(n_novel AS DOUBLE) / n_ngrams, 6) END AS novelty
FROM documents d LEFT JOIN per_doc ON d.doc_id = per_doc.doc_id
"""
    )
    # per-source duplication dashboard: corpus-wide digest df counts,
    # dup flags rolled up by source (cross-source dups charge both)
    sql["dedup_rate_by_source"] = (
        "WITH "
        + _TOKS
        + """,
digests AS (
  SELECT doc_id, source, md5(text) AS h_exact,
         md5(lower(array_to_string(list_sort(list_distinct(w)), ' '))) AS h_fp
  FROM toks
),
ex AS (SELECT h_exact, COUNT(*) AS n_ex FROM digests GROUP BY h_exact),
fp AS (SELECT h_fp, COUNT(*) AS n_fp FROM digests GROUP BY h_fp),
marked AS (
  SELECT source,
         CASE WHEN n_ex > 1 THEN 1 ELSE 0 END AS is_ex,
         CASE WHEN n_fp > 1 THEN 1 ELSE 0 END AS is_fp
  FROM digests JOIN ex USING (h_exact) JOIN fp USING (h_fp)
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(is_ex) AS BIGINT) AS n_exact_dup,
       CAST(SUM(is_fp) AS BIGINT) AS n_fp_dup,
       ROUND(CAST(SUM(is_ex) AS DOUBLE) / COUNT(*), 6) AS exact_rate,
       ROUND(CAST(SUM(is_fp) AS DOUBLE) / COUNT(*), 6) AS fp_rate
FROM marked GROUP BY source
"""
    )
    sql["text_fingerprint"] = (
        "WITH "
        + _TOKS
        + """
SELECT doc_id,
       md5(lower(array_to_string(list_sort(list_distinct(w)), ' '))) AS fingerprint
FROM toks
"""
    )
    sql["text_fingerprint_groups"] = (
        "WITH "
        + _TOKS
        + """,
fp AS (
  SELECT doc_id,
         md5(lower(array_to_string(list_sort(list_distinct(w)), ' '))) AS fingerprint
  FROM toks
)
SELECT fingerprint, CAST(COUNT(*) AS BIGINT) AS n_docs, MIN(doc_id) AS keeper_doc_id
FROM fp GROUP BY fingerprint HAVING COUNT(*) > 1
"""
    )
    _SIMHASH_SIG = """
tokh AS (
  SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h
  FROM (SELECT doc_id, unnest(w) AS tok FROM toks)
),
bits AS (
  SELECT doc_id, b,
         CASE WHEN SUM((h >> b) & 1) * 2 > COUNT(*) THEN CAST(1 AS BIGINT)
              ELSE CAST(0 AS BIGINT) END AS bit_val
  FROM tokh, UNNEST(generate_series(0, 59)) AS t(b)
  GROUP BY doc_id, b
),
sig AS (
  -- CAST: DuckDB widens SUM(BIGINT) to HUGEINT (int128); Spark stays int64.
  SELECT doc_id, CAST(SUM(bit_val << b) AS BIGINT) AS simhash FROM bits GROUP BY doc_id
)"""

    def _simhash_bkts(rc: int) -> str:
        """Rotated-prefix bucket rows for rc rotations (mirrors
        dedup.simhash_candidates: low bits masked BEFORE the shift)."""
        rows = []
        for r in range(rc):
            s = (r * 60) // rc
            if s == 0:
                b = "(simhash >> 48)"
            else:
                mask = (1 << (60 - s)) - 1
                b = f"((((simhash & {mask}) << {s}) | (simhash >> {60 - s})) >> 48)"
            rows.append(
                f"SELECT doc_id, CAST({r} AS BIGINT) AS rot, CAST({b} AS BIGINT) AS bucket FROM sig"
            )
        return " UNION ALL ".join(rows)

    sql["dedup_simhash"] = (
        "WITH "
        + _TOKS
        + ","
        + _SIMHASH_SIG
        + f""",
bkts AS ({_simhash_bkts(3)})
SELECT a.doc_id AS d1, b.doc_id AS d2, MIN(a.bucket) AS bucket
FROM bkts a JOIN bkts b
  ON a.rot = b.rot AND a.bucket = b.bucket AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
"""
    )
    _sh_audit_rows = []
    for _rc in (1, 3):
        _sh_audit_rows.append(
            f"""bkts{_rc} AS ({_simhash_bkts(_rc)}),
cand{_rc} AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2
  FROM bkts{_rc} a JOIN bkts{_rc} b
    ON a.rot = b.rot AND a.bucket = b.bucket AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
nc{_rc} AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates FROM cand{_rc}),
nh{_rc} AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hits
            FROM exact JOIN cand{_rc} USING (d1, d2))"""
        )
    sql["dedup_simhash_recall"] = (
        "WITH exact AS (SELECT d1, d2 FROM ("
        + sql["dedup_ngram_jaccard"]
        + """) e),
"""
        + _TOKS.strip().lstrip()
        + ","
        + _SIMHASH_SIG
        + ",\n"
        + ",\n".join(_sh_audit_rows)
        + """,
ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM exact)
SELECT CAST(1 AS BIGINT) AS rotations, n_exact, n_candidates, n_hits,
       CASE WHEN n_exact > 0
            THEN ROUND(CAST(n_hits AS DOUBLE) / n_exact, 6)
            ELSE 1.0 END AS recall
FROM ne CROSS JOIN nc1 CROSS JOIN nh1
UNION ALL
SELECT CAST(3 AS BIGINT), n_exact, n_candidates, n_hits,
       CASE WHEN n_exact > 0
            THEN ROUND(CAST(n_hits AS DOUBLE) / n_exact, 6)
            ELSE 1.0 END
FROM ne CROSS JOIN nc3 CROSS JOIN nh3
"""
    )
    sql["text_tfidf_top_terms"] = (
        "WITH "
        + _TOKS
        + """,
tk AS (SELECT doc_id, lower(t.tok) AS term FROM toks, UNNEST(w) AS t(tok)),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tk GROUP BY doc_id, term),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
idf AS (
  SELECT term,
         CAST(round((ln(CAST(n_docs + 1 AS DOUBLE) / (df + 1)) + 1) * 1000000) AS BIGINT) AS idf_q
  FROM dfreq, n
),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, tf.tf * idf.idf_q AS score_q
  FROM tf JOIN idf ON tf.term = idf.term
)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf,
       ROUND(CAST(score_q AS DOUBLE) / 1000000, 6) AS score
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY score_q DESC, term) AS rk
      FROM scored) t
WHERE rk <= 3
"""
    )
    sql["text_hll_distinct"] = (
        "WITH "
        + _TOKS
        + """,
tk AS (SELECT lower(t.tok) AS tok FROM toks, UNNEST(w) AS t(tok)),
hs AS (SELECT CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h FROM tk),
regs AS (
  SELECT (h >> 50) AS bucket,
         MAX(CASE WHEN (h % 1125899906842624) = 0 THEN 51
                  ELSE 50 - length(bin(h % 1125899906842624)) + 1 END) AS m_j
  FROM hs GROUP BY (h >> 50)
),
agg AS (
  SELECT SUM(power(2.0, -m_j)) AS z_nonempty, COUNT(*) AS n_buckets FROM regs
),
ex AS (SELECT COUNT(DISTINCT tok) AS n_exact FROM tk),
est AS (
  SELECT CASE
           WHEN (755541.746198293 / (z_nonempty + (1024 - n_buckets))) <= 2560.0
                AND (1024 - n_buckets) > 0
           THEN 1024.0 * ln(1024.0 / (1024 - n_buckets))
           ELSE 755541.746198293 / (z_nonempty + (1024 - n_buckets))
         END AS e
  FROM agg
)
SELECT CAST(ex.n_exact AS BIGINT) AS n_exact,
       ROUND(est.e, 3) AS n_est,
       ROUND(ABS(est.e - ex.n_exact) / ex.n_exact, 4) AS rel_err
FROM est, ex
"""
    )
    sql["text_dup_span_fraction"] = (
        "WITH "
        + _TOKS
        + """,
grams AS (
  SELECT doc_id, lower(array_to_string(w[i:i+7], ' ')) AS gram
  FROM toks, UNNEST(generate_series(1, len(w) - 7)) AS t(i)
  WHERE len(w) >= 8
),
g AS (
  SELECT doc_id, CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT) AS h FROM grams
),
dpg AS (SELECT h, COUNT(DISTINCT doc_id) AS n_docs FROM g GROUP BY h)
SELECT g.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(CASE WHEN dpg.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
       ROUND(CAST(SUM(CASE WHEN dpg.n_docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS dup_fraction
FROM g JOIN dpg ON g.h = dpg.h
GROUP BY g.doc_id
"""
    )
    # ExactSubstr removal (winnow.exact_substr_trim): dup windows from
    # the same gram hashes as text_dup_span_fraction; covered positions
    # cut, token-level reconstruction
    sql["text_exact_substr_trim"] = (
        "WITH "
        + _TOKS
        + """,
grams AS (
  SELECT doc_id, i AS p,
         CAST('0x' || substr(md5(lower(array_to_string(w[i:i+7], ' '))), 1, 15)
              AS BIGINT) AS h
  FROM toks, UNNEST(generate_series(1, len(w) - 7)) AS t(i)
  WHERE len(w) >= 8
),
dupg AS (SELECT h FROM grams GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
cov AS (
  SELECT DISTINCT g.doc_id, g.p + s.j AS t
  FROM grams g JOIN dupg USING (h), UNNEST(generate_series(0, 7)) AS s(j)
),
rem AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_removed, list(t) AS rl
  FROM cov GROUP BY doc_id
)
SELECT tk.doc_id,
       CAST(len(w) AS BIGINT) AS n_tokens,
       COALESCE(r.n_removed, 0) AS n_removed,
       COALESCE(array_to_string(
         list_filter(
           list_transform(generate_series(1, len(w)),
                          i -> CASE WHEN r.rl IS NOT NULL
                                     AND list_contains(r.rl, i)
                                    THEN NULL ELSE w[i] END),
           x -> x IS NOT NULL),
         ' '), '') AS cleaned_text
FROM toks tk LEFT JOIN rem r USING (doc_id)
"""
    )
    sql["text_winnow_candidates"] = (
        "WITH "
        + _TOKS
        + """,
grams AS (
  SELECT doc_id, i - 1 AS pos, lower(array_to_string(w[i:i+2], ' ')) AS gram
  FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
  WHERE len(w) >= 3
),
hs AS (
  SELECT doc_id, pos,
         CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT) AS h
  FROM grams
),
winm AS (
  SELECT doc_id, pos,
         COUNT(*) OVER (PARTITION BY doc_id) AS n_pos,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
  FROM hs
),
sel AS (SELECT DISTINCT doc_id, fp FROM winm WHERE pos <= n_pos - 4),
dfc AS (SELECT fp, COUNT(*) AS df FROM sel GROUP BY fp),
rare AS (
  SELECT s.doc_id, s.fp FROM sel s JOIN dfc ON s.fp = dfc.fp WHERE dfc.df <= 50
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_shared
FROM rare a JOIN rare b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING COUNT(*) >= 2
"""
    )
    sql["text_bloom_membership"] = (
        "WITH "
        + _TOKS
        + """,
tk AS (SELECT lower(t.tok) AS tok FROM toks, UNNEST(w) AS t(tok)),
build AS (SELECT DISTINCT tok FROM tk),
probe AS (
  SELECT DISTINCT tok FROM (
    SELECT tok FROM build
    UNION ALL
    SELECT 'absent_' || CAST(doc_id AS VARCHAR) FROM documents
  ) pz
),
bh AS (SELECT CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h FROM build),
bpos AS (
  SELECT ((1009 * (h % 2147483647) + 9173) % 2147483647) % 32768 AS pos FROM bh
  UNION ALL
  SELECT ((2003 * (h % 2147483647) + 5087) % 2147483647) % 32768 FROM bh
  UNION ALL
  SELECT ((4001 * (h % 2147483647) + 3259) % 2147483647) % 32768 FROM bh
),
filt AS (
  SELECT pos // 32 AS word_idx,
         bit_or(CAST(power(2, pos % 32) AS BIGINT)) AS bits
  FROM bpos GROUP BY pos // 32
),
ph AS (SELECT tok, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h FROM probe),
ppos AS (
  SELECT tok, ((1009 * (h % 2147483647) + 9173) % 2147483647) % 32768 AS pos FROM ph
  UNION ALL
  SELECT tok, ((2003 * (h % 2147483647) + 5087) % 2147483647) % 32768 FROM ph
  UNION ALL
  SELECT tok, ((4001 * (h % 2147483647) + 3259) % 2147483647) % 32768 FROM ph
),
hits AS (
  SELECT p.tok,
         CASE WHEN (COALESCE(f.bits, 0) % (CAST(power(2, p.pos % 32) AS BIGINT) * 2))
                   >= CAST(power(2, p.pos % 32) AS BIGINT)
              THEN 1 ELSE 0 END AS hit
  FROM ppos p LEFT JOIN filt f ON p.pos // 32 = f.word_idx
),
tokhits AS (
  SELECT tok, CASE WHEN SUM(hit) = 3 THEN 1 ELSE 0 END AS bloom_pos
  FROM hits GROUP BY tok
),
verd AS (
  SELECT t.tok, t.bloom_pos,
         CASE WHEN b.tok IS NULL THEN 0 ELSE 1 END AS present
  FROM tokhits t LEFT JOIN build b ON t.tok = b.tok
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_probe,
       CAST(SUM(present) AS BIGINT) AS n_present,
       CAST(SUM(bloom_pos) AS BIGINT) AS n_bloom_pos,
       CAST(SUM(CASE WHEN bloom_pos = 1 AND present = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
       ROUND(CAST(SUM(CASE WHEN bloom_pos = 1 AND present = 0 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(SUM(CASE WHEN present = 0 THEN 1 ELSE 0 END) AS DOUBLE), 6) AS fp_rate
FROM verd
"""
    )
    sql["text_cms_topk"] = (
        "WITH "
        + _TOKS
        + """,
grams AS (
  SELECT lower(array_to_string(w[i:i+1], ' ')) AS ngram
  FROM toks, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
  WHERE len(w) >= 2
),
tokh AS (
  SELECT CAST('0x' || substr(md5(ngram), 1, 15) AS BIGINT) AS h FROM grams
),
cells AS (
  SELECT h, 0 AS d, ((1009 * (h % 2147483647) + 9173) % 2147483647) % 1024 AS bucket FROM tokh
  UNION ALL
  SELECT h, 1 AS d, ((2003 * (h % 2147483647) + 5087) % 2147483647) % 1024 AS bucket FROM tokh
  UNION ALL
  SELECT h, 2 AS d, ((4001 * (h % 2147483647) + 3259) % 2147483647) % 1024 AS bucket FROM tokh
  UNION ALL
  SELECT h, 3 AS d, ((8009 * (h % 2147483647) + 1427) % 2147483647) % 1024 AS bucket FROM tokh
),
sketch AS (SELECT d, bucket, COUNT(*) AS cnt FROM cells GROUP BY d, bucket),
exact AS (
  SELECT ngram, COUNT(*) AS n_occurrences FROM grams GROUP BY ngram
  ORDER BY n_occurrences DESC, ngram LIMIT 20
),
top AS (
  SELECT ngram, n_occurrences,
         CAST('0x' || substr(md5(ngram), 1, 15) AS BIGINT) AS h
  FROM exact
),
probes AS (
  SELECT ngram, n_occurrences, 0 AS d, ((1009 * (h % 2147483647) + 9173) % 2147483647) % 1024 AS bucket FROM top
  UNION ALL
  SELECT ngram, n_occurrences, 1 AS d, ((2003 * (h % 2147483647) + 5087) % 2147483647) % 1024 AS bucket FROM top
  UNION ALL
  SELECT ngram, n_occurrences, 2 AS d, ((4001 * (h % 2147483647) + 3259) % 2147483647) % 1024 AS bucket FROM top
  UNION ALL
  SELECT ngram, n_occurrences, 3 AS d, ((8009 * (h % 2147483647) + 1427) % 2147483647) % 1024 AS bucket FROM top
)
SELECT p.ngram, CAST(p.n_occurrences AS BIGINT) AS exact_n,
       CAST(MIN(s.cnt) AS BIGINT) AS est_n,
       CAST(MIN(s.cnt) - p.n_occurrences AS BIGINT) AS overcount
FROM probes p JOIN sketch s ON p.d = s.d AND p.bucket = s.bucket
GROUP BY p.ngram, p.n_occurrences
"""
    )
    sql["text_unigram_logprob"] = (
        "WITH "
        + _TOKS
        + """,
tk AS (SELECT doc_id, lower(t.tok) AS tok FROM toks, UNNEST(w) AS t(tok)),
counts AS (SELECT tok, COUNT(*) AS n_tok FROM tk GROUP BY tok),
total AS (SELECT SUM(n_tok) AS n_total FROM counts),
scored AS (
  SELECT tk.doc_id,
         CAST(round(ln(CAST(n_tok AS DOUBLE) / n_total) * 1000000) AS BIGINT) AS q_lp
  FROM tk JOIN counts ON tk.tok = counts.tok, total
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       ROUND((CAST(SUM(q_lp) AS DOUBLE) / COUNT(*)) / 1000000, 6) AS mean_logprob
FROM scored GROUP BY doc_id
"""
    )
    # The oracle for the CCNet head/middle/tail split is the LITERAL
    # global sort — the engine computes the same ranks via the coarse
    # score-histogram decomposition (textops.perplexity_buckets), so a
    # hash match proves the decomposition equals the exact global rank.
    sql["text_perplexity_buckets"] = (
        "WITH "
        + _TOKS
        + """,
tk AS (SELECT doc_id, lower(t.tok) AS tok FROM toks, UNNEST(w) AS t(tok)),
counts AS (SELECT tok, COUNT(*) AS n_tok FROM tk GROUP BY tok),
total AS (SELECT SUM(n_tok) AS n_total FROM counts),
qlp AS (
  SELECT tk.doc_id,
         CAST(round(ln(CAST(n_tok AS DOUBLE) / n_total) * 1000000) AS BIGINT) AS q_lp
  FROM tk JOIN counts ON tk.tok = counts.tok, total
),
scored AS (
  SELECT doc_id,
         CAST(FLOOR(CAST(SUM(q_lp) AS DOUBLE) / COUNT(*)) AS BIGINT) AS q_mean_lp
  FROM qlp GROUP BY doc_id
),
ranked AS (
  SELECT doc_id, q_mean_lp,
         CAST(ROW_NUMBER() OVER (ORDER BY q_mean_lp DESC, doc_id) AS BIGINT) AS rn,
         COUNT(*) OVER () AS n_docs
  FROM scored
)
SELECT doc_id, q_mean_lp, rn,
       CASE WHEN 3 * rn <= n_docs THEN 'head'
            WHEN 3 * rn <= 2 * n_docs THEN 'middle'
            ELSE 'tail' END AS bucket
FROM ranked
"""
    )
    sql["text_bigram_logprob"] = (
        "WITH "
        + _TOKS
        + """,
low AS (SELECT doc_id, list_transform(w, x -> lower(x)) AS w FROM toks),
bi AS (
  SELECT doc_id, w[i-1] AS w1, w[i] AS w2
  FROM low, UNNEST(generate_series(2, len(w))) AS t(i)
  WHERE len(w) >= 2
),
tk AS (SELECT lower(t.tok) AS w2 FROM toks, UNNEST(w) AS t(tok)),
uni AS (SELECT w2, COUNT(*) AS c_uni FROM tk GROUP BY w2),
total AS (SELECT SUM(c_uni) AS n_total FROM uni),
bic AS (SELECT w1, w2, COUNT(*) AS c_bi FROM bi GROUP BY w1, w2),
ctx AS (SELECT w1, SUM(c_bi) AS c_ctx FROM bic GROUP BY w1),
scored AS (
  SELECT bi.doc_id,
         CAST(round(ln(0.75 * (CAST(c_bi AS DOUBLE) / c_ctx)
                       + 0.25 * (CAST(c_uni AS DOUBLE) / n_total)) * 1000000)
              AS BIGINT) AS q_lp
  FROM bi
  JOIN bic ON bi.w1 = bic.w1 AND bi.w2 = bic.w2
  JOIN ctx ON bi.w1 = ctx.w1
  JOIN uni ON bi.w2 = uni.w2, total
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       ROUND((CAST(SUM(q_lp) AS DOUBLE) / COUNT(*)) / 1000000, 6) AS mean_logprob
FROM scored GROUP BY doc_id
"""
    )
    sql["text_repetition"] = (
        "WITH "
        + _TOKS
        + """,
lines AS (
  SELECT doc_id,
         list_filter(string_split(text, chr(10)), x -> trim(x) <> '') AS ls,
         length(regexp_replace(text, '\\s', '', 'g')) AS n_chars
  FROM documents
),
linestats AS (
  SELECT doc_id,
         CAST(len(ls) AS BIGINT) AS n_lines,
         ROUND(CAST(len(ls) - len(list_distinct(ls)) AS DOUBLE) / len(ls), 6) AS dup_line_frac,
         ROUND(CAST(list_aggregate(list_transform(ls, x -> length(x)), 'sum')
                    - list_aggregate(list_transform(list_distinct(ls), x -> length(x)), 'sum') AS DOUBLE)
               / list_aggregate(list_transform(ls, x -> length(x)), 'sum'), 6) AS dup_line_char_frac,
         n_chars
  FROM lines
),
grams AS (
  SELECT doc_id, lower(array_to_string(w[i:i+1], ' ')) AS bigram
  FROM toks, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
  WHERE len(w) >= 2
),
counts AS (
  SELECT doc_id, bigram, COUNT(*) AS n FROM grams GROUP BY doc_id, bigram
),
top AS (
  SELECT doc_id, bigram AS top_bigram, n AS top_bigram_n
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY n DESC, bigram DESC) AS rn
        FROM counts) t
  WHERE rn = 1
)
SELECT *, (dup_line_frac <= 0.30 AND top_bigram_char_frac <= 0.20) AS keep
FROM (
  SELECT l.doc_id, l.n_lines, l.dup_line_frac, l.dup_line_char_frac,
         t.top_bigram,
         CAST(COALESCE(t.top_bigram_n, 0) AS BIGINT) AS top_bigram_n,
         ROUND(COALESCE(CAST(t.top_bigram_n AS DOUBLE)
                        * length(regexp_replace(t.top_bigram, '\\s', '', 'g'))
                        / l.n_chars, 0.0), 6) AS top_bigram_char_frac
  FROM linestats l LEFT JOIN top t ON l.doc_id = t.doc_id
) s
"""
    )
    sql["text_pii_scrub"] = f"""
WITH injected AS (
  SELECT doc_id,
         CASE doc_id % 4
           WHEN 0 THEN text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
           WHEN 1 THEN text || ' see https://ex.example/p/' || CAST(doc_id AS VARCHAR) || ' ok'
           WHEN 2 THEN text || ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7 up'
           ELSE text END AS text
  FROM documents
),
step1 AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '{textops.PII_URL_RE}')) AS BIGINT) AS n_urls,
         regexp_replace(text, '{textops.PII_URL_RE}', '<URL>', 'g') AS t1
  FROM injected
),
step2 AS (
  SELECT doc_id, n_urls,
         CAST(len(regexp_extract_all(t1, '{textops.PII_EMAIL_RE}')) AS BIGINT) AS n_emails,
         regexp_replace(t1, '{textops.PII_EMAIL_RE}', '<EMAIL>', 'g') AS t2
  FROM step1
)
SELECT doc_id, n_urls, n_emails,
       CAST(len(regexp_extract_all(t2, '{textops.PII_IP_RE}')) AS BIGINT) AS n_ips,
       md5(regexp_replace(t2, '{textops.PII_IP_RE}', '<IP>', 'g')) AS clean_digest
FROM step2
"""
    sql["text_url_domains"] = f"""
WITH injected AS (
  SELECT doc_id,
         CASE doc_id % 3
           WHEN 0 THEN text || ' ref https://cdn' || CAST(doc_id % 5 AS VARCHAR)
                    || '.media.example.org/a/' || CAST(doc_id AS VARCHAR) || ' end'
           WHEN 1 THEN 'src http://www.example-news.com/p/' || CAST(doc_id AS VARCHAR)
                    || ' plus https://cdn' || CAST(doc_id % 5 AS VARCHAR)
                    || '.media.example.org/b ' || text
           ELSE text END AS text
  FROM documents
),
hosts AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '{textops.URL_RE}', 1)) AS domain
  FROM injected
),
lab AS (
  SELECT doc_id, domain,
         array_to_string(string_split(domain, '.')[-2:], '.') AS site
  FROM hosts
)
SELECT site, domain, CAST(COUNT(*) AS BIGINT) AS n_urls,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM lab GROUP BY site, domain
"""
    sql["text_c4_lines"] = """
WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
injected AS (
  SELECT doc_id,
    concat_ws(chr(10),
      coalesce(array_to_string(w[1:6], ' '), '') || '.',
      'javascript required ' || coalesce(array_to_string(w[7:11], ' '), '') || '.',
      coalesce(array_to_string(w[13:15], ' '), ''),
      coalesce(array_to_string(w[16:22], ' '), '') || '?',
      coalesce(array_to_string(w[23:27], ' '), '') || '!',
      CASE WHEN doc_id % 7 = 0 THEN 'var cfg = { a: 1 }'
           ELSE coalesce(array_to_string(w[28:33], ' '), '') || '.' END,
      CASE WHEN doc_id % 11 = 3 THEN 'lorem ipsum dolor sit amet.'
           ELSE coalesce(array_to_string(w[34:37], ' '), '') END
    ) AS text
  FROM words
),
lines AS (
  SELECT doc_id, text,
         list_filter(string_split(text, chr(10)), x -> trim(x) <> '') AS ls
  FROM injected
),
k AS (
  SELECT doc_id, text, ls,
         list_filter(ls, x -> regexp_matches(x, '[.!?"]$')
             AND len(list_filter(string_split(x, ' '), t -> t <> '')) >= 5
             AND NOT contains(lower(x), 'javascript')) AS kept
  FROM lines
)
SELECT doc_id,
       CAST(len(ls) AS BIGINT) AS n_lines,
       CAST(len(kept) AS BIGINT) AS n_kept,
       CAST(length(array_to_string(kept, chr(10))) AS BIGINT) AS kept_chars,
       (len(kept) >= 3 AND NOT contains(lower(text), 'lorem ipsum')
            AND NOT contains(text, '{')) AS keep
FROM k
"""
    _bad_in = ", ".join(f"'{h}'" for h in _BADWORD_HASHES)
    sql["text_c4_badwords"] = f"""
WITH injected AS (
  SELECT doc_id,
         text || CASE WHEN doc_id % 7 = 0 THEN ' zyxbad' ELSE '' END
              || CASE WHEN doc_id % 11 = 3 THEN ' qwxnaughty' ELSE '' END AS text
  FROM documents
),
toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     t -> t <> '') AS w
  FROM injected
),
flagged AS (
  SELECT doc_id, w,
         list_filter(w, t -> md5(t) IN ({_bad_in})) AS bad
  FROM toks
)
SELECT doc_id,
       CAST(len(w) AS BIGINT) AS n_tokens,
       CAST(len(bad) AS BIGINT) AS n_bad,
       (len(bad) = 0) AS keep
FROM flagged
"""
    # v4 composition: every stage is the LITERAL (global-sort /
    # direct) form of an operator the engine computes via its
    # decomposed scale shape — the hash match proves the composition.
    _v4_ctes = (
        """WITH injected AS (
  SELECT doc_id,
         text || CASE WHEN doc_id % 7 = 0 THEN ' zyxbad' ELSE '' END
              || CASE WHEN doc_id % 11 = 3 THEN ' qwxnaughty' ELSE '' END AS text
  FROM documents
),
btoks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     t -> t <> '') AS w
  FROM injected
),
bw_keep AS (
  SELECT doc_id FROM btoks
  WHERE len(list_filter(w, t -> md5(t) IN ("""
        + _bad_in
        + """))) = 0
),
"""
        + _TOKS.strip()
        + """,
tk AS (SELECT doc_id, lower(t.tok) AS tok FROM toks, UNNEST(w) AS t(tok)),
counts AS (SELECT tok, COUNT(*) AS n_tok FROM tk GROUP BY tok),
total AS (SELECT SUM(n_tok) AS n_total FROM counts),
qlp AS (
  SELECT tk.doc_id,
         CAST(round(ln(CAST(n_tok AS DOUBLE) / n_total) * 1000000) AS BIGINT) AS q_lp
  FROM tk JOIN counts ON tk.tok = counts.tok, total
),
pscore AS (
  SELECT doc_id,
         CAST(FLOOR(CAST(SUM(q_lp) AS DOUBLE) / COUNT(*)) AS BIGINT) AS q_mean_lp
  FROM qlp GROUP BY doc_id
),
pranked AS (
  SELECT doc_id,
         CAST(ROW_NUMBER() OVER (ORDER BY q_mean_lp DESC, doc_id) AS BIGINT) AS rn,
         COUNT(*) OVER () AS n_docs
  FROM pscore
),
pb_keep AS (SELECT doc_id FROM pranked WHERE 3 * rn <= 2 * n_docs),
ex_keep AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
surv AS (
  SELECT t.doc_id, t.lang, t.source,
         CAST(len(t.w) AS BIGINT) AS n_tokens,
         CAST(CASE WHEN len(t.w) > 0
                   THEN (1000000 * len(list_distinct(t.w))) // len(t.w)
                   ELSE 0 END AS BIGINT) AS score
  FROM toks t
  JOIN bw_keep USING (doc_id)
  JOIN pb_keep USING (doc_id)
  JOIN ex_keep USING (doc_id)
),
branked AS (
  SELECT doc_id, lang, source, n_tokens, score,
         CAST(SUM(n_tokens) OVER
              (ORDER BY score DESC, doc_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
  FROM surv
)
"""
    )
    sql["pipeline_curation_v4"] = (
        _v4_ctes
        + """
SELECT doc_id, lang, source, n_tokens, score, cum_tokens
FROM branked WHERE cum_tokens <= 8000
"""
    )
    # v5 = the v4 chain + the three r8 QC gates applied BEFORE the
    # budget cut (fresh CTE names — `counts`/`toks` are taken by v4)
    sql["pipeline_curation_v5"] = (
        _v4_ctes
        + """,
ch5 AS (
  SELECT doc_id, t.c AS c
  FROM documents, UNNEST(regexp_split_to_array(text, '')) AS t(c)
),
ccnt5 AS (SELECT doc_id, c, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM ch5 GROUP BY doc_id, c),
eagg5 AS (
  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_chars,
         CAST(SUM(cnt * CAST(round(ln(CAST(cnt AS DOUBLE)) * 1000000) AS BIGINT))
              AS BIGINT) AS s
  FROM ccnt5 GROUP BY doc_id
),
ent_keep AS (
  SELECT doc_id FROM eagg5
  WHERE ROUND(ln(CAST(n_chars AS DOUBLE)) - (CAST(s AS DOUBLE) / n_chars) / 1000000,
              6) >= 2.6
),
dg5 AS (
  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS g
  FROM toks, UNNEST(generate_series(1, len(w)-2)) AS t(i)
  WHERE len(w) >= 3
),
dfq5 AS (SELECT g, COUNT(*) AS df FROM dg5 GROUP BY g),
nov_drop AS (
  SELECT doc_id FROM (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_ngrams,
           CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
    FROM dg5 JOIN dfq5 USING (g) GROUP BY doc_id
  ) WHERE ROUND(CAST(n_novel AS DOUBLE) / n_ngrams, 6) < 0.05
),
qv5 AS (
  SELECT vec_id, i,
         CAST(round(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS q
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
),
dq5 AS (SELECT vec_id AS eval_id, i, q FROM qv5 WHERE vec_id % 100 = 0),
dc5 AS (SELECT vec_id, i, q FROM qv5 WHERE vec_id % 100 <> 0),
ddot5 AS (
  SELECT eval_id, vec_id, CAST(SUM(a.q * b.q) AS BIGINT) AS dot
  FROM dq5 a JOIN dc5 b USING (i) GROUP BY eval_id, vec_id
),
dqn5 AS (SELECT eval_id, CAST(SUM(q*q) AS BIGINT) AS qn FROM dq5 GROUP BY eval_id),
dcn5 AS (SELECT vec_id, CAST(SUM(q*q) AS BIGINT) AS cn FROM dc5 GROUP BY vec_id),
dec_drop AS (
  SELECT DISTINCT vec_id AS doc_id
  FROM ddot5 JOIN dqn5 USING (eval_id) JOIN dcn5 USING (vec_id)
  WHERE (CASE WHEN dot < 0 THEN -1.0 WHEN dot > 0 THEN 1.0 ELSE 0.0 END)
        * (CAST(dot AS DOUBLE) * CAST(dot AS DOUBLE))
        / (CAST(qn AS DOUBLE) * CAST(cn AS DOUBLE)) >= 0.12
),
surv5 AS (
  SELECT s.* FROM surv s
  JOIN ent_keep USING (doc_id)
  WHERE s.doc_id NOT IN (SELECT doc_id FROM nov_drop)
    AND s.doc_id NOT IN (SELECT doc_id FROM dec_drop)
),
branked5 AS (
  SELECT doc_id, lang, source, n_tokens, score,
         CAST(SUM(n_tokens) OVER
              (ORDER BY score DESC, doc_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
  FROM surv5
)
SELECT doc_id, lang, source, n_tokens, score, cum_tokens
FROM branked5 WHERE cum_tokens <= 8000
"""
    )
    # per-source survivor funnel over the SAME v4 stage CTEs — the
    # observability report a curation pipeline logs per run (which gate
    # costs which source how many documents)
    sql["pipeline_curation_funnel"] = (
        _v4_ctes
        + """
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_raw,
       CAST(SUM(CASE WHEN bw.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_badwords,
       CAST(SUM(CASE WHEN bw.doc_id IS NOT NULL AND pb.doc_id IS NOT NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS n_perplexity,
       CAST(SUM(CASE WHEN bw.doc_id IS NOT NULL AND pb.doc_id IS NOT NULL
                     AND ex.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dedup,
       CAST(SUM(CASE WHEN sel.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_selected
FROM documents d
LEFT JOIN bw_keep bw USING (doc_id)
LEFT JOIN pb_keep pb USING (doc_id)
LEFT JOIN ex_keep ex USING (doc_id)
LEFT JOIN (SELECT doc_id FROM branked WHERE cum_tokens <= 8000) sel USING (doc_id)
GROUP BY d.source
"""
    )
    sql["pipeline_token_budget"] = (
        "WITH "
        + _TOKS
        + """,
scored AS (
  SELECT doc_id, CAST(doc_id % 8 AS BIGINT) AS shard,
         CAST(len(w) AS BIGINT) AS n_tokens,
         CAST(CASE WHEN len(w) > 0
                   THEN (1000000 * len(list_distinct(w))) // len(w)
                   ELSE 0 END AS BIGINT) AS score
  FROM toks
),
ranked AS (
  SELECT doc_id, shard, n_tokens, score,
         CAST(ROW_NUMBER() OVER
              (PARTITION BY shard ORDER BY score DESC, doc_id) AS BIGINT) AS rank,
         CAST(SUM(n_tokens) OVER
              (PARTITION BY shard ORDER BY score DESC, doc_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
  FROM scored
)
SELECT doc_id, shard, n_tokens, score, rank, cum_tokens
FROM ranked WHERE cum_tokens <= 2000
"""
    )
    # The oracle for the GLOBAL budget cut is the LITERAL global sort —
    # the engine computes the same set via the two-pass score
    # decomposition (sampling.token_budget_global), so a hash match here
    # proves the decomposition equals the exact global rank-cut.
    sql["pipeline_token_budget_global"] = (
        "WITH "
        + _TOKS
        + """,
scored AS (
  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
         CAST(CASE WHEN len(w) > 0
                   THEN (1000000 * len(list_distinct(w))) // len(w)
                   ELSE 0 END AS BIGINT) AS score
  FROM toks
),
ranked AS (
  SELECT doc_id, n_tokens, score,
         CAST(SUM(n_tokens) OVER
              (ORDER BY score DESC, doc_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
  FROM scored
)
SELECT doc_id, n_tokens, score, cum_tokens
FROM ranked WHERE cum_tokens <= 20000
"""
    )
    # domain-balanced cap: first URL's registrable site (port stripped,
    # 'none' when the doc has no URL) x the md5-rank quota window
    sql["pipeline_domain_quota"] = """
WITH injected AS (
  SELECT doc_id,
    CASE doc_id % 4
      WHEN 0 THEN text || ' see HTTPS://WWW.Example.COM/Path/?utm_source=x&utm_campaign=c'
                || CAST(doc_id % 5 AS VARCHAR) || '&id=' || CAST(doc_id % 5 AS VARCHAR)
                || '#frag and https://www.example.com/Path/?id='
                || CAST(doc_id % 5 AS VARCHAR) || ' end'
      WHEN 1 THEN text || ' see https://www.example.com:443/Path/?id='
                || CAST(doc_id % 5 AS VARCHAR)
      WHEN 2 THEN text || ' ref http://News.example.org:80/a/'
                || CAST(doc_id % 20 AS VARCHAR) || '/'
      ELSE text END AS text
  FROM documents
),
s AS (
  SELECT doc_id,
         CASE WHEN h = '' THEN 'none'
              ELSE regexp_extract(string_split(h, ':')[1],
                                  '([^.]+\\.[^.]+)$', 1) END AS site
  FROM (
    SELECT doc_id,
           lower(regexp_extract(text, 'https?://([^/\\s]+)', 1)) AS h
    FROM injected) t
),
r AS (
  SELECT doc_id, site,
         ROW_NUMBER() OVER (
           PARTITION BY site
           ORDER BY CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT),
                    doc_id) AS rk
  FROM s
)
SELECT doc_id, site, CAST(rk AS BIGINT) AS rk FROM r WHERE rk <= 30
"""
    sql["dedup_url_canonical"] = """
WITH injected AS (
  SELECT doc_id,
    CASE doc_id % 4
      WHEN 0 THEN text || ' see HTTPS://WWW.Example.COM/Path/?utm_source=x&utm_campaign=c'
                || CAST(doc_id % 5 AS VARCHAR) || '&id=' || CAST(doc_id % 5 AS VARCHAR)
                || '#frag and https://www.example.com/Path/?id='
                || CAST(doc_id % 5 AS VARCHAR) || ' end'
      WHEN 1 THEN text || ' see https://www.example.com:443/Path/?id='
                || CAST(doc_id % 5 AS VARCHAR)
      WHEN 2 THEN text || ' ref http://News.example.org:80/a/'
                || CAST(doc_id % 20 AS VARCHAR) || '/'
      ELSE text END AS text
  FROM documents
),
urls AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '(?i)https?://[^\\s]+', 0)) AS url
  FROM injected
),
canon AS (
  SELECT doc_id,
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(
                lower(regexp_extract(regexp_replace(url, '#.*$', ''), '^[^/]*//[^/?#]*', 0))
                  || regexp_replace(regexp_replace(url, '#.*$', ''), '^[^/]*//[^/?#]*', ''),
                '^(http://[^/?#:]*):80([/?#].*)?$', '\\1\\2'),
              '^(https://[^/?#:]*):443([/?#].*)?$', '\\1\\2'),
            '([?&])utm_[a-zA-Z]+=[^&#]*', '\\1', 'g'),
          '([?&])&+', '\\1', 'g'),
        '[?&]+$', ''),
      '/$', '') AS canonical_url
  FROM urls
)
SELECT canonical_url, CAST(COUNT(*) AS BIGINT) AS n_urls,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       MIN(doc_id) AS keep_doc
FROM canon GROUP BY canonical_url
"""
    sql["pipeline_doc_chunks"] = (
        "WITH "
        + _TOKS
        + """,
nz AS (SELECT doc_id, w, len(w) AS n FROM toks WHERE len(w) > 0),
st AS (
  SELECT doc_id, w, n, CAST(u.start_tok AS BIGINT) AS start_tok
  FROM nz, UNNEST(range(0, n, 48)) u(start_tok)
)
SELECT doc_id, CAST(start_tok // 48 AS BIGINT) AS chunk_id, start_tok,
       CAST(LEAST(64, n - start_tok) AS BIGINT) AS n_chunk_tokens,
       array_to_string(w[(start_tok+1):(start_tok+64)], ' ') AS chunk_text
FROM st
"""
    )
    sql["dedup_chunk_passages"] = (
        "WITH "
        + _TOKS
        + """,
nz AS (SELECT doc_id, w, len(w) AS n FROM toks WHERE len(w) > 0),
ch AS (
  SELECT doc_id, md5(array_to_string(w[(u.s+1):(u.s+16)], ' ')) AS dig
  FROM nz, UNNEST(range(0, n, 16)) u(s)
),
counts AS (SELECT dig, COUNT(DISTINCT doc_id) AS nd FROM ch GROUP BY dig),
per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
         CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks
  FROM ch JOIN counts USING (dig) GROUP BY doc_id
)
SELECT doc_id, n_chunks, n_dup_chunks,
       ROUND(CAST(n_dup_chunks AS DOUBLE) / n_chunks, 6) AS dup_chunk_frac
FROM per_doc
"""
    )
    # BPE merge learning (textops.bpe_merges): the literal Sennrich loop
    # unrolled — per step, pair counts over the current symbol sequences,
    # argmax with lexicographic tie-break, padded double-replace apply
    # (two identical passes are complete: a pass-1 miss only ever follows
    # a consumed leading space, and is flanked by merged output after).
    _bpe_step = """
p{k} AS (
  SELECT pair, CAST(SUM(wcount) AS BIGINT) AS freq FROM (
    SELECT wcount,
           unnest(list_transform(range(1, len(string_split(trim(seq), ' '))),
                  i -> string_split(trim(seq), ' ')[i] || ' ' || string_split(trim(seq), ' ')[i+1])) AS pair
    FROM s{j}) u
  GROUP BY pair
),
b{k} AS (SELECT pair, freq FROM p{k} ORDER BY freq DESC, pair LIMIT 1),
s{k} AS (
  -- greedy-left merge via the doubled-space encoding (see
  -- textops._bpe_chain): double spaces, one replace pass, collapse.
  -- LEFT JOIN ON TRUE mirrors the engine: a pairless step leaves
  -- every seq unchanged instead of emptying the word table.
  SELECT wcount,
         CASE WHEN b{k}.pair IS NULL THEN seq
              ELSE replace(replace(replace(seq, ' ', '  '),
                                   ' ' || replace(b{k}.pair, ' ', '  ') || ' ',
                                   ' ' || replace(b{k}.pair, ' ', '') || ' '),
                           '  ', ' ')
         END AS seq
  FROM s{j} LEFT JOIN b{k} ON TRUE
)"""
    _bpe_chain_sql = (
        r"""WITH tk AS (
  SELECT lower(t.tok) AS w
  FROM (SELECT list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS wl
        FROM documents) d, UNNEST(wl) AS t(tok)
),
words AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS wcount FROM tk
  WHERE regexp_matches(w, '^[a-z]+$') GROUP BY w
),
s0 AS (SELECT wcount, ' ' || trim(regexp_replace(w, '(.)', '\1 ', 'g')) || ' ' AS seq FROM words),"""
        + ",".join(_bpe_step.format(k=k, j=k - 1) for k in (1, 2, 3))
    )
    sql["text_bpe_merges"] = (
        _bpe_chain_sql
        + """
SELECT CAST(1 AS INT) AS step, pair, replace(pair, ' ', '') AS merged, freq FROM b1
UNION ALL SELECT 2, pair, replace(pair, ' ', ''), freq FROM b2
UNION ALL SELECT 3, pair, replace(pair, ' ', ''), freq FROM b3
"""
    )
    # compression audit: symbols recomputed independently on both sides
    # (the engine derives symbols_after from the merged sequences, the
    # oracle from the SAME literal chain — and symbols_before − after
    # must equal Σ winning freqs, the Sennrich marginal-gain identity)
    sql["text_bpe_compression"] = (
        _bpe_chain_sql
        + """
SELECT CAST(COUNT(*) AS BIGINT) AS n_word_types,
       CAST(SUM(wcount) AS BIGINT) AS n_words,
       (SELECT CAST(SUM(wcount * length(w)) AS BIGINT) FROM words) AS symbols_before,
       CAST(SUM(wcount * len(string_split(trim(seq), ' '))) AS BIGINT) AS symbols_after,
       ROUND((SELECT CAST(SUM(wcount * length(w)) AS DOUBLE) FROM words)
             / SUM(wcount * len(string_split(trim(seq), ' '))), 6) AS compression
FROM s3
"""
    )
    # content-defined chunking (dedup.content_chunk_dedup_stats): cut
    # after token i iff hash(3-gram ending at i) % 16 == 0; the literal
    # window-function form of the engine's single-exchange plan.
    sql["dedup_content_chunks"] = (
        "WITH "
        + _TOKS
        + r""",
tk AS (
  SELECT doc_id, w, CAST(u.pos AS BIGINT) AS pos, w[u.pos + 1] AS tok
  FROM toks, UNNEST(range(0, len(w))) u(pos)
),
m AS (
  SELECT doc_id, pos, tok,
         CASE WHEN pos >= 2 AND
                   CAST('0x' || substr(md5(array_to_string(w[(pos - 1):(pos + 1)], ' ')), 1, 15) AS BIGINT) % 16 = 0
              THEN 1 ELSE 0 END AS mark
  FROM tk
),
c AS (
  SELECT doc_id, pos, tok,
         COALESCE(SUM(mark) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk
  FROM m
),
ch AS (
  SELECT doc_id, chunk, md5(string_agg(tok, ' ' ORDER BY pos)) AS dig
  FROM c GROUP BY doc_id, chunk
),
counts AS (SELECT dig, COUNT(DISTINCT doc_id) AS nd FROM ch GROUP BY dig)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
       ROUND(CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS dup_chunk_frac
FROM ch JOIN counts USING (dig) GROUP BY doc_id
"""
    )
    # HLL sliding-WAU audit (analytics.events_wau_hll_audit): per-day
    # register tables merged into target days by MAX (the exact path's
    # bounded-explode shape), estimator bit-identical to text_hll_distinct.
    sql["events_wau_hll"] = """
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
ex AS (
  SELECT day, CAST(COUNT(*) AS BIGINT) AS n_wau_exact FROM (
    SELECT DISTINCT user_id, CAST(t.d AS DATE) AS day
    FROM ud, UNNEST(generate_series(CAST(day AS TIMESTAMP),
                                    CAST(day AS TIMESTAMP) + INTERVAL 6 DAY,
                                    INTERVAL 1 DAY)) AS t(d)
  ) c GROUP BY day
),
hs AS (
  SELECT day, CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
  FROM ud
),
regs AS (
  SELECT day, (h >> 50) AS bucket,
         MAX(CASE WHEN (h % 1125899906842624) = 0 THEN 51
                  ELSE 50 - length(bin(h % 1125899906842624)) + 1 END) AS m_j
  FROM hs GROUP BY day, (h >> 50)
),
merged AS (
  SELECT CAST(t.d AS DATE) AS day, bucket, MAX(m_j) AS m_j
  FROM regs, UNNEST(generate_series(CAST(day AS TIMESTAMP),
                                    CAST(day AS TIMESTAMP) + INTERVAL 6 DAY,
                                    INTERVAL 1 DAY)) AS t(d)
  GROUP BY CAST(t.d AS DATE), bucket
),
agg AS (
  SELECT day, SUM(power(2.0, -m_j)) AS z_nonempty, COUNT(*) AS n_buckets
  FROM merged GROUP BY day
),
est AS (
  SELECT day, CASE
           WHEN (755541.746198293 / (z_nonempty + (1024 - n_buckets))) <= 2560.0
                AND (1024 - n_buckets) > 0
           THEN 1024.0 * ln(1024.0 / (1024 - n_buckets))
           ELSE 755541.746198293 / (z_nonempty + (1024 - n_buckets))
         END AS e
  FROM agg
),
observed AS (SELECT DISTINCT day FROM ud)
SELECT strftime(ex.day, '%Y-%m-%d') AS day, n_wau_exact,
       ROUND(est.e, 3) AS n_wau_est,
       ROUND(ABS(est.e - n_wau_exact) / n_wau_exact, 4) AS rel_err
FROM ex JOIN est USING (day) JOIN observed USING (day)
"""
    # Bloom-pruned revenue (analytics.bloom_pruned_revenue): the Bloom
    # prune is lossless (no false negatives) and the exact semi-join
    # removes false positives, so the oracle is the PLAIN semi-join —
    # a hash match proves the runtime-filter path changes nothing.
    sql["orders_bloom_revenue"] = """
SELECT strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m') AS month,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
GROUP BY 1
"""
    # Harman S-stemmer vocab reduction (textops.stem_vocab_reduction):
    # the literal three-rule CASE, RE2-safe character classes.
    sql["text_stem_reduction"] = (
        "WITH "
        + _TOKS
        + """,
tk AS (SELECT lower(t.tok) AS tok FROM toks, UNNEST(w) AS t(tok)),
st AS (
  SELECT tok,
         CASE WHEN regexp_matches(tok, '[^ae]ies$') THEN regexp_replace(tok, 'ies$', 'y')
              WHEN regexp_matches(tok, 'ies$') THEN tok
              WHEN regexp_matches(tok, '[^aeo]es$') THEN regexp_replace(tok, 's$', '')
              WHEN regexp_matches(tok, 'es$') THEN tok
              WHEN regexp_matches(tok, '[^us]s$') THEN regexp_replace(tok, 's$', '')
              ELSE tok END AS stem
  FROM tk
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(COUNT(DISTINCT tok) AS BIGINT) AS vocab_raw,
       CAST(COUNT(DISTINCT stem) AS BIGINT) AS vocab_stemmed,
       CASE WHEN COUNT(DISTINCT tok) > 0 THEN
         ROUND(CAST(COUNT(DISTINCT tok) - COUNT(DISTINCT stem) AS DOUBLE)
               / COUNT(DISTINCT tok), 6)
       END AS reduction_frac
FROM st
"""
    )
    # SymSpell deletion-neighborhood typo pairs (textops.typo_pairs):
    # the literal blocking — {word} U del-1 variants as the join key,
    # exact levenshtein <= 1 on candidates.
    sql["text_typo_pairs"] = (
        """WITH tinj AS (
  SELECT doc_id,
         CASE WHEN doc_id % 13 = 0 AND regexp_matches(
                  list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x <> '')[1],
                  '^[a-z]{5,}$')
              THEN text || ' ' ||
                   substr(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x <> '')[1], 1, 2) ||
                   substr(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x <> '')[1], 4)
              ELSE text END AS text
  FROM documents
),
toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS w
  FROM tinj
),
tk AS (SELECT lower(t.tok) AS w FROM toks, UNNEST(w) AS t(tok)),
words AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS n FROM tk
  WHERE regexp_matches(w, '^[a-z]+$') AND length(w) >= 4 GROUP BY w
),
vars AS (
  SELECT w, n, unnest(list_prepend(w,
           list_transform(range(1, length(w) + 1),
                          i -> substr(w, 1, i - 1) || substr(w, i + 1)))) AS v
  FROM words
),
cand AS (
  SELECT DISTINCT a.w AS w1, b.w AS w2, a.n AS n1, b.n AS n2
  FROM vars a JOIN vars b ON a.v = b.v AND a.w < b.w
)
SELECT w1, w2, n1, n2 FROM cand WHERE levenshtein(w1, w2) <= 1
"""
    )
    # degree-oriented triangle counting (graph.copurchase_triangles):
    # the literal Suri–Vassilvitskii orientation — each triangle counted
    # once from its (degree, id)-lowest corner.
    # sequential Poisson sampling (sampling.weighted_sample): the key is
    # the exact integer (hash32 << 20) div weight — DuckDB's // is the
    # same floor division on positive BIGINTs as Spark's div.
    sql["pipeline_weighted_sample"] = """
WITH keyed AS (
  SELECT doc_id, source,
         CAST(GREATEST(n_chars, 1) AS BIGINT) AS weight,
         (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
          * 1048576) // CAST(GREATEST(n_chars, 1) AS BIGINT) AS skey
  FROM documents
)
SELECT doc_id, source, weight, CAST(skey AS BIGINT) AS skey
FROM keyed ORDER BY skey, doc_id LIMIT 100
"""
    sql["graph_triangles"] = """
WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
edges AS (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
),
deg AS (
  SELECT n, COUNT(*) AS d
  FROM (SELECT u AS n FROM edges UNION ALL SELECT v FROM edges) t
  GROUP BY n
),
oe AS (
  SELECT CASE WHEN (da.d, e.u) < (db.d, e.v) THEN e.u ELSE e.v END AS s,
         CASE WHEN (da.d, e.u) < (db.d, e.v) THEN e.v ELSE e.u END AS t
  FROM edges e JOIN deg da ON da.n = e.u JOIN deg db ON db.n = e.v
),
wedges AS (
  SELECT a.t AS b, b.t AS c
  FROM oe a JOIN oe b ON a.s = b.s AND a.t < b.t
),
tri AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
  FROM wedges w WHERE EXISTS (SELECT 1 FROM edges e WHERE e.u = w.b AND e.v = w.c)
),
ec AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM edges),
nc AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
         CAST(SUM(d * (d - 1) / 2) AS BIGINT) AS n_wedges
  FROM deg
)
SELECT n_nodes, n_edges, n_triangles, n_wedges,
       ROUND(3 * CAST(n_triangles AS DOUBLE) / n_wedges, 6) AS clustering_coeff
FROM tri, ec, nc
"""
    # quality-ranked canonical: the recursive-CC oracle embedded as a
    # subquery + a distinct-token stats CTE; rank = (n_distinct desc,
    # n_chars desc, doc_id)
    sql["dedup_canonical_quality"] = (
        "WITH stats AS (\n"
        "  SELECT doc_id,\n"
        "         CAST(len(list_distinct(list_filter(\n"
        "           regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')))\n"
        "              AS BIGINT) AS n_distinct,\n"
        "         CAST(strlen(text) AS BIGINT) AS n_chars\n"
        "  FROM documents\n"
        "),\n"
        "clusters AS (SELECT * FROM ("
        + sql["dedup_clusters"]
        + ")),\n"
        + """ranked AS (
  SELECT c.doc_id, c.cluster_id, s.n_distinct,
         ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                            ORDER BY s.n_distinct DESC, s.n_chars DESC,
                                     c.doc_id) AS rk,
         CAST(COUNT(*) OVER (PARTITION BY c.cluster_id) AS BIGINT) AS n_members
  FROM clusters c JOIN stats s ON c.doc_id = s.doc_id
)
SELECT doc_id, cluster_id, n_distinct, n_members FROM ranked WHERE rk = 1
"""
    )
    # --- dedup method matrix (r8): compose the six method oracles over
    # the planted-twin corpus.  Each method's full oracle is embedded as
    # a WITH-bearing subquery with its `documents` refs redirected to
    # the planted pdocs CTE — the matrix oracle therefore reuses the
    # EXACT per-method texts already proven above, on a common planted
    # operating point.
    def _on_pdocs(q: str) -> str:
        return "(" + q.replace("FROM documents", "FROM pdocs") + ")"

    _exact_pairs = (
        "(SELECT x.doc_id AS d1, y.doc_id AS d2 "
        "FROM (SELECT doc_id, md5(text) AS dg FROM pdocs) x "
        "JOIN (SELECT doc_id, md5(text) AS dg FROM pdocs) y "
        "ON x.dg = y.dg AND x.doc_id < y.doc_id)"
    )
    _matrix_methods = [
        ("exact", _exact_pairs),
        ("jaccard", _on_pdocs(sql["dedup_ngram_jaccard"])),
        ("minhash_lsh", _on_pdocs(sql["dedup_minhash_lsh"])),
        ("simhash", _on_pdocs(sql["dedup_simhash"])),
        ("tfidf_cosine", _on_pdocs(sql["dedup_tfidf_cosine"])),
        ("containment", _on_pdocs(sql["dedup_containment"])),
    ]
    _blocks = "\nUNION ALL\n".join(
        f"SELECT '{m}' AS method, (SELECT n FROM np) AS n_planted,\n"
        f"       (SELECT CAST(COUNT(*) AS BIGINT) FROM planted p\n"
        f"        JOIN {blk} mp ON mp.d1 = p.a AND mp.d2 = p.b) AS n_captured"
        for m, blk in _matrix_methods
    )
    sql["dedup_method_matrix"] = (
        r"""WITH pdocs AS (
  SELECT doc_id, text, lang, source, n_chars FROM documents
  UNION ALL
  SELECT doc_id + 1000000000 AS doc_id,
         regexp_replace(trim(text), '\s+\S+$', '') AS text,
         lang, source, n_chars
  FROM documents WHERE doc_id % 7 = 0
),
planted AS (SELECT doc_id AS a, doc_id + 1000000000 AS b
            FROM documents WHERE doc_id % 7 = 0),
np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM planted)
SELECT method, n_planted, n_captured,
       ROUND(CAST(n_captured AS DOUBLE) / n_planted, 4) AS capture
FROM (
"""
        + _blocks
        + "\n)\n"
    )
    return sql
