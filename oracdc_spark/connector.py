"""Reference-property connector facade — the switch-over surface.

A user of the reference configures it through Kafka-Connect properties
(`a2.*`, defined in `runtime/config/Parameters.java`).  This facade
accepts THE SAME property names and assembles the equivalent Spark
pipeline from the package's operators, so an existing properties file
drives this engine unchanged (minus transport plumbing, which Spark
replaces).

Key handling mirrors the reference's AbstractConfig behavior:

* SUPPORTED keys configure the pipeline (table below);
* TRANSPORT keys (JDBC/wallet/ASM/SSH/SMB/BFILE/TNS/RAC/standby/
  distributed connection plumbing — Parameters.java defines them for the
  JDBC/redo transports that Spark sources replace) are accepted and
  recorded in `ignored_keys` so a reference properties file loads as-is;
* unknown `a2.*` keys raise, like ConfigDef validation.

Supported → wiring:

==============================  =============================================
a2.schema.type                  envelope: kafka (std) | single | debezium
a2.include / a2.exclude         F1 table include/exclude lists
a2.first.change                 F4 SCN lower bound
a2.topic.prefix/.name.style/.name.delimiter   K1 topic naming (TABLE |
                                SCHEMA_TABLE | PDB_SCHEMA_TABLE)
a2.kafka.topic                  single-topic mode target
a2.use.all.columns.on.delete    K3 delete image mode (tombstone vs full)
a2.tolerate.incomplete.row      F7 reject side-output vs raise
a2.use.rowid.as.key             key override (ROWID pseudo-key)
a2.pk.type                      well_defined | any_unique (registry)
a2.last.sequence.notifier(.file)  FileSeqNotifier on the streaming query
a2.batch.size                   micro-batch trigger sizing
a2.transaction.implementation   state backend: ChronicleQueue -> typed
                                ListState (transformWithStateInPandas),
                                ArrayList -> applyInPandasWithState blob
a2.map.number.*                 per-column NUMBER type overrides
                                (registry.NumberMap; exact > prefix >
                                suffix patterns, PDB-qualified first)
a2.pseudocolumn.*               config-named ORA_* pseudo-columns
                                (with_pseudo_columns; audit attrs = typed
                                NULLs; wrapped {V} when supplemental != all)
a2.redo.filename.convert        src=dst prefix mapping for redo names
                                (+ a2.use.ms.windows separator mode)
a2.topic.partition              pin Kafka records to one partition
a2.initial.load                 IGNORE | EXECUTE (S9 snapshot ∪ stream)
a2.process.all.update.statements  FALSE = suppress no-op updates (F9)
a2.supplemental.logging         ALL (plain fields) | other (wrapped {V})
==============================  =============================================
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

SCHEMA_KAFKA, SCHEMA_SINGLE, SCHEMA_DEBEZIUM = "kafka", "single", "debezium"

_TRANSPORT_PREFIXES = (
    "a2.jdbc.", "a2.wallet.", "a2.asm.", "a2.ssh.", "a2.smb.", "a2.bfile.",
    "a2.tns.", "a2.standby.", "a2.distributed.", "a2.internal.",
    "a2.connection.", "a2.tde.wallet.",
)
_TRANSPORT_KEYS = {
    "a2.jdbc.url", "a2.jdbc.username", "a2.jdbc.password", "a2.wallet.location",
}

# every remaining Parameters.java key the Spark engine has no analog for
# (polling/JMX/log-format/off-heap tuning of the Java runtime, or behavior
# Spark subsumes) — recognized so a real properties file loads unchanged,
# recorded in ignored_keys rather than rejected
_RECOGNIZED_NOOP_KEYS = {
    "a2.archived.log.catalog",
    "a2.array.list.default.capacity",
    "a2.emitter.timeout.ms",
    "a2.fetch.size",
    "a2.ignore.stored.offset",
    "a2.lob.transformation.class",
    "a2.log.miner.reconnect.ms",
    "a2.logminer.trace",
    "a2.offheap.size",
    "a2.oracdc.schemas",
    "a2.poll.interval",
    "a2.print.all.online.scn.ranges",
    "a2.print.invalid.hex.value.warning",
    "a2.print.unable.to.delete.warning",
    "a2.process.lobs",
    "a2.process.online.redo.logs",
    "a2.protobuf.schema.naming",
    "a2.schema.name.mapper",
    "a2.scn.query.interval.ms",
    "a2.stop.on.missed_log.file",
    "a2.stop.on.ora.1284",
    "a2.storage.media",
    "a2.tables.in.process.size",
    "a2.tables.out.of.scope.size",
    "a2.tmpdir",
    "a2.transactions.in.process.size",
    "a2.transfer.directory.stage",
    "a2.unable.to.map.col.id.warning",
    "a2.use.rac",
}

_SUPPORTED = {
    "a2.schema.type", "a2.include", "a2.exclude", "a2.first.change",
    "a2.topic.prefix", "a2.topic.name.style", "a2.topic.name.delimiter",
    "a2.kafka.topic", "a2.use.all.columns.on.delete",
    "a2.tolerate.incomplete.row", "a2.use.rowid.as.key", "a2.pk.type",
    "a2.last.sequence.notifier", "a2.last.sequence.notifier.file",
    "a2.batch.size", "a2.transaction.implementation", "a2.key.override",
    "a2.sink.connector.mode",
    "a2.transactions.threshold", "a2.reduce.load.ms",
    "a2.redo.filename.convert", "a2.use.ms.windows",
    "a2.supplemental.logging", "a2.topic.partition", "a2.initial.load",
    "a2.process.all.update.statements", "a2.table.list.style", "a2.topic.mapper",
}

_BOOL_TRUE = ("true", "1", "yes")


class OraCdcConnector:
    """Assemble the CDC pipeline from reference-style properties."""

    def __init__(self, config: dict[str, str]):
        self.config = dict(config)
        self.ignored_keys: list[str] = []
        # a2.map.topic.<TOPIC>=<OWNER.TABLE, …> — KafkaFlexibleTopicNameMapper
        # (Parameters.java:221,225): listed tables route to <TOPIC>
        self.topic_map: dict[tuple[str, str], str] = {}
        for k in self.config:
            if k.startswith("a2.map.topic."):
                topic = k[len("a2.map.topic."):]
                for entry in self.config[k].split(","):
                    parts = entry.strip().split(".")
                    if len(parts) == 2:
                        self.topic_map[(parts[0], parts[1])] = topic
                    elif len(parts) == 3:  # PDB.OWNER.TABLE
                        self.topic_map[(parts[1], parts[2])] = topic
                    else:
                        raise ValueError(f"bad table in {k}: {entry!r}")
        for k in self.config:
            if not k.startswith("a2."):
                continue  # connect framework keys (name, connector.class, …)
            if k in _SUPPORTED or k.startswith("a2.map.topic."):
                continue
            if k.startswith("a2.map.number."):
                continue  # parsed below into the NumberMap
            if k.startswith("a2.pseudocolumn."):
                continue  # parsed below into the pseudo-column spec
            if (
                k in _TRANSPORT_KEYS
                or k in _RECOGNIZED_NOOP_KEYS
                or k.startswith(_TRANSPORT_PREFIXES)
            ):
                self.ignored_keys.append(k)
                continue
            raise ValueError(f"unknown oracdc property: {k}")

        # a2.map.number.[PDB.]SCHEMA.TABLE.COL_OR_PATTERN — per-column
        # NUMBER type overrides (SourceConnectorConfig.java:531-596)
        from oracdc_spark.registry import NumberMap

        self.number_map = NumberMap(self.config)

        # a2.pseudocolumn.<kind> = <field name> — per-record ORA_*
        # pseudo-columns (KafkaPseudoColumnsProcessor.java:88-240; name
        # validation KafkaSourceConnectorConfig.java:412-427: blank =
        # omit, invalid Avro field name = hard error)
        from oracdc_spark.transforms import PSEUDO_COLUMN_KINDS, valid_avro_field_name

        self.pseudo_spec: dict[str, str] = {}
        for k, v in self.config.items():
            if not k.startswith("a2.pseudocolumn."):
                continue
            kind = k[len("a2.pseudocolumn."):]
            if kind not in PSEUDO_COLUMN_KINDS:
                raise ValueError(f"unknown pseudocolumn parameter: {k}")
            if not v.strip():
                continue  # blank = do not include the field
            if not valid_avro_field_name(v.strip()):
                raise ValueError(f"Invalid value [{v}] for parameter {k}!")
            self.pseudo_spec[kind] = v.strip()

        # a2.key.override = OWNER.TABLE=NOKEY|ROWID|INDEX(NAME), comma
        # separated; a listed table ignores a2.pk.type and
        # a2.use.rowid.as.key (Parameters.java:358-368,
        # SourceConnectorConfig.java:289-313)
        self.key_override: dict[str, tuple[str, str]] = {}
        for token in self.config.get("a2.key.override", "").split(","):
            token = token.strip()
            if not token:
                continue
            fqn, _, value = token.partition("=")
            fqn, value = fqn.strip().upper(), value.strip()
            vu = value.upper()
            if vu == "NOKEY":
                self.key_override[fqn] = ("NOKEY", "")
            elif vu == "ROWID":
                self.key_override[fqn] = ("ROWID", "")
            elif vu.startswith("INDEX"):
                idx = value[value.find("(") + 1 : value.rfind(")")].strip()
                self.key_override[fqn] = ("INDEX", idx)
            else:
                raise ValueError(f"bad a2.key.override entry: {token!r}")

        self.schema_type = self.config.get("a2.schema.type", SCHEMA_KAFKA)
        if self.schema_type not in (SCHEMA_KAFKA, SCHEMA_SINGLE, SCHEMA_DEBEZIUM):
            raise ValueError(f"a2.schema.type must be kafka|single|debezium, got {self.schema_type}")
        self.pk_type = self.config.get("a2.pk.type", "well_defined")
        if self.pk_type not in ("well_defined", "any_unique"):
            raise ValueError(f"a2.pk.type must be well_defined|any_unique, got {self.pk_type}")
        style = self.config.get("a2.topic.name.style", "TABLE")
        if style not in ("TABLE", "SCHEMA_TABLE", "PDB_SCHEMA_TABLE"):
            raise ValueError(f"bad a2.topic.name.style: {style}")
        self.topic_style = style

    def _flag(self, key: str, default: bool = False) -> bool:
        return self.config.get(key, str(default)).lower() in _BOOL_TRUE

    def initial_load(self, spark: SparkSession, sf_dir: str) -> DataFrame | None:
        """``a2.initial.load`` (Parameters.java:155-163): EXECUTE runs
        the S9 snapshot-at-SCN-cut ∪ stream union (last-write-wins per
        key, sources/initial_load.py); IGNORE — the default — returns
        None (stream-only start).  The reference flips the stored flag
        to COMPLETED after the load; here the returned DataFrame IS the
        completed load (rerunning is idempotent)."""
        mode = self.config.get("a2.initial.load", "IGNORE").upper()
        if mode == "IGNORE":
            return None
        if mode != "EXECUTE":
            raise ValueError(f"a2.initial.load must be IGNORE|EXECUTE, got {mode}")
        from oracdc_spark.sources.initial_load import initial_load_union

        return initial_load_union(spark, sf_dir)

    def with_pseudo_columns(self, stamped):
        """Apply the configured ``a2.pseudocolumn.*`` fields to a
        commit-stamped change DataFrame.  Mirrors the reference's two
        schema modes (KafkaPseudoColumnsProcessor.java:117-240): plain
        values when the source has full supplemental logging
        (``a2.supplemental.logging`` = all, the default), wrapped
        {V: value} structs otherwise — the same tri-state convention
        the wrapped sink uses."""
        from oracdc_spark.transforms import pseudo_columns_from_config

        wrapped = self.config.get("a2.supplemental.logging", "all").lower() != "all"
        return pseudo_columns_from_config(stamped, self.pseudo_spec, wrapped=wrapped)

    # -- redo file name conversion ------------------------------------------

    def convert_redo_file_name(self, original_name: str, bfile: bool = False) -> str:
        """``a2.redo.filename.convert`` path mapping for redo/archive
        file names (SourceConnectorConfig.java:659-734,
        OraCdcRedoFileNameConvertTest.java fixtures).

        Semantics mirrored from the reference: the parameter is a
        comma-separated list of ``src=dst`` prefix pairs (entries
        without ``=`` are skipped); both sides get the platform file
        separator appended if missing; the LONGEST matching prefix
        wins; on Windows mode (``a2.use.ms.windows`` here, msWindows()
        there) backslashes in the result flip to forward slashes; an
        unmatched name passes through unchanged.  ``bfile=True``
        returns just the base name (the DIRECTORY-object read path
        needs only the relative name)."""
        sep = "\\" if self._flag("a2.use.ms.windows") else "/"
        if bfile:
            return original_name.rsplit(sep, 1)[-1]
        param = self.config.get("a2.redo.filename.convert", "")
        if "=" not in param:
            return original_name
        mapping = {}
        for element in param.split(","):
            if "=" not in element:
                continue
            src, _, dst = element.strip().partition("=")
            src, dst = src.strip(), dst.strip()
            if not src.endswith(sep):
                src += sep
            if not dst.endswith(sep):
                dst += sep
            mapping[src] = dst
        best = None
        for prefix in mapping:
            if original_name.startswith(prefix) and (
                best is None or len(prefix) > len(best)
            ):
                best = prefix
        if best is None:
            return original_name
        out = mapping[best] + original_name[len(best):]
        if sep == "\\":
            out = out.replace("\\", "/")
        return out

    # -- source side --------------------------------------------------------

    def source_filter(self, feed: DataFrame) -> DataFrame:
        """The configured source surface as narrow column predicates —
        SCN lower bound (F4), include/exclude table lists (F1),
        completeness tolerance (F7) — applicable to BOTH the batch feed
        and the streaming source (no shuffle, no action; streaming-safe).

        Table-list predicates exempt transaction-control records (op
        7/36): they carry no table of their own, and dropping them would
        wrongly discard commits for multi-table transactions in which
        only SOME tables are excluded."""
        from oracdc_spark.operators.filters import incomplete_rows_predicate

        feed = self.scoped_feed(feed)
        if self._flag("a2.tolerate.incomplete.row", False):
            feed = feed.filter(~incomplete_rows_predicate())
        return feed

    def scoped_feed(self, feed: DataFrame) -> DataFrame:
        """SCN bound + include/exclude only (no completeness policy) —
        the shared core of :meth:`source_filter` and
        :meth:`filtered_feed`."""
        from oracdc_spark.operators.filters import table_list_column

        is_ctl = F.col("op").isin([7, 36])
        if "a2.first.change" in self.config:
            feed = feed.filter(F.col("scn") >= int(self.config["a2.first.change"]))
        if "a2.include" in self.config:
            feed = feed.filter(is_ctl | table_list_column(self.config["a2.include"]))
        if "a2.exclude" in self.config:
            feed = feed.filter(is_ctl | ~table_list_column(self.config["a2.exclude"]))
        return feed

    def filtered_feed(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        """feed → SCN window → include/exclude → completeness policy.

        ``a2.table.list.style`` (KafkaSourceRedoMinerTask.java:155-166):
        an EXPLICIT ``static`` requires ``a2.include`` (the reference
        refuses to start otherwise — set ``dynamic`` to mine every
        table).  Unset, the engine behaves dynamically (the include
        patterns are evaluated against the stream at runtime)."""
        from oracdc_spark.feed import change_feed
        from oracdc_spark.operators.filters import completeness_check

        style = self.config.get("a2.table.list.style", "").lower()
        if style and style not in ("static", "dynamic"):
            raise ValueError(f"a2.table.list.style must be static|dynamic, got {style}")
        if style == "static" and "a2.include" not in self.config:
            raise ValueError(
                "a2.table.list.style=static requires a2.include "
                "(or set a2.table.list.style=dynamic)"
            )
        feed = self.scoped_feed(change_feed(spark, sf_dir))
        tolerate = self._flag("a2.tolerate.incomplete.row", False)
        complete, rejects = completeness_check(feed, tolerate=tolerate)
        self.rejects = rejects
        if not tolerate:
            # strict mode: any short row is an error (reference logs and
            # stops the task; here the gate raises at assembly time)
            from oracdc_spark.operators.filters import assert_complete

            assert_complete(rejects)
        # a2.process.all.update.statements (Parameters.java:747-754,
        # default TRUE): FALSE ignores UPDATEs that change nothing
        # ('set DNAME=DNAME') — the F9 suppression
        if not self._flag("a2.process.all.update.statements", True):
            from oracdc_spark.operators.cdc import suppress_unchanged_updates

            complete = suppress_unchanged_updates(complete)
        return complete

    # -- envelope / records -------------------------------------------------

    def events(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        """Committed change events in the configured schema type."""
        from oracdc_spark.operators import cdc, envelope

        feed = self.filtered_feed(spark, sf_dir)
        if self.schema_type == SCHEMA_DEBEZIUM:
            return envelope.debezium_flat(feed)
        if self.schema_type == SCHEMA_SINGLE:
            return envelope.single_mode(feed)
        return cdc.commit_stamped(feed)

    def key_for(
        self,
        pk_cols: tuple[str, ...],
        unique_not_null_cols: tuple[str, ...] = (),
        owner: str | None = None,
        table: str | None = None,
        indexes: dict[str, tuple[str, ...]] | None = None,
    ) -> tuple[tuple[str, ...], str]:
        """S10 key preference under the configured a2.pk.type /
        a2.use.rowid.as.key: well_defined restricts the fallback chain to
        real PKs (no unique-index substitution); any_unique allows it;
        use.rowid.as.key forces the ROWID pseudo-key.  A per-table
        a2.key.override entry IGNORES those globals (Parameters.java:362):
        NOKEY emits no key fields, ROWID forces the pseudo-key, and
        INDEX(NAME) keys on that index's columns (``indexes`` supplies
        the dictionary's index→columns map)."""
        from oracdc_spark.registry import (
            KEY_FROM_INDEX,
            KEY_NOKEY,
            KEY_ROWID_PSEUDO,
            OVERRIDE_NONE,
            OVERRIDE_ROWID,
            choose_key,
        )

        if owner is not None and table is not None:
            kind, idx_name = self.key_override.get(
                f"{owner}.{table}".upper(), ("NONE", "")
            )
            if kind == "NOKEY":
                return (), KEY_NOKEY
            if kind == "ROWID":
                return ("ORA_ROW_ID",), KEY_ROWID_PSEUDO
            if kind == "INDEX":
                cols = (indexes or {}).get(idx_name)
                if not cols:
                    raise ValueError(
                        f"a2.key.override INDEX({idx_name}) for "
                        f"{owner}.{table}: index not in the dictionary"
                    )
                return tuple(cols), KEY_FROM_INDEX
        override = (
            OVERRIDE_ROWID if self._flag("a2.use.rowid.as.key", False) else OVERRIDE_NONE
        )
        uniq = unique_not_null_cols if self.pk_type == "any_unique" else ()
        return choose_key(pk_cols, uniq, override=override)

    def column_type_for(
        self,
        owner: str,
        table: str,
        column: str,
        type_text: str,
        pdb: str | None = None,
    ):
        """Dictionary column type under the configured a2.map.number
        overrides: a NUMBER-family column matching an override takes the
        override's engine type (exact > prefix > suffix, PDB-qualified
        entry first — OraCdcNumberMapTest); everything else follows the
        standard tiering (oracle_type_to_spark)."""
        from oracdc_spark.registry import oracle_type_to_spark

        if type_text.strip().upper().startswith("NUMBER"):
            override = self.number_map.resolve(owner, table, column, pdb)
            if override is not None:
                return override
        return oracle_type_to_spark(type_text)

    # a2.topic.mapper predefined class names (Parameters.java:212-223) →
    # the engine's mapper behaviors.  A user-supplied Java class cannot
    # load here; unknown names raise like a failed Class.forName.
    _TOPIC_MAPPERS = {
        "solutions.a2.cdc.oracle.runtime.config.KafkaDefaultTopicNameMapper": "default",
        "solutions.a2.cdc.oracle.runtime.config.KafkaSingleTopicNameMapper": "single",
        "solutions.a2.cdc.oracle.runtime.config.KafkaFlexibleTopicNameMapper": "flexible",
    }

    def _topic_mapper_mode(self) -> str:
        name = self.config.get("a2.topic.mapper")
        if name is None:
            # unset: flexible when a2.map.topic.* entries exist, single
            # under single-topic schema mode, default otherwise — the
            # behavior the mapper classes encode
            return "flexible" if self.topic_map else "default"
        if name not in self._TOPIC_MAPPERS:
            raise ValueError(f"cannot load topic mapper class: {name}")
        return self._TOPIC_MAPPERS[name]

    def topic_for(self, pdb: str | None, owner: str, table: str) -> str:
        mode = self._topic_mapper_mode()
        if mode == "single":
            # KafkaSingleTopicNameMapper consults config.kafkaTopic()
            # only; its unset default is 'oracdc-topic'
            # (Parameters.java KAFKA_TOPIC_DEFAULT) — never topic.prefix
            return self.config.get("a2.kafka.topic", "oracdc-topic")
        if mode == "flexible" and (owner, table) in self.topic_map:
            return self.topic_map[(owner, table)]
        if self.schema_type == SCHEMA_SINGLE and "a2.kafka.topic" in self.config:
            return self.config["a2.kafka.topic"]
        delim = self.config.get("a2.topic.name.delimiter", "_")
        prefix = self.config.get("a2.topic.prefix", "")
        if self.topic_style == "TABLE":
            parts = [table]
        elif self.topic_style == "SCHEMA_TABLE":
            parts = [owner, table]
        else:  # PDB_SCHEMA_TABLE
            parts = [pdb or "CDB$ROOT", owner, table]
        return prefix + delim.join(parts)

    def transaction_stats(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        """G1/G11 — per-transaction assembly stats, the monitoring
        surface behind the reference's JMX transaction counters.  With
        ``a2.transactions.threshold`` configured (Parameters.java:478-484,
        the large/many-transaction backpressure knob), the aggregation
        runs the two-phase SALTED plan (plans/skew.py): a mega-transaction
        spreads across salt buckets instead of hot-spotting one reducer —
        same results, skew-safe (tested)."""
        from oracdc_spark.feed import change_feed
        from oracdc_spark.operators import cdc

        threshold = int(self.config.get("a2.transactions.threshold", "0"))
        feed = self.scoped_feed(change_feed(spark, sf_dir))
        return cdc.txn_stats(feed, salt_buckets=self._salt_buckets(threshold))

    @staticmethod
    def _salt_buckets(threshold: int) -> int | None:
        """Map the reference's concurrency budget to a salt fan-out.

        The reference bounds *simultaneously processed transactions*
        (Parameters.java:478-484; 0 = auto from vm.max_map_count).  In
        the Spark re-expression the analogous pressure point is a reducer
        buffering one mega-transaction, so the configured budget scales
        the two-phase salted aggregation instead: a tighter budget →
        more salt buckets, ``clamp(2048/threshold, 2, 64)``.  The gate is
        static (plan shape is declared before any sizes are known —
        runtime skew beyond the salt fan-out is AQE's job); 0/absent
        keeps the single-phase plan."""
        if threshold <= 0:
            return None
        return max(2, min(64, 2048 // threshold))

    def kafka_records(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        """K1 records under the configured topic naming + delete mode."""
        from oracdc_spark.operators import cdc
        from oracdc_spark.sinks.kafka import bind_kafka_records

        stamped = cdc.commit_stamped(self.filtered_feed(spark, sf_dir))
        partition = (
            int(self.config["a2.topic.partition"])
            if "a2.topic.partition" in self.config
            else None
        )
        return bind_kafka_records(
            stamped,
            topic_mapper=self.topic_for,
            delete_all_columns=self._flag("a2.use.all.columns.on.delete", False),
            partition=partition,
        )

    # -- streaming ----------------------------------------------------------

    def start_pipeline(
        self,
        spark: SparkSession,
        feed_dir: str,
        replica_path: str,
        checkpoint_dir: str,
    ):
        """Streaming feed → stateful assembly → MERGE replica, with the
        configured last-sequence notifier attached."""
        from oracdc_spark.streaming.pipeline import run_pipeline

        listener = None
        if self.config.get("a2.last.sequence.notifier") == "file":
            from oracdc_spark.metrics import FileSeqNotifier, SeqNotifyingListener

            notifier = FileSeqNotifier(
                self.config.get("a2.last.sequence.notifier.file", "/tmp/oracdc.seq")
            )
            listener = SeqNotifyingListener(notifier=notifier)
            spark.streams.addListener(listener)
        self._listener = listener
        mfpt = int(self.config.get("a2.batch.size", 1))
        # reference: ChronicleQueue = off-heap queue; mapped onto the
        # per-xid ListState backend (tws), ArrayList onto the bucket one.
        impl_map = {"ChronicleQueue": "tws", "ArrayList": "apply"}
        impl_key = self.config.get("a2.transaction.implementation", "ArrayList")
        if impl_key not in impl_map:
            raise ValueError(f"bad a2.transaction.implementation: {impl_key}")
        # a2.sink.connector.mode (TargetDbConfig.java:57-59): replicate =
        # LWW MERGE replica; audit_trail = keep every change as a version
        # row (materialized as SCD2 history)
        mode = self.config.get("a2.sink.connector.mode", "replicate")
        # the SAME configured source surface the batch path applies
        # (include/exclude/first-SCN/completeness) rides the streaming
        # scan as narrow predicates — excluded tables never enter state
        # (round-3 ADVICE item 1: streaming must not bypass the filters)
        return run_pipeline(
            spark, feed_dir, replica_path, checkpoint_dir,
            max_files_per_trigger=mfpt, impl=impl_map[impl_key], mode=mode,
            pre_filter=self.source_filter,
            strict_completeness=not self._flag("a2.tolerate.incomplete.row", False),
            # G11 load reduction: pace the read side between triggers
            trigger_ms=int(self.config.get("a2.reduce.load.ms", "0")) or None,
        )
