"""oracdc_spark — a PySpark-native change-data-capture & analytics engine.

A from-scratch re-expression of the query/data-processing capabilities of
averemee-si/oracdc (an Oracle CDC → Kafka Connect engine) on idiomatic
Spark primitives:

* structured change-feed model (`oracdc_spark.feed`) standing in for the
  parsed redo stream (reference: OraCdcStatementBase.java:45-80),
* CDC dataflow operators (`oracdc_spark.operators.cdc`): transaction
  assembly, commit-ordered emission, rollback suppression, partial-rollback
  pairing, replay filter, PK dedup, apply-changes MERGE semantics,
* Oracle byte-format decoders (`oracdc_spark.functions`): NUMBER, DATE/
  TIMESTAMP, INTERVAL, VECTOR, charsets — vectorized via pandas UDFs,
* envelope binding (`oracdc_spark.operators.envelope`): kafka / debezium /
  single / wrapped schema modes,
* sink SQL generation (`oracdc_spark.sinks`): per-dialect upsert/
  create-table (PostgreSQL / MySQL / Oracle / MSSQL / ClickHouse),
* streaming pipeline (`oracdc_spark.streaming`): stateful transaction
  assembly with applyInPandasWithState over xid-hash buckets,
* large-scale training-data ops (`oracdc_spark.operators.dedup`,
  `.similarity`, `.textops`, `.multimodal`): exact/minhash/simhash dedup,
  ANN search, language-ID / quality scoring / tokenization, multimodal
  column plumbing.

Everything is DataFrame-first: plans are declared via the DataFrame/SQL API
so Catalyst handles pushdown, pruning, join selection and AQE; Python only
runs inside Arrow-vectorized UDFs where Oracle byte semantics demand it.
"""

__version__ = "0.1.0"

from oracdc_spark.session import get_spark  # noqa: F401

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
