"""P2 — change-vector byte-map projection (SURVEY §2.4).

Reference: a redo change vector carries column values as *byte arrays
keyed by column number*, not typed fields — `OraCdcChangeUndoBlock`
exposes per-column (colNum, byte[]) slices, and
`KafkaStructDataBinder.java` binds them to typed Connect values by
looking the column number up in the dictionary and dispatching on the
column's declared Oracle type.  The round-1 feed skipped this hop
(typed before/after images directly); this operator restates the real
two-step: raw `map<int, binary>` image → dictionary-driven typed
projection.

Spark restatement:

* the raw image is a `map<int, binary>` column; `element_at(map, colno)`
  is a JVM expression, so slicing the map stays in codegen;
* type dispatch is a *plan-time* decision (the dictionary is known when
  the query is built, exactly like the reference's schema cache) — each
  column's bytes go through the matching decoder: NUMBER → Arrow-batched
  `ora_number_to_double` / `ora_number_to_long`, VARCHAR2 → JVM
  `decode(bytes, charset)`.  No per-row type dispatch ever happens.
* at 100 TB: map slicing + charset decode are codegen; the NUMBER decode
  UDFs are the same Arrow hop the feed decode path already pays — per
  row, no shuffle, no driver involvement.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from oracdc_spark.catalog import load_table

# dictionary slice for the fixture table (colno → name, ora type), the
# stand-in for the reference's schema cache keyed off OBJ#/COL#.
VECTOR_DICT: dict[int, tuple[str, str]] = {
    1: ("pk", "NUMBER_INT"),
    2: ("totalprice", "NUMBER"),
    3: ("status", "VARCHAR2"),
}


def vector_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw change vectors from ``orders``: after-image as
    map<colno, binary> holding Oracle NUMBER bytes for pk/totalprice and
    charset bytes for status.  NULL columns are absent from the map
    (byte maps carry no entry for NULL — the tri-state the wrapped sink
    relies on), simulated here by dropping STATUS from every 9th row."""
    from oracdc_spark.functions.decoders import ora_number_encode_hex

    o = load_table(spark, sf_dir, "orders")
    pk_b = F.unhex(ora_number_encode_hex(F.col("o_orderkey").cast("double")))
    price_b = F.unhex(ora_number_encode_hex(F.col("o_totalprice")))
    status_b = F.encode(F.col("o_orderstatus"), "utf-8")
    with_status = F.create_map(
        F.lit(1), pk_b, F.lit(2), price_b, F.lit(3), status_b
    )
    without_status = F.create_map(F.lit(1), pk_b, F.lit(2), price_b)
    return o.select(
        (F.col("o_orderkey") * 10).cast("bigint").alias("scn"),
        F.when(F.col("o_orderkey") % 9 == 0, without_status)
        .otherwise(with_status)
        .alias("after_image"),
    )


def _bind(col_bytes: Column, ora_type: str) -> Column:
    """Dictionary-driven type dispatch (KafkaStructDataBinder switch)."""
    from oracdc_spark.functions.decoders import (
        ora_number_to_double,
        ora_number_to_long,
    )

    if ora_type == "NUMBER":
        return ora_number_to_double(col_bytes)
    if ora_type == "NUMBER_INT":
        return ora_number_to_long(col_bytes)
    if ora_type == "VARCHAR2":
        return F.decode(col_bytes, "utf-8")
    raise ValueError(f"no binder for Oracle type {ora_type}")


def project_typed(vectors: DataFrame, dictionary: dict[int, tuple[str, str]] | None = None) -> DataFrame:
    """Bind each dictionary column's bytes out of the map; absent map
    entries (NULL columns) become typed NULLs."""
    d = dictionary or VECTOR_DICT
    cols = [F.col("scn")]
    for colno, (name, ora_type) in sorted(d.items()):
        raw = F.element_at(F.col("after_image"), F.lit(colno))
        cols.append(_bind(raw, ora_type).alias(name))
    return vectors.select(*cols)


def change_vector_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return project_typed(vector_feed(spark, sf_dir))


CHANGE_VECTOR_SQL = """
SELECT CAST(o_orderkey*10 AS BIGINT) AS scn,
       CAST(o_orderkey AS BIGINT) AS pk,
       CAST(o_totalprice AS DOUBLE) AS totalprice,
       CASE WHEN o_orderkey % 9 = 0 THEN NULL ELSE o_orderstatus END AS status
FROM orders
"""
