"""Python workers import the package whatever session the driver builds
and wherever it runs."""

import os
import subprocess
import sys
import textwrap
from pathlib import Path

from tests.conftest import SF_SMOKE

REPO = Path(__file__).resolve().parent.parent


def test_vanilla_session_runs_python_stages_from_another_cwd(tmp_path):
    """Two fresh plain ``SparkSession.builder`` sessions, as an outside
    driver builds them, in a process that runs outside the repository
    and gives its workers no PYTHONPATH, so they can import
    ``oracdc_spark`` only from what the package itself shipped.  The
    first runs ``lob_inflate``'s Python UDFs fully (noop sink) through
    ``queries()``; the second runs ``run_pipeline`` over a one-transaction
    feed, whose first Python stage is the stateful assembly."""
    code = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {str(REPO)!r})
        from pathlib import Path
        import pyarrow as pa, pyarrow.parquet as pq
        from pyspark.sql import SparkSession
        from pyspark.sql.pandas.types import to_arrow_schema
        import __spark_entry__ as e
        from oracdc_spark.sinks.merge import replica_state
        from oracdc_spark.streaming.pipeline import FEED_DDL, run_pipeline

        def session():
            return (
                SparkSession.builder.master("local[2]")
                .config("spark.ui.enabled", "false")
                .config("spark.sql.shuffle.partitions", "2")
                .config("spark.driver.memory", "1g")
                .getOrCreate()
            )

        spark = session()
        df = e.queries()["lob_inflate"](spark, {SF_SMOKE!r})
        df.write.format("noop").mode("overwrite").save()
        spark.stop()

        spark = session()
        rows = [(10, 0, "1.10.0", "T1", 1, False, "SCOTT", "ORDERS", "R1", 1,
                 1.0, "O", None, None, 3, "TOTALPRICE,STATUS"),
                (11, 0, "1.11.0", "T1", 7, False, None, None, None, None,
                 None, None, None, None, 3, "")]
        schema = to_arrow_schema(spark.createDataFrame([], FEED_DDL).schema)
        (work := Path("work")).mkdir()
        (work / "feed").mkdir()
        pq.write_table(
            pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows], schema=schema),
            str(work / "feed" / "redo-000.parquet"),
        )
        q = run_pipeline(spark, str(work / "feed"), str(work / "replica"), str(work / "ckpt"))
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        assert replica_state(spark, str(work / "replica")).count() == 1
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    run = subprocess.run(
        [sys.executable, "-c", code], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert run.returncode == 0, run.stderr[-4000:]
