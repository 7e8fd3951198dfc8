"""SparkSession factory tuned for the CDC engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]``; the same settings are
what we would ship on a 1000-executor cluster (AQE on, skew-join handling,
shuffle partitions sized by env, Arrow for the pandas-UDF decode layer).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "oracdc-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Settings rationale (100 TB mindset, verified locally):

    * AQE enabled — runtime coalescing of shuffle partitions and skew-join
      splitting replace hand-tuned partition counts at scale.
    * ``spark.sql.session.timeZone=UTC`` — Oracle DATE/TIMESTAMP are
      zone-less (SURVEY §1.2); pinning UTC makes decode deterministic and
      matches the DuckDB oracle.
    * Arrow execution for pandas UDFs — the Oracle byte decoders (NUMBER,
      DATE, VECTOR) are vectorized; Arrow batch transfer keeps them off the
      row-at-a-time slow path.
    * parquet timestamps read as-is; no rebase surprises on the synthetic
      testdata.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ship_package(spark)
    return spark


def ship_package(spark: SparkSession) -> None:
    """Make ``oracdc_spark`` importable on executor Python workers.

    Python UDF / applyInPandasWithState functions defined inside the
    package are pickled *by reference*; workers must import the module.
    A driver that merely did ``sys.path.insert`` (not PYTHONPATH) would
    otherwise fail with ModuleNotFoundError on the first Python stage.
    Called where sessions enter the package: :func:`get_spark`, the
    ``__spark_entry__`` builders and the streaming assembly, so a session
    built elsewhere gets it from any cwd.  Idempotent; the zip is rebuilt
    and shipped once per SparkContext, so a file left by an earlier
    process with the same pid is never shipped.
    """
    import os
    import tempfile
    import zipfile

    import oracdc_spark

    pkg_dir = os.path.dirname(os.path.abspath(oracdc_spark.__file__))
    sc = spark.sparkContext
    if getattr(sc, "_oracdc_pyfile_shipped", False):
        return
    zpath = os.path.join(
        tempfile.gettempdir(), f"oracdc_spark_pkg_{os.getpid()}.zip"
    )
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    arc = os.path.join("oracdc_spark", os.path.relpath(full, pkg_dir))
                    z.write(full, arc)
    sc.addPyFile(zpath)
    sc._oracdc_pyfile_shipped = True
