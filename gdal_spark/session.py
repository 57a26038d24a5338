"""SparkSession factory with the engine's scale-oriented defaults.

Designed for a 1000-executor cluster but testable on local[N]: AQE on
(runtime re-plan + skew-join splitting), Arrow transfer on (every geometry
kernel is an Arrow-batched pandas UDF), shuffle partitions sized to the
parallelism level rather than Spark's default 200.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app: str = "gdal_spark", cores: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder
        .master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # PySpark 4 wraps every DataFrame/Column op in a call-site-capture
        # decorator (pyspark.errors.utils._with_origin) that costs ~4 py4j
        # round-trips + a Python stack walk PER OP when
        # dataFrameDebugging is on (the default). Our queries build large
        # plans driver-side, so this dominated plan-construction time
        # (~1s per complex query at 1ms/round-trip). Error messages lose
        # only the Python call-site line, nothing else.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Python workers fork from gdal_spark.worker_daemon, which stops
        # every task from re-parsing pyspark.zip and the spark-core jar and
        # imports the worker stack once before fork. The daemon module must
        # be importable when the daemon starts: the spark-submit entry
        # points (jobs/*.py) build their own session and keep the stock
        # daemon, because on a cluster `--py-files` reach sys.path only per
        # task, after the daemon has started.
        .config("spark.python.daemon.module", "gdal_spark.worker_daemon")
    )
    spark = builder.getOrCreate()
    # the gate is cached process-wide on first read; force it to resolve
    # against this session's conf so later sessions in the same process
    # (tests create several) see a consistent answer
    try:
        from pyspark.errors import utils as _eu
        _eu._enable_debugging_cache = False
    except Exception:
        pass
    return spark
