"""SparkSession factory with scale-appropriate defaults.

The reference engine (TrailDB) is a single-node mmap library; our engine
targets a 1000-executor cluster. The defaults below are the knobs that
matter at 100 TB: AQE for runtime re-planning (skew joins, coalescing
post-shuffle partitions), Arrow for any pandas-UDF exchange, and a
shuffle-partition count that callers override per deployment.
"""

from __future__ import annotations

import os

import pyspark
from pyspark.sql import SparkSession

# Local test parallelism; a real deployment overrides via spark-submit conf.
_DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")


def get_spark(app_name: str = "traildb-spark", master: str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's default tuning.

    All settings are safe on a cluster: AQE re-plans shuffles at runtime,
    skew-join handling splits whale partitions (TrailDB's "one huge trail"
    problem, cf. reference doc/docs/technical_overview.md:65-71), and
    partition coalescing keeps small-SF test runs from drowning in empty
    tasks without hurting large inputs.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", _DEFAULT_SHUFFLE_PARTITIONS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # PySpark 4 records the Python call site of every Column operation
        # for error messages: extra py4j calls and a failed IPython import
        # each time. Building and planning one filtered dump took 603 py4j
        # round trips with it and 163 without. The cost of turning it off:
        # errors no longer carry the Python call site that built the
        # failing expression.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        builder = builder.master(f"local[{cpus}]")
    # Spark <= 4.0 rejects parquet INT64 TIMESTAMP(NANOS) unless this legacy
    # conf reads it as LONG nanos; Spark >= 4.1 dropped the conf and reads
    # TIMESTAMP_NTZ natively. functions.core.ts_seconds handles both dtypes.
    if tuple(int(x) for x in pyspark.__version__.split(".")[:2]) < (4, 1):
        builder = builder.config("spark.sql.legacy.parquet.nanosAsLong", "true")
    return builder.getOrCreate()
