"""SparkSession factory with scale-appropriate defaults.

The reference engine (TrailDB) is a single-node mmap library; our engine
targets a 1000-executor cluster. The defaults below are the knobs that
matter at 100 TB: AQE for runtime re-planning (skew joins, coalescing
post-shuffle partitions), Arrow for any pandas-UDF exchange, and a
shuffle-partition count that callers override per deployment.
"""

from __future__ import annotations

import os
import site
import tempfile

import pyspark
from pyspark.sql import SparkSession

# Local test parallelism; a real deployment overrides via spark-submit conf.
_DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
# A worker socket is <dir>/.<uuid4>.sock and Linux caps the path at 107 bytes.
_MAX_SOCKET_DIR = 64
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _workers_import_package() -> bool:
    """Whether a local Python worker can import this package when it
    starts: it gets the driver's PYTHONPATH, working directory and
    site-packages, not a ``sys.path`` the driver changed at run time."""
    dirs = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep),
            *site.getsitepackages(), site.getusersitepackages()]
    return any(d and os.path.abspath(d) == _PACKAGE_ROOT for d in dirs)


def _python_worker_conf(tmpdir: str, daemon: bool) -> dict[str, str]:
    """The conf that takes the fixed costs out of local Python tasks:
    the package's worker daemon (no per-task zip re-read) and Unix-domain
    worker sockets in ``tmpdir`` when its socket paths fit in bytes."""
    conf = {}
    if daemon:
        conf["spark.python.daemon.module"] = "traildb_spark.worker_daemon"
    if len(os.fsencode(tmpdir)) <= _MAX_SOCKET_DIR:
        conf["spark.python.unix.domain.socket.enabled"] = "true"
        conf["spark.python.unix.domain.socket.dir"] = tmpdir
    return conf


def get_spark(app_name: str = "traildb-spark", master: str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's default tuning.

    All settings are safe on a cluster: AQE re-plans shuffles at runtime,
    skew-join handling splits whale partitions (TrailDB's "one huge trail"
    problem, cf. reference doc/docs/technical_overview.md:65-71), and
    partition coalescing keeps small-SF test runs from drowning in empty
    tasks without hurting large inputs.

    On a local master it also removes two fixed costs from every Python
    task (pandas UDFs, ``mapInPandas``, RDD functions):

    - the per-task zip re-read: ``spark.python.daemon.module`` is
      :mod:`traildb_spark.worker_daemon` (~100-200 ms a task on CPython
      < 3.13). Set only when a starting worker can import this package
      (on its PYTHONPATH, in the working directory or in site-packages);
      otherwise the stock daemon runs;
    - the ~40 ms loopback-TCP stall before a task's first Arrow batch:
      ``spark.python.unix.domain.socket.enabled`` with the sockets in
      ``tempfile.gettempdir()`` (Spark >= 4.1). A socket path is
      ``<dir>/.<uuid4>.sock`` and Linux allows 107 bytes, so a temp dir
      longer than 64 bytes leaves the workers on TCP.

    A cluster master gets neither: the driver cannot see whether the
    executors can import the package or own the temp dir; pass the confs
    through ``spark-submit`` there.
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
    if not master and not os.environ.get("SPARK_MASTER"):
        master = f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    if master:
        builder = builder.master(master)
    # Spark <= 4.0 rejects parquet INT64 TIMESTAMP(NANOS) unless this legacy
    # conf reads it as LONG nanos; Spark >= 4.1 dropped the conf and reads
    # TIMESTAMP_NTZ natively. functions.core.ts_seconds handles both dtypes.
    if tuple(int(x) for x in pyspark.__version__.split(".")[:2]) < (4, 1):
        builder = builder.config("spark.sql.legacy.parquet.nanosAsLong", "true")
    if master and master.startswith("local"):
        builder = builder.config(
            map=_python_worker_conf(tempfile.gettempdir(), _workers_import_package()))
    return builder.getOrCreate()
