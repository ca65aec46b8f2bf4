"""SparkSession factory tuned for this engine.

Scale posture (designed for a 1000-executor cluster, tested on local[32]):

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic broadcast-join conversion replace hand-tuning at 100 TB.
- ``spark.sql.shuffle.partitions`` sized for the local harness; on a real
  cluster AQE's coalescing makes the static number a ceiling, not a knob.
- Session timezone pinned to UTC so timestamp semantics are reproducible
  and match the DuckDB oracle (naive/UTC parquet timestamps).
- Arrow enabled for the few Pandas-UDF paths (multimodal decode); all hot
  paths are pure Column expressions inside whole-stage codegen.
- Python workers fork from :mod:`.pyworker`, not ``pyspark.daemon``
  (``spark.python.daemon.module``). PySpark's worker invalidates the import
  caches on every task, and CPython 3.11/3.12 then re-read every zip on
  the workers' path (``pyspark.zip``, the spark-core jar), ~200 ms per
  task: a fixed cost on every ``insert_df`` POST job and every Python UDF
  task. The daemon re-reads an archive only when it changed; on CPython
  3.13+, which re-reads lazily, it is plain ``pyspark.daemon``. It is a
  static conf, so :func:`tune_session` cannot apply it: an external
  session (the driver harness's) keeps the per-task cost.
- Python workers get the package's parent directory on their path
  (``spark.executorEnv.PYTHONPATH``, which PySpark merges with the JVM's
  ``PYTHONPATH``): a driver that imports the package through its own
  ``sys.path`` alone can still start the daemon and unpickle tasks.
- A local master lists files on the driver
  (``spark.sql.sources.parallelPartitionDiscovery.threshold`` at its
  maximum). A streaming file source builds a file index over each
  micro-batch's files; above 32 paths (the default) that ran a Spark job
  with one task per file every epoch, which in local mode only adds
  scheduling on the driver's own cores (a publish epoch of ~95 files:
  127 → 32 tasks). A cluster master keeps Spark's distributed listing,
  which is faster against S3 or HDFS. The conf is held for the session's
  whole life: a streaming query clones its session on its own thread
  after ``start()``, so a conf set around ``start()`` does not reach it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_CPUS", "32")
# The runtime-settable defaults: get_spark's builder sets them on a new
# session, tune_session on an external one (a vanilla session defaults
# to 200 shuffle partitions; AQE coalesces below the count anyway).
_RUNTIME_CONFS = (
    ("spark.sql.session.timeZone", "UTC"),
    ("spark.sql.shuffle.partitions", DEFAULT_SHUFFLE_PARTITIONS),
    ("spark.sql.adaptive.enabled", "true"),
    ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
    ("spark.sql.adaptive.skewJoin.enabled", "true"),
)
# the directory the package is imported from, for the Python workers
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app_name: str = "openedx-event-sink-spark", master: str | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config.

    If a session already exists it is returned UNTOUCHED: Spark applies a
    reused builder's runtime SQL confs onto the live session, so blindly
    calling ``getOrCreate`` from a library entry point (the CLI, a sink)
    would silently clobber the caller's tuning — e.g. resetting
    ``shuffle.partitions`` mid-session flips bucketed-scan planning for
    every later query. Callers who WANT the engine defaults applied to an
    external session use :func:`tune_session` explicitly.

    The builder sets ``spark.python.daemon.module`` to :mod:`.pyworker`,
    which stops every Python-worker task from re-reading the unchanged zip
    archives on its path (~200 ms per task on CPython 3.11/3.12, a no-op
    on 3.13+), and puts the package's parent directory on the workers'
    ``PYTHONPATH``; ``extra_conf`` can override either like any conf.
    Both are static, so :func:`tune_session` cannot give them to an
    external session. A local master also lists every file index on the
    driver, where Spark would run a listing job above 32 paths (a
    stream's micro-batch of files, every epoch); a cluster master keeps
    Spark's distributed listing."""
    active = SparkSession.getActiveSession()
    if active is not None:
        if master is not None or extra_conf:
            import warnings

            warnings.warn(
                "get_spark: an active SparkSession already exists, so the "
                "explicit master/extra_conf arguments were NOT applied "
                "(reusing the live session). Use tune_session(spark) to "
                "apply engine defaults to an external session, or stop "
                "the active session first.",
                RuntimeWarning, stacklevel=2)
        return active
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(map=dict(_RUNTIME_CONFS))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module",
                "openedx_event_sink_clickhouse_spark.pyworker")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    if master.startswith("local"):
        # list every file index on the driver (see the module docstring)
        builder = builder.config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            str(2**31 - 1))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-settable defaults to an externally
    created session (the driver harness hands us its own SparkSession)."""
    for key, value in _RUNTIME_CONFS:
        spark.conf.set(key, value)
    return spark
