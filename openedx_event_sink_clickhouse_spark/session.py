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
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_CPUS", "32")


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
    on 3.13+); ``extra_conf`` can override it like any conf. It is static,
    so :func:`tune_session` cannot give it to an external session."""
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
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", DEFAULT_SHUFFLE_PARTITIONS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module",
                "openedx_event_sink_clickhouse_spark.pyworker")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-settable defaults to an externally
    created session (the driver harness hands us its own SparkSession)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # runtime-settable; the driver's vanilla session defaults to 200 —
    # size to the local core count (AQE coalesces below it anyway)
    spark.conf.set("spark.sql.shuffle.partitions", DEFAULT_SHUFFLE_PARTITIONS)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    return spark
