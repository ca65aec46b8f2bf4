"""Batch table sources.

The reference loads "tables" as Django ORM models resolved by name from
settings (reference ``event_sink_clickhouse/utils.py:10-35``, map at
``settings/common.py:26-47``). Here a table is a parquet dataset resolved by
name from a scale-factor directory — ``spark.read.parquet`` gives us
columnar scans with predicate pushdown and column pruning for free, which
is the Catalyst-native replacement for the ORM's lazily-built SQL.

At 100 TB these would be partitioned/bucketed datasets or catalog tables;
the loader keeps the name → location indirection so swapping in
``spark.read.table(...)`` is a one-line change.

Inferring a parquet schema is a Spark job (a footer read on the
executors). A process that loads the same file again — the backfill, once
per table per cycle — gets the schema from a per-process memo keyed by
the file's path, ``st_mtime_ns`` and ``st_size``, and reads with
``.schema(...)``: no job. A rewritten file has a new signature and is
inferred again. The memo holds only ``StructType`` values, which belong
to no session, so a restarted session cannot meet a stale py4j handle
there. Spark still lists the files on every load. A dataset directory is
inferred on every load, since its own stat does not change when a file
inside is rewritten.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# The driver's parquet writes TIMESTAMP(NANOS), which Spark 4 refuses to map
# to TimestampType. We read nanos as INT64 (legacy conf) and truncate to
# micros ourselves — the same ns→us truncation DuckDB applies, so both
# engines see identical timestamp values.
NANO_TS_COLUMNS = {
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
    "events": ("ts",),
}

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# (absolute path, st_mtime_ns, st_size) of a parquet file -> its schema
_SCHEMAS: dict[tuple[str, int, int], StructType] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring a file's schema once per
    signature (module docstring)."""
    try:
        st = os.stat(path)
    except OSError:  # a URI, or missing: Spark resolves or reports it
        st = None
    if st is None or not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    sig = (os.path.abspath(path), st.st_mtime_ns, st.st_size)
    schema = _SCHEMAS.get(sig)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[sig] = df.schema
    return df


def load_table(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    """Load one named table from a scale-factor directory."""
    sf_dir = sf_dir or DEFAULT_SF_DIR
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Pin UTC here (not only in get_spark): the driver hands us a vanilla
    # session, and the NTZ→LTZ timestamp cast below is value-identical
    # only when the session TZ is UTC (DuckDB treats the same values as
    # UTC-epoch).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    for c in NANO_TS_COLUMNS.get(name, ()):
        if c not in df.columns:
            continue
        dt = dict(df.dtypes)[c]
        if dt == "bigint":
            # Older readers surface TIMESTAMP(NANOS) as raw int64 under the
            # legacy conf: truncate ns→µs ourselves (same truncation DuckDB
            # applies) and land on session-TZ TIMESTAMP.
            df = df.withColumn(
                c, F.timestamp_micros(F.expr(f"`{c}` div 1000")).cast("timestamp"))
        elif dt == "timestamp_ntz":
            # Spark 4.1.2 maps TIMESTAMP(NANOS) to TIMESTAMP_NTZ directly.
            # NTZ breaks cast-to-long epoch math and withWatermark; under
            # the pinned UTC session TZ the NTZ→LTZ cast is value-identical.
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df
