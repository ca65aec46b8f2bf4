"""Bucketed-table maintenance: the catalog location of a table and the
post-append compaction that folds an append-grown BUCKETED table back to
~1 file per bucket with its bucket spec intact.

The at-rest count tables (``operators/heavyhitters.write_count_table``,
``append_counts_batch``, ``retract_keys``) append a few files per bucket
per batch and call :func:`compact_bucketed_table` after every append;
readers keep their exchange-free bucketed scans across the fold.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _dir_parquet_files(path: str) -> list[str]:
    import glob
    import os

    return sorted(glob.glob(os.path.join(path, "*.parquet")))


def table_location(spark, table: str) -> str:
    """A table's storage location from the CATALOG (never derived by
    naming convention — see dedup._clear_orphaned_location for why)."""
    row = (spark.sql(f"DESCRIBE TABLE EXTENDED {table}")
           .filter(F.col("col_name") == "Location").first())
    loc = row.data_type
    return loc[len("file:"):] if loc.startswith("file:") else loc


def compact_bucketed_table(spark, table: str, bucket_col: str,
                           buckets: int,
                           max_files_per_bucket: int = 8) -> bool:
    """Fold an append-grown BUCKETED table back to ~1 file per bucket,
    preserving the bucket/sort spec — the maintenance half of the
    append-mode contract in ``operators/heavyhitters.write_count_table``
    (each appended batch lands a few files per bucket; after enough
    batches the scan's task count and file-listing pressure grow without
    bound).

    File-count trigger: no-op (False) until the table holds more than
    ``max_files_per_bucket × buckets`` parquet files, so callers can
    invoke it unconditionally after every append. The fold itself
    repartitions BY THE BUCKET COLUMN into exactly ``buckets``
    partitions — the same hash Spark's bucketing uses — so each writer
    task owns one whole bucket and emits one file; the rewrite goes to a
    scratch table swapped in via RENAME, so the spec (and readers'
    exchange-free join planning) survives the fold.

    The fold reads the table's FILES (path scan), not ``spark.table``:
    the bucketed-table scan advertises HashPartitioning(bucket_col,
    buckets), which lets Catalyst elide the explicit repartition as
    redundant — while the write still runs at the scan's task width, so
    the "fold" would re-emit one file per (task × bucket) and shrink
    nothing (measured: 16 → 8 files via the table scan, 16 → ``buckets``
    via the path scan).

    CRASH-RECOVERY CAVEAT (single-writer assumed): the swap is DROP
    TABLE then RENAME — two catalog statements, not one atomic commit.
    A crash between them leaves no table under ``table``; the data
    survives only in the
    ``{table}__compacting`` scratch table. The next invocation (the
    append paths run this unconditionally after every append) recovers
    that orphan by renaming it back before doing anything else, so the
    non-atomic window heals on the usual maintenance cadence; on a
    shared production store this sequencing belongs to a table format's
    atomic metadata commit (Delta/Iceberg)."""
    tmp = f"{table}__compacting"
    if spark.catalog.tableExists(tmp):
        if spark.catalog.tableExists(table):
            # Crash before the DROP: the live table is intact, the
            # scratch is stale — discard it.
            spark.sql(f"DROP TABLE {tmp}")
        else:
            # Crash between DROP and RENAME: the scratch IS the table
            # (fully written before the drop) — promote it.
            spark.sql(f"ALTER TABLE {tmp} RENAME TO {table}")
    loc = table_location(spark, table)
    n_files = len(_dir_parquet_files(loc))
    if n_files <= max_files_per_bucket * buckets:
        return False
    (spark.read.parquet(loc)
     .repartition(buckets, F.col(bucket_col))
     .write.mode("overwrite")
     .bucketBy(buckets, bucket_col).sortBy(bucket_col)
     .saveAsTable(tmp))
    spark.sql(f"DROP TABLE {table}")
    spark.sql(f"ALTER TABLE {tmp} RENAME TO {table}")
    return True


