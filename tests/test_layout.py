"""Data-layout tests: Z-order clustering must tighten per-file min/max
boxes on BOTH interleaved columns (the pruning a 100 TB scan lives on),
and bucketed-table compaction must fold an append-grown table while
keeping its bucket spec. Verified from parquet row-group metadata — the
same statistics a pruning scan consults."""

from __future__ import annotations

import glob
import math
import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from openedx_event_sink_clickhouse_spark.operators.zorder import (
    write_zordered,
)


def file_pruning_stats(path: str, cols: list[str]) -> list[dict]:
    """Per-file min/max of ``cols`` from parquet row-group metadata —
    the statistics a pruning scan consults. Returns one dict per file:
    {col: (min, max)}. Pure pyarrow metadata reads; no data pages."""
    out = []
    for f in sorted(glob.glob(os.path.join(path, "*.parquet"))):
        pf = pq.ParquetFile(f)
        lo: dict[str, object] = {}
        hi: dict[str, object] = {}
        idx = {pf.schema_arrow.names[i]: i
               for i in range(len(pf.schema_arrow.names))}
        for rg in range(pf.metadata.num_row_groups):
            for c in cols:
                st = pf.metadata.row_group(rg).column(idx[c]).statistics
                if st is None or not st.has_min_max:
                    continue
                lo[c] = st.min if c not in lo else min(lo[c], st.min)
                hi[c] = st.max if c not in hi else max(hi[c], st.max)
        out.append({c: (lo.get(c), hi.get(c)) for c in cols})
    return out


def clustering_factor(stats: list[dict], cols: list[str]) -> float:
    """Mean normalized bounding-box volume across files — the expected
    fraction of files a uniformly random multi-column point query must
    open (1.0 = every file spans the full domain; → 0 = perfect
    clustering). Numeric columns only."""
    glo = {c: min(s[c][0] for s in stats) for c in cols}
    ghi = {c: max(s[c][1] for s in stats) for c in cols}
    vols = []
    for s in stats:
        v = 1.0
        for c in cols:
            span = (s[c][1] - s[c][0]) if s[c][0] is not None else 0
            total = max(ghi[c] - glo[c], 1)
            v *= min(1.0, (span + 1) / (total + 1))
        vols.append(v)
    return float(sum(vols) / max(len(vols), 1)) if vols else math.nan


def _events(spark, sf_dir):
    from openedx_event_sink_clickhouse_spark.sources.tables import load_table
    return (load_table(spark, "events", sf_dir)
            .select("event_id", "user_id",
                    F.dayofmonth("ts").alias("day"), "value"))


def test_zorder_layout_prunes_on_both_columns(spark, sf_dir, tmp_path):
    ev = _events(spark, sf_dir)
    naive = str(tmp_path / "naive")
    zord = str(tmp_path / "zord")
    bysort = str(tmp_path / "bysort")
    # Naive: shuffle-random 8 files. Single-column sort: perfect on
    # user_id, blind on day. Z-order: tight on both.
    ev.repartition(8).write.parquet(naive)
    (ev.repartitionByRange(8, "user_id").sortWithinPartitions("user_id")
       .write.parquet(bysort))
    write_zordered(ev, zord, ["user_id", "day"], num_files=8)

    cols = ["user_id", "day"]
    stats_sort = file_pruning_stats(bysort, cols)
    stats_z = file_pruning_stats(zord, cols)
    cf_naive = clustering_factor(file_pruning_stats(naive, cols), cols)
    cf_sort = clustering_factor(stats_sort, cols)
    cf_z = clustering_factor(stats_z, cols)
    # Naive layout: every file spans everything.
    assert cf_naive > 0.9
    # Z-order beats naive by a wide margin.
    assert cf_z < 0.5 * cf_naive
    # Volume alone can't separate z-order from a one-column sort (a
    # perfect sort already reaches ~1/num_files volume), so assert the
    # property that matters: the sorted layout is blind on the second
    # column (every file spans ~all days) while z-order prunes on BOTH
    # columns at once.
    day_sort = clustering_factor(stats_sort, ["day"])
    day_z = clustering_factor(stats_z, ["day"])
    uid_z = clustering_factor(stats_z, ["user_id"])
    assert day_sort > 0.9
    assert day_z < 0.8 * day_sort
    assert uid_z < 0.8
    # Row parity: layout must never change content.
    assert spark.read.parquet(zord).count() == ev.count()


def test_compact_bucketed_table_folds_and_preserves_spec(spark):
    # Append-growth maintenance: after enough appends the trigger folds
    # the count table back to ~1 file per bucket; the bucket spec (and
    # with it the exchange-free serve-time fold) and the data both
    # survive.
    from openedx_event_sink_clickhouse_spark.operators.heavyhitters import (
        append_counts_batch,
        write_count_table,
    )
    from openedx_event_sink_clickhouse_spark.sources.layout import (
        _dir_parquet_files,
        table_location,
    )
    spark.sql("DROP TABLE IF EXISTS digest_compact")
    try:
        def hashes(lo, hi):
            return spark.range(lo, hi).select(
                F.md5(F.col("id").cast("string")).alias("content_hash"))

        write_count_table(hashes(0, 20), "content_hash", "digest_compact",
                          buckets=2, mode="overwrite")
        for i in range(1, 6):
            append_counts_batch(hashes(i * 20, i * 20 + 20),
                                "content_hash", "digest_compact",
                                buckets=2, max_files_per_bucket=2)
        files = _dir_parquet_files(table_location(spark, "digest_compact"))
        # last append ran the trigger: at most the fresh batch's files on
        # top of the 2 folded bucket files — far below the 6 appends x
        # tasks-per-append growth an unmaintained table would show
        assert len(files) <= 2 * 2, files
        detail = spark.sql("DESCRIBE TABLE EXTENDED digest_compact") \
            .filter("col_name = 'Num Buckets'").first()
        assert detail is not None and detail.data_type.strip() == "2"
        assert spark.table("digest_compact").count() == 120
        assert spark.table("digest_compact") \
            .select("content_hash").distinct().count() == 120
    finally:
        spark.sql("DROP TABLE IF EXISTS digest_compact")


def test_compact_bucketed_table_recovers_orphaned_scratch(spark):
    # Crash window between DROP TABLE and RENAME: the data survives only
    # in {table}__compacting; the next invocation must promote it back
    # before (re)compacting, and discard a stale scratch when the live
    # table is intact.
    from openedx_event_sink_clickhouse_spark.operators.heavyhitters import (
        append_counts_batch)
    from openedx_event_sink_clickhouse_spark.sources.layout import (
        compact_bucketed_table)

    tbl = "digest_crash"
    for t in (tbl, f"{tbl}__compacting"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")

    def hashes(lo, hi):
        return spark.range(lo, hi).selectExpr(
            "md5(cast(id AS STRING)) AS content_hash", "id AS doc_id",
            "cast(10 AS long) AS n_bytes")

    try:
        append_counts_batch(hashes(0, 30), "content_hash", tbl, buckets=2)
        # Simulate the crash: rename the live table away to the scratch
        # name (equivalent end-state: only __compacting exists).
        spark.sql(f"ALTER TABLE {tbl} RENAME TO {tbl}__compacting")
        assert not spark.catalog.tableExists(tbl)
        compact_bucketed_table(spark, tbl, "content_hash", buckets=2)
        assert spark.catalog.tableExists(tbl)
        assert not spark.catalog.tableExists(f"{tbl}__compacting")
        assert spark.table(tbl).count() == 30
        # Stale scratch + intact live table: scratch dropped, table kept.
        hashes(100, 110).write.saveAsTable(f"{tbl}__compacting")
        compact_bucketed_table(spark, tbl, "content_hash", buckets=2)
        assert not spark.catalog.tableExists(f"{tbl}__compacting")
        assert spark.table(tbl).count() == 30
    finally:
        for t in (tbl, f"{tbl}__compacting"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")

