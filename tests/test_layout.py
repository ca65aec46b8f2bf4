"""Data-layout tests: Z-order clustering must tighten per-file min/max
boxes on BOTH interleaved columns (the pruning a 100 TB scan lives on),
and compaction must bound output file counts. Verified from parquet
row-group metadata — the same statistics a pruning scan consults."""

from __future__ import annotations

from pyspark.sql import functions as F

from openedx_event_sink_clickhouse_spark.sources.layout import (
    clustering_factor,
    compact_small_files,
    file_pruning_stats,
    write_zordered,
    zvalue,
)


def _events(spark, sf_dir):
    from openedx_event_sink_clickhouse_spark.sources.tables import load_table
    return (load_table(spark, "events", sf_dir)
            .select("event_id", "user_id",
                    F.dayofmonth("ts").alias("day"), "value"))


def test_zvalue_is_the_morton_code_on_a_4x4_grid(spark):
    df = spark.range(16).select(
        (F.col("id") % 4).alias("x"),
        (F.col("id") / 4).cast("int").alias("y"))
    z = df.select("x", "y",
                  zvalue([F.col("x"), F.col("y")],
                         [(0, 3), (0, 3)], bits=2).alias("z")).collect()
    got = {(r["x"], r["y"]): r["z"] for r in z}

    def morton(x, y):
        return ((x & 1) | ((y & 1) << 1)
                | ((x >> 1 & 1) << 2) | ((y >> 1 & 1) << 3))

    assert got == {(x, y): morton(x, y)
                   for x in range(4) for y in range(4)}


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


def test_compact_small_files_bounds_file_count(spark, sf_dir, tmp_path):
    ev = _events(spark, sf_dir)
    frag = str(tmp_path / "frag")
    out = str(tmp_path / "out")
    ev.repartition(64).write.parquet(frag)
    import glob
    assert len(glob.glob(frag + "/*.parquet")) == 64
    n = compact_small_files(spark, frag, out, target_mb=128)
    files = glob.glob(out + "/*.parquet")
    assert len(files) == n <= 4
    assert spark.read.parquet(out).count() == ev.count()


def test_compact_bucketed_table_folds_and_preserves_spec(spark):
    # Append-growth maintenance: after enough appends the trigger folds
    # the digest table back to ~1 file per bucket; the bucket spec (and
    # with it the exchange-free history join) and the data both survive.
    from pyspark.sql import functions as F

    from openedx_event_sink_clickhouse_spark.operators.dedup import (
        read_digest_table,
        write_digest_table,
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

        write_digest_table(hashes(0, 20), "digest_compact", buckets=2,
                           mode="overwrite")
        for i in range(1, 6):
            write_digest_table(hashes(i * 20, i * 20 + 20),
                               "digest_compact", buckets=2,
                               max_files_per_bucket=2)
        files = _dir_parquet_files(table_location(spark, "digest_compact"))
        # last append ran the trigger: at most the fresh batch's files on
        # top of the 2 folded bucket files — far below the 6 appends x
        # tasks-per-append growth an unmaintained table would show
        assert len(files) <= 2 * 2, files
        detail = spark.sql("DESCRIBE TABLE EXTENDED digest_compact") \
            .filter("col_name = 'Num Buckets'").first()
        assert detail is not None and detail.data_type.strip() == "2"
        assert read_digest_table(spark, "digest_compact").count() == 120
        assert read_digest_table(spark, "digest_compact") \
            .select("content_hash").distinct().count() == 120
    finally:
        spark.sql("DROP TABLE IF EXISTS digest_compact")


def test_ivf_append_compacts_cells_in_place(spark, tmp_path):
    # Cell-dir maintenance: repeated appends fragment each cell; the
    # post-append trigger folds oversized cells IN PLACE, so the
    # directory layout (and partition pruning) is untouched and no row
    # is lost or duplicated.
    import glob
    import os

    from pyspark.sql import functions as F

    from openedx_event_sink_clickhouse_spark.operators.similarity import (
        ivf_append_batch,
        write_ivf_partitioned,
    )
    from openedx_event_sink_clickhouse_spark.sources.layout import (
        _dir_parquet_files)
    import random
    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(120)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path / "ivf_compact")
    write_ivf_partitioned(emb.filter(F.col("vec_id") < 40), path,
                          n_centroids=4)
    for lo in range(40, 120, 16):
        batch = emb.filter((F.col("vec_id") >= lo)
                           & (F.col("vec_id") < lo + 16))
        ivf_append_batch(batch, path, model=emb, n_centroids=4,
                         max_files_per_cell=2)
    for cell_dir in glob.glob(os.path.join(path, "cell=*")):
        assert len(_dir_parquet_files(cell_dir)) <= 2, cell_dir
    got = spark.read.parquet(path)
    assert got.count() == 120
    assert got.select("id").distinct().count() == 120
    one_cell = got.filter(F.col("cell") == 1)
    one_cell.count()
    plan = one_cell._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_compact_partitioned_dir_recovers_crash_scratch(spark, tmp_path):
    # Round-5 advisory: the '*=*' glob also matched cell=N.compact_tmp /
    # .compact_old leftovers from a crashed fold, treating them as live
    # partitions. Recovery contract: with the live dir present the
    # scratch is stale and removed; with the live dir GONE (crash
    # between the two renames) the completed rewrite (_SUCCESS) or the
    # renamed-away original is promoted back — no partition lost, no
    # scratch dir folded as data.
    import os
    import shutil

    from openedx_event_sink_clickhouse_spark.sources.layout import (
        compact_partitioned_dir)

    base = str(tmp_path / "parts")
    df = spark.range(60).selectExpr("id % 3 AS cell", "id AS v")
    df.repartition(6).write.partitionBy("cell").parquet(base)

    # Stale scratch next to a LIVE partition: must be cleaned, not folded.
    shutil.copytree(os.path.join(base, "cell=0"),
                    os.path.join(base, "cell=0.compact_old"))
    # Crash between renames: live dir gone, original survives as .compact_old.
    os.rename(os.path.join(base, "cell=1"),
              os.path.join(base, "cell=1.compact_old"))
    # Crash mid-rewrite: incomplete tmp (no _SUCCESS) plus live dir gone,
    # old also present — old must win over the incomplete tmp.
    os.rename(os.path.join(base, "cell=2"),
              os.path.join(base, "cell=2.compact_old"))
    os.makedirs(os.path.join(base, "cell=2.compact_tmp"))

    compact_partitioned_dir(spark, base, max_files_per_partition=1)
    names = sorted(os.listdir(base))
    assert [n for n in names if ".compact" in n] == []
    got = spark.read.parquet(base)
    assert got.count() == 60
    assert got.select("cell").distinct().count() == 3


def test_compact_bucketed_table_recovers_orphaned_scratch(spark):
    # Crash window between DROP TABLE and RENAME: the data survives only
    # in {table}__compacting; the next invocation must promote it back
    # before (re)compacting, and discard a stale scratch when the live
    # table is intact.
    from openedx_event_sink_clickhouse_spark.operators.dedup import (
        read_digest_table, write_digest_table)
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
        write_digest_table(hashes(0, 30), tbl, buckets=2)
        # Simulate the crash: rename the live table away to the scratch
        # name (equivalent end-state: only __compacting exists).
        spark.sql(f"ALTER TABLE {tbl} RENAME TO {tbl}__compacting")
        assert not spark.catalog.tableExists(tbl)
        compact_bucketed_table(spark, tbl, "content_hash", buckets=2)
        assert spark.catalog.tableExists(tbl)
        assert not spark.catalog.tableExists(f"{tbl}__compacting")
        assert read_digest_table(spark, tbl).count() == 30
        # Stale scratch + intact live table: scratch dropped, table kept.
        hashes(100, 110).write.saveAsTable(f"{tbl}__compacting")
        compact_bucketed_table(spark, tbl, "content_hash", buckets=2)
        assert not spark.catalog.tableExists(f"{tbl}__compacting")
        assert read_digest_table(spark, tbl).count() == 30
    finally:
        for t in (tbl, f"{tbl}__compacting"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")

