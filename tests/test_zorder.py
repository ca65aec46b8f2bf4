"""Z-order layout tests: (a) the Morton interleave matches a bit-level
Python reference, (b) THE POINT — a z-ordered write gives selective
min/max footer stats on BOTH dimensions, where a one-column sort leaves
the second dimension unprunable. Skipping is measured from the parquet
footers themselves (pyarrow), engine-agnostic: a file whose [min, max]
excludes the predicate is a file any stats-aware reader skips."""
from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from openedx_event_sink_clickhouse_spark.operators.zorder import (
    write_zordered, zorder_key)


def _interleave(vals: list[int], bits: int) -> int:
    n = len(vals)
    z = 0
    for c, v in enumerate(vals):
        for i in range(bits):
            z |= ((v >> i) & 1) << (i * n + c)
    return z


def test_zorder_key_matches_python_reference(spark):
    rows = [(i, (i * 37) % 1024, (i * 101) % 777) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, x long, y long")
    got = {r.id: r.z for r in
           df.select("id", zorder_key(["x", "y"], 10).alias("z")).collect()}
    for i, x, y in rows:
        assert got[i] == _interleave([x, y], 10)


def test_zorder_key_three_columns_and_bounds(spark):
    df = spark.createDataFrame([(1, 5, 6, 7)], "id long, a long, b long, c long")
    got = df.select(zorder_key(["a", "b", "c"], 8).alias("z")).first().z
    assert got == _interleave([5, 6, 7], 8)
    import pytest
    with pytest.raises(ValueError):
        zorder_key(["a"], 8)
    with pytest.raises(ValueError):
        zorder_key(["a", "b", "c"], 21)  # 63 bits > 62


def _col_stats(md, col: str):
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        for i in range(md.num_columns):
            c = rg.column(i)
            if c.path_in_schema == col:
                yield c.statistics.min, c.statistics.max


def _files_overlapping(path: str, col: str, lo: int, hi: int) -> tuple[int, int]:
    """(files whose [min,max] stats overlap [lo, hi], total files)."""
    cand = total = 0
    for name in os.listdir(path):
        if not name.endswith(".parquet"):
            continue
        total += 1
        md = pq.ParquetFile(os.path.join(path, name)).metadata
        stats = list(_col_stats(md, col))
        fmin = min(s[0] for s in stats)
        fmax = max(s[1] for s in stats)
        if fmax >= lo and fmin <= hi:
            cand += 1
    return cand, total


def test_zorder_skips_on_both_dimensions(spark, tmp_path):
    # 64x64 grid, one row per cell -> 4096 rows into 16 files.
    rows = [(i, i % 64, i // 64) for i in range(4096)]
    df = spark.createDataFrame(rows, "id long, x long, y long")
    zpath = str(tmp_path / "z")
    xpath = str(tmp_path / "xsort")
    write_zordered(df, zpath, ["x", "y"], bits=6, num_files=16)
    (df.repartitionByRange(16, "x").sortWithinPartitions("x")
     .write.mode("overwrite").parquet(xpath))

    # a narrow band on y: the x-sorted layout cannot skip anything
    # (every file spans all y); the z-ordered one reads a fraction.
    zy, zt = _files_overlapping(zpath, "y", 10, 13)
    xy, xt = _files_overlapping(xpath, "y", 10, 13)
    assert xy == xt, "x-sorted layout should have no y-selectivity"
    assert zy <= zt // 2, f"z-order read {zy}/{zt} files for a y-band"
    # and the z layout still skips on x too
    zx, _ = _files_overlapping(zpath, "x", 10, 13)
    assert zx <= zt // 2, f"z-order read {zx}/{zt} files for an x-band"

    # layout is lossless
    back = spark.read.parquet(zpath)
    assert back.count() == 4096
    assert back.agg(F.sum("id")).first()[0] == sum(range(4096))


def test_zorder_rows_within_file_are_sorted_by_z(spark, tmp_path):
    rows = [(i, i % 32, (i * 7) % 32) for i in range(1024)]
    df = spark.createDataFrame(rows, "id long, x long, y long")
    path = str(tmp_path / "z2")
    write_zordered(df, path, ["x", "y"], bits=5, num_files=4)
    for name in os.listdir(path):
        if not name.endswith(".parquet"):
            continue
        t = pq.read_table(os.path.join(path, name)).to_pydict()
        zs = [_interleave([x, y], 5) for x, y in zip(t["x"], t["y"])]
        assert zs == sorted(zs)
