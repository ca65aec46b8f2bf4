"""Interval algebra over per-key time ranges: the gaps-and-islands
merge that turns overlapping activity segments into disjoint covered
spans. The canonical consumer is "total engaged time, deduped across
overlapping sources" — naive per-segment duration sums double-count
every overlap, and a range self-join to find overlaps is quadratic in
segments per key. The island formulation is one key-partitioned sort:
a segment starts a new island iff its start exceeds the running max
end of every earlier segment (ordered by start), which is a single
window expression — O(n log n) per key, no self-join.

Engine parity: all boundary arithmetic is integer epoch-microseconds
(Spark ``unix_micros`` == DuckDB ``epoch_us``); the only float is the
final seconds conversion, rounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def interval_union(intervals: DataFrame, key_col: str) -> DataFrame:
    """Merge each key's (possibly overlapping) intervals into disjoint
    islands and report coverage: (key, n_intervals, n_islands,
    covered_seconds). Touching intervals (next.start == prev.end) merge
    — a zero-length gap is not a gap.

    One window (new-island flag via running max end over STRICTLY
    preceding rows, then a running sum for island ids) + two
    aggregates (per island, then per key). The tie-break includes the
    end so equal starts order deterministically in both engines."""
    s = F.unix_micros(F.col("start_ts"))
    e = F.unix_micros(F.col("end_ts"))
    base = intervals.select(F.col(key_col).alias("key"),
                            s.alias("_s"), e.alias("_e"))
    w = Window.partitionBy("key").orderBy("_s", "_e")
    prev_max = F.max("_e").over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = base.withColumn(
        "_new", F.when(prev_max.isNull() | (F.col("_s") > prev_max), 1)
        .otherwise(0))
    ids = flagged.withColumn(
        "_island", F.sum("_new").over(w.rowsBetween(
            Window.unboundedPreceding, 0)))
    islands = (ids.groupBy("key", "_island")
               .agg(F.count("*").cast("long").alias("_n"),
                    F.min("_s").alias("_lo"), F.max("_e").alias("_hi")))
    return (islands.groupBy(F.col("key"))
            .agg(F.sum("_n").cast("long").alias("n_intervals"),
                 F.count("*").cast("long").alias("n_islands"),
                 (F.sum(F.col("_hi") - F.col("_lo"))
                  .cast("double") / F.lit(1e6))
                 .alias("covered_seconds")))
