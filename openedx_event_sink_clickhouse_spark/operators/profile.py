"""Table profiling — the data-quality report every ingest runs before
anything downstream trusts a new drop: per-column null counts, distinct
cardinalities, and min/max ranges in ONE pass over the table.

Greenfield (the reference has no profiling surface; its closest analog
is the serializer field lists that implicitly assert column presence).

Plan shape: a single wide aggregate row — count/sum-of-null-flags/min/
max all partial-aggregate map-side, and the distinct counts share one
Expand-based pass (Catalyst plans multi-distinct aggregates as one
Expand + two-stage agg, not one job per column). The wide row is then
unpivoted into the long (column_name, stats…) report with an array-of-
structs explode over literals — driver-friendly output whose size is
O(columns), never O(rows). At 100 TB this is the same one-scan job;
swap `countDistinct` for `approx_count_distinct` when exact NDV is not
worth the Expand (same plan otherwise).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def profile_table(df: DataFrame, numeric_cols: list[str],
                  string_cols: list[str]) -> DataFrame:
    """One-pass column profile. Returns one row per profiled column:
    (column_name, n_rows, n_nulls, n_distinct, min_num, max_num,
    min_str, max_str) — the num/str min-max pair NULL where the other
    kind applies (numerics surface as double; strings lexicographic)."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in numeric_cols + string_cols:
        aggs.append(F.sum(F.col(c).isNull().cast("long"))
                    .alias(f"_nn_{c}"))
        aggs.append(F.countDistinct(F.col(c)).alias(f"_nd_{c}"))
    for c in numeric_cols:
        aggs.append(F.min(F.col(c)).cast("double").alias(f"_min_{c}"))
        aggs.append(F.max(F.col(c)).cast("double").alias(f"_max_{c}"))
    for c in string_cols:
        aggs.append(F.min(F.col(c)).alias(f"_min_{c}"))
        aggs.append(F.max(F.col(c)).alias(f"_max_{c}"))
    wide = df.agg(*aggs)
    rows = []
    for c in numeric_cols:
        rows.append(F.struct(
            F.lit(c).alias("column_name"), F.col("n_rows"),
            F.col(f"_nn_{c}").alias("n_nulls"),
            F.col(f"_nd_{c}").alias("n_distinct"),
            F.col(f"_min_{c}").alias("min_num"),
            F.col(f"_max_{c}").alias("max_num"),
            F.lit(None).cast("string").alias("min_str"),
            F.lit(None).cast("string").alias("max_str")))
    for c in string_cols:
        rows.append(F.struct(
            F.lit(c).alias("column_name"), F.col("n_rows"),
            F.col(f"_nn_{c}").alias("n_nulls"),
            F.col(f"_nd_{c}").alias("n_distinct"),
            F.lit(None).cast("double").alias("min_num"),
            F.lit(None).cast("double").alias("max_num"),
            F.col(f"_min_{c}").alias("min_str"),
            F.col(f"_max_{c}").alias("max_str")))
    return (wide.select(F.explode(F.array(*rows)).alias("p"))
            .select("p.*"))


def grouped_moments(df: DataFrame) -> DataFrame:
    """Per-group mean/std/skewness/excess-kurtosis in ONE aggregate pass
    from exact integer power sums — the heavy-tail detector a quality
    pipeline runs over score distributions (perplexity, length, spend)
    before choosing winsorization cut points.

    Exactness: the value is quantized once to milli-units
    (DECIMAL(18,3)·1000 → BIGINT; a double can never land on a 3-dp
    rounding tie, so the cast is engine-agnostic), and Σm..Σm⁴ are
    summed as DECIMAL(38,0) — order-independent integers (the DuckDB
    twin sums HUGEINT), so the one double formula per statistic sees
    bit-identical inputs in both engines. Skew/kurtosis are scale
    invariant, so the milli scaling cancels; mean/std divide it back
    out. m⁴ ≤ 1e21/row keeps Σm⁴ inside 38 digits up to ~1e17 rows of
    |value| ≤ 1e5 — far past any real partition. pow() is avoided
    (libm varies): m2^1.5 is written m2·sqrt(m2), IEEE-exact everywhere.

    Plan: map-side partial aggregate → tiny per-group row; no window,
    no second pass, no Python."""
    return moment_stats(moment_sums(df))


def moment_sums(df: DataFrame) -> DataFrame:
    """The MERGEABLE half of :func:`grouped_moments`: per-group exact
    integer power sums (n, Σm..Σm⁴ over milli-units as DECIMAL(38,0)).
    Plain sums are commutative/associative, so partial frames from any
    batch split fold to the one-pass result by groupBy-sum — which is
    what lets a stream maintain them per epoch partition
    (:func:`streaming.sketch_maintenance.moments_stream_maintainer`)."""
    m = (F.col("value").cast("decimal(18,3)") * 1000).cast("long")
    md = F.col("_m").cast("decimal(38,0)")
    base = (df.filter(F.col("value").isNotNull())
            .select(F.col("event_type"), m.alias("_m")))
    m2 = md * md
    return base.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(md).alias("s1"), F.sum(m2).alias("s2"),
        F.sum(m2 * md).alias("s3"), F.sum(m2 * m2).alias("s4"))


def moment_stats(g: DataFrame) -> DataFrame:
    """The readout half of :func:`grouped_moments`: one double formula
    per statistic over the (folded) exact power sums."""
    nd = F.col("n").cast("double")
    s1, s2 = F.col("s1").cast("double"), F.col("s2").cast("double")
    s3, s4 = F.col("s3").cast("double"), F.col("s4").cast("double")
    m2c = s2 - s1 * s1 / nd
    m3c = s3 - F.lit(3.0) * s2 * s1 / nd \
        + F.lit(2.0) * s1 * s1 * s1 / (nd * nd)
    m4c = s4 - F.lit(4.0) * s3 * s1 / nd \
        + F.lit(6.0) * s2 * s1 * s1 / (nd * nd) \
        - F.lit(3.0) * s1 * s1 * s1 * s1 / (nd * nd * nd)
    skew = F.when(m2c > 0, F.sqrt(nd) * m3c / (m2c * F.sqrt(m2c)))
    kurt = F.when(m2c > 0, nd * m4c / (m2c * m2c) - F.lit(3.0))
    std = F.when((F.col("n") > 1) & (m2c >= 0),
                 F.sqrt(m2c / (nd - F.lit(1.0))) / F.lit(1000.0))
    return g.select(F.col("event_type"), "n",
                    F.round(s1 / nd / F.lit(1000.0), 6).alias("mean"),
                    F.round(std, 6).alias("std"),
                    F.round(skew, 6).alias("skewness"),
                    F.round(kurt, 6).alias("kurtosis_excess"))
