"""Point-in-time-correct label/feature construction for supervised
training sets built from event streams.

The classic silent failure in ML-on-events is LEAKAGE: a feature
computed over a window that overlaps the label window (or a rollup
refreshed after the cutoff) lets the model read the answer. These
operators make leakage structurally impossible instead of procedurally
avoided: every feature aggregate is a conditional sum over
``ts < cutoff`` and every label a conditional over
``cutoff <= ts < cutoff + horizon`` — ONE pass, one per-user reduce,
with the time split inside the aggregate expressions, so there is no
second "features job" that could drift to a different snapshot.

Both operators are one groupBy(user) at any scale — the same shuffle
any per-user metric pays — followed by O(users) column arithmetic
(plus, for RFM, rank windows over the already-reduced user frame, the
`window_ntile_spend` pattern: unpartitioned but over the REDUCED
per-user rollup, never raw events; at extreme user cardinality swap
ntile for a quantile-sketch cut, `operators/quantiles.py`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def churn_labels(events: DataFrame, cutoff) -> DataFrame:
    """Training rows for churn prediction AS OF ``cutoff``: features
    from the 14-day window strictly BEFORE the cutoff, the
    label (``churned`` = zero activity) from the 7-day window
    at/after it. Only units active in the feature window get a row — a
    never-seen unit has no features and would train a prior, not a
    model. Returns one row per eligible unit:
    (unit, n_events, n_conversions, total_value, days_active,
    recency_days, churned).

    Money features accumulate as BIGINT micro-units
    (``floor(value·1e6 + 0.5)`` — nearest-microunit: floor of a
    correctly-rounded IEEE chain is exact and engine-identical, unlike
    a double→DECIMAL cast whose half-boundary rounding is
    engine/version-dependent, and the +0.5 keeps values whose double
    form sits a hair under the exact micro-grid from truncating a unit
    low) and publish as one integer-by-constant division — so
    ``total_value`` is bit-deterministic under ANY engine pair and ANY
    aggregation merge order; recency is whole days from the unit's last
    pre-cutoff event to the cutoff."""
    ts, cut = F.col("ts"), F.lit(cutoff).cast("timestamp")
    feat_lo = F.date_sub(cut, 14)
    lab_hi = F.date_add(cut, 7)
    in_feat = (ts >= feat_lo) & (ts < cut)
    in_label = (ts >= cut) & (ts < lab_hi)
    day = ts.cast("date")
    per_unit = (events.filter(F.col("user_id").isNotNull())
                .groupBy(F.col("user_id").alias("unit"))
                .agg(
        F.sum(in_feat.cast("long")).alias("n_events"),
        F.sum((in_feat & (F.col("event_type") == "purchase"))
              .cast("long")).alias("n_conversions"),
        F.sum(F.when(in_feat, F.floor(F.col("value") * F.lit(1e6)
                                      + F.lit(0.5)))
              .otherwise(F.lit(0).cast("long")))
        .alias("_val_u"),
        F.count_distinct(F.when(in_feat, day)).alias("days_active"),
        F.max(F.when(in_feat, day)).alias("_last_day"),
        F.max(in_label.cast("int")).alias("_active_in_label")))
    return (per_unit.filter(F.col("n_events") > 0)
            .select(
        "unit", "n_events", "n_conversions",
        (F.col("_val_u") / F.lit(1e6)).alias("total_value"),
        F.col("days_active").cast("bigint").alias("days_active"),
        F.datediff(cut.cast("date"), F.col("_last_day"))
        .cast("bigint").alias("recency_days"),
        (F.lit(1) - F.col("_active_in_label")).alias("churned")))


def rfm_segments(events: DataFrame, cutoff) -> DataFrame:
    """RFM segmentation as of ``cutoff``: per-unit Recency (days since
    last pre-cutoff event), Frequency (event count), Monetary (value
    sum) each cut into 5 rank tiles (1 = best: most recent /
    most frequent / highest value), plus the concatenated segment code
    ("111" = champions). Pre-cutoff only — the same point-in-time
    discipline as :func:`churn_labels`, so the segments can feed a
    model without leaking.

    Ties rank deterministically by unit id. The three ntile windows run
    over the REDUCED one-row-per-user frame (not events); that frame is
    user-cardinality, the documented boundary where ntile swaps for a
    histogram-sketch cut."""
    ts, cut = F.col("ts"), F.lit(cutoff).cast("timestamp")
    pre = ts < cut
    per_unit = (events.filter(F.col("user_id").isNotNull() & pre)
                .groupBy(F.col("user_id").alias("unit"))
                .agg(F.max(ts.cast("date")).alias("_last_day"),
                     F.count("*").alias("frequency"),
                     F.sum(F.col("value").cast("decimal(18,6)"))
                     .alias("_val")))
    base = per_unit.select(
        "unit",
        F.datediff(cut.cast("date"), F.col("_last_day"))
        .cast("bigint").alias("recency_days"),
        F.col("frequency").cast("bigint").alias("frequency"),
        F.round(F.col("_val").cast("double"), 6).alias("monetary"))
    r_w = Window.orderBy(F.asc("recency_days"), F.asc("unit"))
    f_w = Window.orderBy(F.desc("frequency"), F.asc("unit"))
    m_w = Window.orderBy(F.desc("monetary"), F.asc("unit"))
    return (base
            .withColumn("r_tile", F.ntile(5).over(r_w))
            .withColumn("f_tile", F.ntile(5).over(f_w))
            .withColumn("m_tile", F.ntile(5).over(m_w))
            .withColumn("segment",
                        F.concat_ws("", F.col("r_tile"), F.col("f_tile"),
                                    F.col("m_tile"))))
