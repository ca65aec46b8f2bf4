"""Watermarked window aggregates over the event stream.

The reference has no windowed analytics (its "watermark" is a per-entity
high-water mark, A1/A2); these are the greenfield stream operators the
north star asks for. Each works UNCHANGED on a batch DataFrame (the
registry's oracle-checked form) and on a streaming DataFrame (watermark
attached only when ``df.isStreaming``), because Spark's ``window``/
``session_window`` are plan-level constructs, not stream-only.

Scale: tumbling/sliding aggs are hash aggregations keyed by
(window, event_type) — partial aggregation map-side, tiny shuffled state.
Session windows keep per-user state; state store size is bounded by the
watermark horizon.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _maybe_watermark(events: DataFrame, ts_col: str, delay: str) -> DataFrame:
    return events.withWatermark(ts_col, delay) if events.isStreaming else events


def tumbling_event_stats(events: DataFrame) -> DataFrame:
    """Per (tumbling window, event_type): count + value sum."""
    ev = _maybe_watermark(events, "ts", "1 hour")
    win = F.window(F.col("ts"), "1 hour")
    return (ev.groupBy(win.alias("w"), "event_type")
            .agg(F.count("*").alias("n_events"),
                 F.round(F.sum("value"), 6).alias("value_sum"))
            .select(F.col("w.start").alias("window_start"), "event_type",
                    "n_events", "value_sum"))


def sliding_event_stats(events: DataFrame) -> DataFrame:
    """Per (sliding window, event_type) event counts — each event lands in
    two overlapping 1-hour windows (30-minute slide)."""
    ev = _maybe_watermark(events, "ts", "1 hour")
    win = F.window(F.col("ts"), "1 hour", "30 minutes")
    return (ev.groupBy(win.alias("w"), "event_type")
            .agg(F.count("*").alias("n_events"))
            .select(F.col("w.start").alias("window_start"), "event_type",
                    "n_events"))


def session_event_stats(events: DataFrame) -> DataFrame:
    """Per-user session windows (30-minute gap): events / value sum /
    bounds.

    Streaming: ``session_window`` + watermark = Spark's stateful session
    operator. Batch: the same expression compiles to a sort-based
    aggregation — and equals the classic gaps-and-islands SQL, which is
    what the DuckDB oracle uses.
    """
    ev = _maybe_watermark(events, "ts", "1 hour")
    win = F.session_window(F.col("ts"), "30 minutes")
    return (ev.groupBy(win.alias("w"), "user_id")
            .agg(F.count("*").alias("n_events"),
                 F.round(F.sum("value"), 6).alias("value_sum"),
                 F.min("ts").alias("first_event"),
                 F.max("ts").alias("last_event"))
            .select("user_id", "first_event", "last_event", "n_events",
                    "value_sum"))


def debounce_dedup(events: DataFrame) -> DataFrame:
    """Debounce duplicate events: one row per (user_id, event_type,
    minute bucket).

    Streaming: ``dropDuplicatesWithinWatermark`` — Spark's bounded-state
    streaming dedup; state for a key is dropped once the watermark passes
    it, so memory is O(keys within the watermark horizon), not O(stream).
    Batch: the same keys through ``dropDuplicates`` (equals SELECT
    DISTINCT, which is the DuckDB oracle form).

    Output is the key tuple only — which *source row* survives a
    duplicate group is execution-order-dependent in both engines, so only
    the key set is deterministic and comparable.
    """
    keyed = events.select("user_id", "event_type",
                          F.date_trunc("minute", F.col("ts"))
                          .alias("ts_bucket"))
    if keyed.isStreaming:
        return keyed.withWatermark("ts_bucket", "1 hour") \
                    .dropDuplicatesWithinWatermark()
    return keyed.dropDuplicates()

