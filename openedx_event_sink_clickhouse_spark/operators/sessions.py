"""Batch sessionization over the event table — the gaps-and-islands
twin of the streaming session windows (``streaming/windows.py``): same
gap semantics, expressed as lag + running-sum windows so historical
backfills and the live stream agree on session boundaries.

Plan shape: both windows (the lag and the running sum of session
starts) share the (user, ts) partitioning and ordering, so Catalyst
plans ONE Exchange + ONE Sort for the whole pass; the per-session
rollup then reuses the user_id clustering. Nothing here is driver-side
and session state never materializes — at 100 TB the cost is one
shuffle of the event stream on user_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize(events: DataFrame) -> DataFrame:
    """Per-event session assignment: a session starts at the first event
    of a user and whenever the gap since the previous event exceeds
    30 minutes. Adds (is_start, session_seq); ``session_seq``
    numbers a user's sessions from 1 in time order.

    Ordering ties on ``ts`` are broken by ``event_id`` so the running
    numbering is total-ordered and reproducible across engines. Gap
    arithmetic is on floor-epoch-seconds (matches DuckDB's
    ``floor(epoch(ts))``); ``unix_timestamp()`` is used instead of
    ``cast(ts as long)`` because it accepts both TIMESTAMP and
    TIMESTAMP_NTZ inputs under Spark 4."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    is_start = F.when(
        prev.isNull()
        | (F.unix_timestamp(F.col("ts")) - F.unix_timestamp(prev) > 1800),
        1).otherwise(0)
    seq = F.sum("is_start").over(
        w.rowsBetween(Window.unboundedPreceding, 0))
    return (events
            .withColumn("is_start", is_start)
            .withColumn("session_seq", seq))


def session_stats(events: DataFrame) -> DataFrame:
    """Session-level rollup: one row per (user, session) with event
    count, span, and value sum. Returns (user_id, session_seq, n_events,
    session_start, session_end, duration_s, value_sum)."""
    s = sessionize(events)
    return (s.groupBy("user_id", "session_seq")
            .agg(F.count("*").alias("n_events"),
                 F.min("ts").alias("session_start"),
                 F.max("ts").alias("session_end"),
                 (F.max(F.unix_timestamp(F.col("ts")))
                  - F.min(F.unix_timestamp(F.col("ts"))))
                 .alias("duration_s"),
                 F.round(F.sum("value"), 6).alias("value_sum")))


def bot_signals(events: DataFrame) -> DataFrame:
    """Per-user automation/abuse signals from inter-event timing — the
    trust-and-safety readout that runs before engagement metrics are
    believed: scripted traffic shows inhumanly small and inhumanly
    REGULAR gaps. Emits per user: event count, active span, event
    rate, the median inter-event gap, the gap IQR (regularity — a
    human's gaps vary, a cron's don't), distinct event types, and an
    ``is_suspect`` flag for users whose median gap sits at or below the
    population's 5% cut (a RELATIVE cut: absolute
    thresholds go stale as traffic changes). The cut is DISCRETE — the
    smallest median whose cumulative population share reaches
    0.05 — i.e. an actual data value, not an interpolated
    one. Returns one row per user with >= 2 events.

    Determinism (the r9/r10 driver hash-flake lesson): every output is
    either an exact integer or a SINGLE IEEE division of exact
    integers — never ``round()`` of an engine-native interpolated
    quantile. The median and quartiles are computed EXACTLY in integer
    quarter-microseconds from the per-user sorted gap list (linear
    interpolation at q = m/4 lands on quarter-unit rationals:
    ``q4 = (4-r)·v[lo] + r·v[lo+1]`` with ``h4 = m·(n-1)``,
    ``lo = h4 div 4``, ``r = h4 mod 4`` — pure BIGINT arithmetic, the
    same formula DuckDB's ``quantile_cont`` interpolates in floating
    point), and the published seconds values are ``q4 / 4e6`` — one
    correctly-rounded division of the same BIGINT in any IEEE engine,
    so the bits cannot differ regardless of the other engine's
    quantile or round() implementation. The suspect flag compares
    integers against an integer cut.

    Plan: one (user)-window lag pass over events computes gaps in
    integer microseconds; one groupBy reduces to user grain, collecting
    the per-user gap list (user event counts are bounded — the list is
    session-history sized, never corpus-sized; at extreme per-user
    volume the grouped histogram sketch supplies the medians); the cut
    is an ordered pass over the user-grain frame reduced to a 1-row
    broadcast against it."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gap = (us - F.lag(us).over(w)).alias("_gap")

    def _q4(mult: int) -> F.Column:
        # exact linear-interpolated quantile at q = mult/4, in quarter
        # units: h4 = mult*(m-1); lo = h4 div 4 (0-based); r = h4 mod 4
        return F.expr(f"""
            CASE WHEN ({mult} * (size(_gl) - 1)) % 4 = 0
                 THEN 4 * element_at(_gl,
                          CAST(({mult} * (size(_gl) - 1)) DIV 4 AS INT) + 1)
                 ELSE (4 - ({mult} * (size(_gl) - 1)) % 4)
                      * element_at(_gl,
                          CAST(({mult} * (size(_gl) - 1)) DIV 4 AS INT) + 1)
                      + (({mult} * (size(_gl) - 1)) % 4)
                      * element_at(_gl,
                          CAST(({mult} * (size(_gl) - 1)) DIV 4 AS INT) + 2)
            END""")

    g = (events.select(F.col("user_id"), F.col("event_type"), us.alias("_us"),
                       gap)
         .groupBy("user_id")
         .agg(F.count("*").cast("long").alias("n_events"),
              F.max("_us").alias("_hi"), F.min("_us").alias("_lo"),
              F.sort_array(F.expr("collect_list(_gap)")).alias("_gl"),
              F.count_distinct("event_type").cast("long")
              .alias("n_event_types"))
         .filter(F.col("n_events") >= 2)
         .withColumn("_med4", _q4(2))
         .withColumn("_iqr4", _q4(3) - _q4(1))
         .drop("_gl"))
    # min median whose cume_dist >= q: cume_dist is rank/n — a double
    # quotient of the same integers in every engine, so the >= against
    # the same double literal cannot flip; med4/cut4 are BIGINTs.
    wq = Window.orderBy("_med4")
    cut = (g.select("_med4", F.cume_dist().over(wq).alias("_cd"))
           .filter(F.col("_cd") >= 0.05)
           .agg(F.min("_med4").alias("_cut4")))
    span_h = (F.col("_hi") - F.col("_lo")) / F.lit(3.6e9)
    rate = F.when(F.col("_hi") > F.col("_lo"),
                  F.col("n_events") / span_h)
    return (g.crossJoin(F.broadcast(cut))
            .select("user_id", "n_events",
                    span_h.alias("span_hours"),
                    rate.alias("events_per_hour"),
                    (F.col("_med4") / F.lit(4e6)).alias("median_gap_s"),
                    (F.col("_iqr4") / F.lit(4e6)).alias("gap_iqr_s"),
                    "n_event_types",
                    F.when(F.col("_med4") <= F.col("_cut4"), 1)
                    .otherwise(0).cast("int").alias("is_suspect")))


def dau_mau(events: DataFrame, period: str = "month") -> DataFrame:
    """DAU/MAU (or DAU/WAU with ``period="week"``) stickiness per
    calendar period: average daily active users over period active
    users — the engagement ratio product dashboards lead with (a
    stickiness near active-days/period means daily habit; near
    1/days means drive-by traffic). Returns one row per period:
    (period_start, avg_dau, n_active_days, pau, stickiness).

    Plan: ONE (period, day) distinct-count aggregate and one
    period-grain distinct-count aggregate, both map-side partial; the
    period-grain PAU frame (rows = periods) broadcasts onto the per-day
    DAU average. No window, no self-join — the shape survives any event
    volume because every shuffle is keyed on calendar grain. Exact
    distinct counts are the point at period grain; at extreme user
    cardinality the HLL sketch rollup (``agg_hll_distinct_rollup``)
    serves the same ratio approximately. ``date_trunc('week')``
    truncates to ISO Monday in both Spark and DuckDB, so the weekly
    grain is oracle-parity-safe."""
    d = (events.filter(F.col("user_id").isNotNull())
         .select(F.date_trunc(period, F.col("ts"))
                 .alias("period_start"),
                 F.date_trunc("day", F.col("ts")).alias("day"),
                 F.col("user_id").alias("_u")))
    dau = (d.groupBy("period_start", "day")
           .agg(F.count_distinct("_u").alias("_dau")))
    pau = (d.groupBy("period_start")
           .agg(F.count_distinct("_u").cast("long").alias("pau")))
    avg = (dau.groupBy("period_start")
           .agg(F.avg("_dau").alias("_avg_dau"),
                F.count("*").cast("long").alias("n_active_days")))
    return (avg.join(F.broadcast(pau), "period_start")
            .select("period_start",
                    F.round(F.col("_avg_dau"), 6).alias("avg_dau"),
                    "n_active_days", "pau",
                    F.round(F.col("_avg_dau") / F.col("pau"), 6)
                    .alias("stickiness"))
            .orderBy("period_start"))
