"""Time-series regularization over the event log: gap-filled resampling
and rolling features — the step between raw events and any
forecasting/monitoring consumer (a missing hour must be an explicit
zero row, or every downstream rolling window silently skips it).

Scale posture: the calendar spine is generated PER KEY from that key's
own [min, max] bounds with ``sequence()`` — pure Column expressions, no
driver-side date loop, no cross join against a global calendar (a key
active for a day doesn't pay for the corpus's full year). Spine size is
keys × their active range, the output's own size; the observed
aggregate joins it by (key, bucket) and AQE broadcasts whichever side
is small.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def resample_gapfill(events: DataFrame, step: str = "1 hour") -> DataFrame:
    """Per-key fixed-step series with gaps filled: one row per (key,
    bucket) for EVERY step between the key's first and last event,
    zeros where nothing happened. Returns
    (key, bucket_start, n_events, value_sum).

    Bucketing uses ``window(ts, step).start`` — epoch-aligned tumbling
    buckets for ANY ``step`` ("15 minutes", "6 hours", …), not just
    whole calendar units — so the observed aggregate and the generated
    spine always share the same grid (for "1 hour" this is identical to
    ``date_trunc('hour', ts)``, which is what the DuckDB oracle pins).
    The spine then steps from each key's first to last bucket by the
    same interval, so spine rows land exactly on aggregate buckets."""
    bucket = F.window(F.col("ts"), step).getField("start")
    agg = (events.groupBy(F.col("event_type").alias("key"),
                          bucket.alias("bucket_start"))
           .agg(F.count("*").alias("n_events"),
                F.round(F.sum("value"), 6).alias("value_sum")))
    bounds = (events.groupBy(F.col("event_type").alias("key"))
              .agg(F.min(bucket).alias("_lo"), F.max(bucket).alias("_hi")))
    spine = bounds.select(
        "key", F.explode(F.sequence(
            F.col("_lo"), F.col("_hi"),
            F.expr(f"INTERVAL {step}"))).alias("bucket_start"))
    return (spine.join(agg, ["key", "bucket_start"], "left")
            .select(F.col("key").alias("event_type"), "bucket_start",
                    F.coalesce("n_events", F.lit(0)).cast("bigint")
                    .alias("n_events"),
                    F.coalesce("value_sum", F.lit(0.0)).alias("value_sum")))


def zscore_flags(series: DataFrame, key_col: str, value_col: str) -> DataFrame:
    """Per-key z-score outlier flags over a (regular) series — the
    monitoring step after :func:`resample_gapfill`: a bucket whose value
    sits more than 3 sample standard deviations from its
    key's mean is an anomaly (traffic spike, dead sensor — and BECAUSE
    the series is gap-filled, a silent outage shows up as a run of
    zero buckets that this flags, rather than as missing rows nothing
    would flag).

    The moments are spelled out as explicit sum / sum-of-squares /
    count windows rather than a library ``stddev``: the inputs are
    integers, so the window sums are EXACT, and mean/variance/z are
    then a fixed double expression tree the DuckDB twin reproduces
    bit-for-bit (library stddevs differ by accumulation algorithm).
    One key-partitioned window, no ordering requirement; a
    constant-valued key (variance 0) yields NULL zscores and no flags."""
    w = Window.partitionBy(key_col)
    v = F.col(value_col)
    s = F.sum(v).over(w).cast("double")
    sq = F.sum(v * v).over(w).cast("double")
    n = F.count(F.lit(1)).over(w).cast("double")
    mean = s / n
    var = (sq - s * s / n) / (n - F.lit(1.0))
    z = (v.cast("double") - mean) / F.sqrt(var)
    return (series
            .withColumn("zscore",
                        F.round(F.when(var > 0, z), 6))
            .withColumn("is_anomaly",
                        F.when(F.abs(F.col("zscore")) > 3.0, 1)
                        .otherwise(0).cast("int")))


def with_rolling_mean(series: DataFrame, key_col: str, order_col: str,
                      value_col: str) -> DataFrame:
    """Trailing 3-row mean over a REGULAR series (run after
    :func:`resample_gapfill` — on a gappy series a row-frame window
    would silently span unequal time). One (key)-partitioned
    Exchange+Sort."""
    w = (Window.partitionBy(key_col).orderBy(order_col)
         .rowsBetween(-2, 0))
    return series.withColumn("rolling_mean",
                             F.round(F.avg(value_col).over(w), 6))


def rolling_actives(events: DataFrame, window_days: int = 7) -> DataFrame:
    """Rolling distinct actives: per calendar day, the distinct users
    active THAT day (dau), the distinct users active in the trailing
    ``window_days`` window (wau — inclusive of the day itself), and the
    dau/wau "stickiness" ratio — the DAU/WAU engagement metric every
    product dashboard carries. Returns (day, dau, wau, stickiness) for
    each day that has events.

    Rolling COUNT DISTINCT is not a window function (distinctness does
    not merge across frames), so the scalable formulation reduces
    first and fans out second: the raw stream collapses to the DISTINCT
    (user, day) grid — the ONLY pass over event-scale data, and the
    only event-scale shuffle — then each grid row fans out to the
    ``window_days`` target days it covers via an exploded date
    sequence. The per-(user, target day) dedup carries an
    "active-on-the-day-itself" flag as a max-aggregate, so ONE grid
    rollup yields both counts: dau = Σ flag, wau = row count — no
    second scan of the events and no dau⋈wau join. Cost at 100 TB:
    the event-scale dedup shuffle, then a ``window_days``× blowup of
    the (users × days) GRID, orders of magnitude smaller than the
    stream. A self-range-join formulation (day BETWEEN d-6 AND d)
    would force a nested-loop or per-day rescan; the explode keeps it
    an equi-join-free aggregation shape.

    Days with no events never emit: a real event day always has ≥ 1
    offset-zero contributor (dau ≥ 1), while phantom trailing days past
    the data's horizon and interior gap days have dau = 0 and are
    filtered — every emitted wau covers a day that actually occurred."""
    day = F.to_date(F.col("ts"))
    du = (events.select(day.alias("day"), F.col("user_id").alias("u"))
          .distinct())
    fan = du.select(
        "u", F.col("day").alias("_d0"),
        F.explode(F.sequence(
            F.col("day"), F.date_add(F.col("day"), window_days - 1)))
        .alias("day"))
    per = (fan.groupBy("u", "day")
           .agg(F.max((F.col("_d0") == F.col("day")).cast("int"))
                .alias("_today")))
    return (per.groupBy("day")
            .agg(F.sum("_today").alias("dau"),
                 F.count("*").alias("wau"))
            .filter(F.col("dau") > 0)
            .select("day", "dau", "wau",
                    F.round(F.col("dau").cast("double") / F.col("wau"), 6)
                    .alias("stickiness")))


def mad_flags(series: DataFrame, key_col: str, value_col: str) -> DataFrame:
    """Robust per-key outlier flags via MEDIAN / MAD — the companion to
    :func:`zscore_flags` for series where the anomaly itself poisons
    the moments: one hour of 100× traffic drags the mean and stddev so
    far that the z-score UNDER-flags (masking), while the median and
    the median absolute deviation barely move (50% breakdown point vs
    0%). The standard robust z is ``0.6745 · (x − median) / MAD``
    (Iglewicz & Hoaglin's modified z-score; 0.6745 rescales MAD to σ
    under normality), flagged above their recommended 3.5.

    Two tiny groupBys over the already-resampled series (median, then
    MAD of the joined residuals) — the series is buckets × keys,
    orders of magnitude below events, so the exact percentile
    aggregate is safe here; at raw-event scale use the grouped
    histogram sketch (`operators/quantiles.py`) for the median
    instead. A constant key (MAD 0) yields NULL scores and no flags —
    "undefined", not "infinitely anomalous"."""
    v = F.col(value_col).cast("double")
    med = (series.groupBy(F.col(key_col).alias("_k"))
           .agg(F.percentile(v, F.lit(0.5)).alias("_med")))
    joined = series.join(F.broadcast(med),
                         F.col(key_col) == F.col("_k")).drop("_k")
    mad = (joined.groupBy(F.col(key_col).alias("_k"))
           .agg(F.percentile(F.abs(v - F.col("_med")), F.lit(0.5))
                .alias("_mad")))
    full = joined.join(F.broadcast(mad),
                       F.col(key_col) == F.col("_k")).drop("_k")
    rz = 0.6745 * (v - F.col("_med")) / F.col("_mad")
    return (full
            .withColumn("median", F.round(F.col("_med"), 6))
            .withColumn("mad", F.round(F.col("_mad"), 6))
            .withColumn("robust_z",
                        F.round(F.when(F.col("_mad") > 0, rz), 6))
            .withColumn("is_anomaly",
                        F.when(F.abs(F.col("robust_z")) > 3.5, 1)
                        .otherwise(0).cast("int"))
            .drop("_med", "_mad"))

def ewma_smooth(series: DataFrame, key_col: str, order_col: str,
                value_col: str) -> DataFrame:
    """Exponentially-weighted moving average over a REGULAR series
    (run after :func:`resample_gapfill` — on a gappy series the decay
    would silently skip time). The textbook recursive EWMA is not a
    window aggregate (each output depends on the previous output), so
    the distributed formulation truncates the impulse response at
    8 taps and evaluates it as an explicit lag convolution:

        ewma_t = sum_i w_i * x_{t-i} / sum_i w_i,   w_i = 2^-i

    normalized over the taps that exist, so the series head is a proper
    weighted mean, not a biased ramp. The dyadic decay (alpha = 0.5) is
    chosen deliberately: 2^-i is EXACT in binary floating point, the
    taps are summed in fixed expression order, and the counts are
    integers — so the whole expression is bit-identical across engines
    (an arbitrary alpha works the same way but needs its weight
    literals emitted at full repr precision). Truncation error is
    bounded by the dropped tail: 2^-8 < 0.4% of total weight.

    Cost: ONE (key)-partitioned Exchange+Sort shared by all 8
    lags — Spark evaluates the lag family over a single window frame,
    and the convolution itself is a map-side expression tree."""
    w = Window.partitionBy(key_col).orderBy(order_col)
    v = F.col(value_col).cast("double")
    num = F.lit(0.0)
    den = F.lit(0.0)
    for i in range(8):
        li = v if i == 0 else F.lag(v, i).over(w)
        wt = F.lit(2.0 ** -i)
        num = num + F.when(li.isNotNull(), li * wt).otherwise(F.lit(0.0))
        den = den + F.when(li.isNotNull(), wt).otherwise(F.lit(0.0))
    return series.withColumn("ewma", F.round(num / den, 6))


def autocorrelation(series: DataFrame, key_col: str, order_col: str,
                    value_col: str, lags: tuple = (1, 2, 3)) -> DataFrame:
    """Per-key autocorrelation function at the given lags over a
    REGULAR series: Pearson r between (x_t, x_{t-k}) pairs — the
    diagnostic that tells a monitoring consumer whether a series is
    self-predictable (high ACF → forecastable, alert on residuals)
    or noise (alert on raw z). Returns (key, lag, n_pairs, acf).

    Engine-parity discipline: the moments are EXACT integer sums
    (counts in, BIGINT sums of x, y, xy, x², y²), so the only floating
    point is one fixed Pearson expression per output row — library
    ``corr()`` aggregates differ across engines by accumulation
    algorithm and are avoided. Plan shape: ONE (key)-partitioned
    Exchange+Sort computes every lag column, the lag set fans out
    map-side via an exploded struct array (no per-lag re-scan), and
    one groupBy reduces (key, lag) — lag count is free at 100 TB."""
    w = Window.partitionBy(key_col).orderBy(order_col)
    x = F.col(value_col).cast("long")
    # Window expressions must sit at the top level of a projection —
    # compute the lag family first (one shared frame), THEN fan out.
    lagged = series.select(
        F.col(key_col), x.alias("_x"),
        *[F.lag(x, k).over(w).alias(f"_y{k}") for k in lags])
    pairs = F.array(*[
        F.struct(F.lit(k).alias("lag"), F.col(f"_y{k}").alias("y"))
        for k in lags])
    xl = (lagged
          .select(F.col(key_col), F.col("_x"),
                  F.explode(pairs).alias("_p"))
          .select(key_col, "_x", F.col("_p.lag").alias("lag"),
                  F.col("_p.y").alias("_y"))
          .filter(F.col("_y").isNotNull()))
    g = (xl.groupBy(key_col, "lag")
         .agg(F.count("*").cast("long").alias("n_pairs"),
              F.sum("_x").alias("_sx"), F.sum("_y").alias("_sy"),
              F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
              F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
              F.sum(F.col("_y") * F.col("_y")).alias("_syy")))
    n = F.col("n_pairs").cast("double")
    sx, sy = F.col("_sx").cast("double"), F.col("_sy").cast("double")
    sxy = F.col("_sxy").cast("double")
    sxx, syy = F.col("_sxx").cast("double"), F.col("_syy").cast("double")
    cov = n * sxy - sx * sy
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    return (g.select(key_col, "lag", "n_pairs",
                     F.round(F.when((vx > 0) & (vy > 0),
                                    cov / F.sqrt(vx) / F.sqrt(vy)), 6)
                     .alias("acf")))


def trend_fit(series: DataFrame, key_col: str, day_col: str,
              value_col: str) -> DataFrame:
    """Per-key OLS line fit over a daily series: slope (units/day),
    intercept (fitted level at the key's first day), and R² — the
    one-pass summary behind every "is this metric growing?" readout
    and the de-trending step before seasonal analysis. Returns
    (key, n_days, slope, intercept, r2).

    The regressor is the integer day index relative to the KEY'S OWN
    first day (a window min — keys onboarded late aren't penalized
    with a global origin), so every sum in the normal equations is an
    exact BIGINT and the slope/intercept/R² are one fixed double
    expression each — reproducible across engines, unlike library
    ``regr_slope`` accumulators. One window + one groupBy, both on
    the key — a single Exchange at day-grain (≪ events)."""
    wk = Window.partitionBy(key_col)
    t = F.datediff(F.col(day_col), F.min(day_col).over(wk)).cast("long")
    y = F.col(value_col).cast("long")
    g = (series
         .select(F.col(key_col), t.alias("_t"), y.alias("_y"))
         .groupBy(key_col)
         .agg(F.count("*").cast("long").alias("n_days"),
              F.sum("_t").alias("_st"), F.sum("_y").alias("_sy"),
              F.sum(F.col("_t") * F.col("_y")).alias("_sty"),
              F.sum(F.col("_t") * F.col("_t")).alias("_stt"),
              F.sum(F.col("_y") * F.col("_y")).alias("_syy")))
    n = F.col("n_days").cast("double")
    st, sy = F.col("_st").cast("double"), F.col("_sy").cast("double")
    sty = F.col("_sty").cast("double")
    stt, syy = F.col("_stt").cast("double"), F.col("_syy").cast("double")
    dt = n * stt - st * st
    dy = n * syy - sy * sy
    slope = (n * sty - st * sy) / dt
    r2num = (n * sty - st * sy) * (n * sty - st * sy)
    return (g.select(
        key_col, "n_days",
        F.round(F.when(dt > 0, slope), 6).alias("slope"),
        F.round(F.when(dt > 0, (sy - slope * st) / n), 6)
        .alias("intercept"),
        F.round(F.when((dt > 0) & (dy > 0), r2num / (dt * dy)), 6)
        .alias("r2")))


def seasonal_profile(series: DataFrame, key_col: str, bucket_col: str,
                     value_col: str) -> DataFrame:
    """Hour-of-day seasonal index per key over a gap-filled hourly
    series: mean events in each of the 24 hour slots, and that mean as
    a multiple of the key's overall hourly mean (index 2.0 = "this hour
    runs 2× the key's average") — the profile a seasonal-naive
    forecaster or a dynamic-threshold alerter consumes. MUST run on the
    gap-filled series: on raw events a silent dead hour simply isn't a
    row, inflating its slot's apparent mean. Returns
    (key, hour_of_day, n_buckets, mean_events, seasonal_index).

    Integer sums (bucket counts and event counts) → one divide per
    output row; the overall mean comes from a window re-aggregate over
    the 24-row-per-key profile, not a second pass over the series."""
    g = (series.groupBy(F.col(key_col),
                        F.hour(bucket_col).alias("hour_of_day"))
         .agg(F.count("*").cast("long").alias("n_buckets"),
              F.sum(F.col(value_col).cast("long")).alias("_s")))
    wk = Window.partitionBy(key_col)
    tot_s = F.sum("_s").over(wk).cast("double")
    tot_n = F.sum("n_buckets").over(wk).cast("double")
    mean = F.col("_s").cast("double") / F.col("n_buckets").cast("double")
    # raw fixed-shape chains of exact integer sums (no round(double)
    # — the r10 half-boundary class); the maintainer serve mirrors
    return (g.select(key_col, "hour_of_day", "n_buckets",
                     mean.alias("mean_events"),
                     F.when(tot_s > 0, mean / (tot_s / tot_n))
                     .alias("seasonal_index")))


def forecast_backtest(series: DataFrame, key_col: str, day_col: str,
                      value_col: str) -> DataFrame:
    """Backtest of the two zero-parameter forecasters every real
    forecast must beat — naive (tomorrow = today) and seasonal-naive
    (tomorrow = same weekday last week) — on each key's last
    7 days of daily values. Returns (key, model, n_days,
    mae): if a trained model's MAE doesn't beat the seasonal-naive
    row, its pipeline is burning compute for nothing. This is the
    standard M-competition baseline discipline, as a query.

    The holdout is PER KEY (the trailing window of that key's own max
    day). The lags are CALENDAR joins — the prediction for day d reads
    the key's value at exactly d-1 / d-7 via equi-joins
    on (key, shifted day) — NOT row-offset window lags: on a series
    with missing days a row lag silently compares a Tuesday against
    whatever the 7th-previous OBSERVED day was, while the holdout
    filter stays calendar-based, scoring the wrong baseline. A day
    whose calendar lag has no observation contributes nothing (no
    fabricated zeros scored). Absolute errors are exact integer sums,
    so the MAE is one exact division."""
    wk = Window.partitionBy(key_col)
    y = F.col(value_col).cast("long")
    base = series.select(F.col(key_col), F.col(day_col), y.alias("_y"),
                         F.max(day_col).over(wk).alias("_mx"))

    def shifted(days: int, out: str) -> DataFrame:
        return series.select(
            F.col(key_col),
            F.date_add(F.col(day_col), days).alias(day_col),
            y.alias(out))

    lagged = (base
              .join(shifted(1, "_naive"), [key_col, day_col], "left")
              .join(shifted(7, "_seasonal"),
                    [key_col, day_col], "left"))
    hold = lagged.filter(
        F.datediff(F.col("_mx"), F.col(day_col)) < 7)
    stacked = (hold.select(
        F.col(key_col),
        F.explode(F.array(
            F.struct(F.lit("naive").alias("model"),
                     F.col("_naive").alias("yhat")),
            F.struct(F.lit("seasonal_naive").alias("model"),
                     F.col("_seasonal").alias("yhat")))).alias("_m"),
        F.col("_y"))
        .select(key_col, F.col("_m.model").alias("model"),
                F.col("_m.yhat").alias("_yhat"), "_y")
        .filter(F.col("_yhat").isNotNull()))
    return (stacked.groupBy(key_col, "model")
            .agg(F.count("*").cast("long").alias("n_days"),
                 F.round(F.sum(F.abs(F.col("_y") - F.col("_yhat")))
                         .cast("double") / F.count("*"), 6)
                 .alias("mae")))


def deseasonalized_residuals(series: DataFrame, key_col: str,
                             bucket_col: str, value_col: str) -> DataFrame:
    """Residuals against the hour-of-day seasonal profile: value minus
    the key's own mean for that hour slot — the de-seasonalization step
    that lets an anomaly detector see a 3am spike that is tiny in
    absolute terms but enormous FOR 3AM (and, conversely, stop flagging
    every ordinary 12pm peak). Feed the output to :func:`mad_flags`.
    Returns the series plus (slot_mean, residual).

    The profile is a (key, hour) aggregate over the already-gap-filled
    grid joined back by broadcast — integer sums, one exact division,
    one subtraction; no second pass over raw events."""
    g = (series.groupBy(F.col(key_col).alias("_k"),
                        F.hour(bucket_col).alias("_h"))
         .agg(F.sum(F.col(value_col).cast("long")).alias("_s"),
              F.count("*").alias("_n")))
    slot = F.col("_s").cast("double") / F.col("_n").cast("double")
    prof = g.select("_k", "_h", slot.alias("_slot_mean"))
    j = series.join(
        F.broadcast(prof),
        (F.col(key_col) == F.col("_k"))
        & (F.hour(bucket_col) == F.col("_h")))
    return (j.withColumn("slot_mean", F.round(F.col("_slot_mean"), 6))
            .withColumn("residual",
                        F.round(F.col(value_col).cast("double")
                                - F.col("_slot_mean"), 6))
            .drop("_k", "_h", "_slot_mean"))


def rolling_correlation(series: DataFrame, key_a: str, key_b: str,
                        key_col: str, bucket_col: str, value_col: str,
                        window: int = 24) -> DataFrame:
    """Rolling Pearson correlation between TWO keys' series on a shared
    regular grid — the metric-coupling monitor ("are errors tracking
    traffic?"; a correlation break is itself an incident signal).
    Returns one row per bucket: both values and the trailing-``window``
    correlation (NULL until the window fills and when either side is
    locally constant).

    The two series INNER-join on the bucket grid, i.e. the correlation
    is computed over the keys' OVERLAP — each key's gap-filled spine
    covers its own [first, last] range, so a key that starts later
    truncates the joined series to the shared span (buckets outside it
    have no pair to correlate against; they are dropped, and the first
    ``window``-1 rows of the overlap report NULL until the frame
    fills). Then ONE
    ordered window computes all six moment sums over integer counts —
    exact, so the correlation is a fixed expression per row. The window
    is rows-based on the regular grid: time-based on a gappy series
    would silently compare unequal spans."""
    a = (series.filter(F.col(key_col) == key_a)
         .select(F.col(bucket_col).alias("bucket"),
                 F.col(value_col).cast("long").alias("_xa")))
    b = (series.filter(F.col(key_col) == key_b)
         .select(F.col(bucket_col).alias("bucket"),
                 F.col(value_col).cast("long").alias("_xb")))
    j = a.join(b, "bucket")
    w = (Window.orderBy("bucket")
         .rowsBetween(-(window - 1), 0))
    n = F.count(F.lit(1)).over(w).cast("double")
    sa = F.sum("_xa").over(w).cast("double")
    sb = F.sum("_xb").over(w).cast("double")
    sab = F.sum(F.col("_xa") * F.col("_xb")).over(w).cast("double")
    saa = F.sum(F.col("_xa") * F.col("_xa")).over(w).cast("double")
    sbb = F.sum(F.col("_xb") * F.col("_xb")).over(w).cast("double")
    va = n * saa - sa * sa
    vb = n * sbb - sb * sb
    corr = (n * sab - sa * sb) / F.sqrt(va) / F.sqrt(vb)
    full = F.count(F.lit(1)).over(w) >= window
    return (j.select(F.col("bucket").alias(bucket_col),
                     F.col("_xa").alias("value_a"),
                     F.col("_xb").alias("value_b"),
                     F.round(F.when(full & (va > 0) & (vb > 0), corr), 6)
                     .alias("rolling_corr")))


def cusum_changepoint(series: DataFrame, key_col: str, bucket_col: str,
                      value_col: str) -> DataFrame:
    """Offline CUSUM changepoint test per key: the cumulative sum of
    deviations from the key's own mean, C_t = Σ_{i<=t}(x_i − μ), peaks
    at a level shift's location — the standard "WHEN did the metric
    change" answer that pointwise detectors (z, MAD) cannot give,
    because a small persistent shift never trips a pointwise threshold
    but accumulates linearly in C_t. Returns one row per key:
    (changepoint_bucket, cusum_stat, significant), where cusum_stat =
    max_t |C_t| / (σ·√n) (the Brownian-bridge normalization; > ~1.36
    is the 5% Kolmogorov line; the flag uses a stricter 3.0) and the
    changepoint is the argmax bucket.

    Every sum is exact-integer; C_t, σ and the statistic are fixed
    double expressions; the per-key argmax is a 1-row-per-key
    WindowGroupLimit over (|C| DESC, bucket). One ordered window + one
    key window — a constant series (σ=0) reports NULL stat, no flag."""
    w = Window.partitionBy(key_col).orderBy(bucket_col) \
        .rowsBetween(Window.unboundedPreceding, 0)
    wk = Window.partitionBy(key_col)
    x = F.col(value_col).cast("long")
    cum = F.sum(x).over(w).cast("double")
    t = F.count(F.lit(1)).over(w).cast("double")
    n = F.count(F.lit(1)).over(wk).cast("double")
    s = F.sum(x).over(wk).cast("double")
    sq = F.sum(x * x).over(wk).cast("double")
    # variance guarded for BOTH degenerate shapes: a single-bucket key
    # makes the (n-1) denominator itself zero (an ANSI divide error
    # before the var>0 test could ever run), a constant key makes var
    # 0 — either way the statistic is NULL, not a crash.
    var = F.when(n > F.lit(1.0), (sq - s * s / n) / (n - F.lit(1.0)))
    # (t*s)/n, NOT t*(s/n): the UNROUNDED |C_t| feeds the argmax, so the
    # FP association must match the oracle bit-for-bit or near-tied
    # maxima can pick different changepoint buckets per engine.
    c_t = cum - t * s / n
    # the statistic is guarded AT COMPUTATION, not just at projection:
    # a constant key has var 0 and an unguarded divide throws under
    # ANSI mode instead of flowing NULL.
    scored = series.select(
        F.col(key_col), F.col(bucket_col),
        F.abs(c_t).alias("_absc"),
        F.when(var > 0, F.abs(c_t) / (F.sqrt(var) * F.sqrt(n)))
        .alias("_stat"),
        var.alias("_var"))
    pick = Window.partitionBy(key_col).orderBy(
        F.col("_absc").desc(), F.col(bucket_col))
    return (scored.withColumn("_rk", F.row_number().over(pick))
            .filter(F.col("_rk") == 1)
            .select(key_col,
                    F.col(bucket_col).alias("changepoint_bucket"),
                    F.round(F.when(F.col("_var") > 0, F.col("_stat")), 6)
                    .alias("cusum_stat"),
                    F.when((F.col("_var") > 0)
                           & (F.col("_stat") > 3.0), 1)
                    .otherwise(0).cast("int").alias("significant")))
