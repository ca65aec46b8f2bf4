"""General analytic surface: rollup grouping flags, per-group top-k
plan shape (WindowGroupLimit), approx-distinct error bound."""

from __future__ import annotations

from pyspark.sql import functions as F

from openedx_event_sink_clickhouse_spark import registry


def test_rollup_levels(spark, sf_dir):
    out = registry.queries()["agg_rollup_events"](spark, sf_dir).collect()
    grand = [r for r in out if r.g_type == 1 and r.g_day == 1]
    per_type = [r for r in out if r.g_type == 0 and r.g_day == 1]
    assert len(grand) == 1
    assert grand[0].n_events == sum(r.n_events for r in per_type)


def test_topk_group_limit_pushdown(spark, sf_dir):
    df = registry.queries()["topk_events_per_user"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # rank-filter must become a group-limit, not a full window sort
    assert "WindowGroupLimit" in plan, plan
    counts = df.groupBy("user_id").count().collect()
    assert max(r["count"] for r in counts) <= 3


def test_approx_distinct_within_rsd(spark, sf_dir):
    # The registry query carries the bound as a column (approx_ok) so the
    # driver's hash compare enforces it; here we re-derive the raw HLL++
    # estimate and pin the ±5% bound against exact count_distinct too.
    rows = registry.queries()["approx_distinct_users"](spark, sf_dir).collect()
    assert rows and all(r.approx_ok == 1 for r in rows)
    from openedx_event_sink_clickhouse_spark.sources.tables import load_table
    est = {r.event_type: (r.approx, r.exact) for r in
           load_table(spark, "events", sf_dir)
           .groupBy("event_type")
           .agg(F.approx_count_distinct("user_id", rsd=0.02).alias("approx"),
                F.countDistinct("user_id").alias("exact")).collect()}
    for k, (a, n) in est.items():
        assert abs(a - n) / n < 0.05, (k, a, n)


def test_scd2_history_semantics_and_single_shuffle(spark):
    from pyspark.sql import functions as F

    from openedx_event_sink_clickhouse_spark.operators.scd import (
        scd2_history)
    log = spark.createDataFrame(
        [(1, 10, 100, "a"), (1, 20, 101, "a"),   # unchanged -> collapse
         (1, 30, 102, "b"),                       # change
         (1, 40, 103, "a"),                       # back to a = NEW interval
         (2, 10, 104, None), (2, 20, 105, None),  # NULL==NULL: no change
         (2, 30, 106, "x")],                      # NULL->x: change
        "k long, ts long, eid long, attr string")
    hist = scd2_history(log, "k", "ts", ["attr"], tiebreak_col="eid")
    rows = {(r.k, r.valid_from): (r.attr, r.valid_to, r.n_versions,
                                  r.is_current)
            for r in hist.collect()}
    assert rows[(1, 10)] == ("a", 30, 2, False)
    assert rows[(1, 30)] == ("b", 40, 1, False)
    assert rows[(1, 40)] == ("a", None, 1, True)
    assert rows[(2, 10)] == (None, 30, 2, False)
    assert rows[(2, 30)] == ("x", None, 1, True)
    cur = {r.k: r.attr for r in hist.filter(F.col("is_current")).collect()}
    assert cur == {1: "a", 2: "x"}
    # One Exchange in the static plan: the change lag, the island sum,
    # the island groupBy, and the interval lead all reuse the key hash
    # partitioning. (Pinned with AQE off — AQE's stage materialization
    # re-inserts a same-key exchange at the stage boundary, which is
    # still never a wider shuffle.)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = scd2_history(log, "k", "ts", ["attr"], tiebreak_col="eid") \
            ._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1, plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_resample_gapfill_emits_zero_rows(spark):
    from pyspark.sql import functions as F

    from openedx_event_sink_clickhouse_spark.operators.timeseries import (
        resample_gapfill, with_rolling_mean)
    ev = spark.createDataFrame(
        [("a", "2024-01-01 00:10:00", 1.0),
         ("a", "2024-01-01 03:20:00", 2.0),   # hours 1,2 missing
         ("b", "2024-01-01 05:00:00", 5.0)],
        "event_type string, ts string, value double") \
        .withColumn("ts", F.to_timestamp("ts"))
    got = {(r.event_type, str(r.bucket_start)): (r.n_events, r.value_sum)
           for r in resample_gapfill(ev).collect()}
    assert got[("a", "2024-01-01 00:00:00")] == (1, 1.0)
    assert got[("a", "2024-01-01 01:00:00")] == (0, 0.0)   # gap filled
    assert got[("a", "2024-01-01 02:00:00")] == (0, 0.0)
    assert got[("a", "2024-01-01 03:00:00")] == (1, 2.0)
    assert ("a", "2024-01-01 04:00:00") not in got  # beyond key's range
    assert got[("b", "2024-01-01 05:00:00")] == (1, 5.0)
    ma = {(r.event_type, str(r.bucket_start)): r.rolling_mean
          for r in with_rolling_mean(resample_gapfill(ev), "event_type",
                                     "bucket_start", "value_sum").collect()}
    assert ma[("a", "2024-01-01 02:00:00")] == round((1.0 + 0 + 0) / 3, 6)
    assert ma[("a", "2024-01-01 03:00:00")] == round((0 + 0 + 2.0) / 3, 6)


def test_resample_gapfill_non_hour_step(spark):
    # The step parameter must drive BOTH the aggregate bucketing and the
    # spine grid (the round-5 advisory: a hardcoded hourly trunc put
    # observed rows in buckets the spine never visited for any other
    # step). 30-minute step: buckets align on :00/:30 and gaps between a
    # key's first and last bucket appear as explicit zero rows.
    from pyspark.sql import functions as F

    from openedx_event_sink_clickhouse_spark.operators.timeseries import (
        resample_gapfill)
    ev = spark.createDataFrame(
        [("a", "2024-01-01 00:10:00", 1.0),
         ("a", "2024-01-01 00:40:00", 2.0),
         ("a", "2024-01-01 02:15:00", 4.0)],   # 01:00,01:30,02:00 empty
        "event_type string, ts string, value double") \
        .withColumn("ts", F.to_timestamp("ts"))
    got = {str(r.bucket_start): (r.n_events, r.value_sum)
           for r in resample_gapfill(ev, step="30 minutes").collect()}
    assert got == {
        "2024-01-01 00:00:00": (1, 1.0),
        "2024-01-01 00:30:00": (1, 2.0),
        "2024-01-01 01:00:00": (0, 0.0),
        "2024-01-01 01:30:00": (0, 0.0),
        "2024-01-01 02:00:00": (1, 4.0),
    }
    # Every observed event lands on a spine row: total n_events conserved.
    day = {str(r.bucket_start): r.n_events
           for r in resample_gapfill(ev, step="1 day").collect()}
    assert day == {"2024-01-01 00:00:00": 3}


def test_scd2_as_of_point_in_time(spark):
    from pyspark.sql import functions as F

    from openedx_event_sink_clickhouse_spark.operators.scd import (
        as_of, scd2_history)
    log = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 100, "a"),
         (1, "2024-01-05 00:00:00", 101, "b"),
         (2, "2024-01-08 00:00:00", 102, "x")],
        "k long, ts string, eid long, attr string") \
        .withColumn("ts", F.to_timestamp("ts"))
    hist = scd2_history(log, "k", "ts", ["attr"], tiebreak_col="eid")
    at = {r.k: r.attr for r in
          as_of(hist, "2024-01-03 00:00:00").collect()}
    assert at == {1: "a"}          # key 2 doesn't exist yet
    at = {r.k: r.attr for r in
          as_of(hist, "2024-01-09 00:00:00").collect()}
    assert at == {1: "b", 2: "x"}
    # boundary: at exactly valid_from, the NEW interval owns the instant
    at = {r.k: r.attr for r in
          as_of(hist, "2024-01-05 00:00:00").collect()}
    assert at[1] == "b"


def test_zscore_flags_planted_spike(spark):
    from pyspark.sql import functions as F

    from openedx_event_sink_clickhouse_spark.operators.timeseries import (
        zscore_flags)
    rows = [("a", i, 10) for i in range(30)] + [("a", 30, 500)] \
        + [("b", i, 5) for i in range(5)]     # constant key: no flags
    series = spark.createDataFrame(rows, "key string, b int, v long")
    got = zscore_flags(series, "key", "v")
    flagged = [(r.key, r.b) for r in got.filter("is_anomaly = 1").collect()]
    assert flagged == [("a", 30)]
    const = got.filter("key = 'b'").collect()
    assert all(r.zscore is None and r.is_anomaly == 0 for r in const)


def test_profile_table_one_pass_and_correct(spark):
    from openedx_event_sink_clickhouse_spark.operators.profile import (
        profile_table)
    df = spark.createDataFrame(
        [(1, 10.0, "a"), (2, None, "b"), (3, 10.0, None), (3, 5.0, "a")],
        "k long, v double, s string")
    got = {r.column_name: r for r in
           profile_table(df, ["k", "v"], ["s"]).collect()}
    assert set(got) == {"k", "v", "s"}
    assert all(r.n_rows == 4 for r in got.values())
    assert (got["k"].n_nulls, got["k"].n_distinct,
            got["k"].min_num, got["k"].max_num) == (0, 3, 1.0, 3.0)
    assert (got["v"].n_nulls, got["v"].n_distinct,
            got["v"].min_num, got["v"].max_num) == (1, 2, 5.0, 10.0)
    assert (got["s"].n_nulls, got["s"].n_distinct,
            got["s"].min_str, got["s"].max_str) == (1, 2, "a", "b")
    # One scan feeds the whole report.
    plan = profile_table(df, ["k", "v"], ["s"]) \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan ") <= 1, plan


def test_rolling_actives_dau_wau_stickiness(spark):
    from datetime import datetime as dt

    from openedx_event_sink_clickhouse_spark.operators.timeseries import (
        rolling_actives)
    rows = [
        # day 1: users 1,2 (user 1 twice — distinct grid collapses it)
        (1, dt(2024, 1, 1, 9)), (1, dt(2024, 1, 1, 10)), (2, dt(2024, 1, 1)),
        # day 2: user 1 only
        (1, dt(2024, 1, 2)),
        # day 9: user 3 (day 1 cohort aged out of the 7-day window)
        (3, dt(2024, 1, 9)),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {str(r.day): (r.dau, r.wau, r.stickiness)
           for r in rolling_actives(ev, window_days=7).collect()}
    # only days WITH events appear; windows are trailing-inclusive
    assert set(got) == {"2024-01-01", "2024-01-02", "2024-01-09"}
    assert got["2024-01-01"] == (2, 2, 1.0)
    assert got["2024-01-02"] == (1, 2, 0.5)          # {1} today, {1,2} in 7d
    assert got["2024-01-09"] == (1, 1, 1.0)          # days 1-2 aged out
    # a 2-day window still sees day-1 users on day 2
    got2 = {str(r.day): r.wau
            for r in rolling_actives(ev, window_days=2).collect()}
    assert got2["2024-01-02"] == 2 and got2["2024-01-09"] == 1


def test_random_projection_preserves_distances_and_is_linear(spark):
    import math
    import random

    from openedx_event_sink_clickhouse_spark.operators.similarity import (
        _jl_matrix, random_projection)
    rng = random.Random(3)
    dim, n = 32, 40
    vecs = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(n)]
    emb = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>")
    got = {r.vec_id: list(r.proj)
           for r in random_projection(emb, out_dim=24, dim=dim).collect()}
    assert all(len(p) == 24 for p in got.values())
    # matches the literal matrix applied in pure Python (mod rounding)
    R = _jl_matrix(dim, 24)
    for i in (0, 7, 39):
        want = [sum(x * r for x, r in zip(vecs[i], row)) for row in R]
        assert all(abs(a - b) < 1e-5 for a, b in zip(got[i], want))
    # JL property: pairwise squared distances preserved within a loose
    # factor (out_dim=24 is small; just pin the right order of magnitude)
    def d2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))
    ratios = []
    for _ in range(30):
        i, j = rng.sample(range(n), 2)
        ratios.append(d2(got[i], got[j]) / d2(vecs[i], vecs[j]))
    mean = sum(ratios) / len(ratios)
    assert 0.6 < mean < 1.4, mean
    # determinism: same seed -> identical; different seed -> different
    again = {r.vec_id: list(r.proj)
             for r in random_projection(emb, out_dim=24, dim=dim).collect()}
    assert again == got
    other = random_projection(emb, out_dim=24, dim=dim, seed=1).collect()
    assert list(other[0].proj) != got[other[0].vec_id]
    # dim inference (no dim arg) agrees
    inferred = {r.vec_id: list(r.proj)
                for r in random_projection(emb, out_dim=24).collect()}
    assert inferred == got
    # flat=True: same values as scalar proj_j columns (hashable cells)
    flat = random_projection(emb, out_dim=24, dim=dim, flat=True)
    assert flat.columns == ["vec_id"] + [f"proj_{j}" for j in range(24)]
    fgot = {r.vec_id: [r[f"proj_{j}"] for j in range(24)]
            for r in flat.collect()}
    assert fgot == got


def test_scd2_merge_batch_equals_full_rebuild(spark):
    from datetime import datetime as dt

    from openedx_event_sink_clickhouse_spark.operators.scd import (
        scd2_history, scd2_merge_batch)
    log = [
        # key 1: a,a | batch: a (extends, n_versions 2+1), then b (closes)
        (1, dt(2024, 1, 1), 1, "a"), (1, dt(2024, 1, 2), 2, "a"),
        (1, dt(2024, 1, 5), 10, "a"), (1, dt(2024, 1, 6), 11, "b"),
        # key 2: untouched by the batch — history passes through verbatim
        (2, dt(2024, 1, 1), 3, "x"), (2, dt(2024, 1, 2), 4, "y"),
        # key 3: new in the batch, two state changes inside it
        (3, dt(2024, 1, 5), 12, "p"), (3, dt(2024, 1, 6), 13, "q"),
        (3, dt(2024, 1, 7), 14, "q"),
    ]
    schema = "user_id long, ts timestamp, event_id long, event_type string"
    full = spark.createDataFrame(log, schema)
    cut = dt(2024, 1, 4)
    hist = scd2_history(full.filter(F.col("ts") < cut), "user_id", "ts",
                        ["event_type"], tiebreak_col="event_id")
    merged = scd2_merge_batch(hist, full.filter(F.col("ts") >= cut),
                              "user_id", "ts", ["event_type"],
                              tiebreak_col="event_id")
    want = scd2_history(full, "user_id", "ts", ["event_type"],
                        tiebreak_col="event_id")
    key = lambda r: (r.user_id, r.valid_from)
    got_rows = sorted(merged.collect(), key=key)
    want_rows = sorted(want.collect(), key=key)
    assert [tuple(r) for r in got_rows] == [tuple(r) for r in want_rows]
    m = {(r.user_id, r.event_type, r.valid_from): r for r in got_rows}
    # the extended interval accumulated versions across the merge
    assert m[(1, "a", dt(2024, 1, 1))].n_versions == 3
    assert m[(1, "a", dt(2024, 1, 1))].valid_to == dt(2024, 1, 6)
    assert m[(1, "b", dt(2024, 1, 6))].is_current


def test_rolling_actives_empty_input(spark):
    from openedx_event_sink_clickhouse_spark.operators.timeseries import (
        rolling_actives)
    ev = spark.createDataFrame([], "user_id long, ts timestamp")
    assert rolling_actives(ev).count() == 0


def test_mad_flags_resist_masking_where_zscore_fails(spark):
    # One colossal spike in an otherwise flat series: it inflates the
    # stddev enough to shrink ITS OWN z-score (masking); the median/MAD
    # pair barely moves, so the robust score still screams. Use enough
    # flat buckets that the z-score stays under 3 while the robust z
    # is far above 3.5.
    from openedx_event_sink_clickhouse_spark.operators.timeseries import (
        mad_flags, zscore_flags)
    from pyspark.sql import functions as F
    rows = [("k", i, 10 + (i % 3)) for i in range(8)] + [("k", 8, 1000)]
    s = spark.createDataFrame(rows, "key string, bucket int, n long")
    robust = {r.bucket: r for r in mad_flags(s, "key", "n").collect()}
    classic = {r.bucket: r for r in zscore_flags(s, "key", "n").collect()}
    assert robust[8].is_anomaly == 1
    assert classic[8].is_anomaly == 0          # masked: z < 3
    assert abs(classic[8].zscore) < 3.0
    assert robust[8].robust_z > 100
    # flat buckets stay unflagged in both
    assert all(robust[b].is_anomaly == 0 for b in range(8))
    # constant key: MAD 0 -> NULL scores, no flags
    c = spark.createDataFrame([("c", i, 5) for i in range(4)],
                              "key string, bucket int, n long")
    out = mad_flags(c, "key", "n").collect()
    assert all(r.robust_z is None and r.is_anomaly == 0 for r in out)


def test_ewma_known_values(spark):
    # Hand-computed 8-tap dyadic EWMA: series [4, 0, 2] for one key.
    # t0: 4/1 = 4; t1: (0*1 + 4*0.5)/(1.5) = 4/3; t2: (2 + 0 + 4*.25)/1.75.
    from openedx_event_sink_clickhouse_spark.operators.timeseries import (
        ewma_smooth)
    rows = [("k", i, v) for i, v in enumerate([4, 0, 2])]
    df = spark.createDataFrame(rows, ["key", "t", "x"])
    out = {r.t: r.ewma for r in
           ewma_smooth(df, "key", "t", "x").collect()}
    assert out[0] == 4.0
    assert abs(out[1] - 4 / 3) < 1e-6
    assert abs(out[2] - 3 / 1.75) < 1e-6


def test_ewma_normalizes_at_series_head(spark):
    # A constant series must smooth to the constant EVERYWHERE, including
    # the head rows where fewer than `depth` taps exist — that is the
    # normalization-by-available-weight property.
    from openedx_event_sink_clickhouse_spark.operators.timeseries import (
        ewma_smooth)
    df = spark.createDataFrame([("k", i, 7) for i in range(12)],
                               ["key", "t", "x"])
    assert all(r.ewma == 7.0 for r in
               ewma_smooth(df, "key", "t", "x").collect())


def test_autocorrelation_alternating_series(spark):
    # x = +1/-1 alternating: ACF(1) = -1, ACF(2) = +1 exactly.
    from openedx_event_sink_clickhouse_spark.operators.timeseries import (
        autocorrelation)
    df = spark.createDataFrame(
        [("k", i, 1 if i % 2 == 0 else -1) for i in range(20)],
        ["key", "t", "x"])
    out = {r.lag: r.acf for r in
           autocorrelation(df, "key", "t", "x", lags=(1, 2)).collect()}
    assert abs(out[1] + 1.0) < 1e-6
    assert abs(out[2] - 1.0) < 1e-6


def test_trend_fit_exact_line(spark):
    # y = 3t + 5 fits exactly: slope 3, intercept 5, r2 == 1; the day
    # index is relative to the KEY's own first day (late onboarding must
    # not shift the slope).
    import datetime
    from openedx_event_sink_clickhouse_spark.operators.timeseries import (
        trend_fit)
    d0 = datetime.date(2024, 3, 10)
    rows = [("k", d0 + datetime.timedelta(days=i), 3 * i + 5)
            for i in range(10)]
    df = spark.createDataFrame(rows, ["key", "day", "y"])
    r = trend_fit(df, "key", "day", "y").collect()[0]
    assert (r.slope, r.intercept, r.r2) == (3.0, 5.0, 1.0)
    assert r.n_days == 10


def test_trend_fit_constant_series_null_fit(spark):
    # A single-day key has zero regressor variance: slope/r2 must be
    # NULL, not a division blowup.
    import datetime
    from openedx_event_sink_clickhouse_spark.operators.timeseries import (
        trend_fit)
    df = spark.createDataFrame([("k", datetime.date(2024, 3, 10), 4)],
                               ["key", "day", "y"])
    r = trend_fit(df, "key", "day", "y").collect()[0]
    assert r.slope is None and r.r2 is None


def test_seasonal_profile_index_mean_is_one(spark):
    # Seasonal indices weighted by bucket counts must average to 1 per
    # key, and a 2×-traffic hour must index at 2× the flat hours' level.
    import datetime
    from openedx_event_sink_clickhouse_spark.operators.timeseries import (
        seasonal_profile)
    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    for d in range(4):
        for h in range(24):
            n = 20 if h == 9 else 10
            rows.append(("k", t0 + datetime.timedelta(days=d, hours=h), n))
    df = spark.createDataFrame(rows, ["key", "bucket", "n"])
    out = seasonal_profile(df, "key", "bucket", "n").collect()
    assert len(out) == 24
    mean_idx = sum(r.seasonal_index * r.n_buckets for r in out) \
        / sum(r.n_buckets for r in out)
    assert abs(mean_idx - 1.0) < 1e-6
    by_hour = {r.hour_of_day: r.seasonal_index for r in out}
    assert abs(by_hour[9] / by_hour[10] - 2.0) < 1e-6


def test_forecast_backtest_seasonal_beats_naive_on_weekly_pattern(spark):
    # A strict weekly pattern: seasonal-naive is PERFECT (mae 0) on the
    # holdout, naive is not; per-key holdout is the key's own last week.
    import datetime
    from openedx_event_sink_clickhouse_spark.operators.timeseries import (
        forecast_backtest)
    d0 = datetime.date(2024, 1, 1)
    weekly = [10, 20, 30, 40, 50, 5, 1]
    rows = [("k", d0 + datetime.timedelta(days=i), weekly[i % 7])
            for i in range(28)]
    df = spark.createDataFrame(rows, ["key", "day", "y"])
    out = {r.model: r for r in
           forecast_backtest(df, "key", "day", "y").collect()}
    assert out["seasonal_naive"].mae == 0.0
    assert out["naive"].mae > 0
    assert out["seasonal_naive"].n_days == 7 == out["naive"].n_days


def test_forecast_backtest_short_series_drops_missing_lags(spark):
    # A 3-day series: the 7-lag seasonal model has no valid holdout
    # prediction -> no seasonal row; naive scores the 2 days it can.
    import datetime
    from openedx_event_sink_clickhouse_spark.operators.timeseries import (
        forecast_backtest)
    d0 = datetime.date(2024, 1, 1)
    rows = [("k", d0 + datetime.timedelta(days=i), 5 + i) for i in range(3)]
    df = spark.createDataFrame(rows, ["key", "day", "y"])
    out = {r.model: r for r in
           forecast_backtest(df, "key", "day", "y").collect()}
    assert "seasonal_naive" not in out
    assert out["naive"].n_days == 2 and out["naive"].mae == 1.0


def test_deseasonalized_residual_zero_on_pure_seasonal_series(spark):
    # A perfectly periodic daily pattern has zero residual everywhere;
    # one injected spike leaves every other residual untouched and is
    # the only |residual| > 0 row (spike effect confined to its slot's
    # mean shift, which stays small over many days).
    import datetime
    from openedx_event_sink_clickhouse_spark.operators.timeseries import (
        deseasonalized_residuals)
    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    for d in range(10):
        for h in range(24):
            n = 10 + h  # pure hour-of-day pattern
            rows.append(("k", t0 + datetime.timedelta(days=d, hours=h), n))
    df = spark.createDataFrame(rows, ["key", "bucket", "n"])
    out = deseasonalized_residuals(df, "key", "bucket", "n").collect()
    assert all(r.residual == 0.0 for r in out)
    assert all(r.slot_mean == 10.0 + r.bucket.hour for r in out)


def test_rolling_correlation_perfect_and_anti(spark):
    # B = 2A -> corr +1 once the window fills; C = -A + 100 -> corr -1.
    import datetime
    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    for i in range(30):
        a = (i * 7) % 13  # varying series
        rows += [("a", t0 + datetime.timedelta(hours=i), a),
                 ("b", t0 + datetime.timedelta(hours=i), 2 * a),
                 ("c", t0 + datetime.timedelta(hours=i), 100 - a)]
    df = spark.createDataFrame(rows, ["key", "bucket", "n"])
    from openedx_event_sink_clickhouse_spark.operators.timeseries import (
        rolling_correlation)
    pos = rolling_correlation(df, "a", "b", "key", "bucket", "n",
                              window=10).collect()
    neg = rolling_correlation(df, "a", "c", "key", "bucket", "n",
                              window=10).collect()
    assert all(r.rolling_corr is None for r in pos[:9])  # window not full
    assert all(r.rolling_corr == 1.0 for r in pos[9:])
    assert all(r.rolling_corr == -1.0 for r in neg[9:])


def test_cusum_finds_level_shift_location(spark):
    # 40 buckets at 10, then 40 at 20: |C_t| peaks exactly at the last
    # pre-shift bucket (index 39), and the shift is significant; a
    # constant control key reports NULL stat, no flag.
    import datetime
    t0 = datetime.datetime(2024, 1, 1)
    rows = [("shift", t0 + datetime.timedelta(hours=i),
             10 if i < 40 else 20) for i in range(80)]
    rows += [("flat", t0 + datetime.timedelta(hours=i), 7)
             for i in range(80)]
    df = spark.createDataFrame(rows, ["key", "bucket", "n"])
    from openedx_event_sink_clickhouse_spark.operators.timeseries import (
        cusum_changepoint)
    out = {r.key: r for r in
           cusum_changepoint(df, "key", "bucket", "n").collect()}
    assert out["shift"].changepoint_bucket == t0 + datetime.timedelta(hours=39)
    assert out["shift"].significant == 1
    assert out["flat"].cusum_stat is None and out["flat"].significant == 0


# ---------------------------------------------------------------------------
# grouped_moments: one-pass skew/kurtosis vs a scipy-style numpy oracle
# ---------------------------------------------------------------------------

def test_grouped_moments_matches_numpy(spark, sf_dir):
    import numpy as np
    import pytest
    from openedx_event_sink_clickhouse_spark.operators.profile import (
        grouped_moments)
    from openedx_event_sink_clickhouse_spark.sources.tables import load_table
    ev = load_table(spark, "events", sf_dir)
    got = {r["event_type"]: r for r in grouped_moments(ev).collect()}
    vals: dict = {}
    for r in ev.select("event_type", "value").collect():
        if r["value"] is not None:
            # mirror the operator's milli-unit quantization
            vals.setdefault(r["event_type"], []).append(
                round(r["value"], 3))
    assert set(got) == set(vals)
    for et, xs in vals.items():
        a = np.array(xs, dtype="float64")
        n = len(a)
        mc = a - a.mean()
        m2, m3, m4 = (mc ** 2).mean(), (mc ** 3).mean(), (mc ** 4).mean()
        assert got[et]["n"] == n
        assert got[et]["mean"] == pytest.approx(a.mean(), abs=1e-6)
        assert got[et]["std"] == pytest.approx(a.std(ddof=1), rel=1e-6)
        assert got[et]["skewness"] == pytest.approx(
            m3 / m2 ** 1.5, rel=1e-5, abs=1e-6)
        assert got[et]["kurtosis_excess"] == pytest.approx(
            m4 / m2 ** 2 - 3.0, rel=1e-5, abs=1e-6)


def test_grouped_moments_degenerate_groups(spark):
    from openedx_event_sink_clickhouse_spark.operators.profile import (
        grouped_moments)
    df = spark.createDataFrame(
        [(0, "const", 5.0), (1, "const", 5.0),   # zero variance
         (2, "single", 7.25),                    # n == 1
         (3, "nulls", None)],                    # NULL-only -> excluded
        ["event_id", "event_type", "value"])
    out = {r["event_type"]: r for r in grouped_moments(df).collect()}
    assert set(out) == {"const", "single"}
    c = out["const"]
    assert (c["mean"], c["std"]) == (5.0, 0.0)
    assert c["skewness"] is None and c["kurtosis_excess"] is None
    s = out["single"]
    assert s["mean"] == 7.25 and s["std"] is None
