"""HLL distinct-rollup tests: sketch additivity (weekly = union of
dailies, all-time = union of everything), at-rest round-trip (the
binary sketch column survives parquet and serves without the events),
and the certified report's bound-flag contract."""
from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from openedx_event_sink_clickhouse_spark.operators.cardinality import (
    daily_sketch_table, distinct_rollup_certified)


def _sketch_rollup(sketches, group_cols=None):
    """Union sketch cells up to a coarser grain (None = one global row)
    and estimate distinct keys, from the sketch table alone."""
    agg = [F.sum("n_events").alias("n_events"),
           F.expr("hll_sketch_estimate(hll_union_agg(sketch, true))")
           .alias("est_distinct")]
    if group_cols:
        return sketches.groupBy(*group_cols).agg(*agg)
    return sketches.agg(*agg)


def _events(spark):
    # 14 days; user u active on day d iff u % (d+1) == 0 — overlapping
    # daily populations so naive summing of daily distincts would
    # OVERCOUNT badly (the non-additivity HLL union fixes)
    rows = []
    eid = 0
    for d in range(14):
        for u in range(400):
            if u % (d + 1) == 0:
                rows.append((eid, dt.datetime(2024, 1, 1 + d, 12), u, 1.0))
                eid += 1
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double")


def test_sketch_union_beats_naive_sum_and_round_trips(spark, tmp_path):
    ev = _events(spark)
    daily = daily_sketch_table(ev)
    assert daily.count() == 14
    # at-rest: binary sketch column round-trips through parquet
    path = str(tmp_path / "sketches")
    daily.write.parquet(path)
    at_rest = spark.read.parquet(path)
    total = _sketch_rollup(at_rest).first()
    exact = ev.select("user_id").distinct().count()  # 400 (day 1: all)
    naive_sum = (daily.select(
        F.expr("hll_sketch_estimate(sketch)").alias("e"))
        .agg(F.sum("e")).first()[0])
    assert abs(total["est_distinct"] - exact) <= 0.05 * exact
    assert naive_sum > 1.5 * exact  # non-additivity is real on this data
    assert total["n_events"] == ev.count()
    # grouped rollup: weekly unions from the same at-rest cells
    weekly = _sketch_rollup(
        at_rest.withColumn("week", F.weekofyear("day")), ["week"])
    wk = {r.week: r.est_distinct for r in weekly.collect()}
    assert len(wk) == 2 or len(wk) == 3  # 14 days spans 2-3 ISO weeks
    assert all(v <= exact * 1.05 for v in wk.values())


def test_certified_rollup_flags_and_total_row(spark):
    ev = _events(spark)
    out = distinct_rollup_certified(ev).collect()
    days = [r for r in out if r.day is not None]
    total = [r for r in out if r.day is None]
    assert len(days) == 14 and len(total) == 1
    assert all(r.approx_ok == 1 for r in out)
    assert total[0].exact_users == 400
    by_day = {r.day.day: r.exact_users for r in days}
    assert by_day[1] == 400 and by_day[14] == len(
        [u for u in range(400) if u % 14 == 0])


def test_hll_stream_maintainer_equals_batch_daily_table(spark, tmp_path):
    # Stream-maintained day-cells (2 epochs + a replay) must union to
    # the same estimates as the one-pass daily sketch table, including
    # days SPLIT ACROSS epochs (same-day cells from different batches
    # merge by hll_union_agg, not summation).
    from openedx_event_sink_clickhouse_spark.streaming.sketch_maintenance import (
        hll_stream_maintainer)

    ev = _events(spark)
    # split mid-day so day 7 appears in BOTH epochs
    b0 = ev.filter("user_id < 200")
    b1 = ev.filter("user_id >= 200")
    m = hll_stream_maintainer(str(tmp_path / "cells"))
    m(b0, 0)
    m(b1, 1)
    m(b1, 1)  # at-least-once replay: overwrite, never double-union
    folded = m.fold(spark)
    want = daily_sketch_table(ev)
    est = lambda df: {r.day: (r.n_events, int(r.est))
                      for r in df.selectExpr(
                          "day", "n_events",
                          "hll_sketch_estimate(sketch) AS est").collect()}
    assert est(folded) == est(want)
    # and the all-time rollup from the stream-maintained cells is exact
    # at this scale
    total = _sketch_rollup(folded).first()
    assert abs(total["est_distinct"] - 400) <= 0.05 * 400


def test_kmv_merge_equals_whole_and_estimates_within_tolerance(spark):
    from openedx_event_sink_clickhouse_spark.operators.cardinality import (
        kmv_estimate, kmv_sketch)
    from pyspark.sql import functions as F
    a = spark.createDataFrame([(i,) for i in range(3000)], "k long")
    b = spark.createDataFrame([(i,) for i in range(2000, 6000)], "k long")
    whole = a.union(b)
    k = 128
    # mergeability: bottom-k of (bottom-k(A) U bottom-k(B)) == bottom-k(whole)
    pa = kmv_sketch(a, "k", k).select("hash_val", "key")
    pb = kmv_sketch(b, "k", k).select("hash_val", "key")
    merged = (pa.union(pb).distinct()
              .orderBy("hash_val", "key").limit(k))
    want = kmv_sketch(whole, "k", k).select("hash_val", "key")
    assert [tuple(r) for r in merged.collect()] == \
        [tuple(r) for r in want.collect()]
    # estimator: within 30% at k=128 (theory: rel sd ~ 1/sqrt(k-2) ~ 9%)
    est = kmv_estimate(kmv_sketch(whole, "k", k), k).first().estimate
    assert abs(est - 6000) / 6000 < 0.3, est
    # small sets are exact
    small = spark.createDataFrame([(i,) for i in range(50)], "k long")
    row = kmv_estimate(kmv_sketch(small, "k", k), k).first()
    assert row.n_kept == 50 and row.estimate == 50.0


def test_kmv_set_ops_exact_when_sketches_fit(spark):
    # Sets of 30/40 with 20 overlap, k=64 -> neither sketch fills:
    # theta spans the space and estimates ARE the exact answers.
    a = spark.createDataFrame([(i,) for i in range(30)], ["user_id"])
    b = spark.createDataFrame([(i,) for i in range(10, 50)], ["user_id"])
    from openedx_event_sink_clickhouse_spark.operators.cardinality import (
        kmv_set_ops)
    r = kmv_set_ops(a, b, "user_id").collect()[0]
    assert (r.n_a_kept, r.n_b_kept) == (30, 40)
    assert r.theta_norm == 1.0
    assert (r.union_est, r.inter_est) == (50.0, 20.0)
    assert (r.exact_union, r.exact_inter) == (50, 20)
    assert abs(r.jaccard_est - 0.4) < 1e-9


def test_kmv_set_ops_estimates_within_bound_when_full(spark):
    # 1000/1000 with 500 overlap at k=64: estimates must land within
    # ~4/sqrt(k) relative error of truth (generous 50% envelope).
    a = spark.createDataFrame([(i,) for i in range(1000)], ["user_id"])
    b = spark.createDataFrame([(i,) for i in range(500, 1500)],
                              ["user_id"])
    from openedx_event_sink_clickhouse_spark.operators.cardinality import (
        kmv_set_ops)
    r = kmv_set_ops(a, b, "user_id").collect()[0]
    assert r.theta_norm < 1.0
    assert abs(r.union_est - 1500) / 1500 < 0.5
    assert abs(r.inter_est - 500) / 500 < 0.5
    assert (r.exact_union, r.exact_inter) == (1500, 500)
