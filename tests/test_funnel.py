"""Funnel + cohort-retention semantics on hand-computed fixtures (the
oracle gate checks value parity at sf0.01; these pin the ordering and
cohorting rules)."""

from __future__ import annotations

import datetime as dt

from openedx_event_sink_clickhouse_spark.operators.funnel import (
    cohort_retention,
    funnel,
)


def _ts(day, hour=0):
    return dt.datetime(2024, 1, day, hour)


def test_funnel_requires_strict_order(spark):
    rows = [
        # u1 completes the whole funnel in order.
        (1, _ts(1), "view"), (1, _ts(2), "click"), (1, _ts(3), "purchase"),
        # u2 purchased BEFORE clicking -> reaches click, not purchase.
        (2, _ts(1), "purchase"), (2, _ts(2), "view"), (2, _ts(3), "click"),
        # u3 never viewed -> not even step 1 despite clicking.
        (3, _ts(1), "click"),
    ]
    events = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    out = {r["step"]: r for r in
           funnel(events, ["view", "click", "purchase"]).collect()}
    assert out["view"]["n_users"] == 2
    assert out["click"]["n_users"] == 2
    assert out["purchase"]["n_users"] == 1
    assert out["view"]["conversion"] == 1.0
    assert out["purchase"]["conversion"] == 0.5
    assert [out[s]["step_idx"] for s in ("view", "click", "purchase")] \
        == [1, 2, 3]


def test_funnel_earliest_completion_uses_min_timestamps(spark):
    # Later re-views must not reset progress: u1's click@2 follows the
    # FIRST view@1, so the funnel counts it even though a second view
    # lands at day 5.
    rows = [(1, _ts(1), "view"), (1, _ts(5), "view"), (1, _ts(2), "click")]
    events = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    out = {r["step"]: r["n_users"]
           for r in funnel(events, ["view", "click"]).collect()}
    assert out == {"view": 1, "click": 1}


def test_cohort_retention_weekly_offsets(spark):
    # 2024-01-01 is a Monday: days 1-7 = week 0, days 8-14 = week 1.
    rows = [
        (1, _ts(1), "view"), (1, _ts(9), "view"),   # cohort w0, active w0+w1
        (2, _ts(2), "view"),                        # cohort w0, active w0
        (3, _ts(8), "view"),                        # cohort w1, active w1
    ]
    events = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    out = {(r["cohort_week"].day, r["week_offset"]):
           (r["n_active"], r["retention"])
           for r in cohort_retention(events).collect()}
    assert out[(1, 0)] == (2, 1.0)     # both w0 users active in week 0
    assert out[(1, 1)] == (1, 0.5)     # only u1 returns in week 1
    assert out[(8, 0)] == (1, 1.0)
    assert len(out) == 3


def test_top_paths_counts_and_order(spark):
    # u1: a b a b  -> trigrams (a,b,a), (b,a,b); u2: a b a -> (a,b,a).
    from openedx_event_sink_clickhouse_spark.operators.funnel import (
        top_paths)
    rows = [(1, _ts(1, 1), 1, "a"), (2, _ts(1, 2), 1, "b"),
            (3, _ts(1, 3), 1, "a"), (4, _ts(1, 4), 1, "b"),
            (5, _ts(1, 1), 2, "a"), (6, _ts(1, 2), 2, "b"),
            (7, _ts(1, 3), 2, "a")]
    ev = spark.createDataFrame(
        [(i, t, u, e) for i, t, u, e in rows],
        "event_id long, ts timestamp, user_id long, event_type string")
    got = [(r.step1, r.step2, r.step3, r.n_paths)
           for r in top_paths(ev, k=10).collect()]
    assert got == [("a", "b", "a", 2), ("b", "a", "b", 1)]


def test_top_paths_never_crosses_users(spark):
    # Two users with 2 events each: no trigram exists anywhere.
    from openedx_event_sink_clickhouse_spark.operators.funnel import (
        top_paths)
    ev = spark.createDataFrame(
        [(1, _ts(1, 1), 1, "a"), (2, _ts(1, 2), 1, "b"),
         (3, _ts(1, 3), 2, "c"), (4, _ts(1, 4), 2, "d")],
        "event_id long, ts timestamp, user_id long, event_type string")
    assert top_paths(ev, k=10).count() == 0


def test_last_touch_attribution_picks_latest_preceding_touch(spark):
    from datetime import datetime as dt

    from openedx_event_sink_clickhouse_spark.operators.funnel import (
        last_touch_attribution)
    rows = [
        # user 1: click -> view -> purchase (credit the view, the later touch)
        (1, 1, dt(2024, 1, 1, 9), "click", 0.0),
        (2, 1, dt(2024, 1, 1, 10), "view", 0.0),
        (3, 1, dt(2024, 1, 1, 11), "purchase", 50.0),
        # ... then another purchase with NO new touch: still the same view
        (4, 1, dt(2024, 1, 1, 12), "purchase", 10.0),
        # user 2: organic purchase (touch came AFTER — must not count)
        (5, 2, dt(2024, 1, 2, 9), "purchase", 7.0),
        (6, 2, dt(2024, 1, 2, 10), "click", 0.0),
        # user 3: same-ts touch with smaller id precedes in total order
        (7, 3, dt(2024, 1, 3, 9), "click", 0.0),
        (8, 3, dt(2024, 1, 3, 9), "purchase", 3.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, "
              "event_type string, value double")
    got = {r.event_id: r for r in last_touch_attribution(ev).collect()}
    assert set(got) == {3, 4, 5, 8}
    assert got[3].touch_type == "view"
    assert got[3].touch_ts == dt(2024, 1, 1, 10)
    assert got[4].touch_type == "view"            # touch carries forward
    assert got[5].touch_type is None              # organic: later touch
    assert got[5].touch_ts is None
    assert got[8].touch_type == "click"           # same-ts, smaller id wins
    assert got[3].conv_value == 50.0


def test_last_touch_attribution_ignores_other_event_types(spark):
    from datetime import datetime as dt

    from openedx_event_sink_clickhouse_spark.operators.funnel import (
        last_touch_attribution)
    rows = [(1, 1, dt(2024, 1, 1, 9), "click", 0.0),
            (2, 1, dt(2024, 1, 1, 10), "error", 0.0),
            (3, 1, dt(2024, 1, 1, 11), "purchase", 5.0)]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, "
              "event_type string, value double")
    got = last_touch_attribution(ev).collect()
    assert len(got) == 1 and got[0].touch_type == "click"


def test_funnel_conversion_window_anchored_at_first_step(spark):
    from datetime import datetime as dt

    from openedx_event_sink_clickhouse_spark.operators.funnel import funnel
    rows = [
        # user 1: view@9, click@10 (inside 2h window), buy@12 (outside)
        (1, dt(2024, 1, 1, 9), "view"),
        (1, dt(2024, 1, 1, 10), "click"),
        (1, dt(2024, 1, 1, 12), "buy"),
        # user 2: everything inside the window
        (2, dt(2024, 1, 2, 9), "view"),
        (2, dt(2024, 1, 2, 9, 30), "click"),
        (2, dt(2024, 1, 2, 10, 30), "buy"),
        # user 3: anchor is the FIRST view — the later view must not
        # re-open the window for the click at 15
        (3, dt(2024, 1, 3, 9), "view"),
        (3, dt(2024, 1, 3, 14), "view"),
        (3, dt(2024, 1, 3, 15), "click"),
    ]
    ev = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    got = {r.step: r.n_users for r in funnel(
        ev, ["view", "click", "buy"], within_seconds=7200).collect()}
    assert got == {"view": 3, "click": 2, "buy": 1}
    # boundary is inclusive: click exactly at anchor+window counts
    ev2 = spark.createDataFrame(
        [(9, dt(2024, 1, 1, 9), "view"),
         (9, dt(2024, 1, 1, 11), "click")],
        ["user_id", "ts", "event_type"])
    got2 = {r.step: r.n_users for r in funnel(
        ev2, ["view", "click"], within_seconds=7200).collect()}
    assert got2["click"] == 1
    # without a window the original semantics are untouched
    got3 = {r.step: r.n_users for r in funnel(
        ev, ["view", "click", "buy"]).collect()}
    assert got3 == {"view": 3, "click": 3, "buy": 2}


def test_linear_attribution_splits_value_across_cohort(spark):
    from datetime import datetime as dt

    from openedx_event_sink_clickhouse_spark.operators.funnel import (
        linear_attribution)
    rows = [
        # user 1: two touches -> conv A (split 30/2); one touch -> conv B
        (1, 1, dt(2024, 1, 1, 9), "click", 0.0),
        (2, 1, dt(2024, 1, 1, 10), "view", 0.0),
        (3, 1, dt(2024, 1, 1, 11), "purchase", 30.0),
        (4, 1, dt(2024, 1, 1, 12), "view", 0.0),
        (5, 1, dt(2024, 1, 1, 13), "purchase", 8.0),
        # trailing touch after the last conversion: credits nothing
        (6, 1, dt(2024, 1, 1, 14), "click", 0.0),
        # user 2: conversion with no touches — absent here
        (7, 2, dt(2024, 1, 2, 9), "purchase", 5.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, "
              "event_type string, value double")
    got = linear_attribution(ev).collect()
    by_touch = {r.touch_event_id: r for r in got}
    assert set(by_touch) == {1, 2, 4}
    assert by_touch[1].conv_event_id == 3 and by_touch[1].credit == 15.0
    assert by_touch[2].credit == 15.0 and by_touch[2].n_touches == 2
    assert by_touch[4].conv_event_id == 5 and by_touch[4].credit == 8.0
    # total credited value equals total attributable conversion value
    assert sum(r.credit for r in got) == 38.0


def test_last_touch_attribution_single_exchange_sort(spark):
    # The whole attribution is ONE per-user window: exactly one hash
    # exchange and one sort in the executed plan (the sessionize-class
    # single-shuffle discipline).
    from datetime import datetime as dt

    from openedx_event_sink_clickhouse_spark.operators.funnel import (
        last_touch_attribution)
    ev = spark.createDataFrame(
        [(1, 1, dt(2024, 1, 1), "click", 0.0),
         (2, 1, dt(2024, 1, 2), "purchase", 5.0)],
        "event_id long, user_id long, ts timestamp, "
        "event_type string, value double")
    plan = last_touch_attribution(ev) \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Sort ") == 1, plan


def test_funnel_latency_hand_checked(spark):
    import datetime as dt
    from openedx_event_sink_clickhouse_spark.operators.funnel import (
        funnel_latency)
    t0 = dt.datetime(2024, 1, 1)

    def at(sec):
        return t0 + dt.timedelta(seconds=sec)

    rows = [
        # user 1: view@0 click@10 purchase@70
        (1, at(0), 1, "view", 0.0), (2, at(10), 1, "click", 0.0),
        (3, at(70), 1, "purchase", 0.0),
        # user 2: view@0 click@30 (no purchase)
        (4, at(0), 2, "view", 0.0), (5, at(30), 2, "click", 0.0),
        # user 3: click only (never enters funnel)
        (6, at(5), 3, "click", 0.0),
        # user 1 pre-view click must NOT count (strictly-after rule)
        (7, at(0), 4, "click", 0.0), (8, at(1), 4, "view", 0.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double")
    out = {(r.from_step, r.to_step): r for r in
           funnel_latency(df, ["view", "click", "purchase"]).collect()}
    vc = out[("view", "click")]
    assert vc.n_users == 2
    assert vc.p50_seconds == 20.0       # median of {10, 30}
    cp = out[("click", "purchase")]
    assert cp.n_users == 1 and cp.p50_seconds == 60.0


def test_cohort_ltv_hand_computed(spark):
    # Cohort 2024-01: users A (orders 100 in Jan, 50 in Mar) and B
    # (order 10 in Jan). Cohort 2024-02: user C (order 7).
    import datetime as dt
    rows = [
        ("A", dt.datetime(2024, 1, 5), 100.0),
        ("A", dt.datetime(2024, 3, 20), 50.0),
        ("B", dt.datetime(2024, 1, 9), 10.0),
        ("C", dt.datetime(2024, 2, 1), 7.0),
    ]
    df = spark.createDataFrame(rows,
                               "o_custkey string, o_orderdate timestamp, "
                               "o_totalprice double")
    from openedx_event_sink_clickhouse_spark.operators.funnel import (
        cohort_ltv)
    out = {(str(r.cohort_month), r.age_months): r
           for r in cohort_ltv(df).collect()}
    jan0 = out[("2024-01-01", 0)]
    assert (jan0.n_customers, jan0.revenue, jan0.cum_revenue) == (2, 110.0, 110.0)
    assert jan0.ltv_per_user == 55.0
    jan2 = out[("2024-01-01", 2)]
    assert (jan2.revenue, jan2.cum_revenue, jan2.ltv_per_user) == (50.0, 160.0, 80.0)
    feb0 = out[("2024-02-01", 0)]
    assert (feb0.n_customers, feb0.ltv_per_user) == (1, 7.0)
    # age-1 month with no orders emits no row (curve is observed months)
    assert ("2024-01-01", 1) not in out
