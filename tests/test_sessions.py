"""Batch sessionization: gap semantics, session numbering, rollup
values, and the single-Exchange plan shape."""

from __future__ import annotations

from datetime import datetime

from openedx_event_sink_clickhouse_spark.operators.sessions import (
    session_stats,
    sessionize,
)


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double")


def _ts(minute, second=0):
    return datetime(2024, 1, 1, minute // 60, minute % 60, second)


def test_sessionize_gap_semantics(spark):
    df = _events(spark, [
        (1, _ts(0), 7, 1.0),      # session 1
        (2, _ts(10), 7, 2.0),     # 10 min gap  -> same session
        (3, _ts(50), 7, 3.0),     # 40 min gap  -> session 2
        (4, _ts(70), 7, 4.0),     # 20 min gap  -> same session
        (5, _ts(0), 8, 5.0),      # another user: own numbering
    ])
    out = {r.event_id: r for r in sessionize(df).collect()}
    assert [out[i].session_seq for i in (1, 2, 3, 4)] == [1, 1, 2, 2]
    assert [out[i].is_start for i in (1, 2, 3, 4)] == [1, 0, 1, 0]
    assert out[5].session_seq == 1 and out[5].is_start == 1


def test_sessionize_boundary_is_strict_greater(spark):
    # a gap of exactly gap_s does NOT start a new session
    df = _events(spark, [
        (1, _ts(0), 1, 0.0),
        (2, _ts(30), 1, 0.0),         # exactly 1800 s
        (3, _ts(60, 1), 1, 0.0),      # 1801 s after event 2
    ])
    out = {r.event_id: r.session_seq
           for r in sessionize(df).collect()}
    assert out[1] == out[2] == 1 and out[3] == 2


def test_session_stats_rollup(spark):
    df = _events(spark, [
        (1, _ts(0), 7, 1.5),
        (2, _ts(10), 7, 2.5),
        (3, _ts(50), 7, 4.0),
    ])
    rows = {(r.user_id, r.session_seq): r
            for r in session_stats(df).collect()}
    s1 = rows[(7, 1)]
    assert s1.n_events == 2 and s1.duration_s == 600
    assert s1.value_sum == 4.0
    assert s1.session_start == _ts(0) and s1.session_end == _ts(10)
    s2 = rows[(7, 2)]
    assert s2.n_events == 1 and s2.duration_s == 0


def test_sessionize_single_exchange(spark, sf_dir):
    from openedx_event_sink_clickhouse_spark.sources.tables import load_table
    df = sessionize(load_table(spark, "events", sf_dir))
    plan = df._jdf.queryExecution().executedPlan().toString()
    # lag + running sum share one (user_id) partitioning and one sort
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Sort ") == 1, plan


def test_bot_signals_flag_machine_cadence(spark):
    # One scripted user fires every 2s exactly; nine humans are minutes
    # apart with jitter. The bot's median gap must sit below the p05 cut
    # (is_suspect=1) with near-zero IQR; humans stay unflagged.
    import datetime as dt
    T0 = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    for i in range(30):  # the bot: metronome cadence
        rows.append((0, T0 + dt.timedelta(seconds=2 * i), eid, "click"))
        eid += 1
    for u in range(1, 10):  # humans: minutes apart, varying
        for i in range(10):
            rows.append((u, T0 + dt.timedelta(minutes=3 * i + (u + i) % 5),
                         eid, "view"))
            eid += 1
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string")
    from openedx_event_sink_clickhouse_spark.operators.sessions import (
        bot_signals)
    out = {r.user_id: r for r in bot_signals(df).collect()}
    assert out[0].is_suspect == 1
    assert out[0].median_gap_s == 2.0 and out[0].gap_iqr_s == 0.0
    assert all(out[u].is_suspect == 0 for u in range(1, 10))


def test_bot_signals_single_event_users_dropped(spark):
    import datetime as dt
    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), 0, "x")],
        "user_id long, ts timestamp, event_id long, event_type string")
    from openedx_event_sink_clickhouse_spark.operators.sessions import (
        bot_signals)
    assert bot_signals(df).collect() == []


def test_dau_mau_stickiness(spark):
    # One ISO week (2024-01-01 is a Monday): users {1,2} active Mon,
    # {1} active Tue -> DAU avg (2+1)/2 = 1.5 over WAU {1,2} = 2 ->
    # stickiness 0.75; a second week with one drive-by user -> 1.0.
    import datetime as dt

    from openedx_event_sink_clickhouse_spark.operators.sessions import (
        dau_mau)

    rows = [
        (1, dt.datetime(2024, 1, 1, 9), 1, "view", 1.0, "{}"),
        (2, dt.datetime(2024, 1, 1, 10), 2, "view", 1.0, "{}"),
        (3, dt.datetime(2024, 1, 2, 9), 1, "view", 1.0, "{}"),
        (4, dt.datetime(2024, 1, 8, 9), 3, "view", 1.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    got = {r.period_start: r for r in dau_mau(ev, period="week").collect()}
    w1 = got[dt.datetime(2024, 1, 1)]
    assert (w1.avg_dau, w1.n_active_days, w1.pau, w1.stickiness) \
        == (1.5, 2, 2, 0.75)
    w2 = got[dt.datetime(2024, 1, 8)]
    assert (w2.avg_dau, w2.pau, w2.stickiness) == (1.0, 1, 1.0)
