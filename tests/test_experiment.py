"""CUPED experiment-readout tests: the adjustment must (a) reproduce the
closed-form math on a hand-checkable fixture, (b) reduce the spread
between variant means when the pre-period explains most of the variance
and there is NO true effect, and (c) leave a true treatment effect
intact. Variant hashing must be deterministic and balanced-ish."""
from __future__ import annotations

import datetime as dt
import random

from pyspark.sql import functions as F

from openedx_event_sink_clickhouse_spark.operators.experiment import (
    assign_variant, cuped_adjusted_means)

CUT = dt.datetime(2024, 1, 15)
PRE = dt.datetime(2024, 1, 10)
POST = dt.datetime(2024, 1, 20)


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double")


def _variant_map(spark, users, n_variants: int = 2) -> dict:
    df = spark.createDataFrame([(u,) for u in users], "u long")
    return {r.u: r.v for r in
            df.select("u", assign_variant(F.col("u"), n_variants)
                      .alias("v")).collect()}


def test_cuped_hand_computed(spark):
    # two units per variant; Y = X exactly -> theta = 1, adjusted means
    # collapse to the grand pre-mean shift: Y_u - (X_u - mean X)
    rows, eid = [], 0
    xs = {1: 10.0, 2: 20.0, 3: 30.0, 4: 40.0}
    for u, x in xs.items():
        rows += [(eid, PRE, u, x), (eid + 1, POST, u, x)]
        eid += 2
    out = cuped_adjusted_means(_events(spark, rows), CUT).collect()
    vmap = _variant_map(spark, xs)
    mean_x = sum(xs.values()) / 4.0
    for r in out:
        units = [u for u in xs if vmap[u] == r.variant]
        want_raw = sum(xs[u] for u in units) / len(units)
        want_adj = sum(xs[u] - 1.0 * (xs[u] - mean_x)
                       for u in units) / len(units)
        assert r.n_units == len(units)
        assert abs(r.mean_value - want_raw) < 1e-6
        assert abs(r.theta - 1.0) < 1e-6
        assert abs(r.mean_value_adj - want_adj) < 1e-6


def test_cuped_reduces_null_effect_gap_and_keeps_true_effect(spark):
    rng = random.Random(7)
    # 200 users with persistent per-user baseline: pre X_u = b_u,
    # post Y_u = b_u + small noise, NO treatment effect
    rows, eid = [], 0
    base = {u: rng.uniform(10, 1000) for u in range(200)}
    for u, b in base.items():
        rows += [(eid, PRE, u, b), (eid + 1, POST, u, b + rng.uniform(-1, 1))]
        eid += 2
    out = {r.variant: r for r in
           cuped_adjusted_means(_events(spark, rows), CUT).collect()}
    raw_gap = abs(out[0].mean_value - out[1].mean_value)
    adj_gap = abs(out[0].mean_value_adj - out[1].mean_value_adj)
    assert adj_gap < raw_gap / 5, (raw_gap, adj_gap)  # variance crushed
    assert 0.9 < out[0].theta < 1.1
    # inject a true +50 effect on variant 1: the adjusted gap must show it
    vmap = _variant_map(spark, base)
    rows2 = [(eid2, ts, u, v + (50.0 if ts >= CUT and vmap[u] == 1 else 0.0))
             for eid2, ts, u, v in rows]
    out2 = {r.variant: r for r in
            cuped_adjusted_means(_events(spark, rows2), CUT).collect()}
    eff = out2[1].mean_value_adj - out2[0].mean_value_adj
    assert 45 < eff < 55, eff


def test_variant_assignment_deterministic_and_balanced(spark):
    df = spark.range(1000).select(
        assign_variant(F.col("id"), n_variants=4).alias("v"))
    counts = {r.v: r.c for r in
              df.groupBy("v").agg(F.count("*").alias("c")).collect()}
    assert set(counts) == {0, 1, 2, 3}
    assert all(150 < c < 350 for c in counts.values()), counts
    again = {r.v: r.c for r in
             spark.range(1000).select(
                 assign_variant(F.col("id"), n_variants=4).alias("v"))
             .groupBy("v").agg(F.count("*").alias("c")).collect()}
    assert again == counts


def test_conversion_ztest_hand_computed_and_detects_effect(spark):
    import math

    from openedx_event_sink_clickhouse_spark.operators.experiment import (
        conversion_ztest)

    users = list(range(500))
    vmap = _variant_map(spark, users)
    # null effect: every 4th user converts regardless of variant
    rows = []
    eid = 0
    for u in users:
        rows.append((eid, PRE, u, 1.0)); eid += 1
    conv_rows = [(eid + i, POST, u, 1.0) for i, u in enumerate(users)
                 if u % 4 == 0]
    ev = spark.createDataFrame(
        [(e, t, u, v, "view") for e, t, u, v in rows]
        + [(e, t, u, v, "purchase") for e, t, u, v in conv_rows],
        "event_id long, ts timestamp, user_id long, value double, "
        "event_type string")
    out = {r.variant: r for r in conversion_ztest(ev).collect()}
    assert out[0].z_score is None and out[0].significant is None
    # hand-compute the pooled z for variant 1
    n0 = sum(1 for u in users if vmap[u] == 0)
    n1 = len(users) - n0
    x0 = sum(1 for u in users if vmap[u] == 0 and u % 4 == 0)
    x1 = sum(1 for u in users if vmap[u] == 1 and u % 4 == 0)
    p = (x0 + x1) / (n0 + n1)
    se = math.sqrt(p * (1 - p) * (1 / n1 + 1 / n0))
    want_z = (x1 / n1 - x0 / n0) / se
    assert abs(out[1].z_score - want_z) < 1e-5
    assert out[1].n_units == n1 and out[1].n_converted == x1
    assert out[1].significant == (1 if abs(want_z) > 1.96 else 0)
    # inject a strong real effect: variant 1 users ALL convert
    extra = [(10_000 + i, POST, u, 1.0, "purchase")
             for i, u in enumerate(users) if vmap[u] == 1]
    ev2 = ev.unionByName(spark.createDataFrame(
        extra, ev.schema))
    out2 = {r.variant: r for r in conversion_ztest(ev2).collect()}
    assert out2[1].conv_rate == 1.0 and out2[1].significant == 1
    assert out2[1].z_score > 10


def test_conversion_ztest_empty_control_keeps_treatment_rows(spark):
    from openedx_event_sink_clickhouse_spark.operators.experiment import (
        conversion_ztest)
    # only variant-1 units present: rows must still come back, with
    # NULL z/significant (the control row's own shape), never an empty
    # frame that silently hides the treatment stats
    vmap = _variant_map(spark, range(200))
    users = [u for u in range(200) if vmap[u] == 1][:20]
    ev = spark.createDataFrame(
        [(i, POST, u, 1.0, "purchase") for i, u in enumerate(users)],
        "event_id long, ts timestamp, user_id long, value double, "
        "event_type string")
    out = conversion_ztest(ev).collect()
    assert len(out) == 1 and out[0].variant == 1
    assert out[0].n_units == len(users) and out[0].conv_rate == 1.0
    assert out[0].z_score is None and out[0].significant is None


def test_srm_check_flags_broken_bucketing(spark):
    from openedx_event_sink_clickhouse_spark.operators.experiment import (
        srm_check)
    # healthy md5 bucketing over 2000 units: no SRM
    ev = spark.createDataFrame(
        [(i, POST, u, 1.0, "view") for i, u in enumerate(range(2000))],
        "event_id long, ts timestamp, user_id long, value double, "
        "event_type string")
    out = srm_check(ev).collect()
    assert len(out) == 2
    assert all(r.srm_detected == 0 for r in out)
    n = sum(r.n_units for r in out)
    assert all(r.expected == round(n / 2.0, 6) for r in out)
    # chi2 matches the closed form on the observed counts
    obs = {r.variant: r.n_units for r in out}
    chi2 = sum((obs[v] - n / 2) ** 2 / (n / 2) for v in obs)
    assert abs(out[0].chi2 - chi2) < 1e-6
    # simulate exposure loss: drop 30% of variant-1 units -> SRM fires
    vmap = _variant_map(spark, range(2000))
    keep = [u for u in range(2000)
            if vmap[u] == 0 or u % 10 >= 3]
    ev2 = ev.filter(F.col("user_id").isin(keep))
    out2 = srm_check(ev2).collect()
    assert all(r.srm_detected == 1 for r in out2)


def test_survival_curves_hand_computed_km(spark):
    # One-variant textbook KM: 4 units entering at t=0 (signup),
    # conversions at +10s and +20s; units 3 and 4 never convert and are
    # right-censored at the GLOBAL study end (+20s, unit 2's purchase).
    #   t=10s: n_risk=4, d=1 -> S = 0.75
    #   t=20s: n_risk=3 (unit 1 gone; censored-at-t units stay in the
    #          risk set under the events-precede-censoring tie
    #          convention), d=1 -> S = 0.75 * (1 - 1/3) = 0.5
    from openedx_event_sink_clickhouse_spark.operators.experiment import (
        survival_curves)

    t0 = dt.datetime(2024, 1, 1)
    s = lambda sec: t0 + dt.timedelta(seconds=sec)
    rows = [
        (1, s(0), 1, "signup", 0.0), (2, s(10), 1, "purchase", 1.0),
        (3, s(0), 2, "signup", 0.0), (4, s(20), 2, "purchase", 1.0),
        (5, s(0), 3, "signup", 0.0),
        (6, s(0), 4, "signup", 0.0), (7, s(15), 4, "view", 0.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double")
    # collapse to one variant so the arithmetic is by hand
    out = survival_curves(ev, n_variants=1)
    got = {r.t_us: r for r in out.collect()}
    assert set(got) == {10_000_000, 20_000_000}
    r10 = got[10_000_000]
    assert (r10.n_risk, r10.n_events, r10.survival) == (4, 1, 0.75)
    r20 = got[20_000_000]
    assert (r20.n_risk, r20.n_events, r20.survival) == (3, 1, 0.5)


def test_survival_curves_variant_split_and_monotone(spark):
    # Real-shaped data: curves are non-increasing per variant, start
    # <= 1, and every unit appears in exactly one variant's risk set.
    import random as _r

    from openedx_event_sink_clickhouse_spark.operators.experiment import (
        survival_curves)

    rng = _r.Random(5)
    t0 = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    for u in range(60):
        entry = rng.randrange(0, 1000)
        rows.append((eid, t0 + dt.timedelta(seconds=entry), u,
                     "signup", 0.0)); eid += 1
        if rng.random() < 0.6:
            rows.append((eid, t0 + dt.timedelta(
                seconds=entry + rng.randrange(1, 500)), u,
                "purchase", 1.0)); eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double")
    out = survival_curves(ev).collect()
    by_v = {}
    for r in sorted(out, key=lambda r: (r.variant, r.t_us)):
        by_v.setdefault(r.variant, []).append(r.survival)
    assert set(by_v) == {0, 1}
    for curve in by_v.values():
        assert all(s <= 1.0 for s in curve)
        assert curve == sorted(curve, reverse=True)   # non-increasing


def test_logrank_null_effect_and_detected_effect(spark):
    # Hash-split halves of an IDENTICAL conversion process: chi2 must
    # land well under the df=1 critical value. Then delay every
    # variant-1 conversion far beyond variant 0's: chi2 must flag.
    from openedx_event_sink_clickhouse_spark.operators.experiment import (
        assign_variant, logrank_test)

    t0 = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    for u in range(200):
        rows.append((eid, t0, u, "signup", 0.0)); eid += 1
        # deterministic, variant-independent conversion delay
        rows.append((eid, t0 + dt.timedelta(seconds=10 + (u * 37) % 500),
                     u, "purchase", 1.0)); eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double")
    out = logrank_test(ev).collect()[0]
    assert out.n_units_0 + out.n_units_1 == 200
    assert out.significant == 0, out.chi2

    vmap = _variant_map(spark, range(200))
    rows2 = []
    for i, (eid_, ts_, u, ty, val) in enumerate(rows):
        if ty == "purchase" and vmap[u] == 1:
            ts_ = ts_ + dt.timedelta(seconds=5000)
        rows2.append((eid_, ts_, u, ty, val))
    ev2 = spark.createDataFrame(
        rows2, "event_id long, ts timestamp, user_id long, "
               "event_type string, value double")
    out2 = logrank_test(ev2).collect()[0]
    assert out2.significant == 1, out2.chi2
    assert out2.chi2 > out.chi2


def test_survival_time_bucket_grouping(spark):
    # Grouped KM: bucketing durations to a 10s grid merges event times
    # within a bucket; curve rows shrink but the final survival level
    # (all events processed) is unchanged.
    from openedx_event_sink_clickhouse_spark.operators.experiment import (
        survival_curves)

    t0 = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    for u in range(40):
        rows.append((eid, t0, u, "signup", 0.0)); eid += 1
        rows.append((eid, t0 + dt.timedelta(seconds=1 + (u * 7) % 100),
                     u, "purchase", 1.0)); eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double")
    exact = survival_curves(ev, n_variants=1).collect()
    grouped = survival_curves(ev, n_variants=1,
                              time_bucket_us=10_000_000).collect()
    assert len(grouped) < len(exact)
    last = lambda rs: min(r.survival for r in rs)
    # everyone converts -> both curves end at 0 survival... they end at
    # the same terminal level regardless of grouping
    assert last(grouped) == last(exact)


def test_jackknife_matches_closed_form_se(spark):
    # For the plain per-unit mean, the delete-one-bucket jackknife must
    # land near the textbook s/sqrt(n) — that is the calibration check
    # (Efron: the jackknife variance estimator is consistent for smooth
    # statistics; the ratio here reduces to the mean since every unit
    # has weight 1).
    import math
    import random
    from openedx_event_sink_clickhouse_spark.operators.experiment import (
        jackknife_ratio_ci)
    rng = random.Random(11)
    rows, eid = [], 0
    vals = {}
    for u in range(400):
        v = rng.uniform(0, 10)
        vals[u] = v
        rows.append((eid, POST, u, v))
        eid += 1
    df = _events(spark, rows)
    got = {r.variant: r for r in
           jackknife_ratio_ci(df).collect()}
    vm = _variant_map(spark, list(vals))
    for variant in (0, 1):
        us = [vals[u] for u in vals if vm[u] == variant]
        n = len(us)
        mean = sum(us) / n
        sd = math.sqrt(sum((x - mean) ** 2 for x in us) / (n - 1))
        se = sd / math.sqrt(n)
        r = got[variant]
        assert r.n_units == n
        assert abs(r.theta - mean) < 1e-6
        # jackknife SE within 25% of closed form (exact equality is not
        # expected: folds are size-~n/20, not size-1)
        assert abs(r.se_jack - se) / se < 0.25, (r.se_jack, se)
        assert r.ci_lo < r.theta < r.ci_hi
        assert abs((r.theta - r.ci_lo) - 1.96 * r.se_jack) < 1e-5


def test_sequential_monitoring_boundary_and_cumulatives(spark):
    # A/A (null effect): cumulative counts must telescope to the full
    # population, the boundary must DECREASE with information (OBF
    # shape), and the final-look boundary must sit near the nominal
    # critical value — while a huge injected effect crosses early.
    import datetime as dt
    from openedx_event_sink_clickhouse_spark.operators.experiment import (
        assign_variant, sequential_monitoring)
    rows, eid = [], 0
    for day in range(10):
        ts = dt.datetime(2024, 1, 1 + day)
        for u in range(day * 40, (day + 1) * 40):   # 40 new units/day
            rows.append((eid, ts, u, 0.0))
            eid += 1
            if u % 5 == 0:   # variant-independent conversions
                rows.append((eid + 10000, ts, u, 1.0))
    df = spark.createDataFrame(
        [(e, t, u, v) for (e, t, u, v) in rows],
        "event_id long, ts timestamp, user_id long, value double")
    conv = df.withColumn(
        "event_type",
        F.when(F.col("event_id") >= 10000, "purchase").otherwise("view"))
    out = sequential_monitoring(conv).collect()
    assert len(out) == 10
    last = out[-1]
    assert last.n_0 + last.n_1 == 400
    assert last.conv_0 + last.conv_1 == 80
    assert last.info_frac == 1.0
    bounds = [r.boundary for r in out]
    assert bounds == sorted(bounds, reverse=True)
    assert abs(last.boundary - 2.2414) < 1e-6
    # null effect: no look crosses
    assert all(r.crossed == 0 for r in out)

    # now a strong real effect: variant-1 units convert, variant-0 never
    vm = {r.u: r.v for r in spark.createDataFrame(
        [(u,) for u in range(400)], "u long")
        .select("u", assign_variant(F.col("u")).alias("v")).collect()}
    rows2 = [(e, t, u, v) for (e, t, u, v) in rows if e < 10000]
    eid2 = 20000
    conv2_rows = []
    for day in range(10):
        ts = dt.datetime(2024, 1, 1 + day)
        for u in range(day * 40, (day + 1) * 40):
            if vm[u] == 1:
                conv2_rows.append((eid2, ts, u, 1.0))
                eid2 += 1
    df2 = spark.createDataFrame(
        rows2 + conv2_rows,
        "event_id long, ts timestamp, user_id long, value double")
    conv2 = df2.withColumn(
        "event_type",
        F.when(F.col("event_id") >= 20000, "purchase").otherwise("view"))
    out2 = sequential_monitoring(conv2).collect()
    assert out2[-1].crossed == 1
    assert any(r.crossed == 1 and r.info_frac < 1.0 for r in out2)


# ---------------------------------------------------------------------------
# ols_two_feature: closed-form normal equations vs a numpy lstsq oracle
# ---------------------------------------------------------------------------

def test_ols_two_feature_matches_numpy(spark, sf_dir):
    import numpy as np
    import pytest
    from openedx_event_sink_clickhouse_spark.operators.experiment import (
        ols_two_feature)
    from openedx_event_sink_clickhouse_spark.sources.tables import load_table
    ev = load_table(spark, "events", sf_dir)
    rows = ev.select("event_type", "ts", "value").collect()
    got = {r["event_type"]: r for r in ols_two_feature(ev).collect()}
    by_type: dict = {}
    for r in rows:
        if r["value"] is None:
            continue
        # mirror the operator's DECIMAL(18,6) target quantization
        y = round(r["value"], 6)
        by_type.setdefault(r["event_type"], []).append(
            (r["ts"].hour, r["ts"].day, y))
    assert set(got) == set(by_type)
    for et, pts in by_type.items():
        x = np.array([[1.0, p[0], p[1]] for p in pts])
        y = np.array([p[2] for p in pts])
        beta, *_ = np.linalg.lstsq(x, y, rcond=None)
        assert got[et]["n"] == len(pts)
        assert got[et]["beta0"] == pytest.approx(beta[0], abs=1e-5)
        assert got[et]["beta1"] == pytest.approx(beta[1], abs=1e-5)
        assert got[et]["beta2"] == pytest.approx(beta[2], abs=1e-5)
        pred = x @ beta
        ss_res = float(((y - pred) ** 2).sum())
        ss_tot = float(((y - y.mean()) ** 2).sum())
        assert got[et]["r2"] == pytest.approx(1 - ss_res / ss_tot, abs=1e-6)


def test_ols_two_feature_degenerate_group_yields_nulls(spark):
    import datetime as dt
    from openedx_event_sink_clickhouse_spark.operators.experiment import (
        ols_two_feature)
    # every event at the same hour AND day -> zero feature variance ->
    # det == 0 -> NULL betas/r2, never a divide blow-up
    t0 = dt.datetime(2024, 1, 5, 9, 0, 0)
    df = spark.createDataFrame(
        [(i, t0, "click", float(i)) for i in range(10)],
        ["event_id", "ts", "event_type", "value"])
    row = ols_two_feature(df).collect()[0]
    assert row["n"] == 10
    assert row["beta0"] is None and row["beta1"] is None
    assert row["beta2"] is None and row["r2"] is None


def test_did_readout_matches_numpy(spark, sf_dir):
    import numpy as np
    import pytest
    from openedx_event_sink_clickhouse_spark.operators.experiment import (
        assign_variant, did_readout)
    from openedx_event_sink_clickhouse_spark.sources.tables import load_table
    cutoff = dt.datetime(2024, 1, 15)
    ev = load_table(spark, "events", sf_dir)
    row = did_readout(ev, cutoff).collect()[0]
    tagged = ev.filter(F.col("user_id").isNotNull()
                       & F.col("value").isNotNull()).select(
        assign_variant(F.col("user_id")).alias("vr"), "ts", "value")
    cells: dict = {t: [] for t in ("00", "01", "10", "11")}
    for r in tagged.collect():
        t = f"{r['vr']}{int(r['ts'] >= cutoff)}"
        cells[t].append(round(r["value"], 6))
    names = {"00": "control_pre", "01": "control_post",
             "10": "treat_pre", "11": "treat_post"}
    ms, vs = {}, {}
    for t, xs in cells.items():
        a = np.array(xs)
        assert row[f"n_{names[t]}"] == len(a)
        assert row[f"mean_{names[t]}"] == pytest.approx(a.mean(), abs=1e-6)
        ms[t], vs[t] = a.mean(), a.var(ddof=1)
    did = (ms["11"] - ms["10"]) - (ms["01"] - ms["00"])
    se = float(np.sqrt(sum(vs[t] / len(cells[t]) for t in cells)))
    assert row["did"] == pytest.approx(did, abs=1e-6)
    assert row["se"] == pytest.approx(se, abs=1e-6)
    assert row["z"] == pytest.approx(did / se, abs=1e-4)


def test_did_readout_degenerate_cells(spark):
    from openedx_event_sink_clickhouse_spark.operators.experiment import (
        did_readout)
    # one lonely user -> at most one variant occupied; empty cells must
    # NULL the did/se/z, never divide by zero
    t0 = dt.datetime(2024, 1, 10)
    df = spark.createDataFrame([(1, t0, 5.0)], ["user_id", "ts", "value"])
    row = did_readout(df, dt.datetime(2024, 1, 15)).collect()[0]
    assert row["did"] is None and row["se"] is None and row["z"] is None
    assert (row["n_control_pre"] + row["n_treat_pre"]) == 1
