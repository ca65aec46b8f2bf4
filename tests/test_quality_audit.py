"""Data-quality audit operators: referential integrity, reconciliation,
uniqueness. Semantics pinned against hand-built micro-fixtures (the
registry queries pin the real-table shapes against the DuckDB oracle)."""
from __future__ import annotations

from pyspark.sql import functions as F

from openedx_event_sink_clickhouse_spark.operators.quality_audit import (
    reconcile_order_totals, referential_audit, uniqueness_audit)


def test_referential_audit_counts_orphans_and_nulls(spark):
    child = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 99), (4, None)], "id long, fk long")
    parent = spark.createDataFrame([(10,), (20,)], "pk long")
    got = referential_audit([("child.fk->parent", child, "fk",
                              parent, "pk")]).collect()
    assert len(got) == 1
    r = got[0]
    # orphan 99 + NULL fk both count as violations
    assert (r.edge, r.n_orphans, r.n_child_rows) == ("child.fk->parent", 2, 4)
    assert r.orphan_share == 0.5


def test_referential_audit_multiple_edges_union(spark):
    a = spark.createDataFrame([(1, 1)], "id long, fk long")
    p = spark.createDataFrame([(1,)], "pk long")
    q = spark.createDataFrame([(2,)], "pk long")
    got = {r.edge: r.n_orphans for r in referential_audit(
        [("a->p", a, "fk", p, "pk"), ("a->q", a, "fk", q, "pk")]).collect()}
    assert got == {"a->p": 0, "a->q": 1}


def test_reconcile_flags_mismatch_and_missing_lines(spark):
    orders = spark.createDataFrame(
        [(1, 100.0), (2, 55.0), (3, 10.0)],
        "o_orderkey long, o_totalprice double")
    # order 1 reconciles exactly; order 2 is off by 5; order 3 has no lines
    li = spark.createDataFrame(
        [(1, 100.0, 0.0, 0.0), (2, 50.0, 0.0, 0.0)],
        "l_orderkey long, l_extendedprice double, l_discount double, "
        "l_tax double")
    got = {r.o_orderkey: r for r in
           reconcile_order_totals(orders, li).collect()}
    assert set(got) == {2, 3}
    assert got[2].status == "mismatch" and got[2].abs_diff == 5.0
    assert got[3].status == "no_lineitems" and got[3].abs_diff is None


def test_reconcile_top_n_orders_missing_lines_first(spark):
    orders = spark.createDataFrame(
        [(1, 100.0), (2, 50.0), (3, 10.0), (4, 200.0)],
        "o_orderkey long, o_totalprice double")
    li = spark.createDataFrame(
        [(1, 90.0, 0.0, 0.0), (2, 20.0, 0.0, 0.0)],
        "l_orderkey long, l_extendedprice double, l_discount double, "
        "l_tax double")
    got = [r.o_orderkey for r in
           reconcile_order_totals(orders, li, top_n=3).collect()]
    # detail-less orders (3, 4 — keyed ascending) precede the mismatches,
    # which sort by diff desc: order 2 (30) before order 1 (10)
    assert got == [3, 4, 2]


def test_reconcile_respects_tolerance(spark):
    orders = spark.createDataFrame([(1, 100.005)],
                                   "o_orderkey long, o_totalprice double")
    li = spark.createDataFrame(
        [(1, 100.0, 0.0, 0.0)],
        "l_orderkey long, l_extendedprice double, l_discount double, "
        "l_tax double")
    assert reconcile_order_totals(orders, li).count() == 0
    assert reconcile_order_totals(orders, li,
                                  tolerance=0.001).count() == 1


def test_uniqueness_audit_reports_only_violations(spark):
    df = spark.createDataFrame(
        [(1, 1, "a"), (1, 1, "b"), (1, 2, "c"), (2, 1, "d")],
        "k1 long, k2 long, payload string")
    got = uniqueness_audit(df, ["k1", "k2"], "t").collect()
    assert len(got) == 1
    assert (got[0].table, got[0].key, got[0].n_rows) == ("t", "1|1", 2)
    clean = df.filter(F.col("payload") != "b")
    assert uniqueness_audit(clean, ["k1", "k2"], "t").count() == 0


def test_uniqueness_audit_no_rendered_key_collisions(spark):
    # Distinct tuples whose string renderings collide must NOT merge:
    # ('a|b','c') vs ('a','b|c') are different keys, and (1,NULL) is not
    # (1,)-with-a-skipped-component. Grouping is on the actual columns.
    df = spark.createDataFrame(
        [("a|b", "c"), ("a", "b|c"), ("a|b", "c")], "k1 string, k2 string")
    got = uniqueness_audit(df, ["k1", "k2"], "t").collect()
    assert len(got) == 1 and got[0].key == "a|b|c" and got[0].n_rows == 2

    # NULL components: groups stay distinct (NULL==NULL for grouping);
    # the rendered key is NULL (|| semantics), never a silent skip.
    dfn = spark.createDataFrame(
        [(1, None), (1, None), (1, 2), (1, 2), (3, 4)],
        "k1 long, k2 long")
    rows = sorted(uniqueness_audit(dfn, ["k1", "k2"], "t").collect(),
                  key=lambda r: (r.key is None, r.key))
    assert [(r.key, r.n_rows) for r in rows] == [("1|2", 2), (None, 2)]


def test_schema_drift_flags_null_and_cardinality_shifts(spark):
    from datetime import datetime as dt
    rows = [
        # pre slice: 4 rows, no nulls, 2 distinct types
        (1, dt(2024, 1, 1), "a", 10), (2, dt(2024, 1, 1), "b", 11),
        (3, dt(2024, 1, 2), "a", 12), (4, dt(2024, 1, 2), "b", 13),
        # post slice: a field going NULL and the enum collapsing to 1
        (5, dt(2024, 2, 1), "a", None), (6, dt(2024, 2, 1), "a", None),
        (7, dt(2024, 2, 2), None, 14), (8, dt(2024, 2, 2), "a", 15),
    ]
    df = spark.createDataFrame(
        rows, "id long, ts timestamp, kind string, v long")
    from openedx_event_sink_clickhouse_spark.operators.quality_audit import (
        schema_drift)
    pre = F.col("ts") < F.lit("2024-01-15").cast("timestamp")
    got = {r.column: r for r in
           schema_drift(df, pre, ["kind", "v"]).collect()}
    assert set(got) == {"kind", "v"}
    k = got["kind"]
    assert (k.pre_rows, k.post_rows) == (4, 4)
    assert k.pre_null_share == 0.0 and k.post_null_share == 0.25
    assert k.pre_distinct == 2 and k.post_distinct == 1
    assert k.distinct_ratio == 0.5
    v = got["v"]
    assert v.post_null_share == 0.5 and v.pre_distinct == 4
    # single scan: exactly one source node in the plan (the multiple
    # count-distinct slices ride one Expand over the same scan)
    plan = schema_drift(df, pre, ["kind", "v"]) \
        ._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("LogicalRDD") + plan.count("Relation") == 1, plan


def test_schema_drift_empty_slice_reports_null_not_error(spark):
    from datetime import datetime as dt

    from openedx_event_sink_clickhouse_spark.operators.quality_audit import (
        schema_drift)
    df = spark.createDataFrame(
        [(1, dt(2024, 1, 1), "a")], "id long, ts timestamp, kind string")
    # every row lands in the pre slice: post shares must be NULL (not a
    # divide-by-zero), pre shares still real
    pre = F.col("ts") < F.lit("2024-06-01").cast("timestamp")
    r = schema_drift(df, pre, ["kind"]).collect()[0]
    assert (r.pre_rows, r.post_rows) == (1, 0)
    assert r.pre_null_share == 0.0
    assert r.post_null_share is None      # 0-row slice: share undefined
    assert r.distinct_ratio == 0.0        # 0 of 1 pre-distinct values
    # and the mirror case: empty PRE slice leaves the ratio undefined
    pre2 = F.col("ts") < F.lit("2020-01-01").cast("timestamp")
    r2 = schema_drift(df, pre2, ["kind"]).collect()[0]
    assert r2.pre_null_share is None and r2.distinct_ratio is None
    assert r2.post_null_share == 0.0


def test_referential_audit_one_scan_per_fact_table(spark):
    # Five edges over three fact tables must plan exactly THREE source
    # scans (lineitem's three FK edges fuse onto one pass) plus the
    # parents' dim scans — the audit's core 100 TB claim.
    li = spark.createDataFrame([(1, 1, 1)], "a long, b long, c long")
    ev = spark.createDataFrame([(1,)], "u long")
    p1 = spark.createDataFrame([(1,)], "k long")
    rep = referential_audit([
        ("li.a", li, "a", p1, "k"), ("li.b", li, "b", p1, "k"),
        ("li.c", li, "c", p1, "k"), ("ev.u", ev, "u", p1, "k")])
    plan = rep._jdf.queryExecution().optimizedPlan().toString()
    # sources: li once, ev once, p1 once per edge (4, dim-sized) = 6
    assert plan.count("LogicalRDD") + plan.count("Relation") == 6, plan
    rows = {r.edge for r in rep.collect()}
    assert rows == {"li.a", "li.b", "li.c", "ev.u"}


def test_snapshot_diff_statuses_and_null_safety(spark):
    from openedx_event_sink_clickhouse_spark.operators.quality_audit import (
        snapshot_diff)

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", None),
         (4, "d", 40.0), (5, None, 50.0)],
        "k long, s string, v double")
    new = spark.createDataFrame(
        [(1, "a", 10.0),            # identical -> NOT emitted
         (2, "B", 20.0),            # changed s
         (3, "c", 30.0),            # NULL -> value: changed v
         (5, None, 50.0),           # NULL == NULL under eqNullSafe
         (6, "f", 60.0)],           # added
        "k long, s string, v double")
    got = {r.k: r for r in snapshot_diff(old, new, ["k"]).collect()}
    assert set(got) == {2, 3, 4, 6}
    assert (got[2].status, got[2].changed_cols) == ("changed", "s")
    assert (got[3].status, got[3].changed_cols) == ("changed", "v")
    assert got[4].status == "removed"
    assert got[6].status == "added"
    # compare_cols defaults to the SHARED non-key columns: drift-added
    # columns in one snapshot must narrow, not crash
    new2 = new.withColumn("extra", new.v * 2)
    got2 = snapshot_diff(old, new2, ["k"])
    assert set(r.k for r in got2.collect()) == {2, 3, 4, 6}


def test_benford_audit_passes_powers_and_flags_uniform(spark):
    from openedx_event_sink_clickhouse_spark.operators.quality_audit import (
        benford_audit)
    # powers of 2 are a classic Benford-conforming sequence
    pw = spark.createDataFrame([(float(2 ** k),) for k in range(1, 250)],
                               "v double")
    rows = benford_audit(pw, "v").collect()
    assert [r.digit for r in rows] == list(range(1, 10))
    assert rows[0].benford_flag == 0
    assert abs(sum(r.observed_share for r in rows) - 1.0) < 1e-4
    # digit-1-only data is maximally non-Benford
    uni = spark.createDataFrame([(1000.0 + i,) for i in range(500)],
                                "v double")
    rows = benford_audit(uni, "v").collect()
    assert rows[0].benford_flag == 1
    assert rows[0].observed_share == 1.0
    assert rows[8].n_rows == 0
    # zero/NULL excluded, negatives take |v|
    mix = spark.createDataFrame([(0.0,), (None,), (-200.0,)], "v double")
    got = {r.digit: r.n_rows for r in benford_audit(mix, "v").collect()}
    assert got[2] == 1 and sum(got.values()) == 1


def test_psi_drift_detects_shift_and_stays_quiet_on_none(spark):
    from openedx_event_sink_clickhouse_spark.operators.quality_audit import (
        psi_drift)
    from pyspark.sql import functions as F
    import math
    # identical slices -> PSI ~ 0 (exactly 0 with equal counts/smoothing)
    same = spark.createDataFrame(
        [(float(i % 100), i % 2) for i in range(2000)], "v double, s int")
    out = psi_drift(same, "v", F.col("s") == 1, 0.0, 100.0).collect()
    assert all(r.verdict == "stable" for r in out)
    assert abs(out[0].psi) < 1e-9
    # mass moved from low to high buckets -> action
    rows = ([(float(i % 40), 1) for i in range(1000)]
            + [(60.0 + (i % 40), 0) for i in range(1000)])
    drift = spark.createDataFrame(rows, "v double, s int")
    out = psi_drift(drift, "v", F.col("s") == 1, 0.0, 100.0).collect()
    assert out[0].psi > 0.25
    assert all(r.verdict == "action" for r in out)
    # hand-check one bucket's contribution formula
    r0 = next(r for r in out if r.bucket == 0)
    n_buckets = len(out)
    p = (r0.n_ref + 0.5) / (1000 + 0.5 * n_buckets)
    q = (r0.n_cmp + 0.5) / (1000 + 0.5 * n_buckets)
    assert abs(r0.psi_contrib - round((p - q) * math.log(p / q), 6)) < 1e-6


def test_expectation_suite_one_pass_and_null_counts_as_violation(spark):
    from openedx_event_sink_clickhouse_spark.operators.quality_audit import (
        expectation_suite)
    from pyspark.sql import functions as F
    df = spark.createDataFrame(
        [(1, 10.0, "A"), (2, -1.0, "B"), (3, None, "A"), (None, 5.0, "C")],
        "id long, v double, s string")
    out = {r.expectation: r for r in expectation_suite(df, [
        ("id_not_null", F.col("id").isNotNull()),
        ("v_positive", F.col("v") > 0),          # NULL v must violate
        ("s_in_domain", F.col("s").isin("A", "B")),
    ]).collect()}
    assert out["id_not_null"].n_violations == 1
    assert out["v_positive"].n_violations == 2   # -1.0 AND the NULL
    assert out["s_in_domain"].n_violations == 1
    assert all(r.n_rows == 4 for r in out.values())
    assert out["v_positive"].passed == 0
    assert out["v_positive"].violation_share == 0.5
    # one pass: a single scan feeds every expectation
    plan = expectation_suite(df, [
        ("a", F.col("id").isNotNull()), ("b", F.col("v") > 0),
    ])._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan") <= 1


def test_partition_completeness_flags_holes(spark):
    # Three hourly partitions on day 1 (global range starts 00:00, so a
    # full 24 expected), a WHOLE missing day 2 (expected 24, observed 0
    # -- the spine must still emit it), and one hour on day 3 (global
    # range ends 07:00 -> boundary-clipped to 8 expected).
    import datetime
    from openedx_event_sink_clickhouse_spark.operators.quality_audit import (
        partition_completeness)
    t = datetime.datetime
    rows = [(1, t(2024, 3, 1, 0, 5)), (2, t(2024, 3, 1, 1, 10)),
            (3, t(2024, 3, 1, 5, 59)), (4, t(2024, 3, 3, 7, 30))]
    ev = spark.createDataFrame(rows, ["event_id", "ts"])
    out = {str(r.day): r for r in partition_completeness(ev).collect()}
    assert len(out) == 3
    d1, d2, d3 = out["2024-03-01"], out["2024-03-02"], out["2024-03-03"]
    # day 1: global lo is 00:00, so no clip -> 24 expected, 3 observed
    assert (d1.expected_hours, d1.observed_hours, d1.missing_hours) == (24, 3, 21)
    # day 2: interior day, full 24 expected, total hole
    assert (d2.expected_hours, d2.observed_hours, d2.completeness) == (24, 0, 0.0)
    # day 3: clipped to [00:00, 07:00] -> 8 expected, 1 observed
    assert (d3.expected_hours, d3.observed_hours) == (8, 1)


def test_l_diversity_flags_homogeneous_class(spark):
    # Class A: 4 rows, all sensitive='x' -> n_sensitive=1, violates,
    # majority share 1.0. Class B: 3 rows, 3 distinct -> passes l=3.
    from openedx_event_sink_clickhouse_spark.operators.quality_audit import (
        l_diversity_audit)
    rows = [("A", "x")] * 4 + [("B", "x"), ("B", "y"), ("B", "z")]
    df = spark.createDataFrame(rows, ["qi", "sens"])
    out = {r.qi: r for r in
           l_diversity_audit(df, ["qi"], "sens").collect()}
    a, b = out["A"], out["B"]
    assert (a.class_size, a.n_sensitive, a.violates_l) == (4, 1, 1)
    assert a.majority_share == 1.0
    assert (b.n_sensitive, b.violates_l) == (3, 0)
    assert abs(b.majority_share - 1 / 3) < 1e-6


def test_bounded_contribution_caps_hyperactive_user(spark):
    # User 1 fires 100 events, users 2-4 one each: capped count is
    # 5 + 3 = 8 and the removed-mass share reflects the bot's excess.
    rows = [("click", 1)] * 100 + [("click", u) for u in (2, 3, 4)]
    df = spark.createDataFrame(rows, ["event_type", "user_id"])
    from openedx_event_sink_clickhouse_spark.operators.quality_audit import (
        bounded_contribution_counts)
    r = bounded_contribution_counts(df, "event_type").collect()[0]
    assert (r.raw_count, r.capped_count) == (103, 8)
    assert (r.n_users, r.n_capped_users) == (4, 1)
    assert abs(r.mass_removed - 95 / 103) < 1e-6


def test_dp_release_noise_distribution_and_determinism(spark, sf_dir):
    import math
    from openedx_event_sink_clickhouse_spark.functions.hashes import (
        md5_hash32)
    from openedx_event_sink_clickhouse_spark.operators.quality_audit import (
        dp_laplace_release)
    from openedx_event_sink_clickhouse_spark.sources.tables import load_table
    ev = load_table(spark, "events", sf_dir)
    out = {r["event_type"]: r for r in
           dp_laplace_release(ev, epsilon=1.0).collect()}
    # reproduce one group's noise by hand from the md5 uniform
    import hashlib
    for et, r in out.items():
        h = int(hashlib.md5(f"dp#{et}".encode()).hexdigest()[:8], 16)
        u = (h + 0.5) / 4294967296.0
        want = r["capped_count"] + (-5.0) * math.copysign(1.0, u - 0.5) \
            * math.log(1.0 - 2.0 * abs(u - 0.5))
        assert r["noisy_count"] == round(want, 6), et
        assert r["sensitivity"] == 5.0 and r["epsilon"] == 1.0
    # deterministic across reruns
    again = {r["event_type"]: r["noisy_count"]
             for r in dp_laplace_release(ev, epsilon=1.0).collect()}
    assert again == {k: v["noisy_count"] for k, v in out.items()}


def test_dp_release_epsilon_scales_noise(spark, sf_dir):
    from openedx_event_sink_clickhouse_spark.operators.quality_audit import (
        dp_laplace_release)
    from openedx_event_sink_clickhouse_spark.sources.tables import load_table
    ev = load_table(spark, "events", sf_dir)
    tight = {r["event_type"]: r for r in
             dp_laplace_release(ev, epsilon=10.0).collect()}
    loose = {r["event_type"]: r for r in
             dp_laplace_release(ev, epsilon=0.1).collect()}
    for et in tight:
        noise_tight = abs(tight[et]["noisy_count"] - tight[et]["capped_count"])
        noise_loose = abs(loose[et]["noisy_count"] - loose[et]["capped_count"])
        # same uniform, scale b differs by exactly 100x
        assert abs(noise_loose - 100.0 * noise_tight) < 1e-3, et
