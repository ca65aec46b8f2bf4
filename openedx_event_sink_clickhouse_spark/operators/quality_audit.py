"""Data-quality audits: referential integrity and cross-table
reconciliation.

The reference engine's quality story is ingest-side (error-tolerant
inserts, `base_sink.py`'s tolerance params — see sources/tolerant.py for
that parity); once data is AT REST the questions become set-oriented:
which foreign keys dangle, which book totals disagree with their detail
rows, which keys violate uniqueness. At 100 TB these are anti-joins and
one-pass aggregates — exactly what a warehouse does well — so the
operators here are thin declarative compositions whose value is the
REPORT SHAPE (stable, hash-checkable, dashboard-ready) and the plan
shape (dims broadcast, facts scanned once per audited edge).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def referential_audit(edges: list[tuple[str, DataFrame, str, DataFrame, str]]
                      ) -> DataFrame:
    """Orphan-count report over a list of foreign-key edges. Each edge is
    ``(edge_name, child_df, child_key, parent_df, parent_key)``; the
    result has one row per edge: (edge, n_orphans, n_child_rows,
    orphan_share). An orphan is a child row whose key has no parent —
    NULL child keys count as orphans too (a dangling reference and a
    missing one are both integrity violations; they are not split out
    because a NULL can never join).

    Plan: edges sharing a child DataFrame fuse into ONE pass over that
    fact table — every parent's (broadcast, distinct) key set LEFT-joins
    onto the same scan and a single aggregate counts all of that
    child's edges at once — so the audit costs exactly one scan per
    audited fact table, not per edge (a fact like lineitem typically
    carries several FKs). Broadcast left joins against dim-sized key
    sets are map-side; the facts never shuffle.
    """
    by_child: dict[int, list[int]] = {}
    for i, e in enumerate(edges):
        by_child.setdefault(id(e[1]), []).append(i)
    parts = []
    for idxs in by_child.values():
        child = edges[idxs[0]][1]
        cur = child.select(
            *[F.col(edges[i][2]).alias(f"_k{i}") for i in idxs])
        for i in idxs:
            parent, parent_key = edges[i][3], edges[i][4]
            pk = parent.select(F.col(parent_key).alias(f"_p{i}")).distinct()
            cur = cur.join(F.broadcast(pk),
                           cur[f"_k{i}"] == pk[f"_p{i}"], "left")
        aggs = [F.count("*").alias("_n")]
        aggs += [F.count(F.when(F.col(f"_p{i}").isNull(), 1))
                 .alias(f"_o{i}") for i in idxs]
        # All of this child's edge rows inline-explode from the ONE
        # 1-row aggregate — per-edge selects over the same agg frame
        # would re-run the scan once per union branch (Spark does not
        # CSE across union arms).
        parts.append(cur.agg(*aggs).select(F.inline(F.array(*[
            F.struct(
                F.lit(edges[i][0]).alias("edge"),
                F.col(f"_o{i}").alias("n_orphans"),
                F.col("_n").alias("n_child_rows"),
                (F.col(f"_o{i}").cast("double") / F.col("_n"))
                .alias("orphan_share"))
            for i in idxs]))))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def reconcile_order_totals(orders: DataFrame, lineitem: DataFrame,
                           tolerance: float = 0.01,
                           top_n: int | None = None) -> DataFrame:
    """Book-vs-detail reconciliation: recompute each order's total from
    its line items (TPC-H invariant: Σ extendedprice·(1-discount)·(1+tax))
    and compare against the stored ``o_totalprice``. Returns one row per
    order that FAILS reconciliation:
    (o_orderkey, o_totalprice, recomputed_total, abs_diff, status) where
    status is ``'no_lineitems'`` (book total with no detail rows) or
    ``'mismatch'`` (difference above ``tolerance``). When ``top_n`` cuts
    the report, detail-less orders sort first (the severest violation —
    the book asserts revenue with zero supporting rows), then largest
    differences, then order key, so the cut is a total order.

    Plan: the lineitem scan reduces to one row per order BEFORE the
    join (map-side partial sum — the shuffle carries per-order partials,
    never line items), then a single hash join against orders. At 100 TB
    both sides arrive bucketed by order key in a real layout and the
    join is co-located; here AQE picks the strategy. The recomputed sum
    is rounded to 2 decimals (money) so the report — and its hash — is
    engine-stable; the mismatch PREDICATE compares the rounded value,
    consistently in both engines.
    """
    # The per-line term goes through DECIMAL(18,6) before summing:
    # decimal addition is exact and order-independent, so the recomputed
    # total is identical under ANY partitioning or engine — a plain
    # double sum can land on either side of a .005 rounding boundary
    # depending on addition order (observed on the revenue twin).
    term = (F.col("l_extendedprice")
            * (F.lit(1.0) - F.col("l_discount"))
            * (F.lit(1.0) + F.col("l_tax"))).cast("decimal(18,6)")
    detail = (lineitem.groupBy("l_orderkey")
              .agg(F.round(F.sum(term), 2).cast("double")
                   .alias("recomputed_total")))
    joined = (orders.select("o_orderkey", "o_totalprice")
              .join(detail, orders["o_orderkey"] == detail["l_orderkey"],
                    "left")
              .drop("l_orderkey"))
    bad = joined.filter(
        F.col("recomputed_total").isNull()
        | (F.abs(F.col("recomputed_total") - F.col("o_totalprice"))
           > F.lit(tolerance)))
    report = bad.select(
        "o_orderkey", "o_totalprice",
        "recomputed_total",
        F.when(F.col("recomputed_total").isNull(), F.lit(None))
         .otherwise(F.round(F.abs(F.col("recomputed_total")
                                  - F.col("o_totalprice")), 2))
         .alias("abs_diff"),
        F.when(F.col("recomputed_total").isNull(), F.lit("no_lineitems"))
         .otherwise(F.lit("mismatch")).alias("status"))
    if top_n is not None:
        report = report.orderBy(F.desc_nulls_first("abs_diff"),
                                "o_orderkey").limit(top_n)
    return report


def uniqueness_audit(df: DataFrame, key_cols: list[str],
                     table_name: str) -> DataFrame:
    """Primary-key uniqueness check: one row per duplicated key value:
    (table, key, n_rows). The key renders as a string so reports over
    different tables union into one feed. One map-side-partial groupBy;
    only keys with n_rows > 1 survive, so the output is empty on clean
    data — which is itself a meaningful, hash-checkable report.

    Grouping is on the ACTUAL key columns, never a pre-concatenated
    string: string-rendered tuples collide — ('a|b','c') vs ('a','b|c')
    — and a skipped NULL component would merge (1,NULL) with (1,),
    reporting false duplicates. The display key is rendered AFTER the
    aggregate with null-propagating ``concat`` (SQL ``||`` semantics: a
    NULL component nulls the whole rendered key, while the group stays
    distinct), so the report matches what ``col1 || '|' || col2`` would
    show."""
    parts: list = []
    for i, c in enumerate(key_cols):
        if i:
            parts.append(F.lit("|"))
        parts.append(F.col(c).cast("string"))
    key = parts[0] if len(parts) == 1 else F.concat(*parts)
    return (df.groupBy(*key_cols)
            .agg(F.count("*").alias("n_rows"))
            .filter(F.col("n_rows") > 1)
            .select(F.lit(table_name).alias("table"), key.alias("key"),
                    "n_rows"))


def schema_drift(df: DataFrame, slice_pred, columns: list[str],
                 ) -> DataFrame:
    """Two-slice column-drift report: for each column, compare the rows
    where ``slice_pred`` holds (the "pre" slice — e.g. last week) with
    the rest ("post"). Returns one row per column:
    (column, pre_rows, post_rows, pre_null_share, post_null_share,
    pre_distinct, post_distinct, distinct_ratio) — the ingest-monitoring
    check that catches a upstream schema/semantics change (a field going
    NULL, an enum collapsing, an id column's cardinality jumping) before
    it poisons downstream tables.

    Plan: ONE scan — every per-column, per-slice statistic is a
    conditional aggregate in a single HashAggregate (map-side partial),
    and the per-column report rows inline-explode from the one agg row
    (the referential_audit move). Never one scan per column."""
    pre = slice_pred
    aggs = [F.count(F.when(pre, 1)).alias("_npre"),
            F.count(F.when(~pre, 1)).alias("_npost")]
    for c in columns:
        col = F.col(c)
        aggs += [
            F.count(F.when(pre & col.isNull(), 1)).alias(f"_pn_{c}"),
            F.count(F.when(~pre & col.isNull(), 1)).alias(f"_qn_{c}"),
            F.count_distinct(F.when(pre, col)).alias(f"_pd_{c}"),
            F.count_distinct(F.when(~pre, col)).alias(f"_qd_{c}"),
        ]
    row = df.agg(*aggs)

    # An EMPTY slice (all data on one side of the cutoff — the day-one
    # deployment case) must report NULL shares/ratios, not divide by
    # zero (an ANSI-mode runtime error).
    def _share(num: str, den: str):
        # raw single division of exact counts (no round(double) — the
        # r10 half-boundary class)
        return F.when(F.col(den) > 0,
                      F.col(num).cast("double") / F.col(den))

    structs = [F.struct(
        F.lit(c).alias("column"),
        F.col("_npre").alias("pre_rows"),
        F.col("_npost").alias("post_rows"),
        _share(f"_pn_{c}", "_npre").alias("pre_null_share"),
        _share(f"_qn_{c}", "_npost").alias("post_null_share"),
        F.col(f"_pd_{c}").alias("pre_distinct"),
        F.col(f"_qd_{c}").alias("post_distinct"),
        _share(f"_qd_{c}", f"_pd_{c}").alias("distinct_ratio"))
        for c in columns]
    return row.select(F.inline(F.array(*structs)))


def snapshot_diff(old: DataFrame, new: DataFrame,
                  key_cols: list[str]) -> DataFrame:
    """Row-level diff between two snapshots of one table — the CDC /
    data-versioning audit (what changed between yesterday's load and
    today's): one row per differing key with status
    ``added`` (key only in new), ``removed`` (only in old), or
    ``changed`` (present in both, any compared column differs).
    Identical rows are NOT emitted — the diff is O(churn), not O(table).

    Plan: ONE full outer join on the key (the unavoidable shuffle, on
    both sides' natural key — co-located for bucketed snapshots), with
    the change test as a null-safe column comparison (`eqNullSafe`, so
    NULL→value and value→NULL count as changes) — no row-hash
    materialization, no second pass. The compared columns are every
    non-key column shared by both schemas, so schema drift in either
    snapshot narrows the comparison instead of crashing it (pair with
    :func:`schema_drift` to audit the drift itself)."""
    shared = [c for c in old.columns if c in set(new.columns)]
    compare_cols = [c for c in shared if c not in set(key_cols)]
    o = old.select(*key_cols, *compare_cols).alias("o")
    n = new.select(*key_cols, *compare_cols).alias("n")
    cond = None
    for k in key_cols:
        eq = F.col(f"o.{k}") == F.col(f"n.{k}")
        cond = eq if cond is None else cond & eq
    in_old = F.col(f"o.{key_cols[0]}").isNotNull()
    in_new = F.col(f"n.{key_cols[0]}").isNotNull()
    same = None
    for c in compare_cols:
        eq = F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
        same = eq if same is None else same & eq
    status = (F.when(~in_old, F.lit("added"))
              .when(~in_new, F.lit("removed"))
              .otherwise(F.lit("changed")))
    out_keys = [F.coalesce(F.col(f"o.{k}"), F.col(f"n.{k}")).alias(k)
                for k in key_cols]
    changed_cols = F.array_compact(F.array(*[
        F.when(in_old & in_new
               & ~F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}")), F.lit(c))
        for c in compare_cols])) if compare_cols else F.array()
    return (o.join(n, cond, "full_outer")
            .filter(~in_old | ~in_new | ~(same if same is not None
                                          else F.lit(True)))
            .select(*out_keys, status.alias("status"),
                    F.array_join(changed_cols, ",").alias("changed_cols")))


def k_anonymity_audit(df: DataFrame, qi_cols: list[str]) -> DataFrame:
    """k-anonymity audit over a set of quasi-identifier columns — the
    privacy/governance gate a dataset clears before release: every
    combination of quasi-identifier values must be shared by at least
    k = 5 rows, or an attacker who knows someone's QI tuple narrows them
    to < 5 candidates. Returns one row per observed QI combination:
    the equivalence-class size, a ``violates_k`` flag, and the
    re-identification risk (1 / class size). The dataset's k-anonymity
    level is ``min(class_size)`` over this report; the release decision
    is usually "suppress or generalize the violating classes".

    NULL is a QI value like any other here (groupBy treats NULLs as one
    class): an attacker can know a field is missing.

    Scale: one hash aggregate over the QI tuple — map-side partial, the
    exchange carries one row per equivalence class (≪ rows for any QI
    set coarse enough to be worth auditing). Skewed classes are
    EXPECTED (that's what passing the audit looks like) and harmless:
    count partials absorb them before the shuffle.
    """
    return (df.groupBy(*qi_cols)
            .agg(F.count("*").alias("class_size"))
            .select(*qi_cols,
                    F.col("class_size").cast("bigint").alias("class_size"),
                    (F.col("class_size") < 5).cast("int")
                    .alias("violates_k"),
                    # raw single division of an exact integer — bit-
                    # identical in any engine; round() would flip at
                    # class sizes whose 1e6/n is a half-integer (e.g.
                    # 128, 640, 3200 — the r10 driver-red class)
                    (F.lit(1.0) / F.col("class_size").cast("double"))
                    .alias("reident_risk")))


def benford_audit(df: DataFrame, value_col: str) -> DataFrame:
    """Benford's-law first-significant-digit audit — the forensic
    screen for fabricated or systematically manipulated numeric columns
    (naturally-grown magnitudes follow P(d) = log10(1 + 1/d); invented
    numbers rarely do). One row per digit 1-9: observed count/share,
    the Benford expectation, the whole-column Pearson chi-square and a
    flag (default critical value: chi2(8 dof) at 0.05 = 15.507) —
    repeated per row, srm_check's report convention.

    First digit = floor(v / 10^floor(log10(v))) on |v| > 0 (zero/NULL
    rows carry no leading digit and are excluded — audit completeness
    separately). Plan: one map-side digit expr + a 9-key groupBy; the
    chi-square folds over the 9-row frame. Expected shares are embedded
    as coordinator-computed literals, so both engines test against the
    identical expectation."""
    import math

    spark = df.sparkSession
    exp_rows = [(d, math.log10(1.0 + 1.0 / d)) for d in range(1, 10)]
    expected = spark.createDataFrame(exp_rows,
                                     "digit int, expected_share double")
    v = F.abs(F.col(value_col).cast("double"))
    digit = F.floor(v / F.pow(F.lit(10.0), F.floor(F.log10(v)))) \
             .cast("int")
    counts = (df.filter(v > 0).select(digit.alias("digit"))
              .groupBy("digit").agg(F.count("*").alias("n_rows")))
    j = (expected.join(counts, "digit", "left")
         .select("digit", F.coalesce("n_rows", F.lit(0)).alias("n_rows"),
                 "expected_share"))
    w = Window.partitionBy()
    total = F.sum("n_rows").over(w)
    exp_n = total.cast("double") * F.col("expected_share")
    chi2 = F.sum((F.col("n_rows") - exp_n) * (F.col("n_rows") - exp_n)
                 / exp_n).over(w)
    return (j.select(
        "digit", F.col("n_rows").cast("bigint").alias("n_rows"),
        (F.col("n_rows").cast("double") / total)
        .alias("observed_share"),
        F.round("expected_share", 6).alias("expected_share"),
        F.round(chi2, 6).alias("chi2"),
        (chi2 > 15.507).cast("int").alias("benford_flag"))
        .orderBy("digit"))


def psi_drift(df: DataFrame, value_col: str, slice_pred, lo: float,
              hi: float) -> DataFrame:
    """Population Stability Index between two slices of one column —
    the standard ML-ops drift monitor (PSI < 0.1 stable, 0.1–0.25
    drifting, > 0.25 action): bucket both slices on the same fixed
    grid (under/overflow cells included), smooth empty cells with a
    half-count so the log ratio is always finite, and fold
    ``Σ (p−q)·ln(p/q)``. One row per bucket with the per-bucket
    contribution plus the whole-column PSI and verdict repeated per row
    (the srm_check report convention). ``slice_pred`` is the Column
    predicate naming the REFERENCE slice; rows failing it are the
    comparison slice.

    One scan, one ≤ 12-key groupBy of conditional counts; the
    PSI fold runs over the bucket frame. NULLs are excluded from both
    slices (audit completeness separately). Laplace-style smoothing
    (count+0.5 per cell) keeps the statistic defined when a bucket
    empties on one side — the alternative, dropping the bucket, hides
    exactly the novel-mass drift PSI exists to flag."""
    v = F.col(value_col).cast("double")
    width = (hi - lo) / 10
    bucket = (F.when(v < lo, F.lit(-1))
              .when(v >= hi, F.lit(10))
              .otherwise(F.floor((v - lo) / width).cast("int")))
    counts = (df.filter(v.isNotNull())
              .select(bucket.alias("bucket"),
                      slice_pred.cast("int").alias("_ref"))
              .groupBy("bucket")
              .agg(F.sum("_ref").cast("long").alias("n_ref"),
                   F.sum(1 - F.col("_ref")).cast("long").alias("n_cmp")))
    w = Window.partitionBy()
    p = ((F.col("n_ref").cast("double") + 0.5)
         / (F.sum("n_ref").over(w).cast("double")
            + 0.5 * F.count(F.lit(1)).over(w).cast("double")))
    q = ((F.col("n_cmp").cast("double") + 0.5)
         / (F.sum("n_cmp").over(w).cast("double")
            + 0.5 * F.count(F.lit(1)).over(w).cast("double")))
    contrib = (p - q) * F.log(p / q)
    psi = F.sum(contrib).over(w)
    return (counts.select(
        "bucket", "n_ref", "n_cmp",
        F.round(contrib, 6).alias("psi_contrib"),
        F.round(psi, 6).alias("psi"),
        F.when(psi > 0.25, F.lit("action"))
         .when(psi > 0.1, F.lit("drifting"))
         .otherwise(F.lit("stable")).alias("verdict"))
        .orderBy("bucket"))


def expectation_suite(df: DataFrame,
                      expectations: list[tuple[str, "F.Column"]]) -> DataFrame:
    """Declarative data-contract audit: each expectation is
    ``(name, row_predicate)``; the report has one row per expectation
    with the violation count, violation share, and a pass flag — the
    Great-Expectations-style gate a dataset clears before publication,
    kept engine-side and hash-checkable.

    ONE aggregate pass evaluates every expectation simultaneously
    (conditional counts), then the per-expectation rows inline-explode
    from the single 1-row frame — the referential_audit fusion trick,
    so N expectations cost one table scan regardless of N. Predicates
    are ordinary Columns: membership, ranges, nullability, regexes —
    anything map-side. (Cross-row expectations — uniqueness,
    referential integrity — have their own one-pass operators:
    :func:`uniqueness_audit`, :func:`referential_audit`.) A predicate
    that evaluates to NULL (e.g. a range check on a NULL value) counts
    as a VIOLATION — three-valued logic must not let missing data slip
    through a contract whose whole job is catching it."""
    aggs = [F.count("*").alias("_n")]
    for i, (_, pred) in enumerate(expectations):
        aggs.append(F.sum((~F.coalesce(pred, F.lit(False)))
                          .cast("long")).alias(f"_v{i}"))
    row = df.agg(*aggs)
    structs = [F.struct(
        F.lit(name).alias("expectation"),
        F.col(f"_v{i}").alias("n_violations"),
        F.col("_n").alias("n_rows"),
        (F.col(f"_v{i}").cast("double") / F.col("_n"))
        .alias("violation_share"),
        (F.col(f"_v{i}") == 0).cast("int").alias("passed"))
        for i, (name, _) in enumerate(expectations)]
    return row.select(F.inline(F.array(*structs)))


def partition_completeness(events: DataFrame) -> DataFrame:
    """Ingest-completeness audit at hourly-partition grain: for every
    calendar day in the table's observed range, how many hourly
    partitions SHOULD exist (24 for interior days, clipped by the
    global first/last observed hour on the boundary days) vs how many
    actually hold rows — the freshness/backfill gate a 100 TB
    hour-partitioned event lake runs before promoting a day to
    consumers. A day the pipeline never wrote AT ALL still emits (the
    spine generates days, observation joins in) — silent whole-day
    holes are precisely what an observed-only groupBy cannot flag.
    Returns (day, expected_hours, observed_hours, missing_hours,
    completeness).

    Plan: one scan reduces events to the observed (day, hour) grid +
    one 1-row global-bounds aggregate; the day spine generates from the
    bounds and broadcast-joins both. All arithmetic is integer hours
    from epoch — no float until the final ratio."""
    hr = F.date_trunc("hour", F.col("ts"))
    obs = (events.select(hr.alias("_h")).distinct()
           .groupBy(F.to_date("_h").alias("day"))
           .agg(F.count("*").cast("long").alias("observed_hours")))
    bounds = events.agg(F.min(hr).alias("_lo"), F.max(hr).alias("_hi"))
    spine = bounds.select(
        "_lo", "_hi",
        F.explode(F.sequence(F.to_date("_lo"), F.to_date("_hi"),
                             F.expr("INTERVAL 1 DAY"))).alias("day"))
    day_start = F.col("day").cast("timestamp")
    day_last = F.to_timestamp(
        F.concat(F.col("day").cast("string"), F.lit(" 23:00:00")))
    lo_clip = F.greatest(day_start, F.col("_lo"))
    hi_clip = F.least(day_last, F.col("_hi"))
    expected = ((F.unix_timestamp(hi_clip) - F.unix_timestamp(lo_clip))
                / F.lit(3600) + F.lit(1)).cast("long")
    exp = spine.select("day", expected.alias("expected_hours"))
    return (exp.join(obs, "day", "left")
            .select("day", "expected_hours",
                    F.coalesce("observed_hours", F.lit(0)).cast("long")
                    .alias("observed_hours"))
            .withColumn("missing_hours",
                        F.col("expected_hours") - F.col("observed_hours"))
            .withColumn("completeness",
                        F.round(F.col("observed_hours").cast("double")
                                / F.col("expected_hours"), 6)))


def l_diversity_audit(df: DataFrame, qi_cols: list[str],
                      sensitive_col: str) -> DataFrame:
    """l-diversity audit (l = 3) — the companion gate to
    :func:`k_anonymity_audit` that k-anonymity alone cannot provide: a
    class of 50 records is k-anonymous but leaks completely if all 50
    share one sensitive value (the homogeneity attack). Per
    quasi-identifier equivalence class: size, count of DISTINCT
    sensitive values, a violates_l flag, and the majority-value share
    (the attacker's confidence under a homogeneity attack). Returns
    one row per class.

    One hash aggregate over (QI, sensitive) then one over QI — the
    exchange carries value-class pairs, never rows. The majority share
    is exact-integer max-count / class size."""
    per_val = (df.groupBy(*qi_cols, F.col(sensitive_col).alias("_sv"))
               .agg(F.count("*").alias("_c")))
    return (per_val.groupBy(*qi_cols)
            .agg(F.sum("_c").cast("long").alias("class_size"),
                 F.count("*").cast("long").alias("n_sensitive"),
                 F.max("_c").alias("_mx"))
            .select(*qi_cols, "class_size", "n_sensitive",
                    F.when(F.col("n_sensitive") < 3, 1).otherwise(0)
                    .cast("int").alias("violates_l"),
                    (F.col("_mx").cast("double")
                     / F.col("class_size"))
                    .alias("majority_share")))


def bounded_contribution_counts(events: DataFrame,
                                group_col: str) -> DataFrame:
    """Per-group event counts with each user's contribution CAPPED at
    5 — the sensitivity-bounding step every differential-privacy
    release pipeline runs before adding noise (unbounded, one hyper-
    active user moves a count arbitrarily; capped, the count's
    sensitivity is exactly 5 and the later noise scale is
    knowable), and a robustness win on its own (the bot in the
    engagement numbers). Deterministic — the capping itself is exact
    and engine-reproducible; noise injection is the caller's layer
    (engine RNG cannot be oracle-matched). Returns per group: raw
    count, capped count, contributing users, and the mass share the
    cap removed.

    Two hash aggregates: (group, user) then group — the exchange
    carries user-group pairs, never rows."""
    per_user = (events.groupBy(F.col(group_col), F.col("user_id"))
                .agg(F.count("*").alias("_c")))
    return (per_user.groupBy(group_col)
            .agg(F.sum("_c").cast("long").alias("raw_count"),
                 F.sum(F.least(F.col("_c"), F.lit(5))).cast("long")
                 .alias("capped_count"),
                 F.count("*").cast("long").alias("n_users"),
                 F.sum(F.when(F.col("_c") > 5, 1).otherwise(0))
                 .cast("long").alias("n_capped_users"))
            .withColumn("mass_removed",
                        F.round((F.col("raw_count")
                                 - F.col("capped_count")).cast("double")
                                / F.col("raw_count"), 6)))


def dp_laplace_release(events: DataFrame, epsilon: float = 1.0) -> DataFrame:
    """Laplace-mechanism release over the sensitivity-bounded counts:
    noisy_count = capped_count + Lap(5/ε), the ε-DP release step that
    :func:`bounded_contribution_counts` prepares for. The noise is
    DERANDOMIZED for oracle parity — the uniform driving the inverse
    CDF comes from the md5 hash of the (salted) group key,
    u = (h32 + 0.5)/2³², so the mechanism's TRANSFORM is certified
    cross-engine while a production deployment swaps in a real RNG for
    the uniform (one line; the privacy analysis is about the noise
    DISTRIBUTION, which the inverse CDF fixes, not the entropy source —
    a salted-hash uniform is a pedagogical stand-in, not a privacy
    claim). +0.5 keeps u in (0,1) and off the u=0.5 sign boundary
    (h32 is an integer, so u can never equal 0.5 exactly and
    ln(1-2|u-0.5|) never sees 0). ln at 6-dp output rounding is the
    repo's established cross-engine-safe surface.

    The capped_count column rides along for the demo's auditability; a
    real release drops it. Plan: the two bounded-contribution hash
    aggregates plus a map-only noise projection — nothing new shuffles.
    """
    from ..functions.hashes import md5_hash32
    b = 5.0 / float(epsilon)
    g = bounded_contribution_counts(events, "event_type") \
        .select("event_type", "capped_count")
    h = md5_hash32(F.concat(F.lit("dp#"),
                            F.col("event_type").cast("string")))
    u = (h.cast("double") + F.lit(0.5)) / F.lit(4294967296.0)
    noise = (F.lit(-b) * F.signum(u - F.lit(0.5))
             * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(u - F.lit(0.5))))
    return g.select(
        "event_type", "capped_count",
        F.lit(5.0).alias("sensitivity"),
        F.lit(float(epsilon)).alias("epsilon"),
        F.round(F.col("capped_count") + noise, 6).alias("noisy_count"))
