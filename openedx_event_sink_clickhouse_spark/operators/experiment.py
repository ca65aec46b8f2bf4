"""A/B-experiment readout operators.

Greenfield relative to the reference (see SURVEY.md §2 north-star
extensions): the experimentation layer an event pipeline feeds —
deterministic unit→variant hashing and CUPED variance reduction
(Deng, Xu, Kohavi & Walker, WSDM 2013 — public paper): adjust each
unit's experiment-period metric by its PRE-period covariate,
``Y' = Y − θ·(X − mean(X))``, θ = cov(X,Y)/var(X), which removes the
between-user variance the pre-period explains and leaves treatment
effects unbiased (variant assignment is independent of X).

Cross-engine determinism (the reason this is oracle-checkable at all):

- per-unit X/Y sums are DECIMAL(18,6) — exact, order-independent
  folds, so partial-aggregation order can never flip a low bit
  (the money-sum rule from the TPC-H family);
- the moment aggregates Σx, Σy, Σx², Σxy stay DECIMAL end-to-end
  ((18,6)×(18,6) → (37,12), sums fit DECIMAL(38,12) exactly);
- θ and the adjusted means are computed from those exact decimals by
  ONE fixed double-precision formula, written identically in the SQL
  twin — same operands, same operation order, bit-identical result;
- variant assignment is md5-derived (``functions/hashes.py``), not
  engine RNG.

Scale: one map pass per event (the pre/post split is a conditional
aggregate), one groupBy(unit) — the experiment's natural key, the same
shuffle any per-user metric pays — then everything downstream is
O(variants) with the 1-row moment frame riding as a broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashes import md5_hash32

DEC = "decimal(18,6)"


def assign_variant(unit, n_variants: int = 2):
    """Deterministic unit→variant bucket: ``md5(exp#unit) % n`` — the
    standard hash-based randomization (stable across runs, engines, and
    retries; independent of any pre-period behavior)."""
    key = F.concat(F.lit("exp#"), unit.cast("string"))
    return F.pmod(md5_hash32(key), F.lit(n_variants)).cast("int")


def srm_check(events: DataFrame) -> DataFrame:
    """Sample-ratio-mismatch guard: Pearson chi-square of the observed
    unit counts against equal expected shares. SRM is THE standard
    validity gate an experimentation pipeline runs before any readout —
    a significant mismatch means the bucketing/exposure path is broken
    (redirect loss, bot filtering skew) and every downstream metric is
    untrustworthy. Returns one row per variant (variant, n_units,
    expected, chi2, srm_detected); chi2/flag are repeated per row —
    the whole-experiment statistic, kept per-row so the report unions
    with other per-variant feeds. Two variants, so the cut is 3.841
    (χ² at p=0.05, df=1). NULL
    units are excluded up front: a NULL would hash to a phantom NULL
    variant whose count corrupts the moments (the chi2 can even go
    negative) — and broken exposure logging is exactly what this gate
    exists to catch, so it must not lie under it.

    Determinism: integer counts + one double formula (the family
    recipe). O(variants) after the distinct-unit pass."""
    unit = F.col("user_id")
    pv = (events.select(unit.alias("unit"))
          .filter(F.col("unit").isNotNull()).distinct()
          .withColumn("variant", assign_variant(F.col("unit"),
                                                2))
          .groupBy("variant").agg(F.count("*").alias("n_units")))
    tot = pv.agg(F.sum("n_units").alias("_n"),
                 F.sum(F.col("n_units") * F.col("n_units")).alias("_sq"))
    n = F.col("_n").cast("double")
    # chi2 = sum((obs - n/k)^2) / (n/k) = (k*sum(obs^2) - n^2) / n
    # (equal expected shares let the per-variant sum collapse to moments
    # both engines compute from the same integers)
    chi2 = (F.lit(2.0) * F.col("_sq").cast("double")
            - n * n) / n
    return (pv.crossJoin(F.broadcast(tot))
            .select("variant", "n_units",
                    # raw fixed-shape chains of exact integers — no
                    # round(double): the r10 half-boundary class
                    (n / F.lit(2.0)).alias("expected"),
                    chi2.alias("chi2"),
                    (chi2 > 3.841).cast("int").alias("srm_detected")))


def conversion_ztest(events: DataFrame) -> DataFrame:
    """Two-proportion z-test on per-unit conversion (Fleiss et al.,
    standard pooled form — public statistics): a unit converts iff it
    has ≥ 1 ``purchase`` event. Returns one row per variant:
    (variant, n_units, n_converted, conv_rate, z_score, significant) —
    z is the pairwise statistic vs variant 0 (control), NULL on the
    control row itself.

    Determinism: the inputs to the z formula are INTEGER counts (exact
    in any engine, any partitioning), the variant hash is md5-derived,
    and z itself is one fixed double formula replicated operand-for-
    operand in the oracle — the CUPED parity recipe with even less FP
    surface (no decimal sums needed).

    Plan: one groupBy(unit) max-flag pass (the per-user shuffle any
    funnel already pays) → O(variants) aggregate; the control row rides
    back as a 1-row broadcast."""
    unit = F.col("user_id")
    per_unit = (events.filter(unit.isNotNull())
                .groupBy(unit.alias("unit"))
                .agg(F.max(F.when(F.col("event_type") == "purchase", 1)
                           .otherwise(0)).alias("converted"))
                .withColumn("variant", assign_variant(F.col("unit"),
                                                      2)))
    pv = per_unit.groupBy("variant").agg(
        F.count("*").alias("n_units"),
        F.sum("converted").cast("long").alias("n_converted"))
    # control row via an AGGREGATE (always exactly 1 row, NULLs when no
    # unit hashed to variant 0) — a filter would make the cross join
    # empty and silently drop every treatment row; with NULL control
    # stats the z/significant columns go NULL instead, the same shape
    # the control row itself gets
    ctrl = (pv.agg(
        F.sum(F.when(F.col("variant") == 0, F.col("n_units")))
         .alias("_cn"),
        F.sum(F.when(F.col("variant") == 0, F.col("n_converted")))
         .alias("_cc")))
    n1, x1 = F.col("n_units").cast("double"), \
        F.col("n_converted").cast("double")
    n0, x0 = F.col("_cn").cast("double"), F.col("_cc").cast("double")
    p_pool = (x1 + x0) / (n1 + n0)
    se = F.sqrt(p_pool * (1.0 - p_pool) * (1.0 / n1 + 1.0 / n0))
    z = F.when((F.col("variant") != 0) & (se != 0.0),
               (x1 / n1 - x0 / n0) / se)
    return (pv.crossJoin(F.broadcast(ctrl))
            .select("variant", "n_units", "n_converted",
                    (x1 / n1).alias("conv_rate"),
                    F.round(z, 6).alias("z_score"),
                    F.when(z.isNull(), F.lit(None).cast("int"))
                     .otherwise((F.abs(z) > 1.96).cast("int"))
                     .alias("significant")))


def cuped_adjusted_means(events: DataFrame, cutoff) -> DataFrame:
    """Per-variant experiment readout with CUPED adjustment. ``cutoff``
    splits pre-period (covariate X = the unit's value sum before it)
    from the experiment period (metric Y = the sum at/after it); units
    with no pre (or post) activity contribute X=0 (Y=0). Returns one row
    per variant: (variant, n_units, mean_value, mean_value_adj, theta)
    — theta repeated per row for auditability. θ is fit POOLED across
    variants (the standard estimator; assignment ⟂ X keeps it
    unbiased)."""
    unit = F.col("user_id")
    ts = F.col("ts")
    val = F.col("value").cast(DEC)
    zero = F.lit(0).cast(DEC)
    # NULL units excluded (srm_check's rationale): a phantom NULL
    # variant would corrupt the pooled moments and theta
    # Per-unit sums stay at Spark's NATURAL sum type (28,6) — an earlier
    # draft cast them back to (18,6) here, and under non-ANSI Spark that
    # narrowing silently NULLs any unit with |Σvalue| ≥ 10^12, dropping
    # it from theta and the means while the DuckDB twin errors instead
    # (ADVICE r8). Only the second-moment PRODUCTS below re-narrow,
    # because (18,6)×(18,6)→(37,12) is the widest product that fits
    # DECIMAL(38); that documented |x|,|y| < 10^12 bound applies to the
    # exact-decimal sxx/sxy path only, not the means.
    per_unit = (events.filter(unit.isNotNull())
                .groupBy(unit.alias("unit"))
                .agg(F.sum(F.when(ts < F.lit(cutoff), val).otherwise(zero))
                     .alias("x"),
                     F.sum(F.when(ts >= F.lit(cutoff), val).otherwise(zero))
                     .alias("y"))
                .withColumn("variant", assign_variant(F.col("unit"),
                                                      2)))
    # pooled moments: exact decimal sums -> ONE double formula for theta
    xn, yn = F.col("x").cast(DEC), F.col("y").cast(DEC)
    moments = per_unit.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(xn * xn).alias("sxx"),
        F.sum(xn * yn).alias("sxy"))
    per_variant = per_unit.groupBy("variant").agg(
        F.count("*").alias("n_units"),
        F.sum("x").alias("vx"), F.sum("y").alias("vy"))
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, sxy = F.col("sxx").cast("double"), F.col("sxy").cast("double")
    var_x = sxx - sx * sx / n
    theta = F.when(var_x != 0.0, (sxy - sx * sy / n) / var_x) \
             .otherwise(F.lit(0.0))
    nv = F.col("n_units").cast("double")
    vx, vy = F.col("vx").cast("double"), F.col("vy").cast("double")
    mean_adj = (vy - F.col("_theta") * (vx - nv * (sx / n))) / nv
    return (per_variant.crossJoin(F.broadcast(moments))
            .withColumn("_theta", theta)
            .select("variant", "n_units",
                    F.round(vy / nv, 6).alias("mean_value"),
                    F.round(mean_adj, 6).alias("mean_value_adj"),
                    F.round(F.col("_theta"), 6).alias("theta")))


def survival_curves(events: DataFrame, *, n_variants: int = 2,
                    time_bucket_us: int | None = None) -> DataFrame:
    """Per-variant Kaplan–Meier time-to-event curves — the survival-
    analysis readout of the experimentation suite (time-to-conversion
    with right censoring, the estimator retention/latency studies use
    when "did they convert" z-tests throw away WHEN).

    Per unit: study entry = its first event of any type; event time =
    its first ``purchase`` after entry (duration in exact epoch
    microseconds — integer, engine-stable); units that never convert
    are right-CENSORED at the corpus's last observed timestamp. Per
    variant, at each distinct event duration t:
    ``S(t) = Π_{t_i ≤ t} (1 − d_i / n_i)`` over event times, with
    censored units leaving the risk set at their censor time.

    Plan: one per-unit groupBy (entry/conversion aggregates in the same
    pass), one duration-level groupBy, then ONE window per variant
    (risk set via reverse cumulative endings; the product as
    exp(Σ ln)). All window frames are duration-cardinality ≤ unit-
    cardinality; nothing iterates. FP parity: both engines accumulate
    the SAME ln terms in the SAME duration order (the entropy-fold
    discipline), and a saturated step (d == n, survival exactly 0 —
    where Spark's ln yields NULL but an IEEE oracle −inf) is handled by
    an explicit zero flag instead of the log.

    ``time_bucket_us`` floors durations to a grid (grouped KM, the
    standard published form) — at 10^9 units the exact-microsecond
    duration frame is unit-cardinality through one window partition per
    variant; bucketing bounds it at study-length/bucket rows, which is
    the 100 TB configuration."""
    from pyspark.sql import Window

    unit, ts = F.col("user_id"), F.col("ts")
    per_unit = (events.filter(unit.isNotNull())
                .groupBy(unit.alias("unit"))
                .agg(F.min(F.unix_micros(ts)).alias("entry_us"),
                     F.min(F.when(F.col("event_type") == "purchase",
                                  F.unix_micros(ts))).alias("conv_us"),
                     F.max(F.unix_micros(ts)).alias("_last_us")))
    study_end = per_unit.agg(F.max("_last_us").alias("end_us"))
    pu = (per_unit.crossJoin(F.broadcast(study_end))
          .select(assign_variant(F.col("unit"), n_variants)
                  .alias("variant"),
                  F.coalesce(F.col("conv_us") - F.col("entry_us"),
                             F.col("end_us") - F.col("entry_us"))
                  .alias("dur_us"),
                  F.col("conv_us").isNotNull().cast("long").alias("ev")))
    if time_bucket_us is not None:
        pu = pu.withColumn(
            "dur_us",
            (F.col("dur_us") - F.pmod(F.col("dur_us"),
                                      F.lit(time_bucket_us))))
    ends = (pu.groupBy("variant", "dur_us")
            .agg(F.sum("ev").alias("d"),
                 F.sum(F.lit(1) - F.col("ev")).alias("c")))
    w_all = Window.partitionBy("variant")
    w_cum = (Window.partitionBy("variant").orderBy("dur_us")
             .rowsBetween(Window.unboundedPreceding, 0))
    total = F.sum(F.col("d") + F.col("c")).over(w_all)
    ended_before = (F.sum(F.col("d") + F.col("c")).over(w_cum)
                    - (F.col("d") + F.col("c")))
    n_risk = total - ended_before
    term = F.when(F.col("d") < n_risk,
                  F.log(1.0 - F.col("d").cast("double")
                        / n_risk.cast("double"))).otherwise(F.lit(0.0))
    zero = F.max((F.col("d") >= n_risk).cast("int")).over(w_cum)
    curve = (ends
             .withColumn("n_risk", n_risk)
             .withColumn("_lnsum", F.sum(term).over(w_cum))
             .withColumn("_zero", zero)
             .filter(F.col("d") > 0)
             .select("variant", F.col("dur_us").alias("t_us"),
                     F.col("n_risk").cast("long").alias("n_risk"),
                     F.col("d").cast("long").alias("n_events"),
                     F.when(F.col("_zero") == 1, F.lit(0.0))
                      .otherwise(F.round(F.exp("_lnsum"), 6))
                      .alias("survival")))
    return curve


def logrank_test(events: DataFrame) -> DataFrame:
    """Log-rank test between the two variants' survival curves — the
    standard significance companion to :func:`survival_curves` (Mantel
    1966; public statistics): at each distinct event time, variant 0's
    observed events compare against the hypergeometric expectation
    under H0 (identical hazards), ``E0 = d·n0/n`` with variance
    ``V = d·(n0/n)·(n1/n)·(n−d)/(n−1)``; the test statistic is
    ``χ² = (ΣO0 − ΣE0)² / ΣV``. Two variants only (df=1).

    Returns ONE row: (n_units_0, n_units_1, observed_0, expected_0,
    variance, chi2, significant).

    Determinism: risk sets and event counts are exact integers from
    the same duration-level frame as the KM curve; each per-time E/V
    term is a fixed-shape IEEE expression of exact integers (so its
    bits are engine-identical), FLOOR-QUANTIZED to BIGINT at 1e-8
    before summation — integer sums are association-free, so neither
    engine's window-aggregation tree nor any hash-merge order can
    perturb a single bit, and the published statistics are single
    divisions of the summed integers (no ``round()``, whose
    half-boundary behavior is engine/version-dependent — the r10
    driver hash-mismatch class). Quantization bias is < n_times·1e-8,
    far below the χ² decision granularity. BIGINT headroom: terms
    ≤ d·1e8 ≤ ~1e12, summed over distinct durations — overflow needs
    > 9·10¹⁸, i.e. ≳10⁷ conversions per distinct time, beyond any
    realistic cohort."""
    from pyspark.sql import Window

    unit, ts = F.col("user_id"), F.col("ts")
    per_unit = (events.filter(unit.isNotNull())
                .groupBy(unit.alias("unit"))
                .agg(F.min(F.unix_micros(ts)).alias("entry_us"),
                     F.min(F.when(F.col("event_type") == "purchase",
                                  F.unix_micros(ts))).alias("conv_us"),
                     F.max(F.unix_micros(ts)).alias("_last_us")))
    study_end = per_unit.agg(F.max("_last_us").alias("end_us"))
    pu = (per_unit.crossJoin(F.broadcast(study_end))
          .select(assign_variant(F.col("unit"), 2).alias("variant"),
                  F.coalesce(F.col("conv_us") - F.col("entry_us"),
                             F.col("end_us") - F.col("entry_us"))
                  .alias("dur_us"),
                  F.col("conv_us").isNotNull().cast("long").alias("ev")))
    ends = (pu.groupBy("dur_us")
            .agg(*[F.sum(F.when(F.col("variant") == v, c)
                         .otherwise(F.lit(0))).alias(f"{n}{v}")
                   for v in (0, 1)
                   for n, c in (("d", F.col("ev")),
                                ("e", F.lit(1)))]))
    w_all = Window.partitionBy()
    w_cum = (Window.orderBy("dur_us")
             .rowsBetween(Window.unboundedPreceding, 0))
    n0 = (F.sum("e0").over(w_all)
          - (F.sum("e0").over(w_cum) - F.col("e0"))).cast("double")
    n1 = (F.sum("e1").over(w_all)
          - (F.sum("e1").over(w_cum) - F.col("e1"))).cast("double")
    d = (F.col("d0") + F.col("d1")).cast("double")
    n = n0 + n1
    e0q = F.when(d > 0, F.floor(d * n0 / n * F.lit(1e8))) \
           .otherwise(F.lit(0).cast("long"))
    vq = F.when((d > 0) & (n > 1.0),
                F.floor(d * (n0 / n) * (n1 / n) * (n - d) / (n - 1.0)
                        * F.lit(1e8))) \
          .otherwise(F.lit(0).cast("long"))
    acc = (ends
           .withColumn("_o0", F.sum("d0").over(w_cum).cast("double"))
           .withColumn("_e0", F.sum(e0q).over(w_cum) / F.lit(1e8))
           .withColumn("_v", F.sum(vq).over(w_cum) / F.lit(1e8))
           .withColumn("_rn", F.row_number().over(
               Window.orderBy(F.desc("dur_us"))))
           .filter(F.col("_rn") == 1))
    totals = pu.groupBy().pivot("variant", [0, 1]).count()
    chi2 = F.when(F.col("_v") > 0.0,
                  (F.col("_o0") - F.col("_e0")) * (F.col("_o0") - F.col("_e0"))
                  / F.col("_v"))
    return (acc.crossJoin(F.broadcast(totals))
            .select(F.col("0").alias("n_units_0"),
                    F.col("1").alias("n_units_1"),
                    F.col("_o0").cast("long").alias("observed_0"),
                    F.col("_e0").alias("expected_0"),
                    F.col("_v").alias("variance"),
                    chi2.alias("chi2"),
                    F.when(chi2.isNull(), F.lit(None).cast("int"))
                     .otherwise((chi2 > 3.841).cast("int"))
                     .alias("significant")))


def jackknife_ratio_ci(events: DataFrame) -> DataFrame:
    """Delete-one-bucket jackknife CI for the per-unit mean — the
    variance workhorse of large-scale experimentation (next to the
    z-test's closed form): the units of each variant hash into
    20 folds, and the ratio metric θ = Σvalue / Σunits is
    recomputed with each fold deleted; the spread of those leave-one-out
    estimates IS the sampling variance, with no normality assumption on
    the per-unit distribution and no per-unit moment algebra — which is
    why it generalizes to any ratio metric (revenue/user,
    clicks/session) where the delta method needs a new derivation each
    time. Returns one row per variant:
    (variant, n_units, theta, se_jack, ci_lo, ci_hi).

    Plan shape: ONE per-unit reduce (the only event-scale shuffle, the
    same reduce every readout here starts with), then everything runs on
    2 × 20 rows — the fold deletion is arithmetic on
    bucket totals (θ_i = (N - n_i)/(D - d_i)), never a re-scan per fold,
    so 20 folds cost the same one pass as 1000 would. Money sums ride
    DECIMAL(18,6) so bucket totals are order-exact cross-engine; θ's
    division happens in double on those exact sums."""
    unit = (events.filter(F.col("user_id").isNotNull())
            .groupBy(F.col("user_id").alias("unit"))
            .agg(F.sum(F.col("value").cast("decimal(18,6)"))
                 .alias("uval")))
    bkey = F.concat(F.lit("jk#"), F.col("unit").cast("string"))
    per_bucket = (unit
                  .select(assign_variant(F.col("unit"), 2)
                          .alias("variant"),
                          F.pmod(md5_hash32(bkey), F.lit(20))
                          .alias("bucket"),
                          F.col("uval"))
                  .groupBy("variant", "bucket")
                  .agg(F.sum("uval").alias("n_b"),
                       F.count("*").alias("d_b")))
    # Totals as WINDOW sums over the (variants × buckets)-row frame — a
    # groupBy+join formulation was measured to re-run the whole per-unit
    # reduce for the totals branch (Spark reuses exchanges, not
    # arbitrary subtrees), i.e. two event scans instead of one.
    wv = Window.partitionBy("variant")
    folds = (per_bucket.select(
        "variant",
        F.count(F.lit(1)).over(wv).alias("n_folds"),
        F.sum("n_b").over(wv).alias("n_tot"),
        F.sum("d_b").over(wv).alias("d_tot"),
        F.col("n_b"), F.col("d_b"))
        .select("variant", "n_folds", "n_tot", "d_tot",
                ((F.col("n_tot") - F.col("n_b")).cast("double")
                 / (F.col("d_tot") - F.col("d_b")).cast("double"))
                .alias("theta_i")))
    stats = (folds.groupBy("variant")
             .agg(F.first("n_folds").alias("b"),
                  F.first("n_tot").alias("n_tot"),
                  F.first("d_tot").alias("d_tot"),
                  F.avg("theta_i").alias("tbar"),
                  F.sum(F.col("theta_i") * F.col("theta_i")).alias("tsq")))
    theta = F.col("n_tot").cast("double") / F.col("d_tot").cast("double")
    # Σ(θ_i - θ̄)² = Σθ_i² - B·θ̄² ; var_jk = (B-1)/B · that
    var = ((F.col("b") - 1).cast("double") / F.col("b").cast("double")
           * (F.col("tsq") - F.col("b").cast("double")
              * F.col("tbar") * F.col("tbar")))
    se = F.sqrt(F.greatest(var, F.lit(0.0)))
    return (stats.select(
        "variant", F.col("d_tot").cast("bigint").alias("n_units"),
        F.round(theta, 6).alias("theta"),
        F.round(se, 6).alias("se_jack"),
        F.round(theta - 1.96 * se, 6).alias("ci_lo"),
        F.round(theta + 1.96 * se, 6).alias("ci_hi"))
        .orderBy("variant"))


def sequential_monitoring(events: DataFrame) -> DataFrame:
    """Group-sequential monitoring of a two-proportion experiment: one
    row per calendar-day LOOK with the cumulative per-variant unit and
    converter counts, the pooled two-proportion z at that look, the
    information fraction, and an O'Brien-Fleming-shaped boundary
    ``2.2414 / sqrt(t)`` (the canonical conservative-early /
    near-nominal-late spending shape; 2.2414 is the 5-look two-sided
    α=0.05 constant).
    Peeking at a fixed-horizon z every day inflates false positives
    several-fold; this is the standard correction, emitted as a
    dashboard-ready curve rather than a single end-of-test verdict.
    Returns (look_day, n_0, n_1, conv_0, conv_1, info_frac, z,
    boundary, crossed).

    Plan: ONE per-unit reduce over events (exposure day = first event,
    conversion day = first conversion — the same reduce every readout
    here starts with), then two tiny per-day aggregates and cumulative
    windows over the ~|days| look frame. No unit×look expansion: a
    look's cumulative counts are window sums of per-day increments, so
    the cost is independent of the number of looks."""
    day = F.col("ts").cast("date")
    per_unit = (events.filter(F.col("user_id").isNotNull())
                .groupBy(F.col("user_id").alias("unit"))
                .agg(F.min(day).alias("exposure_day"),
                     F.min(F.when(F.col("event_type") == "purchase", day))
                     .alias("conv_day"))
                .select(assign_variant(F.col("unit"), 2)
                        .alias("variant"),
                        "exposure_day", "conv_day"))
    # Exposure and conversion increments in ONE pass over the per-unit
    # frame: each unit explodes to its (exposure_day, is_exposure) entry
    # plus — when it converted — its (conv_day, is_conversion) entry.
    # Separate groupBys on the two day columns would re-run the whole
    # per-unit reduce per branch (Spark reuses exchanges, not arbitrary
    # subtrees): three event scans instead of two.
    v0 = F.col("variant") == 0
    entries = per_unit.select(
        "variant",
        # outer explode: the array is never empty (the exposure entry is
        # unconditional), and explode_outer dodges the inferred
        # size()>0 filter that re-evaluates the generator input (the
        # InferFiltersFromGenerate double-evaluation)
        F.explode_outer(F.array_compact(F.array(
            F.struct(F.col("exposure_day").alias("d"),
                     F.lit(1).alias("is_exp")),
            F.when(F.col("conv_day").isNotNull(),
                   F.struct(F.col("conv_day").alias("d"),
                            F.lit(0).alias("is_exp")))))).alias("x"))
    is_exp = F.col("x.is_exp") == 1
    adds = (entries.groupBy(F.col("x.d").alias("look_day"))
            .agg(F.sum((is_exp & v0).cast("long")).alias("e0"),
                 F.sum((is_exp & ~v0).cast("long")).alias("e1"),
                 F.sum((~is_exp & v0).cast("long")).alias("c0"),
                 F.sum((~is_exp & ~v0).cast("long")).alias("c1")))
    days = events.select(day.alias("look_day")).distinct()
    j = (days.join(adds, "look_day", "left")
         .select("look_day",
                 *[F.coalesce(c, F.lit(0)).alias(c)
                   for c in ("e0", "e1", "c0", "c1")]))
    w = (Window.orderBy("look_day")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wall = Window.partitionBy()
    cum = j.select(
        "look_day",
        F.sum("e0").over(w).alias("n_0"), F.sum("e1").over(w).alias("n_1"),
        F.sum("c0").over(w).alias("conv_0"),
        F.sum("c1").over(w).alias("conv_1"),
        (F.sum("e0").over(wall) + F.sum("e1").over(wall)).alias("_ntot"))
    n0d, n1d = F.col("n_0").cast("double"), F.col("n_1").cast("double")
    p0 = F.col("conv_0").cast("double") / n0d
    p1 = F.col("conv_1").cast("double") / n1d
    pp = ((F.col("conv_0") + F.col("conv_1")).cast("double")
          / (n0d + n1d))
    se = F.sqrt(pp * (1.0 - pp) * (1.0 / n0d + 1.0 / n1d))
    t = (n0d + n1d) / F.col("_ntot").cast("double")
    bound = 2.2414 / F.sqrt(t)
    z = F.when((F.col("n_0") > 0) & (F.col("n_1") > 0) & (se > 0.0),
               (p1 - p0) / se)
    return cum.select(
        "look_day", "n_0", "n_1", "conv_0", "conv_1",
        F.round(t, 6).alias("info_frac"),
        F.round(z, 6).alias("z"),
        F.round(bound, 6).alias("boundary"),
        F.when(z.isNotNull() & (F.abs(z) > bound), 1).otherwise(0)
        .alias("crossed")).orderBy("look_day")


def power_mde(events: DataFrame) -> DataFrame:
    """Minimum detectable effect at the CURRENT sample: given the
    observed per-variant unit counts and the pooled conversion rate,
    the absolute lift a two-proportion test would detect with power
    1-β (defaults: α=0.05 two-sided, power 0.80) —
    ``mde = (z_{α/2} + z_β) · sqrt(p(1-p)(1/n₀+1/n₁))``. The readout
    every experiment review asks for BEFORE interpreting a null result:
    "could this test even have seen the effect we care about?". One
    row: (n_0, n_1, pooled_rate, mde_abs, mde_rel).

    Same single per-unit reduce as the z-test; the MDE arithmetic runs
    on one row."""
    per_unit = (events.filter(F.col("user_id").isNotNull())
                .groupBy(F.col("user_id").alias("unit"))
                .agg(F.max((F.col("event_type") == "purchase")
                           .cast("int")).alias("converted"))
                .select(assign_variant(F.col("unit"), 2)
                        .alias("variant"), "converted"))
    v0, v1 = F.col("variant") == 0, F.col("variant") == 1
    row = per_unit.agg(
        F.sum(v0.cast("long")).alias("n_0"),
        F.sum(v1.cast("long")).alias("n_1"),
        F.sum("converted").cast("long").alias("n_conv"))
    n0d, n1d = F.col("n_0").cast("double"), F.col("n_1").cast("double")
    p = F.col("n_conv").cast("double") / (n0d + n1d)
    se = F.sqrt(p * (1.0 - p) * (1.0 / n0d + 1.0 / n1d))
    mde = (1.959964 + 0.841621) * se
    return row.select(
        "n_0", "n_1",
        F.round(p, 6).alias("pooled_rate"),
        F.round(mde, 6).alias("mde_abs"),
        F.round(F.when(p > 0.0, mde / p), 6).alias("mde_rel"))


def ols_two_feature(events: DataFrame) -> DataFrame:
    """Per-group two-feature OLS (value ~ hour-of-day + day-of-month)
    solved in CLOSED FORM from sufficient statistics — the distributed-
    regression pattern: ONE aggregate pass builds the exact normal-
    equation moments (integer features, DECIMAL(18,6) target, so every
    sum is order-independent), then the centered 2×2 system is inverted
    symbolically in a single double expression per coefficient. No
    gradient loop, no per-row Python, no second pass.

    Guards: a collinear/degenerate group (det <= 0) yields NULL betas
    (Cauchy–Schwarz makes det < 0 impossible in exact math; <= keeps
    the FP boundary one-sided), and r2 is NULL when the target has no
    variance. Extends :func:`timeseries.trend_fit` (one regressor) to
    the multi-feature normal-equations form used for quick covariate
    readouts at fact-table scale."""
    y = F.col("value").cast(DEC)
    x1 = F.hour("ts").cast("long")
    x2 = F.dayofmonth("ts").cast("long")
    g = (events.filter(F.col("value").isNotNull())
         .select(F.col("event_type").alias("grp"),
                 x1.alias("x1"), x2.alias("x2"), y.alias("y"))
         .groupBy("grp")
         .agg(F.count("*").alias("n"),
              F.sum("x1").alias("sx1"), F.sum("x2").alias("sx2"),
              F.sum(F.col("x1") * F.col("x1")).alias("sx1x1"),
              F.sum(F.col("x1") * F.col("x2")).alias("sx1x2"),
              F.sum(F.col("x2") * F.col("x2")).alias("sx2x2"),
              F.sum("y").alias("sy"),
              F.sum(F.col("y") * F.col("y")).alias("syy"),
              F.sum(F.col("x1") * F.col("y")).alias("sx1y"),
              F.sum(F.col("x2") * F.col("y")).alias("sx2y")))
    n = F.col("n").cast("double")
    d = {c: F.col(c).cast("double")
         for c in ("sx1", "sx2", "sx1x1", "sx1x2", "sx2x2",
                   "sy", "syy", "sx1y", "sx2y")}
    s11 = d["sx1x1"] - d["sx1"] * d["sx1"] / n
    s12 = d["sx1x2"] - d["sx1"] * d["sx2"] / n
    s22 = d["sx2x2"] - d["sx2"] * d["sx2"] / n
    s1y = d["sx1y"] - d["sx1"] * d["sy"] / n
    s2y = d["sx2y"] - d["sx2"] * d["sy"] / n
    syy = d["syy"] - d["sy"] * d["sy"] / n
    det = s11 * s22 - s12 * s12
    out = (g.withColumn("_det", det)
           .withColumn("beta1",
                       F.when(F.col("_det") > 0,
                              (s22 * s1y - s12 * s2y) / F.col("_det")))
           .withColumn("beta2",
                       F.when(F.col("_det") > 0,
                              (s11 * s2y - s12 * s1y) / F.col("_det")))
           .withColumn("beta0",
                       d["sy"] / n - F.col("beta1") * (d["sx1"] / n)
                       - F.col("beta2") * (d["sx2"] / n))
           .withColumn("_syy", syy)
           .withColumn("r2",
                       F.when((F.col("_det") > 0) & (F.col("_syy") > 0),
                              (F.col("beta1") * s1y
                               + F.col("beta2") * s2y) / F.col("_syy"))))
    return out.select(F.col("grp").alias("event_type"), "n",
                      F.round("beta0", 6).alias("beta0"),
                      F.round("beta1", 6).alias("beta1"),
                      F.round("beta2", 6).alias("beta2"),
                      F.round("r2", 6).alias("r2"))


def did_readout(events: DataFrame, cutoff) -> DataFrame:
    """Difference-in-differences readout over the hash-randomized 2×2
    (variant × pre/post) design: cell means from exact-decimal sums,
    did = (treat_post − treat_pre) − (control_post − control_pre), a
    pooled large-sample SE from the four cell variances
    (sqrt(Σ s²/n)), and the z statistic. The classic launch-guardrail
    readout when a clean A/B isn't available pre-period.

    One aggregate pass: all twelve cell moments are conditional sums in
    a single groupBy-less agg (map-side partial), so the fact table is
    scanned once. Decimal moments keep every sum order-independent (the
    CUPED (19,6)-product convention for Σy²); each derived statistic is
    one double formula with the association mirrored in the oracle.
    Degenerate cells degrade softly: an empty cell NULLs the means/did,
    any cell with n<2 NULLs se/z."""
    v = assign_variant(F.col("user_id"), 2)
    post = F.col("ts") >= F.lit(cutoff)
    y = F.col("value").cast(DEC)
    # Σy² follows CUPED's asymmetric-width convention exactly: Spark
    # squares the (18,6) operand ((18,6)×(18,6) → (37,12), exact),
    # while the ORACLE casts to (19,6) first because DuckDB sizes a
    # decimal product at w1+w2 and needs 19+19=38 to hold that same
    # exact value. Squaring a (19,6) on the SPARK side would pass 38
    # digits (19+19+1) and silently truncate the product to scale 11 —
    # a last-digit divergence on any 6-significant-decimal value.
    yq = F.col("y") * F.col("y")
    zero = F.lit(0).cast(DEC)
    zeroq = F.lit(0).cast("decimal(38,12)")
    base = (events.filter(F.col("user_id").isNotNull()
                          & F.col("value").isNotNull())
            .select(v.alias("vr"), post.alias("po"), y.alias("y")))
    aggs = []
    for vr in (0, 1):
        for po in (False, True):
            t = f"{vr}{int(po)}"
            cond = (F.col("vr") == vr) & (F.col("po") == F.lit(po))
            aggs += [
                F.sum(F.when(cond, 1).otherwise(0)).alias(f"n{t}"),
                F.sum(F.when(cond, F.col("y")).otherwise(zero))
                 .alias(f"s{t}"),
                F.sum(F.when(cond, yq).otherwise(zeroq))
                 .alias(f"q{t}")]
    g = base.agg(*aggs)
    m, va, nn = {}, {}, {}
    for t in ("00", "01", "10", "11"):
        nd = F.col(f"n{t}").cast("double")
        sd = F.col(f"s{t}").cast("double")
        qd = F.col(f"q{t}").cast("double")
        nn[t] = nd
        m[t] = F.when(F.col(f"n{t}") > 0, sd / nd)
        va[t] = F.when(F.col(f"n{t}") > 1,
                       (qd - sd * sd / nd) / (nd - F.lit(1.0)))
    did = (m["11"] - m["10"]) - (m["01"] - m["00"])
    se = F.sqrt(va["00"] / nn["00"] + va["01"] / nn["01"]
                + va["10"] / nn["10"] + va["11"] / nn["11"])
    out = (g.withColumn("_did", did).withColumn("_se", se)
           .withColumn("_z", F.when(F.col("_se") > 0,
                                    F.col("_did") / F.col("_se"))))
    return out.select(
        F.col("n00").alias("n_control_pre"),
        F.col("n01").alias("n_control_post"),
        F.col("n10").alias("n_treat_pre"),
        F.col("n11").alias("n_treat_post"),
        F.round(m["00"], 6).alias("mean_control_pre"),
        F.round(m["01"], 6).alias("mean_control_post"),
        F.round(m["10"], 6).alias("mean_treat_pre"),
        F.round(m["11"], 6).alias("mean_treat_post"),
        F.round("_did", 6).alias("did"),
        F.round("_se", 6).alias("se"),
        F.round("_z", 6).alias("z"))
