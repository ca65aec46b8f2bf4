"""Mergeable distinct-count sketches (Apache DataSketches HLL, built
into Spark 4 as ``hll_sketch_agg`` / ``hll_union_agg`` /
``hll_sketch_estimate``).

The third member of the mergeable-sketch family: counts → CMS
(``heavyhitters.cms_sketch``), hot keys → exact two-pass HH, DISTINCT
counts → HLL. The scale problem it solves: ``count_distinct`` per
rollup grain re-shuffles the raw keys for EVERY grain (day, week,
month, all-time each pay their own exchange over event-scale data),
and distinct counts are famously non-additive — daily exacts cannot be
summed into a weekly. HLL sketch bytes ARE additive under union, so a
pipeline materializes one sketch per fine grain (a ~2^lg_k-byte binary
cell) and answers every coarser grain by unioning sketches — never
re-reading events.

Correctness harness: estimates are not cross-engine replicable (the
oracle can't run DataSketches), so queries ship the exact value plus an
``approx_ok`` bound flag both engines emit as 1 — the
``agg_approx_percentiles`` pattern. lg_k=14 gives ~0.8% standard error;
the 5% gate has ~6σ slack, so a flag flip means the sketch path broke,
not noise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def daily_sketch_table(events: DataFrame) -> DataFrame:
    """One row per day: (day, n_events, sketch BINARY) — the at-rest
    form. One groupBy over the events (the same shuffle a daily rollup
    already pays); the sketch column is a ≤ 2^14-byte cell that any
    coarser rollup unions instead of re-scanning events."""
    return (events.filter(F.col("user_id").isNotNull())
            .groupBy(F.to_date(F.col("ts")).alias("day"))
            .agg(F.count("*").alias("n_events"),
                 F.expr("hll_sketch_agg(user_id, 14)")
                 .alias("sketch")))


def distinct_rollup_certified(events: DataFrame) -> DataFrame:
    """Daily + all-time distinct-key report with the sketch path
    CERTIFIED against exact counts: (day, n_events, exact_users,
    approx_ok) — day NULL on the all-time row, whose estimate comes from
    UNIONING the daily sketches (the additivity being certified), not
    from re-scanning events. ``approx_ok`` = |est − exact| ≤ 0.05 ×
    exact. At 100 TB the exact columns are the harness and the sketches
    are the product; here both run so the flag is hash-checkable."""
    ev = events.filter(F.col("user_id").isNotNull())
    # localCheckpoint: the daily frame is referenced twice below (the
    # per-day report and the union'd all-time estimate), and a plain
    # DataFrame re-runs its event-scale scan+shuffle per reference —
    # the lineage trap cms_estimate's carry_cols exists to avoid. The
    # materialized frame is days×(2 longs + one ≤2^lg_k-byte sketch):
    # rollup-sized, cheap to pin. glob_exact below is the ONE remaining
    # event scan, inherent to the certification (global exact distinct
    # is not derivable from per-day exacts) and absent from the
    # production path, where the sketches alone serve.
    daily = (ev.groupBy(F.to_date(F.col("ts")).alias("day"))
             .agg(F.count("*").alias("n_events"),
                  F.count_distinct(F.col("user_id")).alias("exact_users"),
                  F.expr("hll_sketch_agg(user_id, 14)")
                  .alias("sketch"))).localCheckpoint(eager=False)
    return _assemble_certified_report(daily, ev, "user_id", 0.05)


def _assemble_certified_report(d: DataFrame, ev: DataFrame, key_col: str,
                               rel_err: float) -> DataFrame:
    """Shared report tail for the batch and stream-served certified
    rollups: ONE copy of the tolerance flag, the per-day projection,
    and the all-time union row, so the two paths cannot drift apart
    (the stream query's oracle IS the batch query's oracle). ``d`` is a
    materialized (day, n_events, exact_users, sketch) frame; a NULL
    exact_users (a maintained day the batch table cannot certify)
    yields a NULL flag — visible, never silently dropped."""
    ok = lambda est, exact: (
        F.when(exact.isNull(), F.lit(None))
         .when(F.abs(est - exact.cast("double"))
               <= F.lit(rel_err) * exact.cast("double"), 1)
         .otherwise(0).cast("int"))
    per_day = d.select(
        "day", F.col("n_events").cast("long").alias("n_events"),
        "exact_users",
        ok(F.expr("cast(hll_sketch_estimate(sketch) as double)"),
           F.col("exact_users")).alias("approx_ok"))
    glob_exact = ev.agg(F.count("*").alias("n_events"),
                        F.count_distinct(F.col(key_col))
                        .alias("exact_users"))
    glob_est = d.agg(
        F.expr("cast(hll_sketch_estimate(hll_union_agg(sketch, true)) "
               "as double)").alias("_est"))
    total = (glob_exact.crossJoin(F.broadcast(glob_est))
             .select(F.lit(None).cast("date").alias("day"),
                     "n_events", "exact_users",
                     ok(F.col("_est"), F.col("exact_users"))
                     .alias("approx_ok")))
    return per_day.unionByName(total)


def kmv_sketch(df, key_col: str, k: int = 256):
    """Bottom-k (KMV) distinct sketch: the ``k`` smallest 60-bit md5
    hashes over the column's distinct values — the third mergeable
    distinct-count summary next to HLL (library sketch bytes) and the
    exact digest tables, and the only one of the three that is BOTH
    engine-reproducible in plain SQL (md5 arithmetic, no opaque state)
    and a uniform DISTINCT-VALUE SAMPLE as a side effect (the bottom-k
    keys are a hash-uniform draw — usable for profiling "what are these
    values" where HLL only counts them).

    Mergeable by construction: bottom-k(A ∪ B) = bottom-k(bottom-k(A) ∪
    bottom-k(B)) — union partial sketches and re-cut (test-pinned).
    Plan: distinct → hash → global bottom-k, which Spark executes as
    per-partition TakeOrdered partials + one k-row merge — no full
    sort, no single-partition shuffle. Returns (pos, hash_val, key)
    rows, pos 1..k ascending by hash."""
    from pyspark.sql import Window
    from ..functions.hashes import md5_hash64

    hashed = (df.select(F.col(key_col).cast("string").alias("key"))
              .filter(F.col("key").isNotNull()).distinct()
              .select("key", md5_hash64(F.col("key")).alias("hash_val")))
    bk = hashed.orderBy("hash_val", "key").limit(k)
    w = Window.orderBy("hash_val", "key")
    return bk.select(F.row_number().over(w).alias("pos"),
                     "hash_val", "key")


def kmv_estimate(sketch, k: int = 256):
    """Distinct-count estimate from a KMV sketch: ``(k-1) / R_k`` with
    ``R_k`` = the k-th smallest hash normalized to (0,1] over the
    60-bit hash space (Bar-Yossef et al. 2002). If the sketch holds
    fewer than ``k`` rows the count was below k and the sketch IS the
    exact distinct set. One row: (n_kept, estimate)."""
    agg = sketch.agg(F.count("*").alias("n_kept"),
                     F.max("hash_val").alias("_rk"))
    rk_norm = F.col("_rk").cast("double") / F.lit(float(1 << 60))
    est = F.when(F.col("n_kept") < k,
                 F.col("n_kept").cast("double")) \
           .otherwise((k - 1) / rk_norm)
    return agg.select("n_kept", F.round(est, 6).alias("estimate"))


def kmv_set_ops(df_a, df_b, key_col: str):
    """Theta-sketch-style SET ALGEBRA on two KMV sketches: estimated
    union, intersection, and Jaccard between two key sets from two
    bounded bottom-64 summaries — the query that answers "how much do
    these audiences overlap" without ever joining the raw sets. With
    sketches this small the join sides are 64 rows each; the exact
    answer needs a full distinct-join of both sets.

    Mechanics (Dasgupta et al., theta sketches): θ = min over the FULL
    sketches of their 64th hash (a sketch with < 64 rows kept
    everything, so its θ is the whole hash space); hashes strictly
    below θ form a uniform sample of the union in which BOTH sketches
    are complete, so |X| ≈ count_X(<θ) / (θ / 2^60) for X ∈ {A∪B, A∩B}
    and Jaccard = the ratio of those counts. When neither sketch
    fills, θ spans the space and the "estimates" are exact — the
    degenerate case is correct, not special-cased.

    Returns ONE row: (n_a_kept, n_b_kept, theta_norm, union_est,
    inter_est, jaccard_est, exact_union, exact_inter) — exact twins
    ride along so the oracle hash certifies the estimator's error, not
    just its arithmetic."""
    from ..functions.hashes import md5_hash64

    full_space = float(1 << 60)

    def hashes(df):
        return (df.select(F.col(key_col).cast("string").alias("key"))
                .filter(F.col("key").isNotNull()).distinct()
                .select("key", md5_hash64(F.col("key")).alias("h")))

    ha, hb = hashes(df_a), hashes(df_b)
    ska = ha.orderBy("h", "key").limit(64)
    skb = hb.orderBy("h", "key").limit(64)
    # per-sketch θ: k-th hash if full, else the hash-space top
    def theta_of(sk, name):
        return sk.agg(
            F.count("*").alias(f"n_{name}_kept"),
            F.when(F.count("*") < 64, F.lit(1 << 60).cast("long"))
            .otherwise(F.max("h")).alias(f"_th_{name}"))

    th = (theta_of(ska, "a").crossJoin(theta_of(skb, "b"))
          .select("n_a_kept", "n_b_kept",
                  F.least("_th_a", "_th_b").alias("_theta")))
    below = lambda sk: (sk.crossJoin(F.broadcast(th))
                        .filter(F.col("h") < F.col("_theta"))
                        .select("h"))
    ca, cb = below(ska), below(skb)
    nu = ca.union(cb).distinct().agg(F.count("*").alias("_nu"))
    ni = ca.join(cb, "h").agg(F.count("*").alias("_ni"))
    ex_u = (ha.select("key").union(hb.select("key")).distinct()
            .agg(F.count("*").cast("long").alias("exact_union")))
    ex_i = (ha.select("key").join(hb.select("key"), "key")
            .agg(F.count("*").cast("long").alias("exact_inter")))
    tn = F.col("_theta").cast("double") / F.lit(full_space)
    return (th.crossJoin(F.broadcast(nu)).crossJoin(F.broadcast(ni))
            .crossJoin(F.broadcast(ex_u)).crossJoin(F.broadcast(ex_i))
            .select("n_a_kept", "n_b_kept",
                    tn.alias("theta_norm"),
                    (F.col("_nu").cast("double") / tn)
                    .alias("union_est"),
                    (F.col("_ni").cast("double") / tn)
                    .alias("inter_est"),
                    F.when(F.col("_nu") > 0,
                           F.col("_ni").cast("double")
                           / F.col("_nu").cast("double"))
                    .alias("jaccard_est"),
                    "exact_union", "exact_inter"))


def certified_report_from_sketches(daily: DataFrame,
                                   events: DataFrame) -> DataFrame:
    """The :func:`distinct_rollup_certified` report served from an
    ALREADY-MAINTAINED daily sketch table (at-rest or stream-folded
    (day, n_events, sketch) cells) instead of re-scanning events for
    the sketches: per-day exact distincts come from the batch table
    (they are the certification HARNESS — at 100 TB the sketches alone
    serve), the maintained n_events rides through so a maintainer
    double-count breaks the hash, and the all-time row unions the
    maintained cells. Register-max HLL merging is deterministic, so the
    fold's estimate equals the one-pass sketch's bit-for-bit."""
    ev = events.filter(F.col("user_id").isNotNull())
    exact = (ev.groupBy(F.to_date(F.col("ts")).alias("day"))
             .agg(F.count_distinct(F.col("user_id")).alias("exact_users")))
    # LEFT join FROM the maintained table: a day the batch table cannot
    # certify keeps its row (NULL exact -> NULL flag) and its sketch
    # stays inside the all-time union — maintained state is never
    # silently dropped from the report it is supposed to certify.
    d = daily.join(exact, "day", "left").localCheckpoint(eager=False)
    return _assemble_certified_report(d, ev, "user_id", 0.05)
