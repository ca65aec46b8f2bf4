"""As-of (time-travel) join — for each left row, the latest right row
with ``right.ts <= left.ts`` per key.

Spark has no ASOF JOIN operator (DuckDB/Pandas do); the naive rewrite —
range join + row_number — explodes to O(|L|·|R|) per key before pruning.
This implementation is the scalable union-sort form:

    union(left tagged 1, right tagged 0)
      → window last(value, ignorenulls) over
          (partition by key order by ts, tag rows unbounded preceding..current)
      → keep left rows

One shuffle on the key, linear scan within each partition — the same
merge-scan shape a native as-of join executes, expressed in pure Catalyst
operators (window over union). Equal timestamps: the right row sorts
first (tag 0 < 1), so a right row AT the left row's timestamp matches —
DuckDB ``ASOF JOIN ... ON l.ts >= r.ts`` semantics, which the oracle
pins.

Reference relevance: the reference's watermark lookup (base_sink.py:
314-335) is the degenerate "latest right row per key" case; the as-of
generalization is what an event pipeline needs to enrich each event with
the most recent prior state snapshot (price, config, model version).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _tagged_union(left: DataFrame, right: DataFrame, key: str,
                  left_ts: str, right_ts: str, value_cols: list[str],
                  out_vals: dict) -> tuple[DataFrame, list[str]]:
    """Shared merge-scan prelude for the as-of family: tag left rows 1
    and right rows 0 (right sorts first on timestamp ties, so a right
    row AT a left row's timestamp matches), align columns, union, and
    attach ``_r`` — the candidate right row as ONE struct, so every
    downstream fill moves the matched row atomically."""
    l_tagged = left.withColumn("_ts", F.col(left_ts)) \
                   .withColumn("_side", F.lit(1))
    for c in out_vals.values():
        l_tagged = l_tagged.withColumn(c, F.lit(None))
    r_tagged = right.select(
        F.col(key),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        *[F.lit(None).alias(c) for c in left.columns if c != key],
        F.col(right_ts).alias(out_vals[right_ts]),
        *[F.col(c).alias(out_vals[c]) for c in value_cols],
    )
    # align column order/names for the union (left has `key` twice via
    # left.columns — select once each by position below)
    cols = [key, "_ts", "_side"] + \
           [c for c in left.columns if c != key] + list(out_vals.values())
    unioned = (l_tagged.select(*cols).unionByName(r_tagged.select(*cols))
               .withColumn("_r", F.when(
                   F.col("_side") == 0,
                   F.struct(*[F.col(c) for c in out_vals.values()]))))
    return unioned, cols


def asof_join(left: DataFrame, right: DataFrame, key: str,
              left_ts: str, right_ts: str,
              value_cols: list[str], prefix: str = "asof_",
              tolerance: str | None = None) -> DataFrame:
    """Left as-of join: every ``left`` row, plus ``prefix``-named copies
    of ``value_cols`` (and ``prefix+right_ts``) from the latest ``right``
    row at-or-before its timestamp. Rows with no prior right row keep
    NULLs (left-outer semantics).

    ``tolerance`` (an interval literal like ``"2 days"``) bounds the
    match's staleness — pandas ``merge_asof(tolerance=...)`` semantics:
    a state snapshot older than the bound is no match at all, so every
    matched column reverts to NULL. Applied as a cheap post-filter on
    the already-merged frame (the latest-at-or-before row is the only
    candidate, so bounding it needs no second scan or window)."""
    out_vals = {c: f"{prefix}{c}" for c in [right_ts, *value_cols]}
    unioned, cols = _tagged_union(left, right, key, left_ts, right_ts,
                                  value_cols, out_vals)
    # Tie-break past (_ts, _side) by the right row's own values: if the
    # right side carries duplicate (key, ts) rows, last() must pick a
    # DETERMINISTIC one (the max by value columns), not whichever the
    # shuffle happened to order — a cross-run hash surface otherwise
    # (ADVICE r10). Left rows tie as all-NULL and are unaffected.
    w = (Window.partitionBy(key)
         .orderBy("_ts", "_side", *[F.col(c) for c in out_vals.values()])
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    # the matched row travels as ONE struct, so a NULL value column in
    # the latest right row stays NULL instead of being backfilled from
    # an older row (the per-column stitch would return a ts and a value
    # from DIFFERENT rows — native ASOF JOIN semantics are atomic)
    filled = unioned.select(
        *[c for c in cols if c not in out_vals.values()],
        F.last("_r", ignorenulls=True).over(w).alias("_b"))
    out = (filled.filter(F.col("_side") == 1)
           .select(*[c for c in cols
                     if c not in out_vals.values()
                     and c not in ("_ts", "_side")],
                   *[F.col(f"_b.{c}").alias(c)
                     for c in out_vals.values()]))
    if tolerance is not None:
        fresh = (F.col(out_vals[right_ts])
                 >= F.col(left_ts) - F.expr(f"INTERVAL {tolerance}"))
        for c in out_vals.values():
            out = out.withColumn(c, F.when(fresh, F.col(c)))
    return out


def asof_nearest(left: DataFrame, right: DataFrame, key: str, left_ts: str,
                 right_ts: str, value_cols: list[str],
                 tolerance_us: int | None = None) -> DataFrame:
    """Nearest-in-time join (pandas ``merge_asof(direction='nearest')``):
    every ``left`` row gets the ``right`` row with the SMALLEST absolute
    time distance per key — sensor/state alignment where the relevant
    snapshot may sit just after the event as well as before. Ties
    (equidistant before/after) take the earlier (backward) row, matching
    pandas. Adds ``asof_``-prefixed value copies plus
    ``asof_delta_us`` (signed: positive = matched row is earlier).

    Same union-merge-scan shape as :func:`asof_join` — ONE shuffle on
    the key, ONE sort, with the backward candidate read from a
    preceding-rows frame and the forward candidate from a
    following-rows frame over the same sorted partition (two WindowExpr,
    one Window sort — no second exchange). Distances compare as exact
    integer microseconds (``unix_micros``), so the tie surface is
    integral, never FP. ``tolerance_us`` bounds |delta| with the same
    post-filter NULL-revert semantics as ``asof_join``'s staleness
    bound."""
    out_vals = {c: f"asof_{c}" for c in [right_ts, *value_cols]}
    unioned, cols = _tagged_union(left, right, key, left_ts, right_ts,
                                  value_cols, out_vals)
    # same deterministic duplicate-(key, ts) tie-break as asof_join;
    # backward takes the max-by-value tied row (last over ascending),
    # forward the min (first over ascending) — both pinned in the oracle
    sort = (Window.partitionBy(key)
            .orderBy("_ts", "_side",
                     *[F.col(c) for c in out_vals.values()]))
    wb = sort.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wf = sort.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    # each direction's candidate travels as ONE struct (same atomicity
    # note as asof_join: a NULL value in the nearest row must not be
    # backfilled from a farther row)
    filled = unioned.select(
        *[c for c in cols if c not in out_vals.values()],
        F.last("_r", ignorenulls=True).over(wb).alias("_b"),
        F.first("_r", ignorenulls=True).over(wf).alias("_f"))
    lrows = filled.filter(F.col("_side") == 1)

    rts_out = out_vals[right_ts]
    l_us = F.unix_micros(F.col(left_ts))
    b_us = F.unix_micros(F.col(f"_b.{rts_out}"))
    f_us = F.unix_micros(F.col(f"_f.{rts_out}"))
    take_back = F.col("_f").isNull() | (
        F.col("_b").isNotNull() & ((l_us - b_us) <= (f_us - l_us)))
    picked = lrows.select(
        *[c for c in left.columns],
        *[F.when(take_back, F.col(f"_b.{c}")).otherwise(F.col(f"_f.{c}"))
          .alias(c) for c in out_vals.values()])
    delta = (F.unix_micros(F.col(left_ts))
             - F.unix_micros(F.col(rts_out))).cast("bigint")
    out = picked.withColumn("asof_delta_us", delta)
    if tolerance_us is not None:
        fresh = F.abs(F.col("asof_delta_us")) <= F.lit(tolerance_us)
        for c in [*out_vals.values(), "asof_delta_us"]:
            out = out.withColumn(c, F.when(fresh, F.col(c)))
    return out
