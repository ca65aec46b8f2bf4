"""Slowly-changing-dimension (type 2) history — the warehouse view over
an append-only dump/event log.

The reference's sinks re-dump whole rows on every change and keep the
latest via last-wins dedup (``operators/tree.py:t2``, mirroring
``base_sink.py``'s versioned-dump model); the natural analytics
complement is the CHANGE HISTORY: one row per (key, attribute-state
interval) with validity bounds, consecutive unchanged dumps collapsed.
That is SCD type 2 derived from the log — no mutable dimension table
needed, which is exactly how a versioned-dump model wants it.

Plan shape: everything partitions by the key and orders by (ts,
tiebreak) — the change-flag lag, the island running sum, and the
interval lead all share ONE Exchange+Sort (same single-shuffle
discipline as ``operators/tree.py``'s ordinal windows; plan-shape
test-pinned). The island groupBy reuses the same hash partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def scd2_history(df: DataFrame, key_col: str, ts_col: str,
                 attr_cols: list[str],
                 tiebreak_col: str | None = None) -> DataFrame:
    """Collapse an append-only log into type-2 history rows:
    (key, attrs..., valid_from, valid_to, n_versions, is_current).

    A new interval opens when ANY tracked attribute differs from the
    previous row's (null-safe ``<=>`` compare — NULL→value and
    value→NULL are changes, NULL→NULL is not); runs of unchanged rows
    collapse into one interval carrying ``n_versions`` (how many dumps
    repeated the state). ``valid_to`` is the next interval's
    ``valid_from`` (half-open, the warehouse convention) and NULL on
    the current interval. ``tiebreak_col`` makes equal-timestamp rows
    deterministic — REQUIRED for reproducible history whenever the log
    can carry ties (pass the event/dump id)."""
    return _collapse_log(df.withColumn("_w", F.lit(1)),
                         key_col, ts_col, attr_cols, tiebreak_col)


def _collapse_log(df: DataFrame, key_col: str, ts_col: str,
                  attr_cols: list[str],
                  tiebreak_col: str | None) -> DataFrame:
    """The change-collapse core, WEIGHTED: each input row carries ``_w``
    pre-collapsed versions (1 for raw log rows; an interval's
    ``n_versions`` when an already-collapsed current row re-enters the
    fold during an incremental merge) and ``n_versions`` sums them —
    which is what makes :func:`scd2_merge_batch`'s output equal a
    from-scratch rebuild."""
    order = [F.col(ts_col)] + (
        [F.col(tiebreak_col)] if tiebreak_col else [])
    w = Window.partitionBy(key_col).orderBy(*order)
    changed = F.lit(False)
    for a in attr_cols:
        changed = changed | ~F.col(a).eqNullSafe(F.lag(a).over(w))
    changed = F.when(F.lag(ts_col).over(w).isNull(), F.lit(True)) \
               .otherwise(changed)
    flagged = df.withColumn("_new", changed.cast("int"))
    island = F.sum("_new").over(
        w.rowsBetween(Window.unboundedPreceding, 0))
    grouped = (flagged.withColumn("_island", island)
               .groupBy(key_col, "_island", *attr_cols)
               .agg(F.min(ts_col).alias("valid_from"),
                    F.sum("_w").alias("n_versions")))
    wi = Window.partitionBy(key_col).orderBy("_island")
    return (grouped
            .withColumn("valid_to", F.lead("valid_from").over(wi))
            .select(key_col, *attr_cols, "valid_from", "valid_to",
                    F.col("n_versions").cast("bigint").alias("n_versions"),
                    F.col("valid_to").isNull().alias("is_current")))


def scd2_merge_batch(history: DataFrame, batch: DataFrame, key_col: str,
                     ts_col: str, attr_cols: list[str],
                     tiebreak_col: str | None = None) -> DataFrame:
    """Incremental SCD2 maintenance: fold an arriving log batch into an
    existing history so the result EQUALS ``scd2_history`` over the full
    log (oracle-enforced) — the warehouse MERGE that extends current
    intervals, closes them on change, and opens new ones, WITHOUT
    re-collapsing the historical log. The SCD2 twin of the digest/count
    append loops.

    Only the frontier can change: closed intervals are immutable, and
    untouched keys' rows pass through verbatim. So the merge (a) keeps
    every closed interval and every untouched key's current row, (b)
    for keys present in the batch, re-runs the weighted change-collapse
    over JUST the old current interval (one pseudo-row carrying its
    ``n_versions`` as weight, ordered before the batch by a sentinel
    tiebreak) plus the batch rows — if the batch continues the same
    state the interval extends with version counts accumulating; if it
    changes, the old current closes at the first changed row's ts.
    Work is O(batch + touched current rows); history size is irrelevant.

    Contract (the same in-order ingest assumption as the streaming
    gate/attribution): each key's batch rows are strictly later in the
    (ts, tiebreak) order than every log row already folded into
    ``history``. Batches themselves may contain multiple state changes.
    """
    bkeys = batch.select(key_col).distinct()
    touched = history.join(F.broadcast(bkeys), key_col, "left_semi")
    untouched = history.join(F.broadcast(bkeys), key_col, "left_anti")
    keep_closed = touched.filter(~F.col("is_current"))
    # the old current interval re-enters the fold as ONE weighted row;
    # its sentinel tiebreak (-1, below any real id) pins it first among
    # equal timestamps
    pseudo_cols = [F.col(key_col)] + [F.col(a) for a in attr_cols] \
        + [F.col("valid_from").alias(ts_col),
           F.col("n_versions").alias("_w")]   # stays LONG: an int cast
    # would ANSI-overflow past 2^31 accumulated versions
    pseudo = touched.filter(F.col("is_current")).select(*pseudo_cols)
    blog = batch.select(key_col, *attr_cols, ts_col,
                        *([tiebreak_col] if tiebreak_col else []),
                        F.lit(1).cast("long").alias("_w"))
    if tiebreak_col:
        pseudo = pseudo.withColumn(tiebreak_col,
                                   F.lit(-1).cast(
                                       dict(batch.dtypes)[tiebreak_col]))
    refolded = _collapse_log(pseudo.unionByName(blog),
                             key_col, ts_col, attr_cols, tiebreak_col)
    return (untouched.unionByName(keep_closed)
            .unionByName(refolded))


def as_of(history: DataFrame, ts) -> DataFrame:
    """Point-in-time (time-travel) lookup over SCD2 history: each key's
    state AT timestamp ``ts`` — the interval containing it under the
    half-open convention (``valid_from <= ts < valid_to``, open current
    interval matches everything ≥ its start). Keys that first appear
    after ``ts`` are absent, exactly as the warehouse expects. A
    map-only filter over the (collapsed, small) history — no window,
    no join; this query motivates keeping history AT REST instead of
    re-deriving state from the raw log per question."""
    t = F.lit(ts).cast("timestamp")
    return history.filter((F.col("valid_from") <= t)
                          & (F.col("valid_to").isNull()
                             | (F.col("valid_to") > t)))


def apply_changelog(base: DataFrame, changes: DataFrame, key_col: str,
                    seq_cols: list[str],
                    update_cols: list[str] | None = None) -> DataFrame:
    """SCD TYPE-1 CDC apply: fold a changelog of upserts/deletes into a
    base snapshot, producing the new snapshot — the "latest state only"
    companion to the type-2 history merge above, and the core of every
    lakehouse MERGE INTO. ``changes`` rows carry ``op`` ∈
    {'U','D'} plus new values for ``update_cols``; ``seq_cols`` is the
    total order that decides last-wins within a key (make it total —
    include a unique id — or the winner is engine-dependent).

    Semantics: per key, only the LAST change applies (a delete
    resurrected by a later upsert is an insert — the fold must not
    short-circuit on seeing a D). U on an existing key updates
    ``update_cols`` and keeps every other base column; U on an absent
    key inserts (non-updated columns NULL); D drops the key; keys
    without changes pass through untouched.

    Plan: the changelog collapses to one row per key FIRST (the
    max_by-style last-wins groupBy — change-scale, not base-scale),
    then ONE full-outer-shaped join against base applies the fold.
    At 100 TB base-scale this is the standard copy-on-write MERGE
    shape; bucket the base on the key to co-locate the join, and
    overwrite only the touched partitions."""
    from pyspark.sql import Window

    update_cols = update_cols or [
        c for c in changes.columns
        if c not in {key_col, "op", *seq_cols}]
    w = Window.partitionBy(key_col).orderBy(
        *[F.col(c).desc() for c in seq_cols])
    last = (changes
            .withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1)
            .select(F.col(key_col).alias("_k"),
                    F.col("op").alias("_op"),
                    *[F.col(c).alias(f"_new_{c}") for c in update_cols]))
    j = base.join(last, base[key_col] == last["_k"], "full_outer")
    keep = (F.col("_op").isNull()                     # untouched base row
            | (F.col("_op") == F.lit("U")))          # update or insert
    out_cols = []
    for c in base.columns:
        if c == key_col:
            out_cols.append(F.coalesce(base[key_col], F.col("_k"))
                            .alias(key_col))
        elif c in update_cols:
            out_cols.append(F.when(F.col("_op") == "U", F.col(f"_new_{c}"))
                            .otherwise(base[c]).alias(c))
        else:
            out_cols.append(base[c].alias(c))
    return j.filter(keep).select(*out_cols)
