"""Incremental-load operators: watermark aggregate (A1) and
change-detection (A2) — the semantic core of the reference's sink pipeline.

The reference issues ONE ClickHouse round-trip PER candidate item:
``SELECT max(time_last_dumped) FROM {table} WHERE {unique_key} = '{id}'``
(``sinks/base_sink.py:314-335``), then compares in Python
(``sinks/course_published.py:154-198``). That is O(items) network calls.

Spark-first design: both sides are DataFrames, so the whole decision
collapses into one set-oriented plan. A2 is one tri-state rule,
``should_dump_item``'s, written once as the SQL predicate "a dump of
this key supersedes the row" (:func:`_superseded`)::

    ts IS NOT NULL AND (modified IS NULL OR ts >= modified)

and applied in two forms that select the same rows:

- :func:`classify_changes` joins the aggregated watermark —

      watermarks = sink.groupBy(key).agg(max(ts))        # A1, map-side partial agg
      candidates LEFT JOIN watermarks USING (key)        # broadcast if small
      should_dump = NOT superseded(last_dump, modified)

  and annotates every candidate with ``should_dump`` and the
  reference's reason, which needs ``last_dump`` at hand. Aggregating
  first bounds the broadcast to the distinct keys, so it suits a history
  with many rows per key (the flagship query).
- :func:`changed_since_dump` anti-joins the raw history —

      candidates s LEFT ANTI JOIN sink h
        ON s.key = h.key AND superseded(h.ts, s.modified)

  which keeps only the ``should_dump`` rows and needs no aggregate, so no
  shuffle: the history is broadcast as it is scanned, one job fewer per
  plan. The backfill's dump path uses it.

At 100 TB the watermark side is |distinct keys| rows (tiny relative to the
fact table) — Catalyst/AQE broadcasts it, so the fact side streams through
map tasks with zero shuffle. This is the single biggest semantic win of
the rewrite (SURVEY.md §3 EP3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.derivations import quote_ident


def watermarks(sink_df: DataFrame, key: str, ts_col: str) -> DataFrame:
    """A1 (set-oriented) — per-entity high-water mark ``last_dump`` over
    the sink table.

    Replaces the per-item filtered ``max()`` of ``base_sink.py:314-335``.
    A partial (map-side) max runs before the shuffle, so the shuffled data
    is one row per key per map task.
    """
    return sink_df.groupBy(key).agg(F.max(ts_col).alias("last_dump"))


def _superseded(ts: str, modified: str) -> str:
    """SQL text of the change rule: a dump at ``ts`` supersedes a row
    modified at ``modified``. True when the dump time is non-NULL and not
    older than ``modified``, or ``modified`` is NULL; never NULL itself.
    A row is dumped iff no dump of its key supersedes it."""
    return f"{ts} IS NOT NULL AND ({modified} IS NULL OR {ts} >= {modified})"


def classify_changes(candidates: DataFrame, sink_df: DataFrame, key: str,
                     modified_col: str, sink_ts_col: str) -> DataFrame:
    """A2 — every candidate annotated with ``should_dump`` and
    ``dump_reason``: the reference's ``(item, should_dump, reason)``
    triples (``dump_data_to_clickhouse.py:29-81``).

    Mirrors ``should_dump_item`` (``course_published.py:154-198``)
    tri-state, with its reason strings: never dumped → dump (even with
    NULL ``modified``); dumped before but NULL ``modified`` → skip;
    ``modified`` strictly newer than the watermark → dump; equal or older
    → skip. Columns are the ``USING`` join's: ``key`` first, then the
    other candidate columns, then the two annotations.
    """
    joined = candidates.join(watermarks(sink_df, key, sink_ts_col),
                             on=key, how="left")
    mod = quote_ident(modified_col)

    def published(since: str, op: str) -> str:
        return (f"concat('Course has {since} published since last dump time "
                f"- last dumped ', CAST(last_dump AS STRING), ' {op} last "
                f"published ', CAST({mod} AS STRING))")

    return (joined
            .withColumn("should_dump",
                        F.expr(f"NOT ({_superseded('last_dump', mod)})"))
            .withColumn("dump_reason", F.expr(
                "CASE WHEN last_dump IS NULL "
                "THEN 'Course is not present in ClickHouse' "
                f"WHEN {mod} IS NULL "
                "THEN 'No last modified date in CourseOverview' "
                f"WHEN should_dump THEN {published('been', '<')} "
                f"ELSE {published('NOT been', '>=')} END"))
            .drop("last_dump"))


def changed_since_dump(candidates: DataFrame, sink_df: DataFrame, key: str,
                       modified_col: str, sink_ts_col: str) -> DataFrame:
    """A2 as one left-anti join against the raw sink history: exactly the
    ``should_dump`` rows of :func:`classify_changes`, without the
    watermark aggregate or the annotations.

    A candidate is skipped when some history row of its key supersedes
    it (:func:`_superseded`). Since only non-NULL dump times supersede, a
    key with no history, or only NULL dump times, is dumped
    (``last_dump IS NULL``); since one dump supersedes iff the latest
    does, the rule reads the same against the raw rows as against their
    max. A NULL key matches nothing and is dumped, as by the outer join.

    The plan is the history scan, filtered on ``ts IS NOT NULL`` and
    broadcast when small, probed by the candidate scan: no exchange and no
    aggregate job. Columns come back in :func:`classify_changes`'s order:
    ``key`` first, then the other candidate columns.
    """
    k, mod, ts = map(quote_ident, (key, modified_col, sink_ts_col))
    out = candidates.alias("s").join(
        sink_df.alias("h"),
        F.expr(f"s.{k} = h.{k} AND {_superseded(f'h.{ts}', f's.{mod}')}"),
        "left_anti")
    cols = candidates.columns
    if cols[0] == key:
        return out
    return out.selectExpr(quote_ident(key),
                          *(quote_ident(c) for c in cols if c != key))


def incremental_join_view(view_old: DataFrame | None,
                          a_old: DataFrame, delta_a: DataFrame,
                          b_old: DataFrame, delta_b: DataFrame,
                          on: str | list[str]) -> DataFrame:
    """Incremental MATERIALIZED-VIEW maintenance for an inner join —
    the delta-join identity every IVM engine implements:

        Δ(A ⋈ B) = (ΔA ⋈ B_old) ∪ (A_old ⋈ ΔB) ∪ (ΔA ⋈ ΔB)

    so the refreshed view is ``view_old ∪ Δ`` with NO recomputation of
    the old⋈old quadrant — the quadrant that dominates at 100 TB, where
    a day's deltas are a fraction of a percent of the base. Pass
    ``view_old=None`` on first build (it bootstraps A_old ⋈ B_old and
    the identity degenerates to the full join).

    Cost shape: every Δ-term has a delta on one side, so each join
    shuffles (or broadcasts — AQE decides from actual delta sizes) at
    most O(|Δ| + matched base rows), never the base×base volume; the
    result is append-only, so the at-rest view needs no rewrite, just
    new files (compact them periodically). Insert-only
    deltas assumed — updates/deletes route through the SCD operators,
    the standard IVM layering."""
    delta = (delta_a.join(b_old, on)
             .unionByName(a_old.join(delta_b, on))
             .unionByName(delta_a.join(delta_b, on)))
    if view_old is None:
        view_old = a_old.join(b_old, on)
    return view_old.unionByName(delta)
