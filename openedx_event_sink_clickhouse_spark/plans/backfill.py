"""EP3 — bulk backfill (reference ``management/commands/
dump_data_to_clickhouse.py``), set-oriented.

The reference iterates pages, issuing ONE watermark query per item
(``should_dump_item`` → HTTP round trip, ``dump_data_to_clickhouse.py:29-81``
+ ``course_published.py:165``). Here eligibility for the whole candidate
set is one plan: scans S3-S4 → A2 change detection → L1 limit →
partition-batched sink writes with L2 throttle.

Both A2 forms of ``operators/incremental`` apply one rule. With a history
small enough to broadcast, a table's dump is two Spark jobs: the
history's broadcast and the POSTs. :func:`run_backfill` selects its batch
with :func:`~..operators.incremental.changed_since_dump`, a left-anti
join against the raw history, so no watermark aggregate (a shuffle job)
runs, and it writes the batch in the scan's own partitions, with no
exchange before the POSTs. :func:`classify_targets` annotates the same
decision with the reference's ``(item, should_dump, reason)`` reasons
(:func:`~..operators.incremental.classify_changes`), for callers that
need them; it is not on the dump path.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.incremental import changed_since_dump, classify_changes
from ..operators.scans import in_list, not_in_list


@dataclass
class BackfillOptions:
    """CLI option surface (``dump_data_to_clickhouse.py:84-163``)."""

    ids: list | None = None          # --ids
    skip_ids: list | None = None     # --ids_to_skip
    force: bool = False              # --force
    limit: int | None = None         # --limit (must be > 0; not with force)
    batch_size: int = 10_000         # --batch_size
    sleep_time: float = 1.0          # --sleep_time

    def validate(self) -> None:
        # mirrors handle()'s guards (dump_data_to_clickhouse.py:178-194)
        if self.limit is not None and self.limit <= 0:
            raise ValueError("'limit' must be greater than 0!")
        if self.limit is not None and self.force:
            raise ValueError("The 'limit' option cannot be used with 'force'!")


def _scope(source: DataFrame, key: str, opts: BackfillOptions) -> DataFrame:
    """S3-S4: ``--ids`` and ``--ids_to_skip``."""
    df = source
    if opts.ids:
        df = in_list(df, key, opts.ids)
    if opts.skip_ids:
        df = not_in_list(df, key, opts.skip_ids)
    return df


def _limit(eligible: DataFrame, key: str, opts: BackfillOptions) -> DataFrame:
    """L1, applied AFTER the skip-filter
    (``dump_data_to_clickhouse.py:70-74``: limit counts eligible items)."""
    if opts.limit is not None:
        eligible = eligible.orderBy(key).limit(opts.limit)
    return eligible


def classify_targets(source: DataFrame, sink_history: DataFrame | None, *,
                     key: str, modified_col: str, sink_ts_col: str,
                     opts: BackfillOptions) -> DataFrame:
    """``fetch_target_items`` (``base_sink.py:284-306``) as one plan:
    every scoped candidate row annotated with ``should_dump`` +
    ``dump_reason`` — the reference's ``(item, should_be_dumped, reason)``
    triples. With ``force`` or no history every row is dumped; otherwise
    the rows are :func:`~..operators.incremental.classify_changes`.

    :func:`run_backfill` does not call it: it selects the same rows with
    :func:`~..operators.incremental.changed_since_dump`, which needs no
    watermark aggregate. ``select_dump_batch(classify_targets(...))`` and
    that batch hold the same rows in the same column order."""
    df = _scope(source, key, opts)
    if opts.force or sink_history is None:
        reason = "Force is set" if opts.force else "No reason"
        return df.withColumn("should_dump", F.lit(True)) \
                 .withColumn("dump_reason", F.lit(reason))
    return classify_changes(df, sink_history, key, modified_col, sink_ts_col)


def select_dump_batch(classified: DataFrame, key: str,
                      opts: BackfillOptions) -> DataFrame:
    """Eligible rows of :func:`classify_targets`, with the L1 limit."""
    eligible = classified.filter(F.col("should_dump")) \
                         .drop("should_dump", "dump_reason")
    return _limit(eligible, key, opts)


def run_backfill(source: DataFrame, sink_history: DataFrame | None, sink,
                 table: str, *, key: str, modified_col: str | None,
                 sink_ts_col: str,
                 opts: BackfillOptions | None = None) -> int:
    """Full EP3: scope → change-detect → limit → partition-batched insert
    with throttle. Returns the number of rows dumped.

    With ``force`` or no history every scoped row is dumped, with the
    source's columns; otherwise the batch is
    :func:`~..operators.incremental.changed_since_dump` of the scoped
    rows, ``key`` first (the column order :func:`select_dump_batch`
    gives). ``modified_col`` and ``sink_ts_col`` are read only when there
    is a history and no ``force``, so a caller that passes no history may
    pass ``None`` for a source without a modified column."""
    opts = opts or BackfillOptions()
    opts.validate()
    batch = _scope(source, key, opts)
    if not opts.force and sink_history is not None:
        batch = changed_since_dump(batch, sink_history, key, modified_col,
                                   sink_ts_col)
    batch = _limit(batch, key, opts)
    # Single pass: the sink chunks each partition into batch_size-row
    # POSTs (S5) and counts rows in the same action — no separate
    # count() scan. The batch keeps the source scan's partitions (file
    # splits): a rebalance exchange in front would cost a shuffle job,
    # and AQE coalesced it to one partition on every table measured.
    return sink.insert_df(batch, table, throttle_secs=opts.sleep_time,
                          max_rows_per_post=opts.batch_size)
