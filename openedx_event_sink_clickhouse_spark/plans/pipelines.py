"""The flagship incremental dump (EP3 semantics, SURVEY.md §3) as one
pure DataFrame → DataFrame query: ``__spark_entry__``'s smoke query and
an oracle target.

It applies the package's one change-detection rule,
:func:`~..operators.incremental.classify_changes`, to a history built
from the events themselves, and mints dump metadata in the package's one
form, :func:`~..functions.derivations.deterministic_dump_id`. The dump
paths that POST rows are ``plans/backfill`` (the CLI) and
``plans/course_publish`` / ``plans/user_sinks`` (the publish stream's
handlers).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.derivations import deterministic_dump_id, json_pack
from ..operators.incremental import classify_changes


def flagship_events_incremental(events: DataFrame,
                                dumped_before: str) -> DataFrame:
    """The flagship query (driver smoke + oracle target).

    Scenario: the sink already holds every event with ``ts < dumped_before``
    (its ``time_last_dumped`` = the event's ``ts``). Which events must be
    dumped now, serialized to the sink row shape?

    Plan shape: one map-side-partial groupBy over the dumped slice (many
    rows per user, so the aggregate bounds the broadcast to distinct
    users), broadcast to the candidate scan, ``classify_changes``'s
    ``should_dump`` filter, then pure projection — no wide shuffle of the
    fact table at any scale.

    ``dump_id`` is derived from the row key and ``time_last_dumped`` is
    pinned to the watermark cutoff, so the DuckDB oracle can reproduce
    values bit-for-bit.
    """
    cutoff = F.lit(dumped_before).cast("timestamp")
    sink_rows = events.filter(F.col("ts") < cutoff).select(
        F.col("user_id").alias("entity_id"),
        F.col("ts").alias("time_last_dumped"),
    )
    changed = classify_changes(
        events.withColumnRenamed("user_id", "entity_id"),
        sink_rows, key="entity_id", modified_col="ts",
        sink_ts_col="time_last_dumped",
    ).filter("should_dump")
    return changed.select(
        F.col("event_id"),
        F.col("entity_id").alias("user_id"),
        F.col("event_type"),
        F.col("ts").alias("modified"),
        json_pack(event_type=F.col("event_type"), value=F.col("value"),
                  props=F.col("props")).alias("event_data_json"),
        deterministic_dump_id(F.col("event_id")).alias("dump_id"),
        cutoff.alias("time_last_dumped"),
    )
