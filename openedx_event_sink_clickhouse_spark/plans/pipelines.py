"""End-to-end pipelines (reference entry points EP1–EP3, SURVEY.md §3).

Each pipeline is a pure DataFrame → DataFrame function: the streaming layer
wraps the same function in ``foreachBatch`` and the backfill CLI calls it
on a full scan — one implementation, two entry modes, which is the
Spark-native version of the reference sharing sink code between Celery
tasks and the management command.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.derivations import (
    deterministic_dump_id,
    dump_id_expr,
    ingest_timestamp,
    json_pack,
)
from ..operators.incremental import detect_changes


def flagship_events_incremental(events: DataFrame, dumped_before: str,
                                deterministic: bool = True) -> DataFrame:
    """The flagship query (driver smoke + oracle target).

    Scenario: the sink already holds every event with ``ts < dumped_before``
    (its ``time_last_dumped`` = the event's ``ts``). Which events must be
    dumped now, serialized to the sink row shape?

    Plan shape: one map-side-partial groupBy over the (small) dumped slice,
    broadcast to the candidate scan, filter, then pure projection — no
    wide shuffle of the fact table at any scale.

    ``deterministic=True`` derives dump_id from the row key and pins
    time_last_dumped to the watermark cutoff so the DuckDB oracle can
    reproduce values bit-for-bit; production mode uses uuid4/now() exactly
    like the reference (``serializers.py:25-31``).
    """
    cutoff = F.lit(dumped_before).cast("timestamp")
    sink_rows = events.filter(F.col("ts") < cutoff).select(
        F.col("user_id").alias("entity_id"),
        F.col("ts").alias("time_last_dumped"),
    )
    changed = detect_changes(
        events.withColumnRenamed("user_id", "entity_id"),
        sink_rows, key="entity_id", modified_col="ts",
        sink_ts_col="time_last_dumped",
    )
    dump_id = (deterministic_dump_id(F.col("event_id"))
               if deterministic else dump_id_expr(per_batch=True))
    dumped_at = cutoff if deterministic else ingest_timestamp()
    return changed.select(
        F.col("event_id"),
        F.col("entity_id").alias("user_id"),
        F.col("event_type"),
        F.col("ts").alias("modified"),
        json_pack(event_type=F.col("event_type"), value=F.col("value"),
                  props=F.col("props")).alias("event_data_json"),
        dump_id.alias("dump_id"),
        dumped_at.alias("time_last_dumped"),
    )
