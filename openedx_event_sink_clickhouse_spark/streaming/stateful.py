"""Custom stateful streaming operator: per-entity incremental-dump
gate as ``applyInPandasWithState``.

The reference implements its incremental load as ONE ClickHouse
``SELECT max(time_last_dumped) ... WHERE unique_key = id`` round-trip per
candidate item (base_sink.py:314-335, course_published.py:154-198 —
the per-row watermark anti-pattern SURVEY.md §3/EP3 calls out). The batch
rewrite collapses that to a groupBy-max + anti-join
(``operators/incremental.py``); THIS module is the streaming-native form:
the high-water mark lives in Spark's state store, partitioned by entity,
so deciding "has this entity changed since its last dump?" costs zero
sink round-trips and zero joins — state is co-partitioned with the
stream shuffle.

Semantics (matches ``should_dump_item``): an event passes iff the
entity has no stored watermark (never dumped) or ``ts`` strictly exceeds
it; the watermark then advances to the max ``ts`` seen. At-least-once
with checkpointing: replaying a micro-batch re-emits, downstream sinks
stay idempotent via dump_id versioning (serializers.py:25-31 parity).

Scale: state is O(distinct entities), spread across
``spark.sql.shuffle.partitions`` state-store partitions — at 100 TB the
knobs are RocksDB state store + partition count, not operator shape.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T

EVENT_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("props", T.StringType()),
])

WATERMARK_STATE = T.StructType([
    T.StructField("last_dump", T.TimestampType()),
])


def incremental_dump_stream(events: DataFrame) -> DataFrame:
    """Streaming incremental-dump gate: keep only rows newer than their
    entity's stored high-water mark, advancing the mark per micro-batch.

    Streaming-only (applyInPandasWithState rejects batch inputs in
    Spark 4): the batch form of the same semantics is
    ``operators.incremental.classify_changes``. Here the watermark
    survives in the state store between micro-batches instead of being
    recomputed from the sink.
    """
    cols = [f.name for f in EVENT_SCHEMA.fields]

    def gate(key, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        last = state.get[0] if state.exists else None
        max_seen = last
        for pdf in pdfs:
            ts = pd.to_datetime(pdf["ts"])
            # strictly-newer-than-watermark filter; the mark is fixed for
            # the whole micro-batch (reference semantics: one watermark
            # read per dump decision, course_published.py:165)
            out = pdf if last is None else pdf[ts > pd.Timestamp(last)]
            if len(ts):
                batch_max = ts.max().to_pydatetime()
                max_seen = batch_max if max_seen is None or \
                    batch_max > max_seen else max_seen
            if len(out):
                yield out[cols]
        if max_seen is not None:
            state.update((max_seen,))

    return (events.groupBy("user_id")
            .applyInPandasWithState(
                gate,
                outputStructType=EVENT_SCHEMA,
                stateStructType=WATERMARK_STATE,
                outputMode="append",
                timeoutConf="NoTimeout"))


ATTRIBUTION_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("conv_ts", T.TimestampType()),
    T.StructField("conv_value", T.DoubleType()),
    T.StructField("touch_type", T.StringType()),
    T.StructField("touch_ts", T.TimestampType()),
])

TOUCH_STATE = T.StructType([
    T.StructField("touch_type", T.StringType()),
    T.StructField("touch_ts", T.TimestampType()),
])


def attribution_stream(events: DataFrame) -> DataFrame:
    """Streaming-native last-touch attribution: the per-user "latest
    touch so far" lives in the state store, so each conversion is
    credited the moment it arrives — no window over history, no replay.
    The streaming twin of ``operators.funnel.last_touch_attribution``
    (same (ts, id) total order, same strictly-preceding semantics;
    parity test-pinned), the way ``incremental_dump_stream`` twins
    ``change_detection``.

    State is two scalars per user — O(distinct users) across the state
    store's shuffle partitions, the same footprint class as the
    watermark gate. Assumes per-user event-time-ordered delivery
    ACROSS micro-batches (the file-source tests force it by mtime;
    a Kafka deployment gets it from per-key partition ordering) —
    within a batch, rows are sorted here.
    """
    def attribute(key, pdfs: Iterator[pd.DataFrame],
                  state) -> Iterator[pd.DataFrame]:
        t_ty, t_ts = state.get if state.exists else (None, None)
        touched = state.exists
        # Materialize ALL Arrow chunks for the key before the one sort:
        # applyInPandasWithState delivers a group's batch as multiple
        # ~10k-row chunks in arbitrary post-shuffle order, so sorting
        # each chunk independently could credit a conversion before an
        # earlier-chunk touch. One concat bounds memory by the per-key
        # per-trigger batch — the contract's per-user event volume, not
        # the stream.
        chunks = list(pdfs)
        if not chunks:
            # Timeout invocation: with a timeoutConf configured,
            # applyInPandasWithState calls the function with an EMPTY
            # iterator for timed-out keys. Nothing to attribute; keep
            # the touch state alive (this handler never expires touches
            # on its own). Safe no-op under today's NoTimeout too.
            if touched:
                state.update((t_ty, t_ts))
            return
        pdf = (pd.concat(chunks, ignore_index=True)
               if len(chunks) > 1 else chunks[0])
        pdf = pdf.sort_values(["ts", "event_id"])
        # Vectorized last-touch carry (guide §4.2 — no per-row Python):
        # mark touch rows, forward-fill their (type, ts) down the sorted
        # frame, seed the leading gap from the carried state. A
        # conversion row is never itself a touch, so the ffill value AT
        # a conversion row is exactly the latest touch STRICTLY before
        # it in (ts, id) order — the same value the old itertuples loop
        # carried row by row (parity pinned by tests + the shared window
        # oracle).
        is_touch = pdf["event_type"].isin(("click", "view"))
        run_ty = pdf["event_type"].where(is_touch).ffill()
        run_ts = pd.to_datetime(pdf["ts"]).where(is_touch).ffill()
        if touched:
            run_ty = run_ty.fillna(t_ty)
            run_ts = run_ts.fillna(pd.Timestamp(t_ts))
        conv = pdf["event_type"] == "purchase"
        if conv.any():
            frame = pd.DataFrame({
                "event_id": pdf.loc[conv, "event_id"].to_numpy(),
                "user_id": pdf.loc[conv, "user_id"].to_numpy(),
                "conv_ts": pd.to_datetime(pdf.loc[conv, "ts"]).to_numpy(),
                "conv_value": pdf.loc[conv, "value"].to_numpy(),
                "touch_type": run_ty[conv].to_numpy(),
                "touch_ts": run_ts[conv].to_numpy(),
            })
            yield frame
        if is_touch.any():
            last = is_touch[is_touch].index[-1]
            t_ty, t_ts = pdf.at[last, "event_type"], pdf.at[last, "ts"]
            touched = True
        if touched:
            state.update((t_ty, t_ts))

    return (events.groupBy("user_id")
            .applyInPandasWithState(attribute, ATTRIBUTION_SCHEMA,
                                    TOUCH_STATE, "append",
                                    "NoTimeout"))
