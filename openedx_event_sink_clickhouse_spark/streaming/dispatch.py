"""F1 — event-driven sink dispatch on Structured Streaming.

The reference's event path is: Django signal → Celery message →  worker
deserializes → ``sink.dump(entity_id)`` — one entity per message,
at-least-once (``signals.py:19-83``, ``tasks.py:19-59``). The Spark-native
shape replaces the broker hop with a micro-batch boundary:

    readStream(publish events) → foreachBatch(dispatch) → batch pipelines

Inside ``foreachBatch`` we have a plain batch DataFrame, so EVERY pipeline
in ``plans/`` is reused verbatim — same code for streaming ingest and bulk
backfill, which the reference achieves by routing both through the sink
classes.

Delivery is at-least-once, like the reference's Celery path: a replayed
epoch re-runs its handlers, so a sink sees those rows again, and a failed
POST fails its Spark task (which local mode does not re-run) and with it
the epoch. As separate Celery tasks keep one sink from waiting behind
another, the handlers of one epoch run concurrently, one thread each, so a
handler must be thread-safe; the epoch's critical path is its slowest
handler, not the sum of them.

A "publish event" row is ``(model, object_id, ts)`` — the exact payload of
``dump_data_to_clickhouse.delay(sink_module, sink_name, object_id)``.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

# handler(entity_ids: DataFrame[object_id]) -> None, one per model,
# the moral equivalent of SinkClass.dump(id) (tasks.py:41-59)
Handler = Callable[[DataFrame], None]


def dispatch_batch(batch_df: DataFrame, handlers: dict[str, Handler]) -> None:
    """Route one micro-batch of publish events (``model``, ``object_id``
    columns, as ``streaming.sources.PUBLISH_EVENT_SCHEMA``) to per-model
    handlers.

    ``handlers`` is the reference's sink lookup and its gating in one
    map: F2 (``get_sink_by_model_name``, ``base_sink.py:360-369``) is the
    lookup of a model name in it, and F3 (the per-sink enabled flags,
    ``base_sink.py:337-358``) is which handlers a deployment passes in.

    Entities are deduplicated within the batch — N publish events for one
    course in one epoch trigger ONE dump, a set-oriented improvement the
    reference can't make across independent Celery messages.

    Every handler runs, on its own thread, over its model's slice of the
    batch; a model absent from the batch reaches its handler as an empty
    frame. The threads inherit the caller's Spark local properties (the
    stream's job group among them). All handlers finish before the first
    failure, in handler order, is re-raised. A model without a handler
    reaches none (``tasks.py`` drops unknown sinks).
    """
    session = batch_df.sparkSession
    batch_df = batch_df.select("model", "object_id").distinct().cache()
    model = F.col("model")
    try:
        def run(name: str, handler: Handler) -> None:
            handler(batch_df.filter(model == name).select("object_id"))

        with ThreadPoolExecutor(max_workers=max(1, len(handlers))) as pool:
            futures = [pool.submit(inheritable_thread_target(session)(run),
                                   name, handler)
                       for name, handler in handlers.items()]
    finally:
        batch_df.unpersist()
    for future in futures:
        future.result()


def run_dispatch_stream(stream_df: DataFrame, handlers: dict[str, Handler],
                        checkpoint_dir: str, *, trigger: dict | None = None,
                        query_name: str = "event_sink_dispatch"):
    """Wire the dispatcher onto an unbounded stream. ``trigger`` defaults
    to ``availableNow`` (drain-and-stop, used by tests/backfill catch-up);
    pass ``{"processingTime": "10 seconds"}`` for continuous micro-batches
    — the L2 throttle analog."""
    trigger = trigger or {"availableNow": True}
    return (stream_df.writeStream
            .queryName(query_name)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(**trigger)
            .foreachBatch(lambda df, _epoch: dispatch_batch(df, handlers))
            .start())
