"""Streaming source adapters for the dispatch layer (F1).

``run_dispatch_stream`` consumes publish-event rows ``(model, object_id,
ts)`` — the payload of the reference's Celery message
(``dump_data_to_clickhouse.delay(sink_module, sink_name, object_id)``,
``signals.py:31-64``). This module adapts concrete stream sources to that
contract, so the dispatcher itself stays source-agnostic:

- **Kafka** — the production shape. :func:`decode_kafka_publish_events`
  turns the exact wire schema Spark's kafka source emits (``key``/``value``
  binary, ``topic``/``partition``/``offset``/``timestamp`` metadata) into
  publish rows; :func:`kafka_publish_stream` wires
  ``readStream.format("kafka")`` in front of it. The kafka connector jar
  is a cluster-side dependency — in this container (and in tests) a
  memory/file stream carrying the same wire schema stands in, which
  exercises every line of the adapter except the socket.
- **Files** — :func:`file_publish_stream`, the backfill/catch-up shape
  (also what the tests use as the broker stand-in).

Decode is pure Column expressions (``from_json`` over a fixed schema) —
no Python boundary in the hot path at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Schema of the payload the reference enqueues per publish event.
PUBLISH_EVENT_SCHEMA = "model string, object_id string, ts timestamp"

# The exact columns Spark's kafka source produces (its wire contract);
# a stand-in stream must carry the same names/types for the adapter to
# be swappable with the real connector.
KAFKA_WIRE_SCHEMA = ("key binary, value binary, topic string, "
                     "partition int, offset bigint, timestamp timestamp, "
                     "timestampType int")

# JSON body carried in the kafka message value.
_VALUE_SCHEMA = "model string, object_id string"


def decode_kafka_publish_events(kafka_df: DataFrame,
                                corrupt_col: str | None = None) -> DataFrame:
    """Kafka wire rows → publish-event rows ``(model, object_id, ts)``.

    ``ts`` is the broker-assigned message timestamp (the event-time the
    reference never had — Celery messages carry no ordering). Malformed
    JSON values decode to NULL model/object_id; pass ``corrupt_col`` to
    keep the raw value string in that column for a dead-letter route
    instead of silently dropping (K2's error-tolerance posture).
    """
    payload = F.from_json(F.col("value").cast("string"), _VALUE_SCHEMA)
    cols = [payload["model"].alias("model"),
            payload["object_id"].alias("object_id"),
            F.col("timestamp").alias("ts")]
    if corrupt_col is not None:
        cols.append(F.when(payload["model"].isNull(),
                           F.col("value").cast("string"))
                     .alias(corrupt_col))
    return kafka_df.select(*cols)


def kafka_publish_stream(spark: SparkSession, bootstrap_servers: str,
                         topic: str, starting_offsets: str = "latest",
                         ) -> DataFrame:
    """Production wiring: ``readStream.format("kafka")`` → decode.

    Requires the spark-sql-kafka connector on the cluster classpath (not
    shipped in this container — tests substitute a wire-schema file
    stream through the same decoder).
    """
    raw = (spark.readStream.format("kafka")
           .option("kafka.bootstrap.servers", bootstrap_servers)
           .option("subscribe", topic)
           .option("startingOffsets", starting_offsets)
           .load())
    return decode_kafka_publish_events(raw)


def file_publish_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-arrival publish events (backfill/catch-up, and the test
    stand-in for the broker).

    Each trigger lists ``path`` for new files, then builds the micro-batch
    over a file index of exactly those files, which stats each one again.
    Above ``spark.sql.sources.parallelPartitionDiscovery.threshold`` files
    (32 by default) Spark runs that stat as a Spark job with one task per
    file, every epoch: 95 of a 127-task publish epoch, and 0.4-0.9 s of
    its trigger. A local session from ``session.get_spark`` lifts the
    threshold, so the stat runs on the driver with no job (~15 ms); on a
    cluster it stays a distributed job, which is faster against S3 or
    HDFS."""
    return spark.readStream.schema(PUBLISH_EVENT_SCHEMA).parquet(path)
