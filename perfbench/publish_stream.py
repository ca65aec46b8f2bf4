"""``publish_stream`` — the signal path (EP1/EP2) as an open loop.

A generator (the benchmark's main thread) drops publish-event files ``(model, object_id,
ts = due time)`` into a watched directory at a fixed rate, on a schedule
that does not slow down when the system does (independent authors and
users publishing). ``streaming.dispatch.run_dispatch_stream`` consumes the
directory with a ``processingTime`` trigger; its handlers call
``plans.course_publish.course_publish_pipeline`` and
``plans.user_sinks.serialize_*`` over the generated sources, then
``ClickHouseSink.insert_df`` to the loopback receiver.

One operation is one publish event; its latency runs from the file's due
time to the receipt of the first POST carrying its ``(model, id)`` row
with ``dump_id``/``time_last_dumped`` set, among the POSTs of the epoch
that read the file (the file source's log names that epoch). An event
not received from that epoch is a failed operation.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import time
import uuid
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from openedx_event_sink_clickhouse_spark.plans.course_publish import (
    course_publish_pipeline,
)
from openedx_event_sink_clickhouse_spark.plans.user_sinks import (
    serialize_external_id,
    serialize_user_profile,
)
from openedx_event_sink_clickhouse_spark.streaming.dispatch import (
    run_dispatch_stream,
)
from openedx_event_sink_clickhouse_spark.streaming.sources import (
    file_publish_stream,
)

from . import gen
from .common import Ctx, Ops, job_counts, median, noop_write_s

# Trigger interval: the one ``run_dispatch_stream`` documents for
# continuous micro-batches. An epoch that dispatches all three models
# takes 5-10 s on a shared 4-vCPU host (``dispatch.handler_s.*`` of
# traced runs: 2.5-4.4, 1.1-2.0 and 0.7-1.1 s), within the interval, so
# the latency is trigger wait plus epoch work, not a growing backlog.
TRIGGER_S = 10
# One file per 100 ms, short against the trigger interval. 100 events/s
# puts about 330 events of each model in an epoch, fewer than the 500 of
# a single-model epoch measured at 1.1-1.3 s on the same host.
FILES_PER_S = 10
EVENTS_PER_FILE = 10
# The warm-up runs the same path at a 1 s interval for two intervals: the
# first, cold epoch takes many intervals, and the second reads every file
# written meanwhile, so the warm-up runs two epochs.
WARM_TRIGGER_S = 1
WARM_INTERVALS = 2
DRAIN_TIMEOUT_S = 60.0
# Gap between a trigger time and the nearest due time of the schedule.
EDGE_S = 0.25
_DURATIONS = {"trigger_ms": "triggerExecution", "add_batch_ms": "addBatch",
              "wal_commit_ms": "walCommit", "commit_offsets_ms": "commitOffsets",
              "latest_offset_ms": "latestOffset",
              "query_planning_ms": "queryPlanning"}


def _sources(spark, paths: dict) -> dict:
    return {name: spark.read.parquet(paths[f"publish/{name}"])
            for name in ("overviews", "blocks", "profiles", "users",
                         "external_ids", "id_types")}


def _dump_meta():
    """One dump id and dump time per handler call, shared by every row it
    writes (the reference stamps a dump's rows alike)."""
    now = dt.datetime.now(dt.timezone.utc)
    return F.lit(str(uuid.uuid4())), F.lit(now).cast("timestamp")


def _handlers(sink, src: dict, track: dict) -> dict:
    """Per-model handlers. Before an entity table's insert, each records
    in ``track`` (the receiver's) where that table's rows carry the key and
    the dump metadata, read off the serializer's output columns."""
    def insert(df, table, key):
        cols = df.columns
        track[table] = (cols.index(key), cols.index("dump_id"),
                        cols.index("time_last_dumped"))
        sink.insert_df(df, table)

    def course_overviews(ids):
        dump_id, when = _dump_meta()
        keys = ids.withColumnRenamed("object_id", "id")
        ov = src["overviews"].join(keys, "id", "left_semi")
        bl = src["blocks"].join(keys.withColumnRenamed("id", "course_key"),
                                "course_key", "left_semi")
        ov_rows, bl_rows = course_publish_pipeline(ov, bl, dump_id, when)
        insert(ov_rows, "course_overviews", "course_key")
        sink.insert_df(bl_rows, "course_blocks")

    def user_profile(ids):
        dump_id, when = _dump_meta()
        keys = ids.select(F.col("object_id").cast("long").alias("id"))
        rows = serialize_user_profile(
            src["profiles"].join(keys, "id", "left_semi"),
            src["users"].select("id", "email"), dump_id, when)
        insert(rows, "user_profile", "id")

    def external_id(ids):
        dump_id, when = _dump_meta()
        keys = ids.select(F.col("object_id").cast("long").alias("user_id"))
        rows = serialize_external_id(
            src["external_ids"].join(keys, "user_id", "left_semi"),
            src["users"].select("id", "username"), src["id_types"],
            dump_id, when)
        insert(rows, "external_id", "user_id")

    return {"course_overviews": course_overviews,
            "user_profile": user_profile, "external_id": external_id}


def _write_event_file(events, due_wall: float, stage: str, dest: str) -> None:
    us = int(due_wall * 1_000_000)
    table = pa.table({
        "model": pa.array([m for m, _ in events]),
        "object_id": pa.array([i for _, i in events]),
        "ts": pa.array([us] * len(events), type=pa.timestamp("us", tz="UTC")),
    })
    pq.write_table(table, stage)
    os.rename(stage, dest)       # atomic: the stream never sees a partial file


class PublishStream:
    name = "publish_stream"
    part = "publish"
    scale = 1.0

    def __init__(self, seed: int):
        self.seed = seed
        self._streams = 0

    def prepare(self, paths: dict, warm_paths: dict) -> None:
        self.ids = gen.publish_ids(paths)
        self.warm_ids = gen.publish_ids(warm_paths)

    def warm(self, ctx: Ctx) -> None:
        ops = Ops()
        self._stream(ctx, self.warm_ids, WARM_INTERVALS * WARM_TRIGGER_S,
                     WARM_TRIGGER_S, ops)
        if ops.failed:
            raise RuntimeError(f"warm-up stream failed: {ops.errors}")

    def _stream(self, ctx: Ctx, ids: dict, seconds: float, trigger_s: int,
                ops: Ops) -> dict:
        """One open-loop stream, drained; returns what the layer metrics
        need (progress, files per epoch, generator log, receiver
        snapshots).

        ``seconds`` is a whole number of trigger intervals. The schedule
        starts ``EDGE_S`` after a trigger time and ends ``EDGE_S`` before
        the one ``seconds`` later, so each interval's files are read by one
        epoch, whatever the start time of the process."""
        n = self._streams
        self._streams += 1
        base = os.path.join(ctx.work_dir, "stream", str(n))
        in_dir, stage_dir = os.path.join(base, "in"), os.path.join(base, "stage")
        ckpt = os.path.join(base, "ckpt")
        os.makedirs(in_dir)
        os.makedirs(stage_dir)
        schedule = gen.publish_schedule(self.seed * 1000 + n, ids,
                                        seconds - 2 * EDGE_S,
                                        FILES_PER_S, EVENTS_PER_FILE)
        handlers = {m: self._timed(ctx, m, h) for m, h in
                    _handlers(ctx.sink, _sources(ctx.spark, ctx.paths),
                              ctx.receiver.track).items()}
        gen_log: list[tuple[float, float]] = []    # (due, written) wall times
        before = ctx.receiver.snapshot()

        def generate(start_wall: float, start_mono: float) -> None:
            for i, (due, events) in enumerate(schedule):
                delay = start_mono + due - time.monotonic()
                if delay > 0:
                    time.sleep(delay)
                _write_event_file(events, start_wall + due,
                                  os.path.join(stage_dir, _file(i)),
                                  os.path.join(in_dir, _file(i)))
                gen_log.append((start_wall + due, time.time()))

        query = run_dispatch_stream(
            file_publish_stream(ctx.spark, in_dir), handlers, ckpt,
            trigger={"processingTime": f"{trigger_s} seconds"},
            query_name=f"perfbench_publish_{n}")
        _await_idle(query)
        # processingTime triggers fire at multiples of the interval
        now, mono = time.time(), time.monotonic()
        start = math.ceil((now + EDGE_S) / trigger_s) * trigger_s + EDGE_S
        generate(start, mono + start - now)
        _drain(query, sum(len(events) for _, events in schedule))
        error = query.exception()
        progress = _progress(query)
        query.stop()
        if error is not None:
            ops.fail(f"stream failed: {error}")
        after = ctx.receiver.snapshot()

        epochs = _epochs(progress)
        batches = _file_batches(ckpt)
        latencies = event_latencies(
            schedule, [due for due, _ in gen_log], batches,
            {_log_offset(p): _iso_wall(p["timestamp"]) for p in epochs},
            ctx.receiver.first_between)
        received, last = 0, gen_log[0][0]
        for (due_wall, _), (_, events), lat in zip(
                gen_log, schedule, latencies):
            for (model, oid), ms in zip(events, lat):
                ops.attempted += 1
                if ms is None:
                    ops.fail(f"{model} {oid} due {due_wall:.3f} not received "
                             f"in the epoch that read its file")
                else:
                    ops.latencies_ms.append(ms)
                    received += 1
                    last = max(last, due_wall + ms / 1000.0)
        # events acknowledged per second, first due time to last receipt
        ops.rates.append(received / max(last - gen_log[0][0], 1e-3))
        return {"progress": epochs, "gen_log": gen_log,
                "files_per_epoch": Counter(batches.values()),
                "run_id": str(query.runId), "before": before, "after": after}

    def _timed(self, ctx: Ctx, model: str, handler):
        def run(ids):
            with ctx.tracer.span("dispatch.handler", model=model):
                handler(ids)
        return run

    def measure(self, ctx: Ctx, seconds: float, ops: Ops) -> int:
        """One open-loop stream over ``seconds`` rounded up to whole
        trigger intervals; returns its epoch count."""
        seconds = TRIGGER_S * math.ceil(seconds / TRIGGER_S)
        self.last = self._stream(ctx, self.ids, seconds, TRIGGER_S, ops)
        return max(1, len(self.last["progress"]))

    def layers(self, ctx: Ctx) -> dict:
        """Streaming progress, dispatch and generator figures of the
        traced stream; Spark counts per epoch of the stream's job group
        (its run id)."""
        run = self.last
        epochs = run["progress"]
        m = {"stream.epochs": len(epochs)}
        for name, key in _DURATIONS.items():
            m[f"stream.{name}"] = median(
                [p["durationMs"].get(key, 0) for p in epochs])
        # files waiting at a trigger are the files its epoch reads
        m["stream.backlog_files_max"] = max(run["files_per_epoch"].values(),
                                            default=0)
        for model in gen.PUBLISH_MODELS:
            m[f"dispatch.handler_s.{model}"] = median(
                [s["end"] - s["start"] for s in ctx.tracer.spans
                 if s["name"] == "dispatch.handler" and s.get("model") == model
                 and s["end"] is not None])
        events_in = sum(p["numInputRows"] for p in epochs)
        before, after = run["before"]["table_rows"], run["after"]["table_rows"]
        entities = sum(after.get(t, 0) - before.get(t, 0)
                       for t in gen.PUBLISH_MODELS)
        m["dispatch.events_in"] = events_in
        m["dispatch.entities_out"] = entities
        m["dispatch.dedup_ratio"] = entities / events_in if events_in else 0.0
        n = max(1, len(epochs))
        jobs, stages, tasks = job_counts(ctx.spark, run["run_id"])
        m["spark.jobs"], m["spark.stages"], m["spark.tasks"] = (
            jobs / n, stages / n, tasks / n)
        m["spark.jobs_per_epoch"] = jobs / n
        m["generator.late_ms_max"] = max(
            (w - d) * 1000.0 for d, w in run["gen_log"])
        start = time.perf_counter()
        sources = _sources(ctx.spark, ctx.paths)
        m["sources.load_s"] = time.perf_counter() - start
        m["sources.scan_s"] = sum(noop_write_s(df) for df in sources.values())
        m["sources.bytes"] = sum(os.path.getsize(p) for k, p in ctx.paths.items()
                                 if k.startswith("publish/"))
        return m


def event_latencies(schedule, dues: list[float], file_batch: dict[str, int],
                    epoch_start: dict[int, float], first_between,
                    ) -> list[list[float | None]]:
    """Per scheduled file, per event: milliseconds from the file's due
    time to the first receipt of the event's ``(model, id)`` row sent by
    the epoch that read the file, or None when there is none.

    ``file_batch`` maps a file name to the source batch that read it,
    ``epoch_start`` a source batch to the wall time its epoch started, and
    ``first_between(table, key, lo, hi)`` gives the first receipt in
    ``[lo, hi)``. Epochs run one at a time, so an epoch's receipts are
    those after its start and before the next epoch's start; a receipt
    from an earlier epoch, even one after the file was due, does not count.
    """
    starts = sorted(epoch_start.values())
    out = []
    for i, (due, (_, events)) in enumerate(zip(dues, schedule)):
        batch = file_batch.get(_file(i))
        lo = epoch_start.get(batch)
        if lo is None:
            out.append([None] * len(events))
            continue
        hi = next((t for t in starts if t > lo), math.inf)
        row = []
        for model, oid in events:
            got = first_between(model, oid, lo, hi)
            row.append(None if got is None else (got - due) * 1000.0)
        out.append(row)
    return out


def _file(i: int) -> str:
    return f"e{i:06d}.parquet"


def _file_batches(ckpt: str) -> dict[str, int]:
    """File name -> source batch, from the file source's metadata log."""
    log_dir = os.path.join(ckpt, "sources", "0")
    out = {}
    for name in os.listdir(log_dir) if os.path.isdir(log_dir) else ():
        if name.startswith("."):
            continue
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                if line.startswith("{"):
                    entry = json.loads(line)
                    out[os.path.basename(entry["path"])] = entry["batchId"]
    return out


def _log_offset(progress: dict) -> int:
    """The source batch an epoch read: its file source's end offset."""
    return progress["sources"][0]["endOffset"]["logOffset"]


def _progress(query) -> list[dict]:
    return [json.loads(p.json) if hasattr(p, "json") else p
            for p in query.recentProgress]


def _drain(query, rows: int) -> None:
    """Block until the query's epochs have read ``rows`` events (every
    scheduled file), the query has stopped, or the drain timeout passed."""
    deadline = time.monotonic() + DRAIN_TIMEOUT_S
    while (query.isActive and time.monotonic() < deadline
           and sum(p["numInputRows"] for p in _progress(query)) < rows):
        time.sleep(0.05)


def _await_idle(query, timeout_s: float = 60.0) -> None:
    """Block until the query has started and evaluated its first trigger,
    so the schedule starts against a running stream."""
    deadline = time.monotonic() + timeout_s
    while (query.isActive and time.monotonic() < deadline
           and query.status["message"] != "Waiting for next trigger"):
        time.sleep(0.05)


def _epochs(progress: list) -> list:
    return [p for p in progress if p.get("numInputRows", 0) > 0]


def _iso_wall(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()
