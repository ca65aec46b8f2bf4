"""F1 streaming layer: foreachBatch dispatch reusing batch pipelines, and
stream-mode window aggregates matching their batch form (the registry's
oracle-checked shape)."""

from __future__ import annotations

import json
import os
import threading
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from openedx_event_sink_clickhouse_spark.sinks.clickhouse import (
    ClickHouseConfig,
    ClickHouseSink,
)
from openedx_event_sink_clickhouse_spark.sources.tables import load_table
from openedx_event_sink_clickhouse_spark.streaming.dispatch import (
    dispatch_batch,
    run_dispatch_stream,
)
from openedx_event_sink_clickhouse_spark.streaming.sources import (
    KAFKA_WIRE_SCHEMA,
    decode_kafka_publish_events,
    file_publish_stream,
)
from openedx_event_sink_clickhouse_spark.streaming.windows import (
    session_event_stats,
    tumbling_event_stats,
)

from tests.test_sinks import file_capture_transport, read_captures

PUBLISH_SCHEMA = "model string, object_id string, ts timestamp"


def test_dispatch_batch_routes_and_dedups(spark, tmp_path):
    batch = spark.createDataFrame(
        [("course_overviews", "c1"), ("course_overviews", "c1"),  # dup → 1 dump
         ("course_overviews", "c2"), ("user_profile", "u9"),
         ("unknown_model", "x1")],
        ["model", "object_id"])
    calls = {}
    handlers = {
        "course_overviews": lambda ids: calls.setdefault(
            "course_overviews", sorted(r[0] for r in ids.collect())),
        "user_profile": lambda ids: calls.setdefault(
            "user_profile", sorted(r[0] for r in ids.collect())),
    }
    dispatch_batch(batch, handlers)
    # unknown_model has no handler and reaches none
    assert calls == {"course_overviews": ["c1", "c2"], "user_profile": ["u9"]}


def _two_model_batch(spark):
    return spark.createDataFrame([("a", "1"), ("b", "2")],
                                 ["model", "object_id"])


def test_dispatch_batch_runs_handlers_concurrently(spark):
    # each handler waits for the other at the barrier: one run after the
    # other breaks it (BrokenBarrierError after the timeout)
    barrier = threading.Barrier(2, timeout=30)
    got_a, got_b = [], []

    def handler(slot):
        def run(ids):
            barrier.wait()
            slot.extend(r[0] for r in ids.collect())
        return run

    dispatch_batch(_two_model_batch(spark),
                   {"a": handler(got_a), "b": handler(got_b)})
    assert (got_a, got_b) == (["1"], ["2"])


def test_dispatch_batch_failure_waits_for_every_handler(spark):
    batch = _two_model_batch(spark)
    deduped = batch.select("model", "object_id").distinct()
    failed = threading.Event()
    cached_during, finished = [], []

    def failing(ids):
        cached_during.append(deduped.storageLevel.useMemory)
        failed.set()
        raise ValueError("handler a failed")

    def slow(ids):
        # starts its work only once the other handler has failed
        assert failed.wait(30)
        time.sleep(0.5)
        finished.append(ids.count())

    with pytest.raises(ValueError, match="handler a failed"):
        dispatch_batch(batch, {"a": failing, "b": slow})
    assert finished == [1]
    assert cached_during == [True]
    assert not deduped.storageLevel.useMemory


def test_dispatch_batch_handlers_inherit_the_job_group(spark):
    sc = spark.sparkContext
    group = "dispatch_batch_job_group"
    seen_group, counted = [], []

    def handler(ids):
        seen_group.append(sc.getLocalProperty("spark.jobGroup.id"))
        counted.append(ids.count())

    sc.setJobGroup(group, "handlers' jobs belong to the caller's group")
    try:
        dispatch_batch(_two_model_batch(spark), {"a": handler})
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert (seen_group, counted) == ([group], [1])
    # dispatch runs no job of its own on the caller's thread, so every
    # job of the group is a handler's; the tracker learns of jobs
    # through the listener bus, asynchronously
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(group) and \
            time.monotonic() < deadline:
        time.sleep(0.05)
    assert tracker.getJobIdsForGroup(group)


def test_dispatch_batch_absent_model_gets_empty_frame(spark, tmp_path):
    # "b" has a handler but no rows in the batch: its handler still runs,
    # on an empty frame, and inserting that frame sends no POST
    batch = spark.createDataFrame([("a", "1")], ["model", "object_id"])
    caps = {m: tmp_path / m for m in ("a", "b")}
    counts = {m: [] for m in ("a", "b")}

    def handler(model):
        caps[model].mkdir()
        sink = ClickHouseSink(ClickHouseConfig(),
                              file_capture_transport(str(caps[model])))

        def run(ids):
            counts[model].append(ids.count())
            sink.insert_df(ids, f"{model}_table")
        return run

    dispatch_batch(batch, {"a": handler("a"), "b": handler("b")})
    assert counts == {"a": [1], "b": [0]}
    assert len(read_captures(str(caps["a"]))) == 1
    assert read_captures(str(caps["b"])) == []


PUBLISH_ROWS = [("course_overviews", "c1"), ("user_profile", "u1"),
                ("course_overviews", "c2")]


def _file_source(spark, src_dir):
    # publish events arrive as files (backfill/catch-up shape)
    spark.createDataFrame(PUBLISH_ROWS, ["model", "object_id"]) \
        .withColumn("ts", F.current_timestamp()) \
        .write.parquet(str(src_dir / "b0"))
    return file_publish_stream(spark, str(src_dir / "*"))


def _kafka_wire_source(spark, src_dir):
    # broker stand-in: files carrying the EXACT schema spark's kafka
    # source emits, drained through the same decoder the real connector
    # would feed — swapping in format("kafka") changes only the reader.
    rows = [(None, json.dumps({"model": m, "object_id": o}).encode("utf-8"),
             "publish", 0, i) for i, (m, o) in enumerate(PUBLISH_ROWS)]
    spark.createDataFrame(
        rows, "key binary, value binary, topic string, partition int, "
              "offset bigint") \
        .withColumn("timestamp", F.current_timestamp()) \
        .withColumn("timestampType", F.lit(0)) \
        .write.parquet(str(src_dir / "b0"))
    raw = (spark.readStream.schema(KAFKA_WIRE_SCHEMA)
           .parquet(str(src_dir / "*")))
    return decode_kafka_publish_events(raw)


@pytest.mark.parametrize("make_source", [_file_source, _kafka_wire_source],
                         ids=["file", "kafka_wire"])
def test_run_dispatch_stream_end_to_end(spark, tmp_path, make_source):
    # the stream drains with availableNow and hands micro-batches to the
    # same handlers the batch path uses (signals.py → tasks.py
    # replacement); the dispatcher is source-shape-agnostic.
    src = tmp_path / "publish"
    src.mkdir()
    stream = make_source(spark, src)

    out = tmp_path / "handled"
    out.mkdir()

    def make_handler(model):
        def handler(ids):
            rows = sorted(r[0] for r in ids.collect())
            with open(out / f"{model}.json", "w", encoding="utf-8") as f:
                json.dump(rows, f)
        return handler

    q = run_dispatch_stream(
        stream,
        {m: make_handler(m) for m in ("course_overviews", "user_profile")},
        checkpoint_dir=str(tmp_path / "ckpt"))
    assert q.awaitTermination(60)
    got = {p[:-5]: json.load(open(out / p, encoding="utf-8"))
           for p in os.listdir(out)}
    assert got == {"course_overviews": ["c1", "c2"], "user_profile": ["u1"]}


def test_run_dispatch_stream_lists_batch_files_on_the_driver(spark, tmp_path):
    # 40 event files is above Spark's parallel-listing threshold (32); a
    # local session still lists the micro-batch's files on the driver,
    # with no Spark job
    src = tmp_path / "publish"
    src.mkdir()
    ids = [f"e{i:02d}" for i in range(40)]
    for i, object_id in enumerate(ids):
        pq.write_table(pa.table({
            "model": [("a", "b")[i % 2]], "object_id": [object_id],
            "ts": pa.array([0], pa.timestamp("us", tz="UTC"))}),
            str(src / f"{object_id}.parquet"))
    got = {"a": [], "b": []}

    def handler(model):
        return lambda batch: got[model].extend(r[0] for r in batch.collect())

    q = run_dispatch_stream(file_publish_stream(spark, str(src)),
                            {m: handler(m) for m in got},
                            checkpoint_dir=str(tmp_path / "ckpt"))
    assert q.awaitTermination(60)
    assert sorted(got["a"] + got["b"]) == ids
    assert sorted(got["a"]) == ids[::2]

    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
    assert jobs
    descriptions = [jsc.statusStore().job(j).description() for j in jobs]
    assert not [d.get() for d in descriptions
                if d.isDefined() and d.get().startswith("Listing leaf files")]


def test_kafka_decode_corrupt_values_dead_letter(spark):
    rows = [(None, b'{"model": "user_profile", "object_id": "u1"}',
             "publish", 0, 0),
            (None, b"not json at all", "publish", 0, 1)]
    df = spark.createDataFrame(
        rows, "key binary, value binary, topic string, partition int, "
              "offset bigint") \
        .withColumn("timestamp", F.current_timestamp()) \
        .withColumn("timestampType", F.lit(0))
    out = decode_kafka_publish_events(df, corrupt_col="raw_value").collect()
    ok = [r for r in out if r["model"] is not None]
    bad = [r for r in out if r["model"] is None]
    assert [(r["model"], r["object_id"]) for r in ok] == \
        [("user_profile", "u1")]
    assert [r["raw_value"] for r in bad] == ["not json at all"]


def _collect_stream(spark, df, name):
    q = (df.writeStream.format("memory").queryName(name)
         .outputMode("complete").trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


def test_quality_filter_runs_on_streams(spark, sf_dir, tmp_path):
    # Curation map stages are stateless Column expressions, so the SAME
    # function runs unchanged on a stream — the filter-at-ingest shape a
    # streaming corpus pipeline needs (no separate streaming codepath).
    from openedx_event_sink_clickhouse_spark.operators.curation import (
        quality_filter)
    docs = load_table(spark, "documents", sf_dir)
    docs.write.parquet(str(tmp_path / "docs"))
    batch = {tuple(r) for r in quality_filter(docs).collect()}
    stream_src = (spark.readStream.schema(docs.schema)
                  .parquet(str(tmp_path / "docs")))
    q = (quality_filter(stream_src).writeStream.format("memory")
         .queryName("qf_mem").outputMode("append")
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    got = {tuple(r) for r in spark.sql("SELECT * FROM qf_mem").collect()}
    assert got == batch


def test_tumbling_stats_stream_equals_batch(spark, sf_dir, tmp_path):
    # (source testdata is TIMESTAMP(NANOS); rewrite via the batch loader so
    # the stream reader sees standard µs timestamps)
    events = load_table(spark, "events", sf_dir)
    events.write.parquet(str(tmp_path / "ev"))
    batch = {tuple(r) for r in tumbling_event_stats(events).collect()}
    stream_src = (spark.readStream.schema(events.schema)
                  .parquet(str(tmp_path / "ev")))
    got = {tuple(r) for r in
           _collect_stream(spark, tumbling_event_stats(stream_src),
                           "tumbling_mem").collect()}
    assert got == batch


def test_session_stats_stream_equals_batch(spark, sf_dir, tmp_path):
    events = load_table(spark, "events", sf_dir)
    events.write.parquet(str(tmp_path / "ev"))
    batch = {tuple(r) for r in session_event_stats(events).collect()}
    stream_src = (spark.readStream.schema(events.schema)
                  .parquet(str(tmp_path / "ev")))
    got = {tuple(r) for r in
           _collect_stream(spark, session_event_stats(stream_src),
                           "session_mem").collect()}
    assert got == batch


def test_debounce_dedup_stream_equals_batch(spark, sf_dir, tmp_path):
    # dropDuplicatesWithinWatermark emits each key once per watermark
    # horizon; with availableNow over a bounded source the emitted key
    # set must equal batch SELECT DISTINCT. (Append mode — dedup state
    # is not a "result table" to be re-output, unlike the aggs above.)
    from openedx_event_sink_clickhouse_spark.streaming.windows import (
        debounce_dedup)
    events = load_table(spark, "events", sf_dir)
    events.write.parquet(str(tmp_path / "ev"))
    batch = {tuple(r) for r in debounce_dedup(events).collect()}
    stream_src = (spark.readStream.schema(events.schema)
                  .parquet(str(tmp_path / "ev")))
    q = (debounce_dedup(stream_src).writeStream.format("memory")
         .queryName("debounce_mem").outputMode("append")
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    got = {tuple(r) for r in spark.sql("SELECT * FROM debounce_mem").collect()}
    assert got == batch


def test_scrub_pii_runs_on_streams(spark, sf_dir, tmp_path):
    # Round-2 curation: PII scrubbing is a stateless regex Column stack,
    # so the batch function runs unchanged on a stream (same
    # filter-at-ingest shape as quality_filter above).
    from openedx_event_sink_clickhouse_spark.operators.curation import (
        scrub_pii)
    docs = load_table(spark, "documents", sf_dir)
    docs.write.parquet(str(tmp_path / "docs"))
    batch = {tuple(r) for r in scrub_pii(docs).collect()}
    stream_src = (spark.readStream.schema(docs.schema)
                  .parquet(str(tmp_path / "docs")))
    q = (scrub_pii(stream_src).writeStream.format("memory")
         .queryName("pii_mem").outputMode("append")
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    got = {tuple(r) for r in spark.sql("SELECT * FROM pii_mem").collect()}
    assert got == batch


def test_exact_dedup_stream_equals_batch(spark, sf_dir, tmp_path):
    # Round-2 dedup on a stream: exact_dedup is a plain streaming
    # aggregation (groupBy digest + min/count), so complete-mode output
    # over a bounded source must equal the batch result — streaming
    # exact dedup with NO separate codepath. (State is per-digest and
    # mergeable; at scale a production run would age it with a
    # watermark on an ingest-time column.)
    from openedx_event_sink_clickhouse_spark.operators.dedup import (
        exact_dedup)
    docs = load_table(spark, "documents", sf_dir)
    docs.write.parquet(str(tmp_path / "docs"))
    batch = {tuple(r) for r in exact_dedup(docs).collect()}
    stream_src = (spark.readStream.schema(docs.schema)
                  .parquet(str(tmp_path / "docs")))
    got = {tuple(r) for r in
           _collect_stream(spark, exact_dedup(stream_src),
                           "xdedup_mem").collect()}
    assert got == batch


def test_clean_lines_stream_via_foreach_batch(spark, sf_dir, tmp_path):
    # Round-2 curation with corpus-global state (the boilerplate
    # occurrence cap) is NOT expressible as an append-mode stream — the
    # supported shape is foreachBatch, where each micro-batch is a
    # bounded DataFrame and the SAME batch operator runs on it (the
    # dispatch pattern streaming/dispatch.py uses). With the bounded
    # source arriving as one availableNow micro-batch, stream output
    # must equal the batch run exactly.
    from openedx_event_sink_clickhouse_spark.operators.curation import (
        clean_lines)
    docs = load_table(spark, "documents", sf_dir)
    docs.coalesce(1).write.parquet(str(tmp_path / "docs"))
    kw = dict(min_line_words=2, max_line_occurrences=5)
    batch = {tuple(r) for r in clean_lines(docs, **kw).collect()}
    out: list = []
    stream_src = (spark.readStream.schema(docs.schema)
                  .parquet(str(tmp_path / "docs")))

    def handle(bdf, epoch_id):
        out.extend(tuple(r) for r in clean_lines(bdf, **kw).collect())

    q = (stream_src.writeStream.foreachBatch(handle)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    assert set(out) == batch and len(out) == len(batch)


def test_incremental_dedup_stream_maintains_digest_state(spark, sf_dir,
                                                         tmp_path):
    # The production incremental-dedup loop: each micro-batch is checked
    # against the digest table built from every PRIOR batch (foreachBatch
    # + an at-rest digest parquet that each batch appends to). Feeding
    # the corpus as two files/batches must admit each content exactly
    # once, matching batch-mode exact dedup's survivor set.
    import os

    from openedx_event_sink_clickhouse_spark.operators.dedup import (
        exact_dedup, incremental_exact_dedup)
    import glob as _glob
    import shutil
    import time as _time

    docs = load_table(spark, "documents", sf_dir)
    half = docs.count() // 2
    (tmp_path / "in").mkdir()
    for tag, cond in (("a", F.col("doc_id") < half),
                      ("b", F.col("doc_id") >= half)):
        stage = str(tmp_path / f"stage_{tag}")
        docs.filter(cond).coalesce(1).write.parquet(stage)
        part = _glob.glob(stage + "/part-*.parquet")[0]
        shutil.move(part, str(tmp_path / "in" / f"{tag}.parquet"))
        _time.sleep(1.1)  # distinct mtimes → deterministic batch order
    digests = str(tmp_path / "digests")
    survivors: list = []

    def handle(bdf, epoch_id):
        seen = (spark.read.parquet(digests)
                if os.path.isdir(digests) else None)
        out = incremental_exact_dedup(bdf, seen)
        rows = out.collect()
        survivors.extend((r.doc_id, r.content_hash) for r in rows)
        (spark.createDataFrame([(h,) for _, h in
                                [(r.doc_id, r.content_hash) for r in rows]],
                               "content_hash string")
         .write.mode("append").parquet(digests))

    src = (spark.readStream.schema(docs.schema)
           .option("maxFilesPerTrigger", "1")
           .parquet(str(tmp_path / "in")))
    q = (src.writeStream.foreachBatch(handle)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(180)

    want = {r.keep_id for r in exact_dedup(docs).collect()}
    got_ids = [i for i, _ in survivors]
    assert len(got_ids) == len(set(got_ids))
    # Batch order follows file order (a.parquet = low ids first), so the
    # stream's first-seen winner equals batch min-id per digest.
    assert set(got_ids) == want


def test_bm25_runs_per_batch_via_foreach_batch(spark, sf_dir, tmp_path):
    # Retrieval on streams: (re)indexing is a per-batch bounded job —
    # the SAME bm25_topk runs inside foreachBatch (index freshness =
    # micro-batch cadence). One availableNow batch must equal the batch
    # run exactly.
    from openedx_event_sink_clickhouse_spark.operators.retrieval import (
        bm25_topk)
    docs = load_table(spark, "documents", sf_dir)
    docs.coalesce(1).write.parquet(str(tmp_path / "docs"))
    batch = [tuple(r) for r in bm25_topk(docs, "data model spark").collect()]
    out: list = []

    def handle(bdf, epoch_id):
        out.extend(tuple(r) for r in
                   bm25_topk(bdf, "data model spark").collect())

    src = (spark.readStream.schema(docs.schema)
           .parquet(str(tmp_path / "docs")))
    q = (src.writeStream.foreachBatch(handle)
         .option("checkpointLocation", str(tmp_path / "ckpt2"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    assert out == batch


def test_brute_force_topk_runs_per_batch_via_foreach_batch(spark, sf_dir,
                                                           tmp_path):
    # ANN probes on streams: a similarity probe against a corpus
    # snapshot is a bounded per-batch job, so the batch operator runs
    # unchanged inside foreachBatch (same reuse shape as bm25 above).
    # One availableNow batch over the whole corpus must equal the batch
    # run exactly — ranks, ids, and scores.
    from openedx_event_sink_clickhouse_spark.operators.similarity import (
        brute_force_topk)
    emb = load_table(spark, "embeddings", sf_dir)
    emb.coalesce(1).write.parquet(str(tmp_path / "emb"))
    batch = [tuple(r) for r in brute_force_topk(emb, 0, k=10).collect()]
    out: list = []

    def handle(bdf, epoch_id):
        out.extend(tuple(r) for r in
                   brute_force_topk(bdf, 0, k=10).collect())

    src = (spark.readStream.schema(emb.schema)
           .parquet(str(tmp_path / "emb")))
    q = (src.writeStream.foreachBatch(handle)
         .option("checkpointLocation", str(tmp_path / "ckpt_ann"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    assert out == batch


def test_release_corpus_runs_per_batch_via_foreach_batch(spark, sf_dir,
                                                         tmp_path):
    # The fused release pipeline is a deterministic batch plan, so a
    # corpus arriving as a stream reuses it unchanged inside
    # foreachBatch; one availableNow batch over the whole corpus must
    # equal the batch run exactly. (Cross-batch dedup state is the
    # digest-table loop — test_incremental_dedup_stream...; this pins
    # the per-batch release shape.)
    from openedx_event_sink_clickhouse_spark.operators.curation import (
        release_corpus)
    docs = load_table(spark, "documents", sf_dir)
    bench = docs.filter(F.col("doc_id") < 5)
    docs.coalesce(1).write.parquet(str(tmp_path / "docs"))
    batch = sorted(tuple(r) for r in
                   release_corpus(docs, bench, n_shards=8).collect())
    out: list = []

    def handle(bdf, epoch_id):
        out.extend(tuple(r) for r in
                   release_corpus(bdf, bench, n_shards=8).collect())

    src = (spark.readStream.schema(docs.schema)
           .parquet(str(tmp_path / "docs")))
    q = (src.writeStream.foreachBatch(handle)
         .option("checkpointLocation", str(tmp_path / "ckpt_rel"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    assert sorted(out) == batch


def test_neardup_stream_maintains_index_and_labels(spark, sf_dir, tmp_path):
    # The streaming near-dup loop end to end: each micro-batch is
    # pair-mined against the at-rest LSH index, folded into the stored
    # labels by contraction, and then APPENDED to the index so later
    # batches can match it. Feeding a corpus as two batches must leave
    # exactly the labels a one-shot batch clustering produces.
    import glob as _glob
    import shutil
    import time as _time

    from openedx_event_sink_clickhouse_spark.operators.dedup import (
        append_minhash_index, connected_components,
        incremental_neardup_pairs, minhash_lsh_pairs, update_cluster_labels,
        write_minhash_index)

    docs = load_table(spark, "documents", sf_dir)
    half = docs.count() // 2
    seed = docs.filter(F.col("doc_id") < half // 2)
    rest = docs.filter(F.col("doc_id") >= half // 2)
    idx = str(tmp_path / "mh_idx")
    write_minhash_index(seed, idx)
    labels_dir = str(tmp_path / "labels")
    connected_components(minhash_lsh_pairs(seed, threshold=0.6),
                         checkpoint_dir=str(tmp_path / "ck0")) \
        .write.parquet(labels_dir)

    (tmp_path / "in").mkdir()
    for tag, cond in (("a", F.col("doc_id") < half),
                      ("b", F.col("doc_id") >= half)):
        stage = str(tmp_path / f"stage_{tag}")
        rest.filter(cond).coalesce(1).write.parquet(stage)
        part = _glob.glob(stage + "/part-*.parquet")[0]
        shutil.move(part, str(tmp_path / "in" / f"{tag}.parquet"))
        _time.sleep(1.1)

    def handle(bdf, epoch_id):
        pairs = incremental_neardup_pairs(bdf, spark, idx, threshold=0.6)
        labels = spark.read.parquet(labels_dir)
        updated = update_cluster_labels(
            labels, pairs, checkpoint_dir=str(tmp_path / f"ck{epoch_id}"))
        updated.write.mode("overwrite").parquet(labels_dir + ".next")
        shutil.rmtree(labels_dir)
        shutil.move(labels_dir + ".next", labels_dir)
        append_minhash_index(bdf, idx)

    src = (spark.readStream.schema(docs.schema)
           .option("maxFilesPerTrigger", "1")
           .parquet(str(tmp_path / "in")))
    q = (src.writeStream.foreachBatch(handle)
         .option("checkpointLocation", str(tmp_path / "sck"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(180)

    got = {r.doc_id: (r.cluster_id, r.is_survivor) for r in
           spark.read.parquet(labels_dir).collect()}
    want = {r.doc_id: (r.cluster_id, r.is_survivor) for r in
            connected_components(minhash_lsh_pairs(docs, threshold=0.6),
                                 checkpoint_dir=str(tmp_path / "ckf"))
            .collect()}
    assert got == want and len(got) > 0


def test_asof_enrich_stream_via_foreach_batch(spark, sf_dir, tmp_path):
    # Streaming as-of enrichment: each micro-batch of events enriches
    # against a static state snapshot (the latest prior purchase per
    # user) via the SAME asof_join operator — per-row output depends
    # only on that row and the static side, so a multi-batch replay
    # must equal the one-shot batch run row-for-row, tolerance bound
    # included. (A LIVE right side is the SCD2/stateful-gate territory
    # already covered; the static-snapshot enrich is the common
    # foreachBatch production shape.)
    from pyspark.sql import functions as F

    from openedx_event_sink_clickhouse_spark.operators.asof import asof_join
    events = load_table(spark, "events", sf_dir)
    purchases = (events.filter(F.col("event_type") == "purchase")
                 .select("user_id", "ts", "value"))
    kw = dict(key="user_id", left_ts="ts", right_ts="ts",
              value_cols=["value"], tolerance="2 days")
    sel = ["event_id", "user_id", "ts", "event_type", "value",
           "asof_ts", "asof_value"]
    batch = {tuple(r) for r in
             asof_join(events, purchases, **kw).select(*sel).collect()}
    # multiple parquet files -> multiple micro-batches under
    # maxFilesPerTrigger, proving per-batch independence
    events.repartition(4).write.parquet(str(tmp_path / "ev"))
    stream_src = (spark.readStream.schema(events.schema)
                  .option("maxFilesPerTrigger", 1)
                  .parquet(str(tmp_path / "ev")))
    out: list = []
    epochs: list = []

    def handle(bdf, epoch_id):
        epochs.append(epoch_id)
        out.extend(tuple(r) for r in
                   asof_join(bdf, purchases, **kw).select(*sel).collect())

    q = (stream_src.writeStream.foreachBatch(handle)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    assert len(epochs) > 1            # genuinely replayed in pieces
    assert set(out) == batch and len(out) == len(batch)


def test_scd1_maintainer_replay_and_tombstones(spark, tmp_path):
    # Drive the foreachBatch handler directly: batch semantics, replay
    # idempotence (older seqs lose), and tombstones blocking
    # resurrection by a replayed older upsert.
    import datetime as dt

    from openedx_event_sink_clickhouse_spark.streaming.scd_maintenance import (
        Scd1SnapshotMaintainer)
    T = dt.datetime
    base = spark.createDataFrame(
        [(1, "alice", 10.0), (2, "bob", 20.0)],
        "k long, name string, bal double")
    m = Scd1SnapshotMaintainer(
        str(tmp_path / "state"), "k", seq_cols=["ts", "eid"],
        update_cols=["bal"], seed=base.select("k", "bal"))

    b0 = spark.createDataFrame(
        [(1, T(2024, 1, 1), 1, "U", 50.0)],
        "k long, ts timestamp, eid long, op string, bal double")
    b1 = spark.createDataFrame(
        [(1, T(2024, 1, 2), 2, "D", None),    # delete alice (after update)
         (2, T(2024, 1, 2), 3, "U", 99.0)],
        "k long, ts timestamp, eid long, op string, bal double")
    m(b0, 0)
    m(b1, 1)
    snap = {r.k: r for r in m.snapshot(spark, base=base).collect()}
    assert set(snap) == {2}
    assert snap[2].bal == 99.0 and snap[2].name == "bob"

    # replay batch 0: the old upsert must NOT resurrect deleted key 1
    # and must not regress key 2
    m(b0, 0)
    snap2 = {r.k: (r.name, r.bal)
             for r in m.snapshot(spark, base=base).collect()}
    assert snap2 == {2: ("bob", 99.0)}


def test_seasonal_profile_maintainer_gapfill_arithmetic(spark, tmp_path):
    # Two direct-handler batches spanning 2024-01-01 10:00 .. 01-02 13:00
    # (span 28 hourly buckets: base=1, remainder=4 -> hours 10..13 get 2
    # buckets, others 1), with hour 11 DEAD in both batches: the served
    # profile must still emit hour 11 with mean 0, and a replayed epoch
    # must change nothing.
    import datetime as dt

    from openedx_event_sink_clickhouse_spark.streaming.sketch_maintenance import (
        SeasonalProfileMaintainer)
    T = dt.datetime
    m = SeasonalProfileMaintainer(str(tmp_path / "prof"), "k")
    b0 = spark.createDataFrame(
        [("k", T(2024, 1, 1, 10, 5)), ("k", T(2024, 1, 1, 12, 30)),
         ("k", T(2024, 1, 1, 12, 40))], "k string, ts timestamp")
    b1 = spark.createDataFrame(
        [("k", T(2024, 1, 2, 13, 59))], "k string, ts timestamp")
    m(b0, 0)
    m(b1, 1)
    out = {r.hour_of_day: r for r in m.serve(spark).collect()}
    assert len(out) == 24
    # span = 10:00 Jan1 .. 13:00 Jan2 inclusive = 28 buckets
    assert sum(r.n_buckets for r in out.values()) == 28
    assert out[10].n_buckets == 2 and out[13].n_buckets == 2
    assert out[9].n_buckets == 1 and out[14].n_buckets == 1
    assert out[11].mean_events == 0.0        # dead slot still emits
    assert out[12].mean_events == 1.0        # 2 events / 2 buckets
    before = {(r.hour_of_day, r.mean_events, r.n_buckets)
              for r in m.serve(spark).collect()}
    m(b1, 1)  # at-least-once replay: epoch overwrite, not double-count
    after = {(r.hour_of_day, r.mean_events, r.n_buckets)
             for r in m.serve(spark).collect()}
    assert before == after


def _scd1_maintainer(spark, tmp_path):
    import datetime as dt

    from openedx_event_sink_clickhouse_spark.streaming.scd_maintenance import (
        Scd1SnapshotMaintainer)
    T = dt.datetime
    base = spark.createDataFrame([(1, "a", 10.0)],
                                 "k long, name string, bal double")
    m = Scd1SnapshotMaintainer(
        str(tmp_path / "state"), "k", seq_cols=["ts", "eid"],
        update_cols=["bal"], seed=base.select("k", "bal"))
    b0 = spark.createDataFrame(
        [(1, T(2024, 1, 1), 1, "U", 42.0)],
        "k long, ts timestamp, eid long, op string, bal double")

    def read():
        return {r.k: r.bal for r in m.snapshot(spark, base=base).collect()}
    # 42.0: recovered, not seed-rebuilt (the seed holds 10.0)
    return m, b0, m.path, ".gen", read, {1: 42.0}


def _dedup_maintainer(spark, tmp_path):
    from openedx_event_sink_clickhouse_spark.streaming.dedup_maintenance import (
        DedupStreamMaintainer)
    m = DedupStreamMaintainer(str(tmp_path / "dedup"))
    docs = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog"),
         (1, "the quick brown fox jumps over the lazy dog"),
         (2, "an entirely different sentence about something else")],
        "doc_id long, text string")

    def read():
        return {(r.doc_id, r.cluster_id, r.is_survivor)
                for r in m.labels(spark).collect()}
    # doc 2 pairs with no other doc, so it has no label row
    return m, docs, m.labels_path, ".next", read, {
        (0, 0, True), (1, 0, False)}


@pytest.mark.parametrize("make", [_scd1_maintainer, _dedup_maintainer],
                         ids=["scd1", "dedup"])
def test_maintainer_recovers_stranded_generation(spark, tmp_path, make):
    # Simulate a crash BETWEEN the two swap renames: state stranded in
    # .old, path absent, beside an uncommitted scratch generation. The
    # next read must restore the committed state, not rebuild without
    # it, and drop the debris.
    m, batch, path, scratch, read, want = make(spark, tmp_path)
    m(batch, 0)
    os.rename(path, path + ".old7")  # crash window simulated
    os.makedirs(path + scratch + "8")
    assert read() == want
    assert not os.path.exists(path + ".old7")
    assert not os.path.exists(path + scratch + "8")


def test_scd1_maintainer_empty_batch_is_noop(spark, tmp_path):
    from openedx_event_sink_clickhouse_spark.streaming.scd_maintenance import (
        Scd1SnapshotMaintainer)
    base = spark.createDataFrame([(1, 10.0)], "k long, bal double")
    m = Scd1SnapshotMaintainer(
        str(tmp_path / "state"), "k", seq_cols=["ts", "eid"],
        update_cols=["bal"], seed=base)
    empty = spark.createDataFrame(
        [], "k long, ts timestamp, eid long, op string, bal double")
    m(empty, 0)  # must not materialize an empty snapshot
    import os
    assert not os.path.isdir(m.path)


def test_seasonal_profile_maintainer_short_span_no_zero_slots(spark,
                                                              tmp_path):
    # Span of 3 hours: exactly 3 slots emit (the batch-grid semantics),
    # never 24 rows with 0/0 means.
    import datetime as dt
    from openedx_event_sink_clickhouse_spark.streaming.sketch_maintenance import (
        SeasonalProfileMaintainer)
    T = dt.datetime
    m = SeasonalProfileMaintainer(str(tmp_path / "prof"), "k")
    b = spark.createDataFrame(
        [("k", T(2024, 1, 1, 10, 5)), ("k", T(2024, 1, 1, 12, 30))],
        "k string, ts timestamp")
    m(b, 0)
    out = m.serve(spark).collect()
    assert len(out) == 3
    assert {r.hour_of_day for r in out} == {10, 11, 12}
    assert all(r.n_buckets == 1 for r in out)


def test_scd2_bucketed_recovers_stranded_bucket(spark, tmp_path):
    # Strand one bucket's history in <dir>.old (the mid-swap crash) and
    # verify both history() and the next trigger restore it instead of
    # merging without it and rmtree-ing the only copy.
    import datetime as dt
    import glob
    import os

    from openedx_event_sink_clickhouse_spark.streaming.scd_maintenance import (
        Scd2BucketedMaintainer)
    T = dt.datetime
    m = Scd2BucketedMaintainer(str(tmp_path / "hist"), "k", "ts",
                               ["attr"], tiebreak_col="eid", n_buckets=4)
    b0 = spark.createDataFrame(
        [(1, T(2024, 1, 1), 1, "x"), (2, T(2024, 1, 1), 2, "y")],
        "k long, ts timestamp, eid long, attr string")
    m(b0, 0)
    buckets = [d for d in glob.glob(os.path.join(m.path, "_bucket=*"))
               if not d.endswith(".old")]
    victim = buckets[0]
    os.rename(victim, victim + ".old")  # mid-swap crash simulated
    hist = m.history(spark)
    assert hist.count() == 2  # both keys' history visible again
    assert os.path.isdir(victim) and not os.path.isdir(victim + ".old")


def test_watermark_late_drop_and_append_emission_semantics(spark, tmp_path):
    """Pin Spark's append-mode watermark contract on a 4-batch file
    fixture (kept as a TEST, not an oracle query, deliberately: the
    late-row filter uses a watermark that LAGS the displayed one by a
    batch — an implementation detail that could shift across Spark
    versions, which is a flake surface an oracle hash must never sit
    on). What this pins:
      - rows below the lagging filter watermark ARE dropped
        (numRowsDroppedByWatermark) once the lag catches up;
      - a late row arriving before the filter catches up is ACCEPTED
        (batch 1's 00:30 row lands despite wm showing 04:00);
      - append mode emits exactly the windows whose end <= final
        watermark; later windows stay in state, unemitted."""
    import datetime as dt
    import glob
    import os
    import shutil
    import tempfile
    import time

    from pyspark.sql import functions as F

    t = lambda *a: dt.datetime(2024, 1, 1, *a)
    batches = [
        [(1, t(3, 30)), (2, t(5, 0))],   # wm(display) -> 04:00 after
        [(3, t(0, 30)), (4, t(3, 45))],  # accepted: filter wm still 0
        [(5, t(6, 0))],                  # advances wm to 05:00
        [(6, t(3, 50)), (7, t(0, 45))],  # dropped: filter wm now 04:00
    ]
    d = str(tmp_path / "wmfix")
    os.makedirs(d)
    now = time.time()
    for i, rows in enumerate(batches):
        b = spark.createDataFrame(rows, "event_id long, ts timestamp")
        tmp = os.path.join(d, f"_b{i}")
        b.coalesce(1).write.parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        os.rename(part, os.path.join(d, f"batch{i}.parquet"))
        shutil.rmtree(tmp)
        os.utime(os.path.join(d, f"batch{i}.parquet"),
                 (now - 1000 + i * 100,) * 2)
    src = (spark.readStream.schema("event_id long, ts timestamp")
           .option("pathGlobFilter", "batch*.parquet")
           .option("maxFilesPerTrigger", 1).parquet(d))
    agg = (src.withWatermark("ts", "1 hour")
           .groupBy(F.window("ts", "1 hour").alias("w")).count())
    q = (agg.writeStream.format("memory").queryName("wm_semantics")
         .outputMode("append")
         .option("checkpointLocation", tempfile.mkdtemp())
         .trigger(availableNow=True).start())
    assert q.awaitTermination(300), "stream did not finish"
    dropped = [p["stateOperators"][0]["numRowsDroppedByWatermark"]
               for p in q.recentProgress if p["numInputRows"]]
    assert dropped == [0, 0, 0, 2], dropped
    got = {(str(r["start"]), r["count"]) for r in spark.sql(
        "select w.start as start, count from wm_semantics").collect()}
    assert got == {("2024-01-01 00:00:00", 1),   # 00:30 accepted late
                   ("2024-01-01 03:00:00", 2)}   # 03:30 + accepted 03:45
    # [05:00) and [06:00) windows: end > final watermark 05:00 -> held
