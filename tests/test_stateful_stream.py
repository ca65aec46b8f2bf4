"""applyInPandasWithState incremental-dump gate: the per-entity
high-water mark must live in the state store ACROSS micro-batches —
batch 2 re-delivering old events for an already-dumped entity emits
nothing, strictly-newer events pass, new entities pass whole."""

from __future__ import annotations

import datetime as dt
import glob
import os
import shutil

import pytest

from openedx_event_sink_clickhouse_spark.streaming.stateful import (
    EVENT_SCHEMA,
    incremental_dump_stream,
)


def _ts(minute):
    return dt.datetime(2024, 1, 1, 10, minute)


BATCH1 = [
    (1, _ts(0), 100, "view", 1.0, "{}"),
    (2, _ts(5), 100, "view", 1.0, "{}"),
    (3, _ts(10), 200, "buy", 2.0, "{}"),
]
BATCH2 = [
    (4, _ts(5), 100, "view", 1.0, "{}"),   # ≤ A's watermark → suppressed
    (5, _ts(20), 100, "view", 1.0, "{}"),  # newer → passes
    (6, _ts(10), 200, "buy", 2.0, "{}"),   # equal to B's mark → suppressed
    (7, _ts(0), 300, "view", 3.0, "{}"),   # new entity → passes
]


def _write_stream_file(spark, rows, src_dir, stage_dir, mtime):
    df = spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1)
    df.write.mode("overwrite").parquet(stage_dir)
    part = glob.glob(f"{stage_dir}/part-*.parquet")[0]
    dest = os.path.join(src_dir, f"batch_{mtime}.parquet")
    shutil.copy(part, dest)
    os.utime(dest, (mtime, mtime))  # file source orders by mtime
    return dest


def _counts_maintainer(path, key_col, auto_compact_epochs=64):
    """Per-key exact counts kept by an EpochPartitionedAppender: each
    trigger appends the batch's own groupBy counts; fold() sums them."""
    from pyspark.sql import functions as F

    from openedx_event_sink_clickhouse_spark.streaming.sketch_maintenance import (
        EpochPartitionedAppender)

    def partials(b):
        return (b.filter(F.col(key_col).isNotNull())
                .groupBy(key_col).agg(F.count("*").alias("n_rows")))

    return EpochPartitionedAppender(path, partials, [key_col], ["n_rows"],
                                    auto_compact_epochs=auto_compact_epochs)


def test_watermark_state_survives_micro_batches(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    _write_stream_file(spark, BATCH1, src, str(tmp_path / "s1"), 1_000)
    _write_stream_file(spark, BATCH2, src, str(tmp_path / "s2"), 2_000)

    stream = (spark.readStream.schema(EVENT_SCHEMA)
              .option("maxFilesPerTrigger", "1").parquet(src))
    gated = incremental_dump_stream(stream)
    q = (gated.writeStream.format("memory").queryName("gated")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    assert q.awaitTermination(120)

    got = {r.event_id for r in spark.sql("SELECT * FROM gated").collect()}
    assert got == {1, 2, 3, 5, 7}


def test_batch_input_rejected(spark):
    # applyInPandasWithState is streaming-only in Spark 4; the batch form
    # of the same semantics is operators.incremental.change_detection —
    # pin the failure mode so the split stays intentional.
    import pytest
    from pyspark.errors.exceptions.captured import UnsupportedOperationException
    df = spark.createDataFrame(BATCH1, EVENT_SCHEMA)
    with pytest.raises(UnsupportedOperationException):
        incremental_dump_stream(df).collect()


def test_attribution_stream_matches_batch_operator(spark, tmp_path):
    # Streaming last-touch attribution must equal the batch window
    # operator over the same events when micro-batches arrive in event-
    # time order — the state store carries "latest touch so far" across
    # the batch boundary (user 100's batch-1 view credits a batch-2
    # purchase), and organic conversions emit NULL touch columns.
    import random

    from openedx_event_sink_clickhouse_spark.operators.funnel import (
        last_touch_attribution)
    from openedx_event_sink_clickhouse_spark.streaming.stateful import (
        attribution_stream)

    rng = random.Random(11)
    types = ["click", "view", "purchase", "error", "signup"]
    rows = [(i, _ts(i), 100 + (i * 7) % 5,
             rng.choice(types), float(i), "{}") for i in range(59)]
    # planted cross-batch pair: user 999's only touch is in batch 1,
    # its purchase in batch 2 — forces the state store to carry it
    rows += [(100, _ts(29), 999, "view", 0.0, "{}"),
             (101, _ts(31), 999, "purchase", 9.0, "{}")]
    # split at an event-time boundary: per-user in-order delivery
    batch1 = [r for r in rows if r[1] < _ts(30)]
    batch2 = [r for r in rows if r[1] >= _ts(30)]
    src = str(tmp_path / "src")
    os.makedirs(src)
    _write_stream_file(spark, batch1, src, str(tmp_path / "s1"), 1_000)
    _write_stream_file(spark, batch2, src, str(tmp_path / "s2"), 2_000)

    stream = (spark.readStream.schema(EVENT_SCHEMA)
              .option("maxFilesPerTrigger", "1").parquet(src))
    q = (attribution_stream(stream)
         .writeStream.format("memory").queryName("attr")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    assert q.awaitTermination(120)

    got = {tuple(r) for r in spark.sql("SELECT * FROM attr").collect()}
    want = {tuple(r) for r in last_touch_attribution(
        spark.createDataFrame(rows, EVENT_SCHEMA)).collect()}
    assert got == want and len(want) > 5
    # at least one conversion must be credited across the batch split
    crossers = [r for r in want
                if r[2] >= _ts(30) and r[4] is not None and r[5] < _ts(30)]
    assert crossers, "fixture must exercise cross-batch state"


def test_scd2_bucketed_maintainer_partial_rewrite_and_replay_safety(
        spark, tmp_path):
    # Bucketed partial rewrite: parity with the batch history, ONLY
    # touched bucket dirs change between triggers, and re-applying an
    # epoch (the at-least-once replay) is a no-op thanks to the
    # per-bucket _epoch markers.
    from pyspark.sql import functions as F

    from openedx_event_sink_clickhouse_spark.operators.scd import (
        scd2_history)
    from openedx_event_sink_clickhouse_spark.streaming.scd_maintenance import (
        Scd2BucketedMaintainer)

    rows = [(i, _ts(i), 100 + i % 6, ["a", "b"][(i // 7) % 2], 0.0, "{}")
            for i in range(40)]
    full = spark.createDataFrame(rows, EVENT_SCHEMA) \
        .select("user_id", "ts", "event_id", "event_type")
    b0 = full.filter(F.col("event_id") < 20)
    b1a = full.filter((F.col("event_id") >= 20) & (F.col("user_id") == 102))
    m = Scd2BucketedMaintainer(str(tmp_path / "hist"), "user_id", "ts",
                               ["event_type"], tiebreak_col="event_id",
                               n_buckets=8)
    m(b0, 0)
    # snapshot per-bucket file listings, then apply a batch touching ONE user
    def listing():
        out = {}
        for d in glob.glob(str(tmp_path / "hist" / "_bucket=*")):
            out[os.path.basename(d)] = sorted(os.listdir(d))
        return out
    before = listing()
    m(b1a, 1)
    after = listing()
    changed = {k for k in before if before[k] != after.get(k)}
    assert len(changed) == 1            # exactly user 102's bucket
    # replaying the same epoch must change nothing (markers skip it)
    state = listing()
    m(b1a, 1)
    assert listing() == state
    # parity with the from-scratch history over everything applied
    want = scd2_history(b0.unionByName(b1a), "user_id", "ts",
                        ["event_type"], tiebreak_col="event_id")
    key = lambda r: (r["user_id"], r["valid_from"])
    got_rows = sorted(m.history(spark).select(*want.columns).collect(),
                      key=key)
    assert [tuple(r) for r in got_rows] == \
        [tuple(r) for r in sorted(want.collect(), key=key)]


def test_epoch_partitioned_sketch_maintainer_replay_safe(spark, tmp_path):
    # CMS cells maintained by a 3-batch stream must equal the one-pass
    # sketch; a replayed epoch overwrites its own partition (no double
    # count); compact() folds partitions without changing the view.
    from pyspark.sql import functions as F

    from openedx_event_sink_clickhouse_spark.operators.heavyhitters import (
        cms_sketch)
    from openedx_event_sink_clickhouse_spark.streaming.sketch_maintenance import (
        cms_stream_maintainer)

    rows = [(i, _ts(i), 100 + i % 9, "e", 1.0, "{}") for i in range(60)]
    full = spark.createDataFrame(rows, EVENT_SCHEMA)
    batches = [full.filter((F.col("event_id") >= lo)
                           & (F.col("event_id") < hi))
               for lo, hi in ((0, 20), (20, 40), (40, 60))]

    m = cms_stream_maintainer(str(tmp_path / "cms"), "user_id",
                              width=32, depth=3)
    for e, b in enumerate(batches):
        m(b, e)
    want = sorted(map(tuple, cms_sketch(full, "user_id", 32, 3).collect()))
    got = lambda: sorted(
        map(tuple, m.fold(spark).select("d", "bucket", "c").collect()))
    assert got() == want
    # at-least-once replay of the LAST epoch (the only epoch a
    # checkpointed stream ever re-delivers): state unchanged
    m(batches[2], 2)
    assert got() == want
    # an epoch id BELOW the append frontier means a fresh/rolled-back
    # checkpoint is re-driving this path — fail fast, never mix runs
    # (ADVICE r8)
    with pytest.raises(RuntimeError, match="epoch regression"):
        m(batches[1], 1)
    assert got() == want
    # compact folds every epoch partition into the base; view unchanged
    m.compact(spark)
    import glob as _glob
    assert _glob.glob(str(tmp_path / "cms" / "epoch=*")) == \
        [str(tmp_path / "cms" / "epoch=-1")]
    assert got() == want

    # counts maintainer: same protocol, per-key exact counts
    c = _counts_maintainer(str(tmp_path / "counts"), "user_id")
    for e, b in enumerate(batches):
        c(b, e)
    c(batches[2], 2)  # replay
    want_counts = sorted(map(tuple, full.groupBy("user_id")
                             .agg(F.count("*").alias("n_rows")).collect()))
    assert sorted(map(tuple, c.fold(spark)
                      .select("user_id", "n_rows").collect())) == want_counts


def test_sketch_maintainer_reset_for_new_run(spark, tmp_path):
    # The sanctioned recovery from a fresh-checkpoint restart: fold
    # history into a base, clear the epoch watermark + append frontier,
    # then a NEW stream's epochs 0.. append as new data (never skipped,
    # never overwriting history).
    from pyspark.sql import functions as F

    rows = [(i, _ts(i), 100 + i % 4, "e", 1.0, "{}") for i in range(40)]
    full = spark.createDataFrame(rows, EVENT_SCHEMA)
    b0 = full.filter(F.col("event_id") < 20)
    b1 = full.filter(F.col("event_id") >= 20)

    c = _counts_maintainer(str(tmp_path / "counts"), "user_id")
    c(b0, 0)
    c(b1, 1)
    with pytest.raises(RuntimeError, match="epoch regression"):
        c(b1, 0)  # fresh-checkpoint restart without reset: refused
    c.reset_for_new_run(spark)
    # new run re-opens at epoch 0 with DIFFERENT batch boundaries
    c(full.filter(F.col("event_id") % 2 == 0), 0)
    c(full.filter(F.col("event_id") % 2 == 1), 1)
    want = sorted(map(tuple, full.unionByName(full)
                      .groupBy("user_id")
                      .agg(F.count("*").alias("n_rows")).collect()))
    assert sorted(map(tuple, c.fold(spark)
                      .select("user_id", "n_rows").collect())) == want

    # reset with a LONE real epoch (compact() no-ops on one partition):
    # the partition must be rebased, not left for epoch 0 to overwrite
    c2 = _counts_maintainer(str(tmp_path / "lone"), "user_id")
    c2(b0, 0)
    c2.reset_for_new_run(spark)
    c2(b0, 0)
    want2 = sorted(map(tuple, b0.unionByName(b0).groupBy("user_id")
                       .agg(F.count("*").alias("n_rows")).collect()))
    assert sorted(map(tuple, c2.fold(spark)
                      .select("user_id", "n_rows").collect())) == want2


def test_sketch_maintainer_auto_compaction_bounds_partitions(spark, tmp_path):
    # The layout.py file-count discipline applied to epoch partitions:
    # with auto_compact_epochs=3, ten triggers must leave <= 4 epoch
    # dirs (one generation base + at most 3 real epochs) and the folded
    # view must equal the one-shot aggregate at every point.
    import os

    from pyspark.sql import functions as F

    rows = [(i, _ts(i % 60), 100 + i % 7, "e", 1.0, "{}") for i in range(100)]
    full = spark.createDataFrame(rows, EVENT_SCHEMA)
    c = _counts_maintainer(str(tmp_path / "counts"),
                           "user_id", auto_compact_epochs=3)
    for e in range(10):
        c(full.filter((F.col("event_id") >= e * 10)
                      & (F.col("event_id") < (e + 1) * 10)), e)
        dirs = [d for d in os.listdir(c.path) if d.startswith("epoch=")]
        assert len(dirs) <= 4, dirs
    want = sorted(map(tuple, full.groupBy("user_id")
                      .agg(F.count("*").alias("n_rows")).collect()))
    assert sorted(map(tuple, c.fold(spark)
                      .select("user_id", "n_rows").collect())) == want
    # replay of the final epoch after its auto-compaction folded it:
    # watermark no-op, still no growth, same view
    c(full.filter(F.col("event_id") >= 90), 9)
    assert sorted(map(tuple, c.fold(spark)
                      .select("user_id", "n_rows").collect())) == want


def test_dedup_stream_maintainer_matches_global_clustering(spark, tmp_path,
                                                           sf_dir):
    # The incremental near-dup loop as a foreachBatch stream: three
    # ascending-id batches through the maintainer must yield EXACTLY
    # the global clustering's survivor set; a committed-epoch replay is
    # a marker no-op; an UNCOMMITTED-epoch replay (crash before the
    # label swap — simulated by deleting the marker) re-executes
    # against an index that already contains the batch and must
    # converge to the same state, not double-merge.
    from pyspark.sql import functions as F

    from openedx_event_sink_clickhouse_spark.operators.dedup import (
        connected_components, minhash_lsh_pairs)
    from openedx_event_sink_clickhouse_spark.streaming.dedup_maintenance import (
        DedupStreamMaintainer)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    m = DedupStreamMaintainer(str(tmp_path / "dedup"),
                              checkpoint_dir=str(tmp_path / "ckpt"))
    batches = [docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
               for lo, hi in ((0, 170), (170, 340), (340, 10 ** 9))]
    for e, b in enumerate(batches):
        m(b, e)

    def survivors():
        return sorted(r.doc_id for r in
                      m.survivors(spark).select("doc_id").collect())

    pairs = minhash_lsh_pairs(docs, threshold=0.6)
    labels = connected_components(pairs,
                                  checkpoint_dir=str(tmp_path / "ckpt"))
    losers = labels.filter(~F.col("is_survivor")).select("doc_id")
    want = sorted(r.doc_id for r in docs.join(losers, "doc_id", "left_anti")
                  .select("doc_id").collect())
    assert survivors() == want
    # committed-epoch replay: exact-match marker, full no-op
    m(batches[2], 2)
    assert survivors() == want
    # uncommitted-epoch replay (crash before the swap): the re-run
    # mines the batch against itself in the index — self-pairs are
    # id-ordered away, duplicate pairs distinct-ed, labels converge
    import os
    os.remove(os.path.join(m.labels_path, "_epoch"))
    m(batches[2], 2)
    assert survivors() == want


def test_sketch_compact_crash_recovery(spark, tmp_path):
    # The compact protocol's crash windows, replayed explicitly:
    # (a) scratch present, no manifest -> pre-commit debris: folds
    #     ignore it (dot-prefix) and only compact() clears it;
    # (b) manifest committed, nothing else done -> recovery installs
    #     the base, deletes exactly the snapshot, and is IDEMPOTENT —
    #     a crash mid-recovery (base installed, manifest still present)
    #     must not delete the fresh base on the replay;
    # (c) an epoch a compact folded into the base replays through the
    #     handler -> skipped via the base's _max_epoch watermark, never
    #     double-counted.
    import json
    import os
    import shutil

    from pyspark.sql import functions as F

    rows = [(i, _ts(i), 100 + i % 5, "e", 1.0, "{}") for i in range(40)]
    full = spark.createDataFrame(rows, EVENT_SCHEMA)
    b0 = full.filter(F.col("event_id") < 20)
    b1 = full.filter(F.col("event_id") >= 20)
    c = _counts_maintainer(str(tmp_path / "counts"), "user_id")
    c(b0, 0)
    c(b1, 1)
    want = sorted(map(tuple, full.groupBy("user_id")
                      .agg(F.count("*").alias("n_rows")).collect()))
    got = lambda: sorted(map(tuple, c.fold(spark)
                             .select("user_id", "n_rows").collect()))

    # (a) stale scratch without a manifest: folds ignore it AND leave it
    # (an in-flight compact's scratch must survive concurrent triggers);
    # compact() clears it before starting its own
    os.makedirs(c._scratch(), exist_ok=True)
    open(os.path.join(c._scratch(), "junk"), "w").write("x")
    assert got() == want
    assert os.path.isdir(c._scratch())        # fold left it alone

    # (b) real compact, then CRASH SIMULATION mid-recovery: re-create
    # the manifest after the base is installed; the replayed recovery
    # must not delete the new base (its name is never in the snapshot)
    c.compact(spark)
    dirs = sorted(d for d in os.listdir(c.path) if d.startswith("epoch="))
    assert dirs == ["epoch=-1"]
    assert got() == want
    manifest = {"target": "epoch=-1", "snapshot": ["epoch=0", "epoch=1"]}
    with open(c._manifest(), "w") as fh:
        json.dump(manifest, fh)
    assert got() == want                      # idempotent replayed recovery
    assert not os.path.isfile(c._manifest())

    # (c) replay of a folded epoch: the _max_epoch watermark (inside the
    # base) makes it a no-op — no epoch=1 partition reappears
    assert int(open(os.path.join(c.path, "epoch=-1", "_max_epoch"))
               .read()) == 1
    c(b1, 1)
    dirs = sorted(d for d in os.listdir(c.path) if d.startswith("epoch="))
    assert dirs == ["epoch=-1"]
    assert got() == want
    # a genuinely NEW epoch still lands, and the next compact folds it
    # into generation 2 with the watermark advanced
    c(b1, 2)
    want2 = sorted(map(tuple, full.unionByName(b1).groupBy("user_id")
                       .agg(F.count("*").alias("n_rows")).collect()))
    assert got() == want2
    c.compact(spark)
    dirs = sorted(d for d in os.listdir(c.path) if d.startswith("epoch="))
    assert dirs == ["epoch=-2"]
    assert int(open(os.path.join(c.path, "epoch=-2", "_max_epoch"))
               .read()) == 2
    assert got() == want2


def test_scd2_maintainers_survive_fresh_checkpoint_restart(spark, tmp_path):
    # Epoch ids reset to 0 when a stream restarts with a new checkpoint
    # against EXISTING history. The exact-match replay guard must merge
    # (possibly re-applying, at-least-once semantics) — an ordering
    # guard would silently freeze the maintainer forever.
    from pyspark.sql import functions as F

    from openedx_event_sink_clickhouse_spark.streaming.scd_maintenance import (
        Scd2BucketedMaintainer)

    rows = [(i, _ts(i), 100 + i % 3, ["a", "b"][(i // 4) % 2], 0.0, "{}")
            for i in range(24)]
    full = spark.createDataFrame(rows, EVENT_SCHEMA) \
        .select("user_id", "ts", "event_id", "event_type")
    b0 = full.filter(F.col("event_id") < 12)
    b1 = full.filter(F.col("event_id") >= 12)

    # b1's window starts at minute 12; a frozen maintainer's history
    # would still end inside b0's window (< minute 12)
    b1_start = _ts(12)

    m = Scd2BucketedMaintainer(str(tmp_path / "hist"), "user_id", "ts",
                               ["event_type"], tiebreak_col="event_id",
                               n_buckets=4)
    m(b0, 7)                     # old stream committed epoch 7
    m(b1, 0)                     # fresh checkpoint: must merge, not skip
    assert m.history(spark).agg(
        F.max("valid_from")).first()[0] >= b1_start


def test_epoch_replay_correct_under_mtime_ties(spark, tmp_path):
    # The r9 driver flake's suspected mechanism (VERDICT r9): the file
    # source orders same-mtime files ARBITRARILY, so a replay that
    # assumes "batchK.parquet == epoch K" can re-deliver a batch under
    # a NEW epoch id and double-count. This fixture makes the tie real
    # — three batch files with IDENTICAL mtimes — and proves the
    # recorded-epoch replay protocol folds correctly regardless of the
    # listing order the source happened to pick: every file is replayed
    # against the epoch the stream ACTUALLY assigned it (recorded via
    # input_file_name inside foreachBatch), in shuffled order, and the
    # fold still equals the one-pass whole-data counts.
    from pyspark.sql import functions as F

    from openedx_event_sink_clickhouse_spark.registry import _EpochRecorder

    rows = [(i, _ts(i % 50), 100 + i % 7,
             ["view", "click", "buy"][i % 3], 1.0, "{}") for i in range(60)]
    src = str(tmp_path / "src")
    os.makedirs(src)
    paths = []
    for bi, (lo, hi) in enumerate([(0, 20), (20, 40), (40, 60)]):
        batch = [r for r in rows if lo <= r[0] < hi]
        p = _write_stream_file(
            spark, batch, src, str(tmp_path / f"s{bi}"), 5_000)
        # distinct names, IDENTICAL mtimes — the adversarial tie
        dest = os.path.join(src, f"tied{bi}.parquet")
        os.rename(p, dest)
        os.utime(dest, (5_000, 5_000))
        paths.append(dest)
    assert len({os.path.getmtime(p) for p in paths}) == 1

    m = _counts_maintainer(str(tmp_path / "cells"), "event_type")
    rec = _EpochRecorder(m)
    stream = (spark.readStream.schema(EVENT_SCHEMA)
              .option("maxFilesPerTrigger", "1").parquet(src))
    q = (stream.writeStream.foreachBatch(rec)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    assert sorted(rec.file_epochs.values()) == [0, 1, 2]

    # at-least-once replay: foreachBatch only ever re-delivers the LAST
    # unfinished epoch (older epochs are fenced by the ADVICE-r8
    # regression guard), and under mtime ties WHICH FILE that is can be
    # any of the three — the recorded mapping, not the filename, must
    # pick both the file and the epoch id. Twice, to also cover a
    # re-replay of an already-committed epoch.
    last_file = max(rec.file_epochs, key=rec.file_epochs.get)
    replay = spark.read.parquet(os.path.join(src, last_file))
    for _ in range(2):
        m(replay, rec.epoch_of(last_file, 3))

    want = {(r[0], r[1]) for r in
            spark.createDataFrame(rows, EVENT_SCHEMA)
            .groupBy("event_type").agg(F.count("*").alias("n")).collect()}
    got = {(r["event_type"], r["n_rows"]) for r in m.fold(spark).collect()}
    assert got == want


def test_epoch_recorder_guards():
    # Pure-python contract of the replay utility: a short file count or
    # an unknown file must refuse with a clear error, never hand back a
    # guessed epoch id (guessing is the exact failure the class exists
    # to prevent).
    from openedx_event_sink_clickhouse_spark.streaming.replay import (
        EpochRecorder)

    rec = EpochRecorder(lambda df, eid: None)
    rec.file_epochs = {"batch0.parquet": 0}
    with pytest.raises(RuntimeError, match="expected 2 source files"):
        rec.epoch_of("batch0.parquet", 2)
    rec.file_epochs = {"batch0.parquet": 0, "batch1.parquet": 1}
    with pytest.raises(RuntimeError, match="never consumed"):
        rec.epoch_of("batch9.parquet", 2)
    assert rec.epoch_of("batch1.parquet", 2) == 1


def test_scd2_bucketed_rolls_back_marker_less_swap(spark, tmp_path):
    # ADVICE r9: a crash between rename(src, dst) and the _epoch marker
    # write leaves dst = the MERGED generation with no marker and .old =
    # the pre-merge copy. Recovery must roll BACK to .old — keeping the
    # marker-less merged dst makes the epoch replay re-merge the batch
    # into already-merged history (double-counted n_versions, the exact
    # corruption the marker protocol exists to prevent).
    import shutil as _sh

    from pyspark.sql import functions as F

    from openedx_event_sink_clickhouse_spark.operators.scd import (
        scd2_history)
    from openedx_event_sink_clickhouse_spark.streaming.scd_maintenance import (
        Scd2BucketedMaintainer)

    rows = [(i, _ts(i), 100 + i % 2, ["a", "b"][(i // 4) % 2], 0.0, "{}")
            for i in range(24)]
    full = spark.createDataFrame(rows, EVENT_SCHEMA) \
        .select("user_id", "ts", "event_id", "event_type")
    b0 = full.filter(F.col("event_id") < 12)
    b1 = full.filter(F.col("event_id") >= 12)
    m = Scd2BucketedMaintainer(str(tmp_path / "hist"), "user_id", "ts",
                               ["event_type"], tiebreak_col="event_id",
                               n_buckets=1)
    m(b0, 0)
    bucket = m._bucket_dir(0)
    pre = str(tmp_path / "pre_merge_copy")
    _sh.copytree(bucket, pre)
    m(b1, 1)
    # reconstruct the crash window: merged dst, marker missing, .old =
    # the stranded pre-merge generation
    os.remove(os.path.join(bucket, "_epoch"))
    _sh.rmtree(f"{bucket}.old", ignore_errors=True)
    os.rename(pre, f"{bucket}.old")

    m(b1, 1)  # the at-least-once replay of the interrupted epoch
    want = scd2_history(full, "user_id", "ts", ["event_type"],
                        tiebreak_col="event_id")
    key = lambda r: (r["user_id"], r["valid_from"])
    got = sorted(m.history(spark).select(*want.columns).collect(), key=key)
    assert [tuple(r) for r in got] == \
        [tuple(r) for r in sorted(want.collect(), key=key)]
    assert any(r.n_versions > 1 for r in got)  # merged, not bootstrapped

    # and the COMMITTED case still drops a stale .old: marker present,
    # leftover old copy, replayed epoch is a no-op that cleans it
    os.makedirs(f"{bucket}.old", exist_ok=True)
    m(b1, 1)
    assert not os.path.isdir(f"{bucket}.old")


def test_scd2_bucketed_idle_trigger_skips_recovery_glob(spark, tmp_path,
                                                        monkeypatch):
    # An idle trigger (empty batch) returns before the stranded-bucket
    # recovery, so it globs nothing; a non-empty batch still recovers a
    # stranded bucket before reading its epoch marker, and merges into
    # its history instead of bootstrapping the bucket from the batch.
    from pyspark.sql import functions as F

    from openedx_event_sink_clickhouse_spark.operators.scd import (
        scd2_history)
    from openedx_event_sink_clickhouse_spark.streaming import scd_maintenance

    rows = [(i, _ts(i), 100 + i % 2, ["a", "b"][(i // 4) % 2], 0.0, "{}")
            for i in range(24)]
    full = spark.createDataFrame(rows, EVENT_SCHEMA) \
        .select("user_id", "ts", "event_id", "event_type")
    b0 = full.filter(F.col("event_id") < 12)
    b1 = full.filter(F.col("event_id") >= 12)
    m = scd_maintenance.Scd2BucketedMaintainer(
        str(tmp_path / "hist"), "user_id", "ts", ["event_type"],
        tiebreak_col="event_id", n_buckets=1)
    m(b0, 0)

    calls: list[str] = []
    real_glob = scd_maintenance.glob.glob
    monkeypatch.setattr(scd_maintenance.glob, "glob",
                        lambda p, *a, **k: calls.append(p)
                        or real_glob(p, *a, **k))
    m(full.filter(F.lit(False)), 1)
    assert calls == []

    bucket = m._bucket_dir(0)
    os.rename(bucket, f"{bucket}.old")   # crash between the two renames
    m(b1, 1)
    assert calls and not os.path.isdir(f"{bucket}.old")
    want = scd2_history(full, "user_id", "ts", ["event_type"],
                        tiebreak_col="event_id")
    key = lambda r: (r["user_id"], r["valid_from"])
    got = sorted(m.history(spark).select(*want.columns).collect(), key=key)
    assert [tuple(r) for r in got] == \
        [tuple(r) for r in sorted(want.collect(), key=key)]
