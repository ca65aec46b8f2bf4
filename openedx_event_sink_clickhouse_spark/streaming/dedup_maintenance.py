"""Streaming near-duplicate dedup: the ``foreachBatch`` twin of
``operators.dedup.incremental_dedup_corpus`` — a daily-ingest loop run
continuously. Each micro-batch is pair-mined against the at-rest
MinHash index (O(batch + candidates), the corpus is never re-shingled),
folded into the cluster-label table by contraction
(``update_cluster_labels`` — identical result to a global recompute),
and its surviving rows land in an epoch partition; then the batch joins
the index so the NEXT trigger can match against it.

On-disk state under ``root``::

    root/index/{bands,band_counts,shingles}/epoch=<id>/   (LSH index)
    root/labels/                                          (cluster labels)
    root/survivors/epoch=<id>/                            (per-batch output)

Replay safety (foreachBatch is at-least-once), split by write kind:

- **survivors** and the **index epochs** are partition-overwrite
  idempotent (the ``sketch_maintenance`` reduction): a replayed epoch
  overwrites exactly its own dirs, converging to one copy.
- **labels** are non-idempotent (a merge), so they use a generation
  swap: write-beside → atomic rename swap,
  with an EXACT-match ``_epoch`` marker as the commit point, written
  LAST — a replay of a fully-committed epoch is a no-op; a crash
  anywhere earlier replays against the pre-epoch label table. A replay
  that runs after the index epoch dir was already written re-mines the
  batch against itself — harmless: self-pairs are excluded by the
  ``id_a < id_b`` contract, duplicated batch pairs are ``distinct``-ed
  inside the contraction, and the survivor anti-join is set-semantics.

Survivor-union identity: with batches arriving in ascending id order
(the daily-ingest contract — new docs get new ids), the union of the
per-epoch survivor partitions equals the GLOBAL clustering's survivor
set over everything ingested (cross-cluster survivors are always the
lower-id doc), which is what the registry oracle checks end-to-end
(``stream_dedup_maintenance``).

Greenfield vs the reference (a row-ETL plugin has no dedup at all);
this is the 100 TB training-data ingest gate run as a stream.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .replay import recover_generation, swap_generation


class DedupStreamMaintainer:
    """``foreachBatch`` handler maintaining an incremental near-dup
    corpus. Use::

        m = DedupStreamMaintainer(root, checkpoint_dir=cc_ckpt)
        stream.writeStream.foreachBatch(m).start()
        clean = m.survivors(spark)     # union of per-epoch survivors
    """

    def __init__(self, root: str, checkpoint_dir: str | None = None) -> None:
        self.root = root
        self.index_path = os.path.join(root, "index")
        self.labels_path = os.path.join(root, "labels")
        self.survivors_path = os.path.join(root, "survivors")
        self.checkpoint_dir = checkpoint_dir

    # -- the handler -------------------------------------------------------

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        from ..operators.dedup import (append_minhash_index,
                                       connected_components,
                                       incremental_neardup_pairs,
                                       minhash_lsh_pairs,
                                       update_cluster_labels)

        # Marker check FIRST (two file reads, zero Spark jobs): a
        # replayed fully-committed epoch short-circuits before paying
        # the isEmpty action — the at-least-once replay path becomes
        # job-free on the driver.
        recover_generation(self.labels_path, ".next")
        marker = os.path.join(self.labels_path, "_epoch")
        if os.path.isfile(marker) and int(open(marker).read()) == epoch_id:
            return                       # fully-committed epoch replay
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        # A micro-batch is typically ONE source file -> ONE scan
        # partition, which would run the 64-hash MinHash signature
        # chain on a single core while the rest of the executor idles.
        # Spread the batch first: one tiny shuffle of the increment buys
        # full-width signature/shingle compute for every downstream
        # consumer (mining, survivors, index append).
        batch_df = batch_df.repartition(
            max(2, spark.sparkContext.defaultParallelism // 4))
        bootstrapped = os.path.isfile(
            os.path.join(self.labels_path, "_SUCCESS"))
        if bootstrapped:
            # checkpoint_dir deliberately NOT forwarded to the mining:
            # its band-stream checkpoint spends a scheduled job per
            # epoch to avoid re-running the batch's signature chain per
            # consumer, but all consumers land in ONE evaluation here
            # (the label probe) and the chain is a narrow map over the
            # micro-batch — recomputing it is microseconds, the job is
            # not (the connected_components small-regime argument).
            pairs = incremental_neardup_pairs(
                batch_df, spark, self.index_path)
            labels = update_cluster_labels(
                spark.read.parquet(self.labels_path)
                .select("doc_id", "cluster_id", "is_survivor"),
                pairs, checkpoint_dir=self.checkpoint_dir)
        else:
            pairs = minhash_lsh_pairs(batch_df)
            labels = connected_components(
                pairs, checkpoint_dir=self.checkpoint_dir)
        # 1. labels beside (reads pre-state while writing; the ONE
        #    execution of the mining+contraction chain)
        tmp = f"{self.labels_path}.next{epoch_id}"
        labels.write.mode("overwrite").parquet(tmp)
        with open(os.path.join(tmp, "_epoch"), "w") as fh:
            fh.write(str(epoch_id))
        # 2+3. survivors from the WRITTEN labels (no recompute) and the
        #    batch's index append (overwrite-idempotent epoch dirs) are
        #    INDEPENDENT writes on a tiny batch whose cost is Spark's
        #    job-launch floor, not data — submit them from a small
        #    thread pool so the scheduler overlaps the jobs (guide
        #    §2.6: actions are only sequential because driver code
        #    calls them sequentially). All four land before the commit
        #    rename in step 4, so the crash/replay protocol is
        #    unchanged — a crash mid-pool replays the whole epoch
        #    against the pre-epoch label table, exactly as before.
        from concurrent.futures import ThreadPoolExecutor

        def _write_survivors():
            losers = (spark.read.parquet(tmp)
                      .filter(~F.col("is_survivor"))
                      .select("doc_id"))
            (batch_df.join(F.broadcast(losers), "doc_id", "left_anti")
             .write.mode("overwrite")
             .parquet(os.path.join(self.survivors_path,
                                   f"epoch={epoch_id}")))

        def _append_index():
            append_minhash_index(batch_df, self.index_path, epoch=epoch_id)

        with ThreadPoolExecutor(max_workers=2) as pool:
            futs = [pool.submit(_write_survivors),
                    pool.submit(_append_index)]
            for f in futs:
                f.result()
        # 4. commit: swap labels, marker rides inside the new generation
        swap_generation(self.labels_path, tmp, epoch_id)

    # -- serve -------------------------------------------------------------

    def labels(self, spark) -> DataFrame:
        recover_generation(self.labels_path, ".next")
        return spark.read.parquet(self.labels_path)

    def survivors(self, spark) -> DataFrame:
        """Union of the per-epoch survivor partitions (ascending-id
        batches ⇒ equals the global clustering's survivor set)."""
        return (spark.read.parquet(self.survivors_path)
                .drop("epoch"))
