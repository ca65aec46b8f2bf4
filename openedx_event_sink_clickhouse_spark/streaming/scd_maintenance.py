"""Streaming SCD2 history maintenance: a ``foreachBatch`` loop that
keeps a type-2 history table fresh as log micro-batches arrive — the
streaming form of ``operators/scd.scd2_merge_batch``, the way
``dispatch`` is the streaming form of the batch sink pipelines.

Design at 100 TB:

- **Each trigger is O(batch + touched frontier).** The merge re-collapses
  only the current intervals of keys present in the batch (weighted
  fold — see ``scd2_merge_batch``); closed intervals and untouched keys
  stream through as-is. History size never enters the per-trigger cost
  except as the pass-through write.
- **Partial rewrite.** :class:`Scd2BucketedMaintainer` keeps history
  partitioned by key-hash bucket and each trigger rewrites ONLY touched
  buckets (atomic per-bucket rename swap — readers never see a torn
  bucket), with per-bucket epoch markers making the at-least-once
  replay safe.
- **In-order contract, same as every stateful twin.** Per-key event-time
  ordering across micro-batches (Kafka per-key partition ordering; the
  tests force it with file mtimes).
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .replay import recover_generation, swap_generation


class Scd2BucketedMaintainer:
    """``foreachBatch`` handler: folds each arriving log micro-batch into
    the SCD2 history at ``path`` (bootstrapping it from the first
    batch). History lives partitioned by a key-hash bucket (``_bucket =
    pmod(xxhash64(key), n_buckets)``), and each trigger rewrites ONLY
    the buckets containing batch keys. Per-trigger IO is O(touched
    buckets), not O(history): a batch touching 1% of keys rewrites ~1%
    of the table.

    Replay safety without a table format: each bucket directory carries
    an ``_epoch`` marker written AFTER its generation swap. A restarted
    trigger (foreachBatch is at-least-once) re-merges only buckets whose
    marker predates the replayed epoch — a bucket that already committed
    this epoch is skipped, so the non-idempotent merge is never applied
    twice. Crash mid-trigger leaves each bucket internally consistent
    at one of the two generations; the replay completes the stragglers.
    (A lakehouse table format gives the same guarantee with one commit;
    this is that protocol reduced to per-bucket granularity.)"""

    def __init__(self, path: str, key_col: str, ts_col: str,
                 attr_cols: list[str], tiebreak_col: str | None = None,
                 n_buckets: int = 16) -> None:
        self.path = path
        self.key_col = key_col
        self.ts_col = ts_col
        self.attr_cols = attr_cols
        self.tiebreak_col = tiebreak_col
        self.n_buckets = n_buckets

    def _bucket(self, col):
        from pyspark.sql import functions as F

        return F.pmod(F.xxhash64(col), F.lit(self.n_buckets)).cast("int")

    def _bucket_dir(self, b: int) -> str:
        return os.path.join(self.path, f"_bucket={b}")

    def _epoch_of(self, b: int) -> int:
        marker = os.path.join(self._bucket_dir(b), "_epoch")
        if os.path.isfile(marker):
            return int(open(marker).read().strip())
        return -1

    def _recover_stranded_buckets(self) -> None:
        # Crash-atomicity for the per-bucket two-rename swap below: a
        # crash between rename(dst, old) and rename(src, dst) leaves
        # the bucket's ONLY history copy in <dst>.old with dst absent.
        # Without this recovery, the replay would (a) merge without
        # that bucket's history and (b) rmtree the stranded copy first
        # — permanently losing every prior interval in the bucket.
        # Before the markers are read, any <bucket>.old whose bucket
        # dir is absent renames back. An .old WITH its bucket present
        # splits on the marker: a dst CARRYING an _epoch marker
        # committed (the .old is the superseded generation whose
        # cleanup just didn't finish — drop it), but a dst WITHOUT a
        # marker is a crash between
        # rename(src, dst) and the marker write — the merged
        # generation whose commit never happened. Keeping it would
        # double-apply the batch when the epoch replays (the
        # non-idempotent merge the marker protocol exists to prevent),
        # so roll back to the pre-merge copy and let the replay merge
        # once.
        for old in glob.glob(os.path.join(self.path, "_bucket=*.old")):
            dst = old[:-len(".old")]
            if not os.path.isdir(dst):
                os.rename(old, dst)
            elif not os.path.isfile(os.path.join(dst, "_epoch")):
                shutil.rmtree(dst)
                os.rename(old, dst)
            else:
                shutil.rmtree(old, ignore_errors=True)

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        from pyspark.sql import functions as F

        from ..operators.scd import scd2_history, scd2_merge_batch

        spark = batch_df.sparkSession
        batch = batch_df.withColumn("_b", self._bucket(F.col(self.key_col)))
        # The touched-bucket collect doubles as the empty-batch probe:
        # an idle trigger yields no buckets and returns below, so the
        # old up-front isEmpty() was a second scheduled job per epoch
        # answering a question this tiny collect already answers
        # (guide §5 — the driver should not pay actions it can subsume).
        touched = sorted(r["_b"] for r in
                         batch.select("_b").distinct().collect())
        if not touched:
            return
        # before _epoch_of: a bucket stranded in its .old copy would
        # otherwise read as epoch -1 and merge without its history
        self._recover_stranded_buckets()
        # at-least-once replay: skip buckets already committed this
        # EXACT epoch. Exact match, not <: foreachBatch only ever
        # re-fires the last uncommitted epoch, and an ordering guard
        # would silently freeze every bucket forever when an operator
        # restarts the stream with a fresh checkpoint (epoch ids reset
        # to 0) against existing history.
        todo = [b for b in touched if self._epoch_of(b) != epoch_id]
        if not todo:
            return
        batch = batch.filter(F.col("_b").isin(todo)).drop("_b")
        existing = [b for b in todo if os.path.isdir(self._bucket_dir(b))]
        if existing:
            hist = spark.read.parquet(
                *[self._bucket_dir(b) for b in existing])
            merged = scd2_merge_batch(hist, batch, self.key_col,
                                      self.ts_col, self.attr_cols,
                                      self.tiebreak_col)
        else:
            merged = scd2_history(batch, self.key_col, self.ts_col,
                                  self.attr_cols, self.tiebreak_col)
        merged = merged.withColumn("_b", self._bucket(F.col(self.key_col)))
        scratch = f"{self.path}.epoch{epoch_id}"
        (merged.write.mode("overwrite").partitionBy("_b").parquet(scratch))
        os.makedirs(self.path, exist_ok=True)
        for b in todo:
            src = os.path.join(scratch, f"_b={b}")
            dst = self._bucket_dir(b)
            old = f"{dst}.old"
            shutil.rmtree(old, ignore_errors=True)
            if os.path.isdir(dst):
                os.rename(dst, old)
            if os.path.isdir(src):
                os.rename(src, dst)
            else:
                os.makedirs(dst, exist_ok=True)   # bucket emptied (rare)
            with open(os.path.join(dst, "_epoch"), "w") as fh:
                fh.write(str(epoch_id))
            shutil.rmtree(old, ignore_errors=True)
        shutil.rmtree(scratch, ignore_errors=True)

    def history(self, spark) -> DataFrame:
        self._recover_stranded_buckets()
        dirs = [d for d in glob.glob(os.path.join(self.path, "_bucket=*"))
                if not d.endswith(".old")]
        return spark.read.parquet(*dirs)



class Scd1SnapshotMaintainer:
    """Streaming SCD TYPE-1 maintenance: a foreachBatch handler that
    folds each micro-batch CHANGELOG into an at-rest current-state
    snapshot — the streaming twin of ``operators.scd.apply_changelog``
    and the "latest values only" sibling of the SCD2 maintainer above.

    Replay safety comes from the DATA, not an epoch protocol: the
    snapshot carries each row's last-applied sequence, and the fold is
    last-wins by (seq) across state ∪ batch — so a re-delivered batch
    (foreachBatch is at-least-once) re-loses to the newer state rows
    and the fold is idempotent. Deletes are retained as TOMBSTONES
    (op='D' with their seq) rather than physically removed: without
    the tombstone, a replayed older upsert would resurrect a deleted
    key. ``snapshot()`` filters tombstones at serve time; compacting
    tombstones out is safe once no replay can reach past their seq
    (the streaming-watermark argument, documented not automated).

    Each trigger rewrites the snapshot via an atomic generation swap
    (write gen_N+1, rename). At 100 TB the swap is the bucketed
    partial-rewrite protocol Scd2BucketedMaintainer demonstrates —
    same fold, per-bucket IO."""

    def __init__(self, path: str, key_col: str, seq_cols: list[str],
                 update_cols: list[str],
                 seed: DataFrame | None = None) -> None:
        self.path = path
        self.key_col = key_col
        self.seq_cols = seq_cols
        self.update_cols = update_cols
        self._seed = seed

    def _state(self, spark) -> DataFrame | None:
        if os.path.isdir(self.path):
            return spark.read.parquet(self.path)
        return None

    def __call__(self, batch: DataFrame, epoch_id: int) -> None:
        from pyspark.sql import Window

        if batch.isEmpty():
            # idle trigger: no fold, no rewrite — and critically, no
            # empty-snapshot materialization that would suppress the
            # seed path on the first real batch.
            return
        recover_generation(self.path, ".gen")
        spark = batch.sparkSession
        cols = [self.key_col, "op", *self.seq_cols,
                *self.update_cols]
        state = self._state(spark)
        if state is None and self._seed is not None:
            # seed rows: op='U' at a sequence below any real change
            seed = self._seed.select(
                F.col(self.key_col), F.lit("U").alias("op"),
                *[F.lit(None).cast(batch.schema[c].dataType).alias(c)
                  for c in self.seq_cols],
                *[F.col(c) for c in self.update_cols])
            state = seed
        merged = batch.select(*cols) if state is None else \
            state.select(*cols).unionByName(batch.select(*cols))
        # last-wins: NULL seq (the seed) sorts last under desc_nulls_last
        w = Window.partitionBy(self.key_col).orderBy(
            *[F.col(c).desc_nulls_last() for c in self.seq_cols])
        folded = (merged.withColumn("_rk", F.row_number().over(w))
                  .filter(F.col("_rk") == 1).drop("_rk"))
        tmp = f"{self.path}.gen{epoch_id}"
        folded.write.mode("overwrite").parquet(tmp)
        swap_generation(self.path, tmp, epoch_id)

    def snapshot(self, spark, base: DataFrame | None = None) -> DataFrame:
        """Current state: tombstones filtered, one row per live key.
        The maintained state carries only (key, op, seq, update_cols);
        pass ``base`` to re-attach the NON-updated base columns by a
        serve-time left join — the same projection
        ``operators.scd.apply_changelog`` produces (updated keys keep
        their base attributes, inserted keys get NULLs)."""
        recover_generation(self.path, ".gen")
        live = (spark.read.parquet(self.path)
                .filter(F.col("op") != "D")
                .select(self.key_col, *self.update_cols))
        if base is None:
            return live
        others = [c for c in base.columns
                  if c != self.key_col and c not in self.update_cols]
        return (live.join(base.select(self.key_col, *others),
                          self.key_col, "left")
                .select(self.key_col, *others, *self.update_cols))
