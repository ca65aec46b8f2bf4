"""Streaming maintenance of mergeable-partial tables (counts, CMS
cells, HLL day-cells): the foreachBatch twin of ``append_counts_batch``
/ ``append_cms_batch``, with REPLAY SAFETY the plain appends don't have.

The problem: foreachBatch is at-least-once. A plain ``append`` of a
batch's partial counts double-counts on replay — unlike the SCD2
maintainers (whose merge is guarded by epoch markers), summed partials
have no natural dedup. The protocol here makes the append itself
idempotent instead of guarding it: each micro-batch's partials land in
their OWN partition directory ``<path>/epoch=<id>/`` with
``mode("overwrite")`` — a replayed epoch overwrites exactly its own
partition, so any number of replays converge to one copy per epoch, and
a crash mid-write is healed by the replay that overwrites the torn
partition. Readers fold the whole directory (``groupBy(...).sum``);
partials are commutative, so epoch boundaries never matter. This is the
lakehouse MERGE-once guarantee reduced to partition-overwrite
granularity — the same reduction ``Scd2BucketedMaintainer`` makes for
history tables.

State size: O(partials × epochs). For CMS that is depth·width rows per
epoch (coordinator-scale forever); for per-key counts it grows with
epochs — fold into a base partition periodically (:meth:`compact`) the
way the count tables compact files.

Compaction protocol (generation bases + atomic manifest), designed so
every crash window and replay interleaving converges:

- Bases are GENERATION-NAMED: ``epoch=-1``, ``epoch=-2``, … (negative:
  below any real epoch). Installing generation g is ONE rename onto a
  name that never pre-exists, and the delete list (the snapshot: prior
  base + folded real epochs) never contains the new base — so recovery
  can re-run the whole delete/install sequence any number of times
  (the re-runnable-deletes discipline the first draft of this protocol
  lacked: a delete list containing the install target destroys the
  fresh base on a replayed recovery).
- The manifest (JSON: target base + snapshot list) is the commit point,
  written via temp-file + ``os.rename`` so it is never observed torn.
- The new base carries a ``_max_epoch`` marker INSIDE the partition dir
  (underscore files are invisible to parquet readers): the highest real
  epoch folded in. ``__call__`` skips any epoch ≤ the marker — an
  at-least-once replay of an epoch the base already subsumes must be a
  no-op, not a fresh partition that double-counts next to the base.
- A scratch dir with no manifest is pre-commit debris; only
  :meth:`compact` itself clears it (the append/fold paths leave it
  alone — an in-flight compact's scratch must survive concurrent
  triggers).

Run-restart guard: epoch ids are only meaningful WITHIN one checkpoint
lineage. A stream restarted against this path with a fresh (or rolled
back) checkpoint restarts ids at 0 — re-delivered batches would be
silently skipped below the fold watermark (undercount) and would
overwrite old partitions with differently-bounded batches above it
(mixed partials). ``__call__`` therefore persists the append frontier
(``_max_appended`` marker) and FAILS FAST when an epoch id regresses
below it; the sanctioned reset for a genuinely new run starting at the
source frontier is :meth:`reset_for_new_run`.

Single-compactor assumption: at most one ``compact()`` runs at a time
(foreachBatch is serial per query; run compaction inside the trigger or
from one maintenance job). Appends may interleave freely — an epoch the
stream writes after the snapshot is neither folded nor deleted and
simply survives into the next compaction.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class EpochPartitionedAppender:
    """Generic foreachBatch handler: ``partials_fn(batch_df)`` reduces
    the batch to its mergeable partials, which land idempotently in
    ``<path>/epoch=<epoch_id>/``. ``fold(spark)`` returns the merged
    view via ``fold_keys`` → summation (or ``agg_exprs`` for sketches
    with their own merge operator, e.g. HLL union)."""

    def __init__(self, path: str, partials_fn, fold_keys: list[str],
                 value_cols: list[str],
                 agg_exprs: list | None = None,
                 auto_compact_epochs: int | None = None) -> None:
        self.path = path
        self.partials_fn = partials_fn
        self.fold_keys = fold_keys
        self.value_cols = value_cols
        self.agg_exprs = agg_exprs
        # self-compaction trigger (the layout.py file-count discipline
        # applied to epoch partitions): when set, an append that leaves
        # more than this many REAL epoch partitions runs compact()
        # inline — foreachBatch is serial per query, so the
        # single-compactor assumption holds by construction. Partition
        # count (and fold cost) is then bounded at ~auto_compact_epochs
        # forever instead of growing one dir per trigger.
        self.auto_compact_epochs = auto_compact_epochs

    # -- layout helpers ----------------------------------------------------

    def _manifest(self) -> str:
        return os.path.join(self.path, "_compact_manifest")

    def _scratch(self) -> str:
        # leading dot: invisible to Spark partition discovery, so a
        # half-built base can never enter a fold
        return os.path.join(self.path, ".compact_new")

    def _epochs(self) -> list[str]:
        if not os.path.isdir(self.path):
            return []
        return sorted(d for d in os.listdir(self.path)
                      if d.startswith("epoch="))

    def _base_gen(self) -> int:
        """Current base generation (0 if no base yet)."""
        gens = [-int(d.split("=")[1]) for d in self._epochs()
                if int(d.split("=")[1]) < 0]
        return max(gens, default=0)

    def _max_folded_epoch(self) -> int:
        """Highest real epoch subsumed by any base partition (−1 if
        none): replays at or below it are no-ops."""
        best = -1
        for d in self._epochs():
            marker = os.path.join(self.path, d, "_max_epoch")
            if os.path.isfile(marker):
                best = max(best, int(open(marker).read()))
        return best

    # -- crash recovery ----------------------------------------------------

    def _recover(self) -> None:
        """Finish an interrupted compaction. The manifest (atomically
        renamed into place AFTER the scratch base is complete) names the
        install target and the superseded snapshot; the target is never
        in the snapshot, so re-running the sequence — install if not yet
        installed, delete the snapshot, drop the manifest — is
        idempotent across any number of crashes mid-recovery. No
        manifest → nothing committed → nothing to do (a stale scratch
        is left for :meth:`compact` to clear; the append path must not
        touch an in-flight compact's scratch)."""
        if not os.path.isfile(self._manifest()):
            return
        meta = json.load(open(self._manifest()))
        target = os.path.join(self.path, meta["target"])
        if not os.path.isdir(target) and os.path.isdir(self._scratch()):
            os.rename(self._scratch(), target)
        for d in meta["snapshot"]:
            shutil.rmtree(os.path.join(self.path, d), ignore_errors=True)
        os.remove(self._manifest())

    # -- the foreachBatch handler -------------------------------------------

    def _max_appended(self) -> int:
        """Highest real epoch ever appended (−1 if none): the replay
        frontier. Spark re-delivers at most the LAST unfinished batch,
        so a legitimate same-run replay always has
        ``epoch_id >= _max_appended()``."""
        marker = os.path.join(self.path, "_max_appended")
        if os.path.isfile(marker):
            return int(open(marker).read())
        return -1

    def _stamp_appended(self, epoch_id: int) -> None:
        marker = os.path.join(self.path, "_max_appended")
        tmp = marker + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(str(max(epoch_id, self._max_appended())))
        os.rename(tmp, marker)

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        self._recover()
        appended = self._max_appended()
        if (epoch_id == appended
                and os.path.isfile(os.path.join(
                    self.path, f"epoch={epoch_id}", "_SUCCESS"))):
            # Fully-committed epoch replay (foreachBatch's at-least-once
            # re-delivery of the LAST batch after a crash between the
            # partials commit and the checkpoint commit): the frontier
            # stamp is written strictly AFTER the partition's parquet
            # commit, so stamp == epoch_id plus the partition's _SUCCESS
            # proves the partition on disk already IS this epoch's
            # partials — the rewrite the overwrite-idempotence protocol
            # would perform is a byte-identical no-op. Short-circuit on
            # two file reads with ZERO Spark jobs instead of paying the
            # isEmpty action + an idempotent rewrite job (the dedup
            # maintainer's marker-first move, r13; measured 0.6 s/epoch
            # at sf0.1). Crash BEFORE the stamp (appended < epoch_id)
            # still falls through and rewrites, exactly as before.
            return
        if batch_df.isEmpty():
            return
        if epoch_id < appended:
            # EPOCH REGRESSION (ADVICE r8): a checkpointed stream only
            # ever re-delivers its last unfinished batch, so an id
            # BELOW the append frontier means the stream was restarted
            # against this path with a fresh/rolled-back checkpoint.
            # Silently skipping (the old `<= max_folded` behavior)
            # undercounts until the new ids pass the watermark, and
            # overwriting mixes two runs' batch boundaries — both
            # corruptions. Fail fast with the two sound recoveries.
            raise RuntimeError(
                f"epoch regression at {self.path}: got epoch_id="
                f"{epoch_id} below the append frontier {appended}. "
                "The stream was restarted with a fresh or rolled-back "
                "checkpoint against an existing partials table. Either "
                "resume from the original checkpoint, or — if the new "
                "stream starts at the source frontier (no re-delivery "
                "of already-folded data) — call reset_for_new_run() "
                "first to fold history into the base and re-open the "
                "epoch sequence.")
        if epoch_id <= self._max_folded_epoch():
            # replay of an epoch a compaction already folded into the
            # base: rewriting its partition would double-count next to
            # the base rows that subsume it. (Reachable only at the
            # epoch == frontier == folded edge, given the guard above.)
            return
        part = self.partials_fn(batch_df)
        # idempotent: the replayed epoch overwrites its own partition
        part.write.mode("overwrite").parquet(
            os.path.join(self.path, f"epoch={epoch_id}"))
        self._stamp_appended(epoch_id)
        if self.auto_compact_epochs is not None:
            real = sum(1 for d in self._epochs()
                       if int(d.split("=")[1]) >= 0)
            if real > self.auto_compact_epochs:
                self.compact(batch_df.sparkSession)

    def reset_for_new_run(self, spark) -> None:
        """Re-open the epoch sequence for a NEW stream (fresh checkpoint,
        ids restarting at 0) over this partials table: fold everything
        into a generation base, then clear the epoch watermark and the
        append frontier so epochs 0, 1, … append as new data next to the
        subsumed history. Caller contract: the new stream must start at
        the SOURCE frontier — if it re-reads data the base already
        folded, those rows double-count (the same contract as pointing
        any fresh stream at a pre-loaded table)."""
        self._recover()
        if len(self._epochs()) > 1:
            self.compact(spark)
        # a lone real epoch (compact() no-ops on a single partition)
        # would be OVERWRITTEN by the new run's same-numbered epoch —
        # rebase it by rename; fold() re-aggregates at read time, so a
        # base holding raw partials is sound.
        for d in self._epochs():
            if int(d.split("=")[1]) >= 0:
                os.rename(os.path.join(self.path, d),
                          os.path.join(self.path,
                                       f"epoch=-{self._base_gen() + 1}"))
        for d in self._epochs():
            marker = os.path.join(self.path, d, "_max_epoch")
            if os.path.isfile(marker):
                os.remove(marker)
        marker = os.path.join(self.path, "_max_appended")
        if os.path.isfile(marker):
            os.remove(marker)

    # -- serve / maintenance --------------------------------------------------

    def _fold_exprs(self) -> list:
        if self.agg_exprs is not None:
            return self.agg_exprs
        return [F.sum(c).alias(c) for c in self.value_cols]

    def fold(self, spark) -> DataFrame:
        self._recover()
        df = spark.read.parquet(self.path)
        return df.groupBy(*self.fold_keys).agg(*self._fold_exprs())

    def compact(self, spark) -> None:
        """Fold the current partitions (prior base + real epochs) into
        the next-generation base and drop exactly them, bounding
        partition count as epochs accumulate. See the module docstring
        for the crash/replay analysis; in short: snapshot first, fold
        only the snapshot into scratch, stamp the scratch with the max
        folded real epoch, commit via an atomically-renamed manifest
        whose delete list never contains the install target, then let
        :meth:`_recover` (re-runnable) finish."""
        self._recover()
        shutil.rmtree(self._scratch(), ignore_errors=True)  # pre-commit debris
        snapshot = self._epochs()
        if len(snapshot) <= 1:
            return
        real = [int(d.split("=")[1]) for d in snapshot
                if int(d.split("=")[1]) >= 0]
        max_real = max(real, default=self._max_folded_epoch())
        target = f"epoch=-{self._base_gen() + 1}"
        only = [os.path.join(self.path, d) for d in snapshot]
        folded = (spark.read.parquet(*only)
                  .groupBy(*self.fold_keys).agg(*self._fold_exprs()))
        folded.write.mode("overwrite").parquet(self._scratch())
        # carry the replay watermark inside the new base (underscore
        # file: parquet readers skip it)
        prior_max = self._max_folded_epoch()
        with open(os.path.join(self._scratch(), "_max_epoch"), "w") as fh:
            fh.write(str(max(max_real, prior_max)))
        tmp = self._manifest() + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"target": target, "snapshot": snapshot}, fh)
        os.rename(tmp, self._manifest())  # the commit point, atomic
        self._recover()


def cms_stream_maintainer(path: str, key_col: str, width: int = 1024,
                          depth: int = 4) -> EpochPartitionedAppender:
    """CMS cells kept fresh by a stream: per-trigger cost is one narrow
    batch pass emitting ≤ depth·width cells; serving folds
    ≤ depth·width·epochs rows. Pair with ``heavyhitters.cms_estimate``
    on ``fold()``'s output."""
    from ..operators.heavyhitters import cms_sketch

    return EpochPartitionedAppender(
        path, lambda b: cms_sketch(b, key_col, width, depth),
        ["d", "bucket"], ["c"], auto_compact_epochs=64)


def hll_stream_maintainer(path: str) -> EpochPartitionedAppender:
    """HLL day-cells kept fresh by a stream: each trigger writes its
    batch's per-day sketches (``cardinality.daily_sketch_table`` shape);
    the fold UNIONS same-day cells — sketch bytes merge by
    ``hll_union_agg``, not summation — so ``fold()`` is exactly the
    at-rest daily sketch table, and any coarser grain unions from there
    (``hll_union_agg`` again). Per-epoch state is O(days touched by the
    batch)."""
    from ..operators.cardinality import daily_sketch_table

    return EpochPartitionedAppender(
        path, lambda b: daily_sketch_table(b),
        ["day"], ["n_events", "sketch"],
        agg_exprs=[F.sum("n_events").alias("n_events"),
                   F.expr("hll_union_agg(sketch, true)").alias("sketch")],
        auto_compact_epochs=64)


def histogram_stream_maintainer(path: str, value_col: str, lo: float,
                                hi: float,
                                n_bins: int) -> EpochPartitionedAppender:
    """Histogram-sketch cells (the mergeable-quantile summary,
    ``operators/quantiles.py``) kept fresh by a stream: each trigger
    appends its batch's ≤ n_bins + 2 bucket counts; ``fold()`` is the
    merged cell table ``histogram_quantiles`` estimates from. Per-epoch
    state is O(n_bins) — coordinator-scale forever, like CMS — so
    compaction is a nicety here, not a necessity."""
    from ..operators.quantiles import histogram_sketch

    return EpochPartitionedAppender(
        path, lambda b: histogram_sketch(b, value_col, lo, hi, n_bins),
        ["bucket"], ["n_rows"], auto_compact_epochs=64)


def expectations_stream_maintainer(path: str,
                                   expectations) -> EpochPartitionedAppender:
    """Data-contract counters kept fresh by a stream: each trigger
    appends its batch's per-expectation (violations, rows) counts —
    ``operators/quality_audit.expectation_suite`` run per micro-batch —
    and ``fold()`` sums them into the whole-stream contract report.
    Conditional counts are pure aggregates (SUM-mergeable, order-free),
    so the epoch-partition-overwrite replay protocol applies unchanged:
    the governance dashboard never double-counts an at-least-once
    redelivery. Per-epoch state is O(|expectations|)."""
    from ..operators.quality_audit import expectation_suite

    def partials(b: DataFrame) -> DataFrame:
        return expectation_suite(b, expectations).select(
            "expectation", "n_violations", "n_rows")

    return EpochPartitionedAppender(
        path, partials, ["expectation"], ["n_violations", "n_rows"],
        auto_compact_epochs=64)


class SeasonalProfileMaintainer:
    """Hour-of-day seasonal profile kept fresh by a stream — the
    monitoring-model twin of ``operators.timeseries.seasonal_profile``.
    The subtlety is GAP-FILL: the batch profile averages over every
    hourly bucket in each key's [first, last] span (a dead 3am must
    count as a zero bucket), but a stream never sees the gaps. The
    trick is that the gap-filled denominator is ARITHMETIC: maintain
    two mergeable summaries — per-(key, hour) event counts (SUM-merge)
    and per-key span bounds (MIN/MAX-merge) — and reconstruct each hour
    slot's bucket count at serve time from the span alone:

        H       = span hours = (hi - lo)/3600 + 1
        base, r = H div 24, H mod 24
        n_buckets(h) = base + [ (h - hour(lo)) mod 24 < r ]

    Both summaries land in epoch partitions (overwrite-idempotent under
    at-least-once replay, the module's standard protocol); ``serve``
    folds them, generates the full key × 24-slot grid from the bounds
    (a slot with zero events in the whole span must still emit), and
    computes mean + seasonal index with the same integer-exact
    expressions as the batch operator — so the streaming profile shares
    the batch query's oracle verbatim."""

    def __init__(self, path: str, key_col: str = "event_type") -> None:
        self.key_col = key_col
        bucket = F.date_trunc("hour", F.col("ts"))

        def count_partials(b: DataFrame) -> DataFrame:
            return (b.groupBy(F.col(key_col).alias("key"),
                              F.hour("ts").alias("hod"))
                    .agg(F.count("*").cast("long").alias("s")))

        def bound_partials(b: DataFrame) -> DataFrame:
            return (b.groupBy(F.col(key_col).alias("key"))
                    .agg(F.min(bucket).alias("lo"),
                         F.max(bucket).alias("hi")))

        self.counts = EpochPartitionedAppender(
            os.path.join(path, "counts"), count_partials,
            ["key", "hod"], ["s"], auto_compact_epochs=64)
        self.bounds = EpochPartitionedAppender(
            os.path.join(path, "bounds"), bound_partials,
            ["key"], ["lo", "hi"],
            agg_exprs=[F.min("lo").alias("lo"), F.max("hi").alias("hi")],
            auto_compact_epochs=64)

    def __call__(self, batch: DataFrame, epoch_id: int) -> None:
        # The two summaries are INDEPENDENT epoch writes over a tiny
        # micro-batch whose cost is Spark's job-launch floor, not data:
        # submit them concurrently so the scheduler overlaps the jobs
        # (guide §2.6 — actions are only sequential because driver code
        # calls them sequentially; the dedup maintainer's pool move,
        # r13). Crash-safety is unchanged: each appender is separately
        # overwrite-idempotent per epoch, and a crash mid-pool replays
        # the epoch with each appender independently short-circuiting
        # (committed) or rewriting (uncommitted) — the same windows the
        # sequential calls had.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            futs = [pool.submit(self.counts, batch, epoch_id),
                    pool.submit(self.bounds, batch, epoch_id)]
            for f in futs:
                f.result()

    def serve(self, spark) -> DataFrame:
        b = self.bounds.fold(spark)
        c = self.counts.fold(spark)
        hours = (F.unix_timestamp("hi") - F.unix_timestamp("lo")) \
            / F.lit(3600) + F.lit(1)
        grid = (b.select("key", "lo",
                         hours.cast("long").alias("_H"),
                         F.explode(F.sequence(F.lit(0), F.lit(23)))
                         .alias("hod")))
        base = (F.col("_H") / 24).cast("long")
        rem = F.col("_H") % 24
        offset = F.pmod(F.col("hod") - F.hour("lo"), F.lit(24))
        n_buckets = (base + F.when(offset < rem, 1).otherwise(0)) \
            .cast("long")
        # A key whose span is under 24 hours has hour slots with ZERO
        # buckets: the batch grid never emits them (its spine only
        # covers the span), and an unfiltered 0/0 mean is an ANSI
        # divide error — so drop them BEFORE the division, keeping the
        # serve output identical to the batch oracle for short spans.
        j = (grid.join(c, ["key", "hod"], "left")
             .filter(n_buckets > 0)
             .select("key", "hod", n_buckets.alias("n_buckets"),
                     F.coalesce("s", F.lit(0)).cast("long").alias("_s")))
        from pyspark.sql import Window
        wk = Window.partitionBy("key")
        tot_s = F.sum("_s").over(wk).cast("double")
        tot_n = F.sum("n_buckets").over(wk).cast("double")
        mean = F.col("_s").cast("double") / F.col("n_buckets").cast("double")
        return (j.select(F.col("key").alias(self.key_col),
                         F.col("hod").alias("hour_of_day"), "n_buckets",
                         mean.alias("mean_events"),
                         F.when(tot_s > 0, mean / (tot_s / tot_n))
                         .alias("seasonal_index")))


def moments_stream_maintainer(path: str) -> EpochPartitionedAppender:
    """Per-group exact power sums (n, Σm..Σm⁴ — ``profile.moment_sums``)
    kept fresh by a stream: integer sums are the textbook mergeable
    partial, so the epoch-partition-overwrite replay protocol applies
    unchanged and ``fold()`` groupBy-sums to EXACTLY the one-pass sums —
    ``profile.moment_stats`` over the fold equals the batch
    ``grouped_moments`` bit-for-bit (shared oracle certifies it).
    Per-epoch state is O(batch groups); compact periodically like the
    count table."""
    from ..operators.profile import moment_sums

    return EpochPartitionedAppender(
        path, lambda b: moment_sums(b),
        ["event_type"], ["n", "s1", "s2", "s3", "s4"],
        auto_compact_epochs=64)
