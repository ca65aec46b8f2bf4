"""At-least-once replay utilities for foreachBatch maintainers.

Spark's foreachBatch contract is at-least-once: after a crash, the
last uncommitted epoch is re-delivered with the SAME epoch id. Every
maintainer in this package (``sketch_maintenance``, ``scd_maintenance``,
``dedup_maintenance``) is idempotent against that contract via epoch
markers — but an OPERATOR simulating or driving a replay (tests, the
registry demos, a manual backfill after a poison-pill batch) must know
which epoch id a given source file was actually consumed under. The
file source orders files by modification time with ARBITRARY tie-breaks,
so "batchK.parquet was epoch K" is an assumption, not a fact — replaying
under an assumed id appends a NEW epoch and double-counts (the r9
driver-flake mechanism, VERDICT r9).

:class:`EpochRecorder` wraps any foreachBatch callable and records the
observed ``source file -> epoch id`` mapping; :func:`await_stream`
awaits an availableNow query and fails loudly on timeout instead of
letting the caller fold partial state (ADVICE r9: ``awaitTermination``
returns False on timeout and the query keeps running).
:func:`swap_generation` and :func:`recover_generation` are the
whole-table generation swap that the non-idempotent maintainers
(dedup labels, the SCD1 snapshot) commit an epoch with.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def await_stream(q) -> None:
    """Await an availableNow stream and FAIL LOUDLY after 900 s.

    ``awaitTermination(timeout)`` returns False when the clock runs out
    with the query still running; ignoring that return lets the caller
    read PARTIAL maintainer state — a nondeterministic wrong answer.
    An exception is retryable; a silent half-fold is not."""
    if not q.awaitTermination(900):
        try:
            q.stop()
        finally:
            raise RuntimeError(
                f"stream {q.name or q.id} did not terminate within "
                "900s — refusing to read partial state")


def swap_generation(path: str, tmp: str, epoch_id: int) -> None:
    """Commit the generation written beside ``path`` at ``tmp``: two
    renames (``path`` -> ``path.old{epoch_id}``, ``tmp`` -> ``path``),
    then drop the superseded generation. A crash between the renames
    strands the table in ``.old{epoch_id}``; :func:`recover_generation`
    restores it."""
    old = f"{path}.old{epoch_id}"
    if os.path.isdir(path):
        os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)


def recover_generation(path: str, scratch: str) -> None:
    """Undo a crash inside :func:`swap_generation`. With ``path``
    absent, the newest stranded ``.old*`` generation renames back —
    without that the next trigger rebuilds from scratch and silently
    drops every applied epoch. Then uncommitted ``path{scratch}*``
    generations and superseded ``.old*`` ones are removed."""
    if not os.path.isdir(path):
        stranded = sorted(glob.glob(f"{path}.old*"),
                          key=lambda p: int(p.rsplit(".old", 1)[1]))
        if stranded:
            os.rename(stranded[-1], path)
    for stale in glob.glob(f"{path}{scratch}*") + glob.glob(f"{path}.old*"):
        shutil.rmtree(stale, ignore_errors=True)


class EpochRecorder:
    """foreachBatch wrapper that records which SOURCE FILE each epoch
    actually consumed, so a replay can re-deliver a batch under the
    epoch id the stream REALLY assigned it (never one assumed from
    filename or listing order).

    Identity comes from ``input_file_name()`` — a micro-batch's
    ``inputFiles()`` is empty (its plan is not a FileRelation), but the
    scan-time filename expression survives any projection stacked on
    the source. The per-batch distinct is a small collect: one row per
    file in the trigger (``maxFilesPerTrigger`` files), not per record.
    foreachBatch handlers run on the driver, so plain attributes are
    visible after the stream drains."""

    def __init__(self, inner):
        self.inner = inner
        self.file_epochs: dict[str, int] = {}

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        names = [r[0] for r in
                 batch_df.select(F.input_file_name()).distinct().collect()]
        for f in names:
            if f:
                self.file_epochs[os.path.basename(f)] = int(epoch_id)
        self.inner(batch_df, epoch_id)

    def epoch_of(self, basename: str, n_expected: int) -> int:
        """The epoch the stream assigned ``basename`` — asserting first
        that exactly ``n_expected`` source files were consumed (a short
        count means a trigger never fired and any fold would be
        partial)."""
        if len(self.file_epochs) != n_expected:
            raise RuntimeError(
                f"stream consumed {sorted(self.file_epochs)} — expected "
                f"{n_expected} source files; refusing to replay against "
                f"partial state")
        if basename not in self.file_epochs:
            raise RuntimeError(
                f"{basename} never consumed; saw {sorted(self.file_epochs)}")
        return self.file_epochs[basename]

    def replay(self, spark, split_dir: str, basename: str,
               n_expected: int, schema=None) -> int:
        """Re-deliver the FULL epoch that consumed ``basename`` — every
        file the stream actually assigned to that epoch, unioned, under
        the recorded epoch id — exactly what foreachBatch's
        at-least-once contract re-delivers after a crash.

        Replaying ``basename`` ALONE under its epoch id is only
        equivalent when the trigger consumed exactly that one file; if
        the source ever groups files differently (rate-limit config,
        listing races), a single-file replay OVERWRITES the epoch
        partition with a subset of its original content and silently
        undercounts (the r9/r10 ``stream_expectations_maintenance``
        driver-red mechanism). Replaying the recorded file SET is
        overwrite-idempotent no matter how the stream batched.

        Pass the stream's declared ``schema`` (the one given to
        ``readStream.schema(...)``) so the re-delivered batch has the
        SAME column order/types the maintainer originally saw — a bare
        footer-inferred read could hand it a differently-shaped frame
        (extra columns, different order) than the declared-schema
        stream did."""
        e = self.epoch_of(basename, n_expected)
        files = sorted(b for b, ep in self.file_epochs.items() if ep == e)
        reader = spark.read
        if schema is not None:
            reader = reader.schema(schema)
        df = reader.parquet(*[os.path.join(split_dir, f) for f in files])
        self.inner(df, e)
        return e
