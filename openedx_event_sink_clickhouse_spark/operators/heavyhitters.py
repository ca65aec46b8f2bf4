"""Exact heavy hitters by two-pass candidate pruning.

The classic scale problem: find every key whose frequency exceeds n/k in
one pass over 100 TB without shuffling the full per-key count table. A
plain ``groupBy(key).count()`` is correct but shuffles one partial count
per (mapper, distinct key) — for a high-cardinality key (URLs, user ids,
n-grams) that shuffle IS the job. The streaming literature's answer
(Misra–Gries '82 / "frequent" sketches, space-saving) bounds candidate
state at k per stream, at the cost of approximate counts.

This operator composes the two into an EXACT distributed algorithm:

1. **Candidate pass** (narrow, Arrow-batched): within each Arrow batch,
   count locally and emit only keys whose batch frequency exceeds
   ``batch_len/k``. Pigeonhole guarantee: if a key's GLOBAL frequency
   exceeds n/k, some batch must hold it above its local threshold
   (otherwise summing the per-batch bounds caps the global count at
   n/k) — so the candidate union is a SUPERSET of the true heavy
   hitters. At most k-1 keys qualify per batch, so candidate volume is
   O(k · batches) regardless of key cardinality or skew.
2. **Recount pass**: broadcast the deduplicated candidates back as a
   semi-join filter and count EXACTLY, then keep ``count > n/k``.

The output is therefore exact and deterministic — identical for every
partitioning of the input, which is what lets a DuckDB twin
(``GROUP BY … HAVING count(*) > n/k``) hash-check it — while the only
shuffle carries candidate keys. Reference point for the semantics:
ClickHouse's ``topK``/``approx_top_k`` family answers the same question
approximately; this trades a second (filtered, cheap) scan for
exactness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashes import md5_hash32
from .dedup import ensure_min_parallelism


def heavy_hitters(df: DataFrame, key_col: str, k: int = 100,
                  total: int | None = None) -> DataFrame:
    """All keys with frequency strictly greater than n/k, with exact
    counts and 6-dp frequency shares. Returns
    (``key_col``, exact_count, freq_share).

    ``total`` short-circuits the row-count job when the caller already
    knows n (e.g. from table stats); otherwise one metadata-cheap
    ``count()`` runs first — the threshold must be GLOBAL n/k, not a
    per-batch quantity, for the output to be partitioning-independent.

    NULL keys are excluded up front (a NULL never joins back in the
    recount, and "most frequent key is missing" is a data-quality
    question — see quality_audit — not a ranking one).
    """
    import pandas as pd

    data = df.select(key_col).filter(F.col(key_col).isNotNull())
    n = total if total is not None else data.count()
    if n == 0:
        return (data.groupBy(key_col)
                .agg(F.count("*").alias("exact_count"))
                .select(key_col, "exact_count",
                        F.lit(0.0).alias("freq_share")))
    thr = n / float(k)

    out_schema = data.schema

    def candidates(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            counts = pdf[key_col].value_counts()
            local = counts[counts > len(pdf) / float(k)]
            if len(local):
                yield pd.DataFrame({key_col: local.index})

    cand = (ensure_min_parallelism(data)
            .mapInPandas(candidates, out_schema)
            .distinct())
    # Candidates are ≤ k-1 per Arrow batch by construction — small
    # enough to broadcast even on a 1000-executor scan of the raw data.
    exact = (data.join(F.broadcast(cand), key_col)
             .groupBy(key_col)
             .agg(F.count("*").alias("exact_count")))
    return (exact.filter(F.col("exact_count") > F.lit(thr))
            .select(key_col, "exact_count",
                    (F.col("exact_count") / F.lit(float(n)))
                    .alias("freq_share")))


def write_count_table(df: DataFrame, key_col: str, table: str,
                      buckets: int = 32, mode: str = "overwrite",
                      max_files_per_bucket: int | None = 8) -> None:
    """Materialize per-key counts at rest, BUCKETED on the key — the
    heavy-hitter family's at-rest form: counts are MERGEABLE partials
    (rows of (key, n_rows) fold by summation), so a daily ingest appends
    its batch's partial counts via :func:`append_counts_batch` and the
    raw stream is never re-scanned to answer "what's hot". Bucketing
    makes the serve-time fold (groupBy key) exchange-free, and a
    post-append compaction trigger
    (``sources/layout.compact_bucketed_table``) keeps file counts
    bounded as batches accumulate."""
    from .dedup import _clear_orphaned_location

    spark = df.sparkSession
    counts = (df.filter(F.col(key_col).isNotNull())
              .groupBy(key_col).agg(F.count("*").alias("n_rows")))
    _clear_orphaned_location(spark, table, mode)
    (counts.write.mode(mode)
     .bucketBy(buckets, key_col).sortBy(key_col)
     .saveAsTable(table))
    if mode == "append" and max_files_per_bucket is not None:
        from ..sources.layout import compact_bucketed_table
        compact_bucketed_table(spark, table, key_col, buckets,
                               max_files_per_bucket)


def append_counts_batch(batch: DataFrame, key_col: str, table: str,
                        buckets: int = 32,
                        max_files_per_bucket: int | None = 8) -> None:
    """Fold an arriving batch into the count table: the batch reduces to
    ITS OWN partial counts (one batch-sized groupBy — the only work) and
    appends; no read-modify-write of the history, no corpus re-scan.
    Readers sum partials per key, so append order never matters."""
    write_count_table(batch, key_col, table, buckets, mode="append",
                      max_files_per_bucket=max_files_per_bucket)


def heavy_hitters_from_counts(spark, table: str, key_col: str,
                              k: int | None = None) -> DataFrame:
    """Heavy hitters served from the at-rest count table: fold the
    mergeable partials (bucketed groupBy — NO exchange), derive n (and
    k = distinct keys, when not given) from the folded frame, and cut at
    n/k. Same output contract as :func:`heavy_hitters` on the raw
    stream — exact counts, partitioning-independent — but the serve
    cost is O(distinct keys), independent of how many events ever
    streamed through. Keys whose folded total is ≤ 0 (fully retracted
    via :func:`retract_keys`) are excluded from the report AND from the
    derived n and k, so a retired key is invisible exactly as if its
    events never streamed."""
    folded = (spark.table(table)
              .groupBy(key_col).agg(F.sum("n_rows").alias("exact_count"))
              .filter(F.col("exact_count") > 0))
    tot = folded.agg(F.sum("exact_count").alias("_n"),
                     F.count("*").alias("_k"))
    kcol = F.lit(float(k)) if k is not None else F.col("_k").cast("double")
    return (folded.crossJoin(F.broadcast(tot))
            .filter(F.col("exact_count") > F.col("_n") / kcol)
            .select(key_col, "exact_count",
                    (F.col("exact_count").cast("double")
                     / F.col("_n")).alias("freq_share")))


def retract_keys(spark, table: str, keys: DataFrame, key_col: str,
                 buckets: int = 32) -> None:
    """Propagate a deletion (user retirement, retention expiry) into the
    at-rest count table WITHOUT re-scanning the raw stream: for each
    retired key, append one NEGATIVE partial that exactly cancels its
    folded total — the mergeable-partials contract already sums rows per
    key, so a retraction is just another row. Reading the current totals
    is a bucketed scan + broadcast semi-join on the (human-scale)
    retired set; the stream that produced the counts is never touched —
    the count-table analog of D1's set-oriented retire (the reference's
    per-user DELETE round-trips, re-expressed against a derived table).

    Serving then naturally drops fully-retracted keys: their folded
    total is 0, which both the positive-count guard and the n/k
    threshold exclude, and they contribute nothing to n. Re-appending
    a retired key later is well-defined (new positive partials sum from
    zero). Idempotence caveat, deliberate: retracting the same key
    TWICE double-cancels — run retractions from an idempotent driver
    (the same contract as the reference's retirement queue)."""
    retired = (spark.table(table)
               .join(F.broadcast(keys.select(key_col).distinct()), key_col)
               .groupBy(key_col)
               .agg((-F.sum("n_rows")).alias("n_rows")))
    (retired.write.mode("append")
     .bucketBy(buckets, key_col).sortBy(key_col)
     .saveAsTable(table))
    from ..sources.layout import compact_bucketed_table
    compact_bucketed_table(spark, table, key_col, buckets)


def cms_sketch(df: DataFrame, key_col: str, width: int = 1024,
               depth: int = 4) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan '05) as a DataFrame:
    ``depth`` md5-derived hash rows × ``width`` buckets, returned as a
    (d, bucket, c) count table — at most depth·width rows TOTAL,
    regardless of key cardinality or stream size. This is the
    fixed-memory sibling of ``write_count_table``'s exact per-key
    counts: where the exact table grows with distinct keys, the sketch
    is a constant-size summary with a one-sided guarantee
    (est ≥ exact; est ≤ exact + εn w.h.p., ε = e/width).

    MERGEABLE by construction: two sketches over disjoint batches sum
    cell-wise — ``sketch(a ∪ b) = groupBy(d, bucket).sum(c)`` over their
    union — so incremental maintenance is "append the batch's sketch,
    fold on read", the count-table protocol with O(depth·width) state.

    Plan: the ×depth fan-out is an ``inline`` of per-row probe structs;
    map-side partial aggregation collapses each task's contribution to
    ≤ depth·width cells before the (tiny) shuffle, so the exchange
    carries sketch-sized data however large the scan. md5 probes keep
    the sketch — and any oracle replica — engine-reproducible
    (functions/hashes.py); swap xxhash64 in production."""
    keys = (df.select(F.col(key_col).cast("string").alias("_k"))
            .filter(F.col("_k").isNotNull()))
    probes = F.array(*[
        F.struct(F.lit(d).alias("d"),
                 F.pmod(md5_hash32(F.col("_k"), seed=d + 1),
                        F.lit(width)).alias("bucket"))
        for d in range(depth)])
    return (keys.select(F.inline(probes))
            .groupBy("d", "bucket").agg(F.count("*").alias("c")))


def cms_estimate(sketch: DataFrame, keys: DataFrame, key_col: str,
                 width: int = 1024, depth: int = 4,
                 carry_cols: tuple[str, ...] = ()) -> DataFrame:
    """Point-query the sketch for each key in ``keys``: est(key) =
    min over the depth rows of the key's bucket cell. Returns
    (``key_col``, *carry_cols, est_count). The sketch (≤ depth·width
    rows) rides as a broadcast, so estimation is a narrow map over the
    key set — no shuffle beyond the final per-key min, which is bounded
    by the queried keys, not the stream.

    ``carry_cols`` ride through the probe fan-out and the min-groupBy so
    a caller annotating an existing per-key frame never JOINS BACK to it
    — DataFrames aren't materialized, so a second reference to the keys
    frame would re-run its whole lineage (for the certified HH query,
    a second two-pass scan of the raw stream)."""
    ks = keys.select(key_col, *carry_cols)
    if not carry_cols:
        ks = ks.distinct()
    probes = ks.select(
        key_col, *carry_cols,
        F.inline(F.array(*[
            F.struct(F.lit(d).alias("d"),
                     F.pmod(md5_hash32(F.col(key_col).cast("string"),
                                       seed=d + 1),
                            F.lit(width)).alias("bucket"))
            for d in range(depth)])))
    return (probes.join(F.broadcast(sketch), ["d", "bucket"], "left")
            .groupBy(key_col, *carry_cols)
            .agg(F.min(F.coalesce(F.col("c"), F.lit(0).cast("long")))
                 .alias("est_count")))


def cms_heavy_hitters(df: DataFrame, key_col: str, k: int = 100,
                      width: int = 1024,
                      total: int | None = None) -> DataFrame:
    """Exact heavy hitters annotated with their count-min estimates:
    (``key_col``, exact_count, est_count, overcount). The exact pass
    certifies the sketch — overcount = est − exact is ≥ 0 by the CMS
    one-sided guarantee and is DETERMINISTIC here (fixed md5 hash
    family), which is what lets an oracle hash-check a sketch at all.
    At 100 TB the roles invert: the sketch (constant memory, mergeable,
    one pass) answers the hot-key question and the exact recount runs
    only over sketch-flagged candidates.

    exact_count rides THROUGH the estimate's probe fan-out
    (``carry_cols``) instead of joining back to a second reference of
    the HH frame — DataFrames re-run their lineage per reference, so the
    join-back shape would scan the raw stream twice more."""
    hh = heavy_hitters(df, key_col, k=k, total=total)
    est = cms_estimate(cms_sketch(df, key_col, width, 4),
                       hh, key_col, width, 4, carry_cols=("exact_count",))
    return est.select(key_col, "exact_count", "est_count",
                      (F.col("est_count") - F.col("exact_count"))
                      .alias("overcount"))


def write_cms_table(df: DataFrame, key_col: str, table: str, width: int = 1024,
                    mode: str = "overwrite") -> None:
    """Materialize the count-min sketch at rest: cells are mergeable
    partials, so ``mode="append"`` writes a batch's OWN sketch and
    readers fold with one groupBy — ``write_count_table``'s protocol
    with O(4·width) state instead of O(distinct keys). No bucketing
    or compaction machinery: the whole table is ≤ 4·width rows per
    appended batch, coordinator-scale by construction."""
    from .dedup import _clear_orphaned_location

    _clear_orphaned_location(df.sparkSession, table, mode)
    (cms_sketch(df, key_col, width, 4)
     .write.mode(mode).saveAsTable(table))


def append_cms_batch(batch: DataFrame, key_col: str, table: str,
                     width: int = 1024) -> None:
    """Fold an arriving batch into the at-rest sketch: one batch-sized
    narrow pass producing ≤ 4·width partial cells, appended. The
    stream is never re-scanned; sketch(a ⊕ b) = cell-wise sum."""
    write_cms_table(batch, key_col, table, width, mode="append")


def cms_from_table(spark, table: str) -> DataFrame:
    """Fold the at-rest sketch partials back to one (d, bucket, c)
    sketch — a groupBy over ≤ depth·width·batches rows."""
    return (spark.table(table)
            .groupBy("d", "bucket").agg(F.sum("c").alias("c")))
