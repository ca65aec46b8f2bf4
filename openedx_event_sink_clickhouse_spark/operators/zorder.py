"""Z-order (Morton-curve) clustering for multi-dimensional data skipping.

Sorting a 100 TB table by ONE column makes that column's per-file
min/max footer stats tight and every other column's useless: a filter
on the second dimension still opens every file. Interleaving the bits
of two (or more) bounded key columns into a single Z-value and
range-writing by it gives every participating dimension LOCALITY in the
file layout — each file covers a small hyper-rectangle of the key
space, so per-file/row-group min-max stats skip on ANY of the z-ordered
dimensions (the technique behind Delta/Iceberg `ZORDER BY`; the curve
is Morton's 1966 interleave). The skipping itself needs no new reader
support: parquet predicate pushdown already prunes row groups whose
stats exclude the filter — z-ordering is purely a WRITE-side layout
choice that makes those stats selective.

Everything here is expression-level Column arithmetic (shift/and/or —
whole-stage-codegen'd, no UDF) plus Spark's own distributed range sort,
so the write is one pass: map-side key computation, one range exchange,
per-file sorted runs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zorder_key(cols: list[Column | str], bits: int = 16) -> Column:
    """Morton interleave of ``len(cols)`` non-negative integer columns,
    ``bits`` low bits each, into one BIGINT: output bit ``i·n + c`` is
    input column ``c``'s bit ``i``. Callers bucket raw values into
    ``[0, 2^bits)`` first (quantile or fixed-width bucketing — the
    curve only needs rank locality, not exact values). 2 cols × 16
    bits = 32 output bits; up to 4 cols × 15 bits stay in the positive
    BIGINT range.

    Pure bit arithmetic unrolled at plan-build time (n·bits terms,
    codegen'd into one projection) — no shuffle, no Python."""
    n = len(cols)
    if n < 2:
        raise ValueError("z-order needs >= 2 columns")
    if n * bits > 62:
        raise ValueError(f"{n} cols x {bits} bits overflows BIGINT")
    z = F.lit(0).cast("long")
    for c_idx, c in enumerate(cols):
        col = (F.col(c) if isinstance(c, str) else c).cast("long")
        for i in range(bits):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(col, i).bitwiseAND(F.lit(1)),
                            i * n + c_idx))
    return z


def _normalize(col: Column, lo: int, hi: int, bits: int) -> Column:
    """Min-max scale an integer column into [0, 2^bits). The scale
    factor is computed driver-side in double so epoch-scale values never
    overflow an int64 product; layout quality tolerates the last-bit
    rounding (this feeds a sort key, not a query answer)."""
    span = max(hi - lo + 1, 1)
    c = F.greatest(F.least(col.cast("long"), F.lit(hi)), F.lit(lo))
    scaled = F.floor((c - F.lit(lo)).cast("double") * ((1 << bits) / span))
    return F.least(scaled, F.lit((1 << bits) - 1)).cast("long")


def write_zordered(df: DataFrame, path: str, zcols: list[str],
                   bits: int = 16, num_files: int = 8,
                   bounds: list[tuple[int, int]] | None = None) -> None:
    """Write ``df`` as parquet clustered along the Morton curve of
    ``zcols``: min-max normalize each column into ``[0, 2^bits)``, key
    the rows with :func:`zorder_key`, ``repartitionByRange`` on the key
    (Spark's sampled-boundary distributed sort — the scalable total
    order, no single-partition window), sort within partitions, drop the
    key. Each output file then covers a contiguous z-range = a small
    hyper-rectangle of the key space, so every z-ordered column's
    min/max footer stats are tight.

    ``bounds`` (per-column [lo, hi]) default to a one-row min/max
    aggregate over the input — a write-time action, amortized over every
    future pruned scan. Normalizing keeps wide-range columns (ids, epoch
    times) on the curve instead of wrapping their low bits. Integer
    columns only (the interleave is integer arithmetic)."""
    if bounds is None:
        aggs = []
        for c in zcols:
            aggs += [F.min(F.col(c).cast("long")).alias(f"_lo_{c}"),
                     F.max(F.col(c).cast("long")).alias(f"_hi_{c}")]
        row = df.agg(*aggs).collect()[0]
        bounds = [(row[f"_lo_{c}"], row[f"_hi_{c}"]) for c in zcols]
    norm = [_normalize(F.col(c), lo, hi, bits)
            for c, (lo, hi) in zip(zcols, bounds)]
    (df.withColumn("_z", zorder_key(norm, bits))
     .repartitionByRange(num_files, "_z")
     .sortWithinPartitions("_z")
     .drop("_z")
     .write.mode("overwrite").parquet(path))
