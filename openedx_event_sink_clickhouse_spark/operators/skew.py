"""Skew-mitigation operators: salting for hot keys.

AQE's skew-join splitting (on in ``session.py``) handles most runtime
skew; :func:`salted_aggregate` is the explicit tool for the case AQE
can't fix: a hot grouping key overloads one reduce task. Two-phase
aggregation (groupBy(key, salt) → groupBy(key)) caps any single task's
share of a hot key at 1/``buckets``. Only valid for algebraic aggregates
(sum/count/min/max — re-aggregable partials).

Salts are derived from stable row content (xxhash64), never ``rand()``:
deterministic plans re-execute identically under task retry —
nondeterministic salts can duplicate or drop rows when a stage is
recomputed (the same reason the reference versions dumps by dump_id
rather than relying on exactly-once delivery).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

AGG_FNS = {"sum": (F.sum, F.sum), "count": (F.count, F.sum),
           "min": (F.min, F.min), "max": (F.max, F.max)}


def salted_aggregate(df: DataFrame, key: str | list[str],
                     aggs: dict[str, tuple[str, str]],
                     buckets: int = 16,
                     salt_from: str | None = None) -> DataFrame:
    """Two-phase skew-safe aggregate.

    ``aggs`` maps output column → (fn, input column), fn one of
    sum/count/min/max. ``salt_from`` names a column whose hash spreads the
    rows (defaults to the first agg input — any high-cardinality column
    works; the salt only needs to split hot keys, not be uniform).
    """
    keys = [key] if isinstance(key, str) else list(key)
    unknown = {fn for fn, _ in aggs.values()} - set(AGG_FNS)
    if unknown:
        raise ValueError(f"non-algebraic aggregate(s) {unknown}; "
                         f"salting supports {sorted(AGG_FNS)}")
    salt_src = salt_from or next(iter(aggs.values()))[1]
    salt = F.pmod(F.xxhash64(salt_src), F.lit(buckets)).alias("_salt")

    partial = (df.withColumn("_salt", salt)
               .groupBy(*keys, "_salt")
               .agg(*[AGG_FNS[fn][0](col).alias(out)
                      for out, (fn, col) in aggs.items()]))
    return (partial.groupBy(*keys)
            .agg(*[AGG_FNS[fn][1](out).alias(out)
                   for out, (fn, _) in aggs.items()]))
