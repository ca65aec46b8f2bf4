"""Bucketed range join — equi-join acceleration for interval predicates.

A plain ``l.ts BETWEEN r.start AND r.end`` join has no equi-key, so Spark
falls back to BroadcastNestedLoopJoin: O(|L|·|R|) comparisons and a
broadcast requirement — unusable at scale. The bucketed form recovers a
hash join:

1. pick a bucket width ≥ the max interval length;
2. each right interval is exploded to every bucket it overlaps
   (≤ 2 buckets when width ≥ interval length);
3. equi-join on (key, bucket), then apply the exact range predicate.

Shuffle size is O(|L| + 2|R|) and Catalyst plans a normal shuffled/broad-
cast hash join; the residual filter runs inside codegen. This is the
standard interval-join decomposition (Flink's interval join and
time-bucketed trajectory joins use the same shape).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SECONDS_PER_BUCKET = 3600


def range_join(left: DataFrame, right: DataFrame, key: str, left_ts: str,
               start_ts: str, end_ts: str,
               bucket_secs: int = SECONDS_PER_BUCKET) -> DataFrame:
    """Join each ``left`` row to every ``right`` interval containing its
    timestamp: ``key`` equality AND ``start_ts <= left_ts <= end_ts``.
    ``bucket_secs`` must be ≥ the longest interval for the ≤2-bucket
    guarantee (longer intervals still work — they just explode to more
    buckets)."""
    lb = F.floor(F.unix_timestamp(F.col(left_ts)) / bucket_secs)
    left_b = left.withColumn("_bucket", lb)

    start_b = F.floor(F.unix_timestamp(F.col(start_ts)) / bucket_secs)
    end_b = F.floor(F.unix_timestamp(F.col(end_ts)) / bucket_secs)
    right_b = (right
               .withColumn("_bucket", F.explode(F.sequence(start_b, end_b))))

    out = (left_b.join(right_b, [key, "_bucket"], "inner")
           .filter((F.col(left_ts) >= F.col(start_ts)) &
                   (F.col(left_ts) <= F.col(end_ts))))
    return out.drop("_bucket")
