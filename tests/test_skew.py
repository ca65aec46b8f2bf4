"""Salting operators: results must equal the unsalted equivalents, and
the salted plans must actually spread keys (two aggregate phases; a
salted exchange key)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from openedx_event_sink_clickhouse_spark.operators.skew import (
    salted_aggregate,
)


@pytest.fixture(scope="module")
def lineitem(spark, sf_dir):
    from openedx_event_sink_clickhouse_spark.sources.tables import load_table
    return load_table(spark, "lineitem", sf_dir)


def test_salted_aggregate_matches_plain_groupby(lineitem):
    salted = salted_aggregate(
        lineitem, "l_returnflag",
        {"sum_qty": ("sum", "l_quantity"), "n_rows": ("count", "l_orderkey")},
        buckets=16, salt_from="l_orderkey")
    plain = (lineitem.groupBy("l_returnflag")
             .agg(F.sum("l_quantity").alias("sum_qty"),
                  F.count("l_orderkey").alias("n_rows")))
    assert sorted(map(tuple, salted.collect())) == \
           sorted(map(tuple, plain.collect()))


def test_salted_aggregate_has_two_phases(lineitem):
    salted = salted_aggregate(
        lineitem, "l_returnflag", {"sum_qty": ("sum", "l_quantity")},
        buckets=8, salt_from="l_orderkey")
    plan = salted._jdf.queryExecution().executedPlan().toString()
    # phase 1 groups by (key, _salt), phase 2 by key alone
    assert "_salt" in plan
    assert plan.count("HashAggregate") >= 4  # partial+final per phase


def test_salted_aggregate_rejects_non_algebraic(lineitem):
    with pytest.raises(ValueError):
        salted_aggregate(lineitem, "l_returnflag",
                         {"x": ("avg", "l_quantity")})


def test_salting_bounds_hot_key_partition_share(spark):
    # The guard's contract on a power-law key (50% of rows on one user):
    # a raw-row exchange keyed on user_id puts the hot key's whole mass
    # in one partition; adding the deterministic salt to the exchange
    # key bounds any partition's share at ~1/buckets of the hot key.
    # (tools/skew_probe.py measures the wall-clock effect at 20M rows.)
    from pyspark.sql import functions as F
    n, buckets = 64_000, 8
    ev = (spark.range(n)
          .select(F.when(F.col("id") % 2 == 0, F.lit(0))
                  .otherwise(F.pmod(F.xxhash64("id"), F.lit(1000)))
                  .alias("user_id"), F.col("id")))
    salt = F.pmod(F.xxhash64("id"), F.lit(buckets))

    def hottest(df):
        return (df.groupBy(F.spark_partition_id().alias("p")).count()
                .agg(F.max("count")).first()[0])

    plain_hot = hottest(ev.repartition(buckets, "user_id"))
    salted_hot = hottest(ev.repartition(buckets, "user_id", salt))
    assert plain_hot >= n // 2              # hot key owns one partition
    # hot key split ~evenly: no partition much above (n/2)/buckets plus
    # the cold keys' share
    assert salted_hot < n // 4
