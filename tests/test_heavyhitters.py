"""Exact heavy hitters via two-pass candidate pruning: output must be
EXACT (identical to a plain groupBy-HAVING) and partitioning-independent
— the properties the candidate-superset pigeonhole argument guarantees."""
from __future__ import annotations

import random

from pyspark.sql import functions as F

from openedx_event_sink_clickhouse_spark.operators.heavyhitters import (
    heavy_hitters)


def _brute(rows, k):
    n = len([r for r in rows if r is not None])
    counts: dict = {}
    for r in rows:
        if r is not None:
            counts[r] = counts.get(r, 0) + 1
    return {key: c for key, c in counts.items() if c > n / float(k)}


def test_heavy_hitters_exact_on_zipf_stream(spark):
    rng = random.Random(7)
    # Zipf-ish: key i appears ~ 3000/i times — a real skewed stream.
    rows = [i for i in range(1, 80) for _ in range(3000 // i)]
    rng.shuffle(rows)
    df = spark.createDataFrame([(v,) for v in rows], "key long")
    for k in (10, 40, 200):
        got = {r.key: r.exact_count
               for r in heavy_hitters(df, "key", k=k).collect()}
        assert got == _brute(rows, k), k


def test_heavy_hitters_partitioning_independent(spark):
    rows = [i for i in range(1, 40) for _ in range(1200 // i)]
    df1 = spark.createDataFrame([(v,) for v in rows], "key long") \
        .repartition(1)
    df32 = spark.createDataFrame([(v,) for v in sorted(rows)], "key long") \
        .repartition(32)
    k = 25
    a = sorted((r.key, r.exact_count)
               for r in heavy_hitters(df1, "key", k=k).collect())
    b = sorted((r.key, r.exact_count)
               for r in heavy_hitters(df32, "key", k=k).collect())
    assert a == b == sorted(_brute(rows, k).items())


def test_heavy_hitters_excludes_nulls_and_handles_empty(spark):
    df = spark.createDataFrame([("a",), ("a",), ("a",), ("b",), (None,)],
                               "key string")
    got = heavy_hitters(df, "key", k=2).collect()   # thr = 4/2 = 2
    assert [(r.key, r.exact_count) for r in got] == [("a", 3)]
    assert got[0].freq_share == 0.75                # share of NON-NULL n
    empty = df.filter(F.col("key").isNull()).filter(F.col("key").isNotNull())
    assert heavy_hitters(empty, "key", k=5).count() == 0


def test_heavy_hitters_total_shortcut_matches(spark):
    rows = ["x"] * 30 + ["y"] * 5
    df = spark.createDataFrame([(v,) for v in rows], "key string")
    a = sorted(tuple(r) for r in heavy_hitters(df, "key", k=3).collect())
    b = sorted(tuple(r) for r in
               heavy_hitters(df, "key", k=3, total=35).collect())
    assert a == b and a[0][0] == "x"


def test_count_table_append_equals_full_and_fold_is_exchange_free(spark):
    # The at-rest loop: base counts + one appended batch must serve the
    # SAME heavy hitters as a single pass over everything, and the
    # serve-time fold must read the bucketed table with no Exchange
    # under the per-key groupBy (the 100 TB contract: serve cost is
    # O(distinct keys), exchange-free).
    from openedx_event_sink_clickhouse_spark.operators.heavyhitters import (
        append_counts_batch, heavy_hitters, heavy_hitters_from_counts,
        write_count_table)
    rows = [(i % 37,) for i in range(4000)] + [(7,)] * 300 + [(11,)] * 150
    df = spark.createDataFrame(rows, "key long")
    base, batch = df.filter("key % 2 = 0"), df.filter("key % 2 = 1")
    spark.sql("DROP TABLE IF EXISTS hh_counts_test")
    write_count_table(base, "key", "hh_counts_test", buckets=8,
                      mode="overwrite")
    append_counts_batch(batch, "key", "hh_counts_test", buckets=8)
    try:
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        served = heavy_hitters_from_counts(spark, "hh_counts_test", "key",
                                           k=20)
        got = sorted(tuple(r) for r in served.collect())
        want = sorted(tuple(r) for r in
                      heavy_hitters(df, "key", k=20).collect())
        assert got == want and len(got) >= 2
        plan = served._jdf.queryExecution().executedPlan().toString()
        # the fold aggregate consumes bucket layout directly — the only
        # allowed exchanges are the 1-row total broadcast and the final
        # single-partition gather, never a hash exchange on `key`
        import re
        assert not re.search(r"Exchange hashpartitioning\(key", plan), plan
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        spark.sql("DROP TABLE IF EXISTS hh_counts_test")


def test_count_table_derives_k_from_distinct_keys(spark):
    from openedx_event_sink_clickhouse_spark.operators.heavyhitters import (
        heavy_hitters_from_counts, write_count_table)
    rows = [("a",)] * 10 + [("b",)] * 2 + [("c",)] * 3
    df = spark.createDataFrame(rows, "key string")
    spark.sql("DROP TABLE IF EXISTS hh_counts_test2")
    write_count_table(df, "key", "hh_counts_test2", buckets=4)
    try:
        # k defaults to 3 distinct keys -> thr = 5; only "a" passes
        got = heavy_hitters_from_counts(spark, "hh_counts_test2",
                                        "key").collect()
        assert [(r.key, r.exact_count) for r in got] == [("a", 10)]
    finally:
        spark.sql("DROP TABLE IF EXISTS hh_counts_test2")


def test_retract_keys_cancels_counts_without_stream_rescan(spark):
    # Retiring keys appends negative partials that cancel their folded
    # totals; serving afterwards equals a from-scratch pass over the
    # surviving rows — retired keys vanish from the report, from n, and
    # from the derived k.
    from openedx_event_sink_clickhouse_spark.operators.heavyhitters import (
        heavy_hitters, heavy_hitters_from_counts, retract_keys,
        write_count_table)
    rows = [(i % 20,) for i in range(2000)] + [(3,)] * 200 + [(8,)] * 90
    df = spark.createDataFrame(rows, "key long")
    spark.sql("DROP TABLE IF EXISTS hh_counts_test3")
    write_count_table(df, "key", "hh_counts_test3", buckets=8)
    retired = spark.createDataFrame([(3,), (15,)], "key long")
    retract_keys(spark, "hh_counts_test3", retired, "key", buckets=8)
    try:
        got = sorted(tuple(r) for r in heavy_hitters_from_counts(
            spark, "hh_counts_test3", "key").collect())
        want = sorted(tuple(r) for r in heavy_hitters(
            df.filter(~F.col("key").isin(3, 15)), "key",
            k=18).collect())   # 18 surviving distinct keys
        assert got == want and got
        assert not any(k in (3, 15) for k, _, _ in got)
    finally:
        spark.sql("DROP TABLE IF EXISTS hh_counts_test3")


def test_heavy_hitters_degenerate_single_key_stream(spark):
    # Worst-case skew: every row the same key. The candidate pass emits
    # exactly that key per batch (bounded), the recount is exact, and
    # the share is 1.0.
    df = spark.createDataFrame([("hot",)] * 20000, "key string") \
        .repartition(32)
    got = heavy_hitters(df, "key", k=5).collect()
    assert [(r.key, r.exact_count, r.freq_share) for r in got] \
        == [("hot", 20000, 1.0)]


def test_cms_sketch_bounded_and_mergeable(spark):
    from openedx_event_sink_clickhouse_spark.operators.heavyhitters import (
        cms_sketch)
    df = spark.createDataFrame([(i % 37,) for i in range(4000)], "k long")
    sk = cms_sketch(df, "k", width=64, depth=3)
    rows = sk.collect()
    # bounded: at most depth*width cells, total mass = depth * n_rows
    assert len(rows) <= 3 * 64
    assert sum(r.c for r in rows) == 3 * 4000
    # mergeable: sketch(a ∪ b) == cell-wise sum of the two sketches
    a = df.filter("k < 20")
    b = df.filter("k >= 20")
    merged = (cms_sketch(a, "k", width=64, depth=3)
              .unionByName(cms_sketch(b, "k", width=64, depth=3))
              .groupBy("d", "bucket").agg(F.sum("c").alias("c")))
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, rows))


def test_cms_estimate_one_sided_and_certified(spark):
    from openedx_event_sink_clickhouse_spark.operators.heavyhitters import (
        cms_estimate, cms_heavy_hitters, cms_sketch)
    # zipf-ish: key i appears 200//(i+1) times
    rows = [(i,) for i in range(50) for _ in range(200 // (i + 1))]
    df = spark.createDataFrame(rows, "k long")
    exact = {r.k: r.c for r in
             df.groupBy("k").agg(F.count("*").alias("c")).collect()}
    # tight width forces collisions; estimate must still be >= exact
    sk = cms_sketch(df, "k", width=16, depth=4)
    est = {r.k: r.est_count for r in
           cms_estimate(sk, df.select("k"), "k", width=16, depth=4)
           .collect()}
    assert set(est) == set(exact)
    assert all(est[k] >= exact[k] for k in exact)
    assert any(est[k] > exact[k] for k in exact)  # collisions real at w=16
    # the certified HH output carries the same guarantee per row
    out = cms_heavy_hitters(df, "k", k=10, width=16).collect()
    assert out and all(r.overcount >= 0 and
                       r.est_count == r.exact_count + r.overcount
                       for r in out)
    # wider sketch -> estimates can only tighten (fewer collisions)
    est_wide = {r.k: r.est_count for r in
                cms_estimate(cms_sketch(df, "k", width=4096, depth=4),
                             df.select("k"), "k", width=4096, depth=4)
                .collect()}
    assert all(est_wide[k] <= est[k] for k in exact)
    assert all(est_wide[k] == exact[k] for k in exact)  # w>>keys: exact


def test_cms_extreme_skew_one_key_dominates(spark):
    # Adversarial skew: one key is 50% of the stream; the sketch's
    # one-sided guarantee must hold for it and for the long tail, and
    # the dominant key's estimate stays within eps*n of exact even at a
    # narrow width (its own mass dominates every cell it lands in).
    from openedx_event_sink_clickhouse_spark.operators.heavyhitters import (
        cms_estimate, cms_sketch)
    rows = [(0,)] * 5000 + [(i,) for i in range(1, 5001)]
    df = spark.createDataFrame(rows, "k long")
    width, depth = 64, 4
    sk = cms_sketch(df, "k", width=width, depth=depth)
    exact = {r.k: r.c for r in
             df.groupBy("k").agg(F.count("*").alias("c")).collect()}
    est = {r.k: r.est_count for r in
           cms_estimate(sk, df.select("k").distinct(), "k",
                        width=width, depth=depth).collect()}
    n = 10_000
    eps = 2.718281828 / width
    assert all(est[k] >= exact[k] for k in exact)       # one-sided, always
    assert est[0] - exact[0] <= eps * n                 # hot key tight
    # mass conservation under skew: total cell mass = depth * n
    assert sum(r.c for r in sk.collect()) == depth * n
