"""Dedup operator behavior on planted duplicates (the oracle gate checks
value parity; these pin semantics: dups found, non-dups not)."""

from __future__ import annotations

from openedx_event_sink_clickhouse_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_vs_probe,
    simhash,
    simhash_near_pairs,
)

BASE = ("the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill in the afternoon sun light")
NEAR = BASE.replace("lazy", "sleepy")          # one-word edit → near-dup
OTHER = ("completely different content about spark partitions shuffles "
         "joins aggregates windows and catalyst optimizer rules for scale")


def _docs(spark):
    return spark.createDataFrame(
        [(0, BASE), (1, BASE), (2, NEAR), (3, OTHER)],
        ["doc_id", "text"])


def test_exact_dedup_groups_identical_texts(spark):
    out = {r["keep_id"]: r["n_copies"]
           for r in exact_dedup(_docs(spark)).collect()}
    assert out[0] == 2          # docs 0 and 1 collapse, min id kept
    assert out[2] == 1 and out[3] == 1


def test_minhash_lsh_finds_planted_near_dup(spark):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard_sim"]
             for r in minhash_lsh_pairs(_docs(spark), threshold=0.5).collect()}
    assert pairs[(0, 1)] == 1.0            # exact dup → jaccard 1
    assert (0, 2) in pairs and pairs[(0, 2)] > 0.5   # near-dup caught
    assert not any(3 in p for p in pairs)  # unrelated doc never paired


def test_simhash_near_pairs_and_distance(spark):
    sigs = simhash(_docs(spark))
    by_id = {r["doc_id"]: r["simhash"] for r in sigs.collect()}
    assert by_id[0] == by_id[1]            # identical text → identical sig
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in simhash_near_pairs(sigs, max_hamming=8).collect()}
    assert pairs[(0, 1)] == 0
    assert (0, 2) in pairs and pairs[(0, 2)] <= 8
    assert (0, 3) not in pairs and (1, 3) not in pairs


def test_simhash_engines_bit_identical(spark):
    # The Arrow kernel (hashlib md5 + numpy tally) must reproduce the
    # JVM HOF bit-for-bit — same tokenization (JVM-side lower/split),
    # same md5-prefix hash, same ±1 vote — including the NULL-text →
    # NULL-simhash propagation.
    from pyspark.sql import Row, types as T

    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("text", T.StringType())])
    docs = _docs(spark).unionByName(spark.createDataFrame(
        [Row(doc_id=99, text=None), Row(doc_id=98, text="")], schema))
    jvm = {r["doc_id"]: r["simhash"]
           for r in simhash(docs, engine="jvm").collect()}
    arrow = {r["doc_id"]: r["simhash"]
             for r in simhash(docs, engine="arrow").collect()}
    assert jvm == arrow
    assert arrow[99] is None


def test_ngram_jaccard_vs_probe_ranks_near_dup_first(spark):
    sims = {r["doc_id"]: r["jaccard_sim"]
            for r in ngram_jaccard_vs_probe(_docs(spark), probe_id=0).collect()}
    assert sims[1] == 1.0
    assert sims[1] > sims[2] > sims[3]


def test_minhash_lsh_skew_guard_drops_degenerate_buckets(spark):
    # 50 identical docs → every band bucket has 50 members; max_bucket=10
    # must suppress the quadratic blow-up (0 pairs), while the default
    # keeps them (50·49/2 pairs).
    docs = spark.createDataFrame([(i, BASE) for i in range(50)],
                                 ["doc_id", "text"])
    full = minhash_lsh_pairs(docs, threshold=0.9, max_bucket=None)
    assert full.count() == 50 * 49 // 2
    guarded = minhash_lsh_pairs(docs, threshold=0.9, max_bucket=10)
    assert guarded.count() == 0


def test_connected_components_clusters_and_survivors(spark):
    from openedx_event_sink_clickhouse_spark.operators.dedup import (
        connected_components,
    )
    # two components: {1,2,3,9} (path 9-1-2-3) and {5,6}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 9), (5, 6)], "id_a long, id_b long")
    out = {r.doc_id: (r.cluster_id, r.is_survivor)
           for r in connected_components(pairs).collect()}
    assert {k for k, v in out.items() if v[0] == 1} == {1, 2, 3, 9}
    assert {k for k, v in out.items() if v[0] == 5} == {5, 6}
    assert [k for k, v in out.items() if v[1]] == [1, 5] or \
           sorted(k for k, v in out.items() if v[1]) == [1, 5]


def test_dedup_corpus_keeps_one_survivor_per_cluster(spark):
    from openedx_event_sink_clickhouse_spark.operators.dedup import (
        dedup_corpus,
    )
    kept = sorted(r.doc_id for r in dedup_corpus(_docs(spark)).collect())
    # docs 0/1/2 form one near-dup cluster -> min id 0 survives; doc 3
    # is untouched; surviving rows keep their full original columns.
    assert kept == [0, 3]
    row = dedup_corpus(_docs(spark)).filter("doc_id = 3").collect()[0]
    assert row.text == OTHER


def test_connected_components_long_chain_bounded_lineage(spark):
    from openedx_event_sink_clickhouse_spark.operators.dedup import (
        connected_components,
    )
    # Diameter-30 path graph: the min label needs ~29 propagation rounds
    # to reach the far end. The periodic localCheckpoint keeps each
    # round's plan O(checkpoint_every) join layers deep — without it the
    # later rounds re-plan a 30-deep join pyramid.
    n = 31
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long")
    # small_graph_edges=0 forces the BSP regime — this test pins the
    # fixpoint machinery (the driver union-find path is pinned equal in
    # test_connected_components_small_graph_regime_matches_bsp)
    out = connected_components(pairs, max_iter=40, checkpoint_every=5,
                               small_graph_edges=0)
    rows = out.collect()
    assert len(rows) == n
    assert {r.cluster_id for r in rows} == {0}
    assert [r.doc_id for r in rows if r.is_survivor] == [0]
    # Bounded plan size: ~30 propagation hops ran (each hop = 2 joins,
    # so an uncut lineage would print ~60+ joins), but the returned
    # frame's lineage roots at the last localCheckpoint cut — the
    # printed plan carries only the post-cut window (2 joins/hop x
    # checkpoint_every hops) plus the nested cached-subtree strings
    # InMemoryTableScan echoes, comfortably under half the uncut size.
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Join") <= 28, plan


def test_connected_components_reliable_checkpoint_mode(spark, tmp_path):
    from openedx_event_sink_clickhouse_spark.operators.dedup import (
        connected_components,
    )
    # Same long-chain fixture, reliable checkpoint() into a directory:
    # results identical to local mode, checkpoint files actually written
    # (the fault-tolerance artifact), lineage still bounded.
    n = 31
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long")
    ckdir = str(tmp_path / "cc_ck")
    out = connected_components(pairs, max_iter=40, checkpoint_every=5,
                               checkpoint_dir=ckdir, small_graph_edges=0)
    rows = out.collect()
    assert len(rows) == n
    assert {r.cluster_id for r in rows} == {0}
    assert [r.doc_id for r in rows if r.is_survivor] == [0]
    import os
    found = [f for _, _, fs in os.walk(ckdir) for f in fs]
    assert found, "reliable checkpoint wrote no files"
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Join") <= 28, plan


def test_connected_components_small_graph_regime_matches_bsp(spark):
    # The driver union-find regime must return EXACTLY the frame the
    # BSP fixpoint returns — same rows, same min-id labels, same
    # survivor flags, same schema — on an irregular multi-component
    # graph with chains, merges, and self-contained doubles.
    from openedx_event_sink_clickhouse_spark.operators.dedup import (
        connected_components,
    )
    edges = ([(i, i + 1) for i in range(0, 9)]          # chain 0..9
             + [(20, 25), (25, 21), (21, 20)]           # cycle
             + [(40, 41), (42, 41), (43, 40)]           # star-ish merge
             + [(100, 200)])                            # isolated pair
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    small = connected_components(pairs)
    big = connected_components(pairs, small_graph_edges=0)
    assert small.schema == big.schema
    assert sorted(map(tuple, small.collect())) == \
        sorted(map(tuple, big.collect()))


def test_lsh_recall_report_counts_and_bounds(spark):
    # Near-identical pair (one word changed out of 40) must be in the
    # exact truth AND surface through the bands (j >> 0.6 makes the
    # 8x2 collision probability ~1); the unrelated doc contributes
    # nothing. found <= truth <= candidates-verified by construction.
    from openedx_event_sink_clickhouse_spark.operators.dedup import (
        lsh_recall_report,
    )
    a = " ".join(f"w{i}" for i in range(40))
    b = " ".join(("zz" if i == 7 else f"w{i}") for i in range(40))
    c = " ".join(f"q{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], "doc_id long, text string")
    row = lsh_recall_report(docs).collect()[0]
    assert row.n_true_pairs == 1
    assert row.n_found_pairs == 1 and row.n_missed_pairs == 0
    assert row.recall == 1.0
    assert 0 < row.candidate_precision <= 1.0
    assert row.n_candidate_pairs >= row.n_found_pairs


def test_lsh_recall_report_vacuous_corpus_scores_one(spark):
    # No qualifying pair at all: recall/precision are defined as the
    # vacuous 1.0, not NULL/div-by-zero.
    from openedx_event_sink_clickhouse_spark.operators.dedup import (
        lsh_recall_report,
    )
    docs = spark.createDataFrame(
        [(1, " ".join(f"a{i}" for i in range(20))),
         (2, " ".join(f"b{i}" for i in range(20)))],
        "doc_id long, text string")
    row = lsh_recall_report(docs).collect()[0]
    assert row.n_true_pairs == 0 and row.n_found_pairs == 0
    assert row.recall == 1.0


def test_connected_components_null_pairs_agree_across_regimes(spark):
    # NULL-keyed pairs drop BEFORE the regime split, so both regimes
    # return the same frame on malformed input (previously the BSP path
    # kept a NULL pair's non-NULL endpoint as a singleton while the
    # driver path dropped the whole pair — regime-dependent results).
    from openedx_event_sink_clickhouse_spark.operators.dedup import (
        connected_components,
    )
    pairs = spark.createDataFrame(
        [(None, 5), (1, 2), (7, None), (None, None), (2, 3)],
        "id_a long, id_b long")
    small = connected_components(pairs)
    big = connected_components(pairs, small_graph_edges=0)
    rows = sorted(map(tuple, small.collect()))
    assert rows == sorted(map(tuple, big.collect()))
    assert rows == [(1, 1, True), (2, 1, False), (3, 1, False)]


def test_pagerank_seed_count_underflow_raises(spark):
    # s >= 10^quantize would underflow the integer teleport weight
    # SCALE div s to 0 and return an all-zero rank vector; the guard
    # must refuse instead.
    import pytest

    from openedx_event_sink_clickhouse_spark.operators.graph import pagerank

    e = spark.createDataFrame([(0, 1)], "src long, dst long")
    v = spark.createDataFrame([(i,) for i in range(12)], "id long")
    with pytest.raises(ValueError, match="underflow"):
        pagerank(e, v, quantize=1)


def test_connected_components_random_graph_matches_union_find(spark):
    # Property check against a Python union-find oracle on an irregular
    # graph (chains + stars + cross links, fixed seed): min-label
    # propagation must produce exactly the oracle's components, with the
    # component minimum as both label and survivor.
    import random

    from openedx_event_sink_clickhouse_spark.operators.dedup import (
        connected_components,
    )
    rng = random.Random(20260813)
    edges = []
    # 40-node chain (diameter pressure beyond one checkpoint period)
    edges += [(i, i + 1) for i in range(100, 139)]
    # stars
    edges += [(200, 200 + j) for j in range(1, 12)]
    edges += [(300, 300 + j) for j in range(1, 6)]
    # random extra links inside a block, some bridging
    nodes = [100 + i for i in range(40)] + [200 + j for j in range(12)]
    edges += [tuple(sorted(rng.sample(nodes, 2))) for _ in range(15)]
    edges = [(a, b) for a, b in edges if a != b]

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    want = {x: find(x) for x in parent}

    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.doc_id: (r.cluster_id, r.is_survivor)
           for r in connected_components(
               pairs, max_iter=60, checkpoint_every=4).collect()}
    assert set(got) == set(want)
    for node, root in want.items():
        assert got[node] == (root, node == root), node


def test_duplicate_spans_merges_overlaps_and_counts_coverage(spark):
    from openedx_event_sink_clickhouse_spark.operators.dedup import (
        duplicate_spans,
    )
    # Docs 0 and 1 share the 6-token run "a b c d e f" (positions 0..5 in
    # doc 0, 2..7 in doc 1); doc 2 is unrelated. k=4 → dup grams at three
    # consecutive starts per doc, merging into ONE span of 6 tokens.
    docs = spark.createDataFrame(
        [(0, "a b c d e f x y z w"),
         (1, "q r a b c d e f s t"),
         (2, "m n o p m2 n2 o2 p2 m3 n3")],
        ["doc_id", "text"])
    out = {r["doc_id"]: r for r in duplicate_spans(docs, k=4).collect()}
    for d in (0, 1):
        assert out[d]["n_dup_spans"] == 1
        assert out[d]["dup_tokens"] == 6
        assert out[d]["dup_token_frac"] == 0.6
    assert out[2]["n_dup_spans"] == 0 and out[2]["dup_tokens"] == 0
    assert out[2]["n_tokens"] == 10


def test_duplicate_spans_counts_within_doc_repeats(spark):
    from openedx_event_sink_clickhouse_spark.operators.dedup import (
        duplicate_spans,
    )
    # One doc repeating the same 4-token phrase twice: both occurrences
    # are duplicated positions, but they don't overlap → two spans.
    docs = spark.createDataFrame(
        [(0, "u v w x gap1 gap2 u v w x tail1 tail2")], ["doc_id", "text"])
    row = duplicate_spans(docs, k=4).collect()[0]
    assert row["n_dup_spans"] == 2
    assert row["dup_tokens"] == 8


def test_incremental_dedup_digest_table_history_is_shuffle_free(spark):
    # The 100 TB shape: the digest HISTORY (huge) is bucketed at rest on
    # content_hash, so the left-anti history check scans it with no
    # Exchange — only the (small) batch aggregate shuffles into the
    # bucket count.
    from pyspark.sql import functions as F

    from openedx_event_sink_clickhouse_spark.operators.dedup import (
        incremental_exact_dedup,
    )
    hist_docs = spark.createDataFrame(
        [(i, f"seen document number {i}") for i in range(50)],
        ["doc_id", "text"])
    batch = spark.createDataFrame(
        [(100, "seen document number 7"),       # dup of history
         (101, "brand new content a"),
         (102, "brand new content a"),          # in-batch dup
         (103, "brand new content b")],
        ["doc_id", "text"])
    spark.sql("DROP TABLE IF EXISTS digest_history")
    (hist_docs.select(F.md5("text").alias("content_hash"))
     .write.mode("overwrite")
     .bucketBy(8, "content_hash").sortBy("content_hash")
     .saveAsTable("digest_history"))
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        # Pin parallelism at or below the bucket count: when
        # shuffle.partitions exceeds it, the planner prefers re-shuffling
        # BOTH sides wider over the 8-way bucketed scan (production
        # tables bucket at >= cluster parallelism, so the bucketed side
        # wins there; this pin models that relationship at test scale).
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        out = incremental_exact_dedup(
            batch, spark.table("digest_history"))
        got = {r.doc_id for r in out.collect()}
        assert got == {101, 103}        # 100 seen, 102 loses in-batch
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan and "LeftAnti" in plan, plan
        assert "SelectedBucketsCount" in plan, plan
        # every Exchange sits on the batch side (the join's LEFT subtree,
        # rendered with ':' guides); the bucketed history scan feeds the
        # join with no Exchange above it
        for line in plan.splitlines():
            if "Exchange" in line:
                assert ":" in line.split("Exchange")[0], plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        spark.sql("DROP TABLE IF EXISTS digest_history")


def test_digest_table_overwrite_qualified_and_invalid_names(spark):
    # The orphaned-location cleanup derives the path from the CATALOG
    # (owning database's locationUri), so a qualified db.tbl overwrite
    # lands in warehouse/db.db/tbl — and recovers from an orphaned dir
    # there too. >2-part names are rejected before anything is touched.
    import pytest
    from pyspark.sql import functions as F

    from openedx_event_sink_clickhouse_spark.operators.heavyhitters import (
        write_count_table,
    )
    hashes = spark.createDataFrame([("h1",), ("h2",)], ["content_hash"])
    with pytest.raises(ValueError, match="db.tbl"):
        write_count_table(hashes, "content_hash", "cat.db.tbl",
                          mode="overwrite")
    spark.sql("CREATE DATABASE IF NOT EXISTS dedup_test_db")
    try:
        spark.sql("DROP TABLE IF EXISTS dedup_test_db.digests")
        write_count_table(hashes, "content_hash", "dedup_test_db.digests",
                          buckets=2, mode="overwrite")
        assert spark.table("dedup_test_db.digests").count() == 2
        # Simulate a crashed writer: drop the catalog entry but leave the
        # managed location behind; overwrite must still succeed.
        loc = spark.sql("DESCRIBE TABLE EXTENDED dedup_test_db.digests") \
            .filter(F.col("col_name") == "Location").first().data_type
        spark.sql("DROP TABLE dedup_test_db.digests")
        import os
        path = loc[len("file:"):] if loc.startswith("file:") else loc
        os.makedirs(path, exist_ok=True)
        assert os.path.isdir(path)
        write_count_table(hashes, "content_hash", "dedup_test_db.digests",
                          buckets=2, mode="overwrite")
        assert spark.table("dedup_test_db.digests").count() == 2
    finally:
        spark.sql("DROP TABLE IF EXISTS dedup_test_db.digests")
        spark.sql("DROP DATABASE IF EXISTS dedup_test_db")


def test_incremental_neardup_matches_full_corpus_minus_index(spark, tmp_path):
    # The incremental contract: batch-vs-index + in-batch pairs must
    # equal the full-corpus LSH pair set minus the corpus-internal
    # pairs (mined once, at index-build time).
    from pyspark.sql import functions as F

    from openedx_event_sink_clickhouse_spark.operators.dedup import (
        incremental_neardup_pairs,
        write_minhash_index,
    )
    corpus = [(0, BASE), (1, NEAR), (2, OTHER)]
    batch = [(10, BASE),                       # dup of indexed 0
             (11, OTHER.replace("scale", "speed")),  # near-dup of 2
             (12, BASE), (13, "tiny doc here today")]  # 12 dups 10
    docs = spark.createDataFrame(corpus + batch, ["doc_id", "text"])
    idx = str(tmp_path / "mh_index")
    write_minhash_index(docs.filter(F.col("doc_id") < 10), idx)
    got = {(r.id_a, r.id_b): r.jaccard_sim for r in
           incremental_neardup_pairs(docs.filter(F.col("doc_id") >= 10),
                                     spark, idx, threshold=0.5).collect()}
    full = {(r.id_a, r.id_b): r.jaccard_sim for r in
            minhash_lsh_pairs(docs, threshold=0.5).collect()}
    want = {p: j for p, j in full.items() if not (p[0] < 10 and p[1] < 10)}
    assert got == want
    assert (0, 10) in got and got[(0, 10)] == 1.0   # batch-index dup
    assert (10, 12) in got                          # in-batch dup
    assert not any(p[0] < 10 and p[1] < 10 for p in got)


def test_minhash_index_build_guard_drops_stop_bands(spark, tmp_path):
    # The degenerate-bucket guard moves to the layout: oversized bands
    # never enter the index, so no batch can fan out against them.
    from openedx_event_sink_clickhouse_spark.operators.dedup import (
        incremental_neardup_pairs,
        write_minhash_index,
    )
    stop = spark.createDataFrame([(i, BASE) for i in range(30)],
                                 ["doc_id", "text"])
    idx = str(tmp_path / "mh_guard")
    write_minhash_index(stop, idx, max_bucket=10)
    assert spark.read.parquet(idx + "/bands").count() == 0
    batch = spark.createDataFrame([(100, BASE)], ["doc_id", "text"])
    assert incremental_neardup_pairs(batch, spark, idx).count() == 0


def test_incremental_guard_counts_combined_bucket(spark, tmp_path):
    # Round-5 advisory: guarding the index build (corpus-only counts)
    # and the in-batch stream (batch-only counts) separately let a
    # bucket whose COMBINED size exceeds max_bucket — but whose halves
    # don't — emit pairs the one-shot miner over batch ∪ corpus drops.
    # The contract is combined-count guarding via the band_counts
    # sidecar: 5 corpus + 3 batch copies of one text, max_bucket=6 →
    # one-shot over the union emits nothing, so incremental must too.
    from pyspark.sql import functions as F

    from openedx_event_sink_clickhouse_spark.operators.dedup import (
        incremental_neardup_pairs,
        minhash_lsh_pairs,
        write_minhash_index,
    )
    docs = spark.createDataFrame([(i, BASE) for i in range(5)]
                                 + [(10 + i, BASE) for i in range(3)],
                                 ["doc_id", "text"])
    corpus = docs.filter(F.col("doc_id") < 10)
    batch = docs.filter(F.col("doc_id") >= 10)
    idx = str(tmp_path / "mh_combined")
    write_minhash_index(corpus, idx, max_bucket=6)
    assert minhash_lsh_pairs(docs, threshold=0.5, max_bucket=6).count() == 0
    got = incremental_neardup_pairs(batch, spark, idx, threshold=0.5,
                                    max_bucket=6)
    assert got.count() == 0
    # Under a permissive guard the same layout yields every cross and
    # in-batch pair — proving the empty result above is the guard, not
    # a broken index.
    n = incremental_neardup_pairs(batch, spark, idx, threshold=0.5,
                                  max_bucket=100).count()
    assert n == 5 * 3 + 3           # cross pairs + C(3,2) in-batch
    # Legacy layout (no sidecar): falls back to stored-band counts —
    # still exact here because no bucket was build-dropped.
    import shutil
    shutil.rmtree(f"{idx}/band_counts")
    assert incremental_neardup_pairs(batch, spark, idx, threshold=0.5,
                                     max_bucket=6).count() == 0


def test_update_cluster_labels_matches_full_recompute(spark, tmp_path):
    # Incremental label maintenance via contraction must equal the
    # from-scratch fixpoint on the union pair set — including the hard
    # case: a NEW node bridging two existing clusters merges them under
    # the true global minimum label.
    from openedx_event_sink_clickhouse_spark.operators.dedup import (
        connected_components,
        update_cluster_labels,
    )
    old_pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (8, 9)], "id_a long, id_b long")
    labels0 = connected_components(
        old_pairs, checkpoint_dir=str(tmp_path / "ck0"))
    new_pairs = spark.createDataFrame(
        [(10, 11),          # pure new cluster
         (3, 12),           # extend cluster {1,2,3} with new node 12
         (12, 5),           # 12 BRIDGES {1,2,3} and {5,6} -> one cluster
         (13, 14), (14, 8)],  # new chain into {8,9}
        "id_a long, id_b long")
    got = {r.doc_id: (r.cluster_id, r.is_survivor) for r in
           update_cluster_labels(labels0, new_pairs,
                                 checkpoint_dir=str(tmp_path / "ck1"))
           .collect()}
    want = {r.doc_id: (r.cluster_id, r.is_survivor) for r in
            connected_components(
                spark.createDataFrame(
                    [(1, 2), (2, 3), (5, 6), (8, 9),
                     (10, 11), (3, 12), (12, 5), (13, 14), (14, 8)],
                    "id_a long, id_b long"),
                checkpoint_dir=str(tmp_path / "ck2")).collect()}
    assert got == want
    assert got[5] == (1, False)     # bridged: {1,2,3,5,6,12} under 1
    assert got[12] == (1, False)
    assert got[10] == (10, True)    # new standalone cluster
    assert got[13] == (8, False)    # chained into {8,9}


def test_incremental_dedup_corpus_composed_flow(spark, tmp_path):
    # The composed daily-ingest flow: survivors of the batch against
    # index + batch, and the updated labels close the loop.
    from pyspark.sql import functions as F

    from openedx_event_sink_clickhouse_spark.operators.dedup import (
        connected_components,
        incremental_dedup_corpus,
        minhash_lsh_pairs,
        write_minhash_index,
    )
    corpus = [(0, BASE), (1, NEAR), (2, OTHER)]
    batch = [(10, BASE),          # near-dups indexed {0,1} -> loser
             (11, OTHER), (12, OTHER),  # 11 dups indexed 2; 12 dups both
             (13, "entirely novel words about gradient descent training")]
    docs = spark.createDataFrame(corpus + batch, ["doc_id", "text"])
    idx = str(tmp_path / "mh")
    write_minhash_index(docs.filter(F.col("doc_id") < 10), idx)
    labels0 = connected_components(
        minhash_lsh_pairs(docs.filter(F.col("doc_id") < 10), threshold=0.5),
        checkpoint_dir=str(tmp_path / "ck0"))
    surv, updated = incremental_dedup_corpus(
        docs.filter(F.col("doc_id") >= 10), spark, idx, labels0,
        threshold=0.5, checkpoint_dir=str(tmp_path / "ck1"))
    assert sorted(r.doc_id for r in surv.collect()) == [13]
    lab = {r.doc_id: r.cluster_id for r in updated.collect()}
    assert lab[10] == 0 and lab[11] == 2 and lab[12] == 2


def test_remove_duplicate_spans_rewrites_text(spark):
    # Two docs sharing an 8-token run: the shared span is removed from
    # BOTH, unique prefixes/suffixes survive, and the report's coverage
    # equals what the rewrite removed.
    from openedx_event_sink_clickhouse_spark.operators.dedup import (
        duplicate_spans, remove_duplicate_spans)
    shared = "alpha beta gamma delta epsilon zeta eta theta"   # 8 tokens
    docs = spark.createDataFrame(
        [(0, f"unique start here {shared} tail one"),
         (1, f"other beginning {shared} different end"),
         (2, "totally unrelated text with no repeats at all")],
        ["doc_id", "text"])
    out = {r.doc_id: r for r in
           remove_duplicate_spans(docs, k=8).collect()}
    assert out[0].cleaned_text == "unique start here tail one"
    assert out[1].cleaned_text == "other beginning different end"
    assert out[2].n_removed == 0
    assert out[2].cleaned_text == docs.filter("doc_id=2") \
        .first().text.lower()
    rep = {r.doc_id: r.dup_tokens for r in
           duplicate_spans(docs, k=8).collect()}
    assert rep[0] == out[0].n_removed and rep[1] == out[1].n_removed


def test_update_cluster_labels_random_graphs_match_full(spark, tmp_path):
    # Property check over irregular random graphs: for ANY split of the
    # edge set into (already-clustered, newly-arrived), incremental
    # maintenance must equal the full fixpoint — including the empty-
    # history cold start.
    import random

    from openedx_event_sink_clickhouse_spark.operators.dedup import (
        connected_components, update_cluster_labels)

    for seed, old_frac in [(11, 0.5), (12, 0.2), (13, 0.0)]:
        rng = random.Random(seed)
        nodes = list(range(60))
        edges = {tuple(sorted(rng.sample(nodes, 2))) for _ in range(70)}
        edges = [(a, b) for a, b in edges if a != b]
        n_old = int(len(edges) * old_frac)
        rng.shuffle(edges)
        old, new = edges[:n_old], edges[n_old:]
        old_df = spark.createDataFrame(old or [(None, None)],
                                       "id_a long, id_b long") \
            .filter("id_a IS NOT NULL")
        new_df = spark.createDataFrame(new, "id_a long, id_b long")
        labels0 = connected_components(
            old_df, checkpoint_dir=str(tmp_path / f"o{seed}"))
        got = {r.doc_id: (r.cluster_id, r.is_survivor) for r in
               update_cluster_labels(
                   labels0, new_df,
                   checkpoint_dir=str(tmp_path / f"u{seed}")).collect()}
        want = {r.doc_id: (r.cluster_id, r.is_survivor) for r in
                connected_components(
                    spark.createDataFrame(edges, "id_a long, id_b long"),
                    checkpoint_dir=str(tmp_path / f"f{seed}")).collect()}
        assert got == want, f"seed {seed} old_frac {old_frac}"


def test_containment_catches_doc_inside_doc(spark):
    # A short doc fully embedded in a long one: jaccard stays below any
    # dedup threshold, containment is ~1.0 — provided banding surfaces
    # the pair (identical prefix shingles give identical minima often
    # enough here; the docstring records the general recall caveat).
    from openedx_event_sink_clickhouse_spark.operators.dedup import (
        containment_pairs, minhash_lsh_pairs)
    short = "the quick brown fox jumps over the lazy dog again today"
    longd = short + " " + " ".join(f"filler{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(0, short), (1, longd), (2, "совершенно другой текст здесь")],
        ["doc_id", "text"])
    got = {(r.id_a, r.id_b): r.containment for r in
           containment_pairs(docs, threshold=0.7).collect()}
    assert (0, 1) in got and got[(0, 1)] == 1.0
    jac = {(r.id_a, r.id_b): r.jaccard_sim for r in
           minhash_lsh_pairs(docs, threshold=0.0).collect()}
    assert jac.get((0, 1), 0.0) < 0.7      # jaccard alone would miss it


def test_edit_distance_verify_bounds_and_integer_metric(spark):
    from openedx_event_sink_clickhouse_spark.operators.dedup import (
        edit_distance_verify)
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumped over the lazy dog"),   # 2 edits
         (3, "a completely different document with other words"),
         (4, "x" * 300 + "tail-a"), (5, "x" * 300 + "tail-b")],
        ["doc_id", "text"])
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (4, 5)], ["id_a", "id_b"])
    got = {(r.id_a, r.id_b): r.edit_distance
           for r in edit_distance_verify(pairs, docs, max_dist=10).collect()}
    assert got[(1, 2)] == 2
    assert (1, 3) not in got          # far pair filtered by max_dist
    # prefix bound: the differing tails sit beyond char 256 -> distance 0
    assert got[(4, 5)] == 0


# ---------------------------------------------------------------------------
# allpairs_jaccard: exact prefix-filtered set-similarity join
# ---------------------------------------------------------------------------

def _brute_pairs(spark, docs, threshold, n=3):
    # Ground truth with NO candidate filtering: full pair cross join over
    # the same shingle sets, exact integer keep/drop.
    from fractions import Fraction
    from pyspark.sql import functions as F
    from openedx_event_sink_clickhouse_spark.operators.dedup import (
        with_shingles)
    frac = Fraction(str(threshold))
    base = with_shingles(docs, "text", n).select(
        F.col("doc_id").alias("id"), "shingles")
    a = base.select(F.col("id").alias("id_a"),
                    F.col("shingles").alias("sh_a"))
    b = base.select(F.col("id").alias("id_b"),
                    F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("bigint")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("bigint")
    out = (a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
           .select("id_a", "id_b", inter.alias("i"), union.alias("u"))
           .filter(F.col("i") * frac.denominator
                   >= frac.numerator * F.col("u")))
    return {(r["id_a"], r["id_b"], r["i"], r["u"]) for r in out.collect()}


def _fuzz_corpus(spark):
    # Deterministic word-soup corpus with planted exact dups, near dups
    # (1-2 word edits), and disjoint docs — plus a doc too short to
    # shingle (must vanish, not crash).
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta",
             "eta", "theta", "iota", "kappa"]
    rows = []
    for d in range(12):
        seq = [words[(d * 7 + i * 3) % len(words)] for i in range(20)]
        rows.append((d, " ".join(seq)))
    rows.append((12, rows[3][1]))                       # exact dup of 3
    rows.append((13, rows[5][1].replace("alpha", "zeta", 1)))  # near dup
    rows.append((14, "too short"))                      # < 3 words
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_allpairs_matches_bruteforce(spark):
    from openedx_event_sink_clickhouse_spark.operators.dedup import (
        allpairs_jaccard)
    docs = _fuzz_corpus(spark)
    for t in (0.5, 0.7, 0.9):
        got = {(r["id_a"], r["id_b"], r["intersect_size"], r["union_size"])
               for r in allpairs_jaccard(docs, threshold=t).collect()}
        assert got == _brute_pairs(spark, docs, t), f"threshold {t}"


def test_allpairs_exact_boundary_pair_kept(spark):
    # Two 10-shingle sets sharing exactly 7 shingles: jaccard = 7/13
    # under union semantics — craft instead a containment-style pair
    # whose jaccard lands EXACTLY on the threshold: |A|=12 grams,
    # B = first 9 grams of A => inter=9, union=12, jaccard=0.75.
    from openedx_event_sink_clickhouse_spark.operators.dedup import (
        allpairs_jaccard)
    words = [f"w{i}" for i in range(14)]        # 14 words -> 12 3-grams
    a_text = " ".join(words)
    b_text = " ".join(words[:11])               # 11 words -> 9 3-grams
    docs = spark.createDataFrame([(0, a_text), (1, b_text)],
                                 ["doc_id", "text"])
    kept = allpairs_jaccard(docs, threshold=0.75).collect()
    assert len(kept) == 1 and kept[0]["jaccard"] == 0.75
    assert allpairs_jaccard(docs, threshold=0.7500001).collect() == []


def test_allpairs_incremental_equals_restricted_recompute(spark, tmp_path):
    from pyspark.sql import functions as F
    from openedx_event_sink_clickhouse_spark.operators.dedup import (
        allpairs_incremental_pairs,
        allpairs_jaccard,
        write_allpairs_index,
    )
    docs = _fuzz_corpus(spark)
    split = 10                       # ids < 10 corpus, >= 10 batch
    idx = str(tmp_path / "apidx")
    write_allpairs_index(docs.filter(F.col("doc_id") < split), idx,
                         threshold=0.5)
    inc = allpairs_incremental_pairs(
        docs.filter(F.col("doc_id") >= split), spark, idx, threshold=0.5)
    got = {(r["id_a"], r["id_b"], r["intersect_size"], r["union_size"])
           for r in inc.collect()}
    full = {(r["id_a"], r["id_b"], r["intersect_size"], r["union_size"])
            for r in allpairs_jaccard(docs, threshold=0.5).collect()
            if r["id_a"] >= split or r["id_b"] >= split}
    assert got == full and got      # non-empty: 12/13 are planted dups


def test_survivors_by_quality_prefers_high_score(spark):
    from openedx_event_sink_clickhouse_spark.operators.dedup import (
        survivors_by_quality)
    labels = spark.createDataFrame(
        [(0, 0, False), (1, 0, True), (5, 5, True), (7, 5, False)],
        ["doc_id", "cluster_id", "is_survivor"])
    scores = spark.createDataFrame(
        [(0, 2.5), (1, -1.0), (5, 0.5), (7, 0.5)],
        ["doc_id", "quality_logit"])
    out = {r["doc_id"]: r for r in
           survivors_by_quality(labels, scores).collect()}
    # cluster 0: doc 0 outscores doc 1 (min-id would have kept 1)
    assert out[0]["is_survivor"] and not out[1]["is_survivor"]
    # cluster 5: exact score tie -> min id survives
    assert out[5]["is_survivor"] and not out[7]["is_survivor"]
    # exactly one survivor per cluster
    assert sum(r["is_survivor"] for r in out.values()) == 2


def test_weighted_jaccard_sees_repetition_set_jaccard_misses(spark):
    from openedx_event_sink_clickhouse_spark.operators.dedup import (
        allpairs_jaccard, weighted_jaccard_verify)
    words = [f"w{i}" for i in range(12)]
    clean = " ".join(words)
    # repeat the same text 3x: identical shingle SET (plus the two seam
    # grams), very different multiset
    repeated = " ".join(words * 3)
    docs = spark.createDataFrame(
        [(0, clean), (1, clean), (2, repeated)], ["doc_id", "text"])
    pairs = allpairs_jaccard(docs, threshold=0.5)
    out = {(r["id_a"], r["id_b"]): r
           for r in weighted_jaccard_verify(pairs, docs).collect()}
    # exact duplicates: weighted jaccard 1.0
    assert out[(0, 1)]["weighted_jaccard"] == 1.0
    # clean-vs-repeated: high SET jaccard (same grams) but the multiset
    # ratio collapses toward |clean|/|repeated| ~ 10/34
    wj = out[(0, 2)]["weighted_jaccard"]
    sj = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert sj[(0, 2)] > 0.8 and wj < 0.35, (sj[(0, 2)], wj)
    # hand check: shared grams min-sum = 10 (each clean gram once),
    # totals 10 and 34 -> 10 / (10 + 34 - 10)
    assert wj == round(10 / 34, 6)


def test_allpairs_index_refuses_lossy_probe_threshold(spark, tmp_path):
    import pytest
    from pyspark.sql import functions as F
    from openedx_event_sink_clickhouse_spark.operators.dedup import (
        allpairs_incremental_pairs, write_allpairs_index)
    docs = _fuzz_corpus(spark)
    idx = str(tmp_path / "apidx_t")
    write_allpairs_index(docs.filter(F.col("doc_id") < 10), idx,
                         threshold=0.7)
    batch = docs.filter(F.col("doc_id") >= 10)
    # probing BELOW the build threshold would silently lose pairs
    with pytest.raises(ValueError, match="would be lossy"):
        allpairs_incremental_pairs(batch, spark, idx, threshold=0.5)
    # probing AT or ABOVE it is lossless (longer stored prefixes only
    # add candidates) — both must run
    assert allpairs_incremental_pairs(batch, spark, idx,
                                      threshold=0.7).count() >= 0
    assert allpairs_incremental_pairs(batch, spark, idx,
                                      threshold=0.9).count() >= 0
    with pytest.raises(ValueError, match="n="):
        allpairs_incremental_pairs(batch, spark, idx, threshold=0.7, n=2)


def test_bands_of_hv_memo_rekeys_on_context_change(spark):
    # The shared LSH band expression is memoized per SparkContext: a
    # cached Column holds py4j handles into the gateway that built it,
    # so a session recycled in the same process must get a FRESH tree,
    # while repeat calls under one context share the same object (the
    # r13 driver-side construction win).
    from openedx_event_sink_clickhouse_spark.operators import dedup as dd

    first = dd._bands_of_hv()
    assert dd._bands_of_hv() is first          # same context -> memo hit
    live_key = dd._HV_BANDS_EXPR[0][0]
    assert live_key is spark.sparkContext
    # simulate a recycled session: stale context identity in the memo
    dd._HV_BANDS_EXPR[0] = (object(), first)
    rebuilt = dd._bands_of_hv()
    assert rebuilt is not first                # stale key -> rebuilt
    assert dd._HV_BANDS_EXPR[0][0] is live_key  # rekeyed to active sc
    assert dd._bands_of_hv() is rebuilt        # and memoized again
