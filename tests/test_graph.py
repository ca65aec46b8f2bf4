"""Graph analytics: triangle support and fixed-iteration PageRank.

Reference behavior: the engine's similarity graphs (near-dup pairs, the
k-NN graph) feed curation decisions; these tests pin the two whole-graph
statistics against brute-force Python replicas of the SAME spec —
including PageRank's per-round quantization contract, which is what the
DuckDB hash oracle relies on.
"""
from __future__ import annotations

import itertools
import random

from openedx_event_sink_clickhouse_spark.operators.graph import (
    pagerank, seed_distances, triangle_counts)


def _edges_df(spark, edges):
    return spark.createDataFrame(
        [(a, b) for a, b in edges], "id_a long, id_b long")


def _brute_triangles(edges):
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    tri = {n: 0 for n in adj}
    for a, b, c in itertools.combinations(sorted(adj), 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            for n in (a, b, c):
                tri[n] += 1
    return {n: (len(adj[n]), tri[n]) for n in adj}


def test_triangles_k4_plus_pendant(spark):
    # K4 (every node in 3 triangles) with a pendant edge off node 3.
    edges = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3), (3, 4)]
    got = {r.id: (r.degree, r.triangles)
           for r in triangle_counts(_edges_df(spark, edges)).collect()}
    assert got == {0: (3, 3), 1: (3, 3), 2: (3, 3), 3: (4, 3), 4: (1, 0)}


def test_triangles_random_graph_matches_brute_force(spark):
    rng = random.Random(1234)
    nodes = range(30)
    edges = sorted({tuple(sorted(rng.sample(nodes, 2)))
                    for _ in range(120)})
    got = {r.id: (r.degree, r.triangles)
           for r in triangle_counts(_edges_df(spark, edges)).collect()}
    assert got == _brute_triangles(edges)


def test_triangles_skewed_hub(spark):
    # A hub joined to 20 leaves that form a path among themselves: the
    # degree-oriented wedge join must not explode the hub (its oriented
    # out-degree is 0 against higher-(degree,id) partners only).
    hub = 100
    leaves = list(range(20))
    edges = [(min(hub, l), max(hub, l)) for l in leaves]
    edges += [(l, l + 1) for l in leaves[:-1]]
    got = {r.id: (r.degree, r.triangles)
           for r in triangle_counts(_edges_df(spark, edges)).collect()}
    assert got == _brute_triangles(edges)


def _brute_pagerank(edges, nodes, iters=10, damping=0.85, q=7, seeds=None):
    """Python replica of the INTEGER-UNIT BSP spec in operators/graph:
    BIGINT 10^-q rank units, per-edge floor division, damping as the
    rational round(d·1000)/1000 in multiply-then-floor-divide, teleport
    weight SCALE // s units; the only float is the final publish
    division. Python's // floors like DuckDB's // and agrees with
    Spark's `div` on these non-negative units."""
    scale = 10 ** q
    dnum, dden = round(damping * 1000), 1000
    out = {}
    for s, t in edges:
        out.setdefault(s, []).append(t)
    seed_set = set(seeds) if seeds is not None else set(nodes)
    w = {v: (scale // len(seed_set) if v in seed_set else 0)
         for v in nodes}
    r = dict(w)
    for _ in range(iters):
        dangling = sum(r[v] for v in nodes if v not in out)
        contrib = {v: 0 for v in nodes}
        for s, ts in out.items():
            c = r[s] // len(ts)
            for t in ts:
                contrib[t] += c
        r = {v: ((dden - dnum) * w[v]) // dden
             + (dnum * (contrib[v] + (dangling * w[v]) // scale)) // dden
             for v in nodes}
    return {v: r[v] / scale for v in nodes}


def test_pagerank_cycle_is_uniform(spark):
    # On a directed cycle every node has rank exactly 1/n at fixpoint,
    # and the uniform start IS that fixpoint — iterations keep it.
    n = 8
    edges = [(i, (i + 1) % n) for i in range(n)]
    e = spark.createDataFrame(edges, "src long, dst long")
    v = spark.createDataFrame([(i,) for i in range(n)], "id long")
    got = {r.id: r.pagerank for r in pagerank(e, v).collect()}
    assert got == {i: round(1.0 / n, 7) for i in range(n)}


def test_pagerank_matches_integer_unit_replica(spark, tmp_path):
    rng = random.Random(7)
    nodes = list(range(25))
    edges = sorted({(rng.randrange(25), rng.randrange(25))
                    for _ in range(80) })
    edges = [(s, t) for s, t in edges if s != t]
    # Drop all out-edges of two nodes so the dangling path is exercised.
    edges = [(s, t) for s, t in edges if s not in (3, 11)]
    e = spark.createDataFrame(edges, "src long, dst long")
    v = spark.createDataFrame([(i,) for i in nodes], "id long")
    got = {r.id: r.pagerank
           for r in pagerank(e, v,
                             checkpoint_dir=str(tmp_path / "ck")).collect()}
    want = _brute_pagerank(edges, nodes)
    assert got == want
    # Mass conserved up to the integer-unit floor losses (≤ one 1e-7
    # unit per edge / teleport share / damping term per round).
    assert abs(sum(got.values()) - 1.0) < 5e-4


def test_personalized_pagerank_matches_replica_and_favors_seeds(spark,
                                                                tmp_path):
    rng = random.Random(11)
    nodes = list(range(30))
    edges = sorted({(rng.randrange(30), rng.randrange(30))
                    for _ in range(120)})
    edges = [(s, t) for s, t in edges if s != t]
    seeds = [0, 5, 10]
    e = spark.createDataFrame(edges, "src long, dst long")
    v = spark.createDataFrame([(i,) for i in nodes], "id long")
    sd = spark.createDataFrame([(i,) for i in seeds], "id long")
    got = {r.id: r.pagerank
           for r in pagerank(e, v, teleport=sd,
                             checkpoint_dir=str(tmp_path / "ck")).collect()}
    assert got == _brute_pagerank(edges, nodes, seeds=seeds)
    # Restart mass concentrates near the seeds: every seed outranks the
    # global median (true for any connected-enough random graph at d=.85).
    ranked = sorted(got.values())
    median = ranked[len(ranked) // 2]
    assert all(got[s] > median for s in seeds)


def _brute_bfs(edges, seeds, max_hops):
    out = {}
    for s, t in edges:
        out.setdefault(s, []).append(t)
    dist = {s: 0 for s in seeds}
    frontier = set(seeds)
    for h in range(1, max_hops + 1):
        nxt = {t for s in frontier for t in out.get(s, [])
               if t not in dist}
        for t in nxt:
            dist[t] = h
        frontier = nxt
    return dist


def test_pagerank_empty_seed_set_raises_clearly(spark):
    # An empty teleport frame (or an empty node frame for classic
    # PageRank) must fail with a clear ValueError, not an opaque
    # ZeroDivisionError from 1/s.
    import pytest
    e = spark.createDataFrame([(1, 2)], "src long, dst long")
    v = spark.createDataFrame([(1,), (2,)], "id long")
    with pytest.raises(ValueError, match="teleport/seed set is empty"):
        pagerank(e, v, teleport=v.filter("id < 0"))
    with pytest.raises(ValueError, match="teleport/seed set is empty"):
        pagerank(e, v.filter("id < 0"))


def test_seed_distance_chain_and_bound(spark):
    # 0→1→…→9: hops equal position; max_hops=6 cuts the tail off.
    edges = [(i, i + 1) for i in range(9)]
    e = spark.createDataFrame(edges, "src long, dst long")
    sd = spark.createDataFrame([(0,)], "id long")
    got = {r.id: r.hops for r in seed_distances(e, sd, max_hops=6).collect()}
    assert got == {i: i for i in range(7)}


def test_seed_distance_random_graph_matches_bfs(spark, tmp_path):
    rng = random.Random(23)
    edges = sorted({(rng.randrange(40), rng.randrange(40))
                    for _ in range(100)})
    edges = [(s, t) for s, t in edges if s != t]
    seeds = [0, 7]
    e = spark.createDataFrame(edges, "src long, dst long")
    sd = spark.createDataFrame([(i,) for i in seeds], "id long")
    got = {r.id: r.hops
           for r in seed_distances(e, sd, max_hops=5,
                                   checkpoint_dir=str(tmp_path / "ck")
                                   ).collect()}
    assert got == _brute_bfs(edges, seeds, 5)


def _drop_pinned(spark):
    pinned = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in list(pinned.keySet()):
        pinned.get(rid).unpersist(False)


def test_pagerank_leaves_no_pinned_blocks_in_reliable_mode(spark, tmp_path):
    # Earlier tests run the documented in-memory mode, whose final frame
    # stays pinned by contract — clear those handles so this asserts
    # reliable mode's own footprint only.
    _drop_pinned(spark)
    edges = [(0, 1), (1, 2), (2, 0)]
    e = spark.createDataFrame(edges, "src long, dst long")
    v = spark.createDataFrame([(i,) for i in range(4)], "id long")
    pagerank(e, v, num_iters=3,
             checkpoint_dir=str(tmp_path / "ck")).collect()
    leaked = spark.sparkContext._jsc.getPersistentRDDs()
    assert leaked.size() == 0


def test_neighbor_jaccard_hand_checked(spark):
    from openedx_event_sink_clickhouse_spark.operators.graph import (
        neighbor_jaccard)
    # K4 on {1,2,3,4} plus a pendant 5-1: every K4 edge has 2 common
    # neighbors, union = 3+3-2-2=2 → jaccard 1.0 except edges at node 1
    # (degree 4: union 3 → 2/3); pendant edge (1,5): 0 common.
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (1, 5)],
        "id_a long, id_b long")
    got = {(r.id_a, r.id_b): (r.common_neighbors, r.jaccard)
           for r in neighbor_jaccard(edges).collect()}
    assert got[(2, 3)] == (2, 1.0)
    assert got[(2, 4)] == (2, 1.0)
    assert got[(3, 4)] == (2, 1.0)
    assert got[(1, 2)] == (2, round(2 / 3, 6))
    assert got[(1, 5)] == (0, 0.0)
    assert len(got) == 7


def test_kcore_peels_to_fixpoint(spark):
    from openedx_event_sink_clickhouse_spark.operators.graph import kcore
    # K4 {1,2,3,4} + a tail 4-5-6 + a triangle {7,8,9} hanging off 1 via
    # 7-1. 3-core: K4 only — the triangle {7,8,9} has degree 2 inside
    # itself (dies at k=3), and the tail peels away; crucially node 4
    # must survive even though the tail inflates its raw degree, and a
    # SINGLE peel would still leave 7 connected to the core via 1.
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
             (4, 5), (5, 6), (7, 8), (7, 9), (8, 9), (1, 7)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.id: r.degree for r in kcore(df, k=3).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}
    # k=2: the triangle survives too (and keeps its 1-7 bridge? no —
    # bridge endpoints have in-subgraph degree >= 2 each: 1 and 7 both
    # survive, so the edge stays and degrees count it)
    got2 = {r.id: r.degree for r in kcore(df, k=2).collect()}
    assert set(got2) == {1, 2, 3, 4, 7, 8, 9}
    assert got2[7] == 3 and got2[1] == 4
    # k larger than any density: empty
    assert kcore(df, k=4).count() == 0


def test_label_propagation_two_cliques_converge(spark):
    # Two disjoint triangles: after 2 rounds every node carries its
    # clique's minimum id (tie-break -> smallest label dominates).
    edges = []
    for clique in ([1, 2, 3], [10, 11, 12]):
        for s in clique:
            for d in clique:
                if s != d:
                    edges.append((s, d))
    df = spark.createDataFrame(edges, ["src", "dst"])
    from openedx_event_sink_clickhouse_spark.operators.graph import (
        label_propagation)
    out = {r.node: r.label for r in label_propagation(df, rounds=2).collect()}
    assert {out[n] for n in (1, 2, 3)} == {1}
    assert {out[n] for n in (10, 11, 12)} == {10}


def test_label_propagation_deterministic_tiebreak(spark):
    # A node with two equally-frequent neighbor labels must adopt the
    # SMALLEST (the cross-engine total order).
    df = spark.createDataFrame(
        [(5, 9), (9, 5), (7, 9), (9, 7)], ["src", "dst"])
    from openedx_event_sink_clickhouse_spark.operators.graph import (
        label_propagation)
    out = {r.node: r.label for r in
           label_propagation(df, rounds=1).collect()}
    assert out[9] == 5  # ties between labels 5 and 7 break low


def test_label_propagation_symmetric_distinct_equals_generic(spark):
    # The symmetric_distinct fast path (round-1 min-neighbor shortcut,
    # dropped identity left-joins, min_by argmax) must be BIT-IDENTICAL
    # to the generic unroll on random symmetric duplicate-free graphs —
    # this pin is what licenses the registry call site's flag.
    from openedx_event_sink_clickhouse_spark.operators.graph import (
        label_propagation)
    rng = random.Random(20260818)
    for trial in range(3):
        und = {(a, b) for a, b in
               ((rng.randrange(40), rng.randrange(40)) for _ in range(120))
               if a != b}
        edges = sorted(und | {(b, a) for a, b in und})
        df = spark.createDataFrame(edges, ["src", "dst"])
        for rounds in (1, 2, 3):
            slow = {(r.node, r.label) for r in
                    label_propagation(df, rounds=rounds).collect()}
            fast = {(r.node, r.label) for r in
                    label_propagation(df, rounds=rounds,
                                      symmetric_distinct=True).collect()}
            assert fast == slow, (trial, rounds)


def test_adamic_adar_hand_computed(spark):
    import math
    from openedx_event_sink_clickhouse_spark.operators.graph import (
        adamic_adar)
    # square 1-2-3-4 plus diagonal 1-3: edge (1,3) has common neighbors
    # {2, 4} (deg 2 each); edge (1,2) has common neighbor {3} (deg 3);
    # edge (2,3) likewise {1} (deg 3); (3,4)/(1,4) have {1,3}∩... = {3}? no:
    # N(3)={1,2,4}, N(4)={1,3} -> common {1} (deg 3).
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 4), (1, 3)], ["id_a", "id_b"])
    out = {(r["id_a"], r["id_b"]): r for r in adamic_adar(edges).collect()}
    w2, w3 = 1.0 / math.log(2.0), 1.0 / math.log(3.0)
    q = lambda x: round(x, 9)          # operator quantizes each weight
    assert out[(1, 3)]["common_neighbors"] == 2
    assert out[(1, 3)]["adamic_adar"] == round(q(w2) + q(w2), 6)
    for e in ((1, 2), (2, 3), (3, 4), (1, 4)):
        assert out[e]["common_neighbors"] == 1
        assert out[e]["adamic_adar"] == round(q(w3), 6), e
    # disconnected edge scores zero, still present
    out2 = {(r["id_a"], r["id_b"]): r
            for r in adamic_adar(edges.union(
                spark.createDataFrame([(8, 9)], ["id_a", "id_b"])))
            .collect()}
    assert out2[(8, 9)]["common_neighbors"] == 0
    assert out2[(8, 9)]["adamic_adar"] == 0.0
