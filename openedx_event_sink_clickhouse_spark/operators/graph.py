"""Graph analytics over similarity graphs.

The dedup/curation families already BUILD graphs (near-dup pairs, the
SRP-blocked k-NN graph) and collapse them to components; this module adds
the whole-graph statistics a curation pipeline asks of those graphs once
they exist — per-node triangle support (local clustering / community
density, the signal graph-based filtering ranks boilerplate hubs by),
PageRank centrality, classic and seed-personalized (which documents
anchor the similarity neighborhood — a duplication-aware importance
prior for sampling, and "more like this curated handful" expansion), and
bounded multi-source BFS hop tiers (expansion rings around a curated
core).

All are plain DataFrame plans so Catalyst handles the join strategy, and
all follow the distributed-graph playbook rather than the single-node
one:

- triangles use DEGREE ORIENTATION (each undirected edge directed from
  its lower-(degree, id) endpoint), which bounds every node's oriented
  out-degree by O(sqrt(m)) and with it the wedge-join fan-out — the
  standard trick that keeps distributed triangle counting from going
  quadratic on hub nodes (cf. Suri & Vassilvitskii, WWW'11).
- pagerank and BFS are bulk-synchronous loops (the GraphX / Pregel
  shape): O(rounds) iterations, each one edges⋈state shuffle + one
  groupBy, lineage cut every couple of rounds so plan depth stays
  bounded while driver round trips stay halved.

Determinism contract (both engines replay bit-identically): triangle
support is INTEGER-exact; pagerank quantizes the rank vector to a fixed
number of decimals after every iteration, so cross-engine float-sum
ordering differences (~1e-16 relative) can never accumulate across
rounds — the published value is the quantized spec, not a best-effort
float.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle support over an undirected edge list
    (``id_a < id_b``, distinct). Returns (id, degree, triangles) for
    every node incident to at least one edge — integer-exact.

    Plan: degrees are one groupBy over the symmetrized edges; each edge
    is then ORIENTED from its lower-(degree, id) endpoint to the higher,
    so every wedge (u→v, u→w) enumerated by the self-join on the source
    has its apex at the edge's lowest-degree vertex. Oriented out-degree
    is bounded by O(sqrt(m)) — a hub of degree d contributes wedges only
    through its (rare) higher-degree partners, not d² through itself —
    which is what keeps the wedge join safe on the skewed degree
    distributions near-dup graphs actually have (boilerplate hubs). The
    closing join checks the third edge against the SAME oriented list,
    so each triangle materializes exactly once; one final explode spreads
    it to its three corners for the per-node counts. Three shuffles
    total (degree, wedge join, closing join), all over the EDGE set —
    the corpus never enters the plan.
    """
    und = (edges.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
           .union(edges.select(F.col("id_b").alias("u"),
                               F.col("id_a").alias("v"))))
    deg = und.groupBy("u").agg(F.count("*").alias("d")) \
             .select(F.col("u").alias("id"), "d")
    # Orient by (degree, id): direction is a total order, so exactly one
    # of (u→v, v→u) survives per undirected edge.
    da, db = deg.alias("da"), deg.alias("db")
    e = (edges.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
         .join(da, F.col("a") == F.col("da.id"))
         .join(db, F.col("b") == F.col("db.id"))
         .select(
             F.when((F.col("da.d") < F.col("db.d"))
                    | ((F.col("da.d") == F.col("db.d"))
                       & (F.col("a") < F.col("b"))),
                    F.struct(F.col("a").alias("s"), F.col("b").alias("t")))
             .otherwise(
                    F.struct(F.col("b").alias("s"), F.col("a").alias("t")))
             .alias("e"))
         .select("e.s", "e.t"))
    # e is scanned three times (both wedge legs + the closing probe) and
    # deliberately NOT cached: the registry feeds this from an at-rest
    # parquet pair table, so a re-scan is a columnar read, and leaving
    # the plan pure lets ReuseExchange share what it can without pinning
    # executor blocks past the query (the bench leak guard's contract).
    # Wedges at the apex: (s→t1, s→t2) with t1 ordered before t2 in the
    # SAME (degree, id) orientation order — i.e. the closing edge, if it
    # exists, is oriented t1→t2 and the equi-join below finds it.
    w1 = e.select(F.col("s").alias("apex"), F.col("t").alias("t1"))
    w2 = e.select(F.col("s").alias("apex"), F.col("t").alias("t2"))
    closing = e.select(F.col("s").alias("t1"), F.col("t").alias("t2"))
    tri = (w1.join(w2, "apex")
           .join(closing, ["t1", "t2"])  # semi-shape; inner keeps corners
           .select("apex", "t1", "t2"))
    per_node = (tri.select(F.explode(F.array("apex", "t1", "t2"))
                           .alias("id"))
                .groupBy("id").agg(F.count("*").alias("triangles")))
    return (deg.join(per_node, "id", "left")
            .select("id", F.col("d").alias("degree"),
                    F.coalesce("triangles", F.lit(0)).alias("triangles")))


def seed_distances(edges: DataFrame, seeds: DataFrame, max_hops: int = 6,
                   checkpoint_dir: str | None = None) -> DataFrame:
    """Bounded multi-source BFS: minimum hop count from any node in
    ``seeds``, up to ``max_hops``, over a directed edge list. Returns
    (id, hops) for every node reached within the bound — integer-exact.
    The graph-proximity primitive behind "how far is this document from
    the curated core?" expansion tiers and contamination blast-radius
    checks.

    Level-synchronous label minimization, the CC loop's shape with a
    depth counter instead of a min-label: each round unions the current
    distance table with its one-hop extension and re-minimizes — one
    edges⋈labels shuffle + one groupBy per round, O(max_hops) rounds,
    never more than the reached set in flight. ``max_hops`` is a FIXED
    spec (replayable, and at 100 TB a hop budget is a cost decision);
    an empty frontier just makes the remaining rounds no-ops, so a
    converged result equals the fixpoint. Lineage is cut every two
    levels like the other iterative operators (reliable
    under ``checkpoint_dir``, localCheckpoint + superseded-frame
    unpersist otherwise)."""
    spark = edges.sparkSession
    if checkpoint_dir is not None:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)

    def _cut(df: DataFrame) -> DataFrame:
        return df.checkpoint(eager=True) if checkpoint_dir is not None \
            else df.localCheckpoint(eager=True)

    e = _cut(edges.select(F.col("src").alias("_s"), F.col("dst").alias("_t")))
    labels = _cut(seeds.select("id").distinct()
                  .withColumn("hops", F.lit(0).cast("int")))
    pinned = labels
    for i in range(max_hops):
        ll = labels.select(F.col("id").alias("_lid"), "hops")
        hop = (e.join(ll, e["_s"] == ll["_lid"])
               .select(F.col("_t").alias("id"),
                       (F.col("hops") + F.lit(1)).cast("int").alias("hops")))
        labels = (labels.unionByName(hop)
                  .groupBy("id").agg(F.min("hops").alias("hops")))
        # Same cut cadence as pagerank: an uncut level is referenced
        # twice by the next one (union spine + frontier join), the
        # references share identical exchange subtrees (ReuseExchange),
        # and batching two levels per action halves the driver round
        # trips that dominate small-graph rounds.
        if (i + 1) % 2 == 0 or i == max_hops - 1:
            prev = pinned
            labels = _cut(labels)
            pinned = labels
            if checkpoint_dir is None:
                prev.unpersist()
    return labels


def pagerank(edges: DataFrame, nodes: DataFrame, num_iters: int = 10,
             quantize: int = 7, teleport: DataFrame | None = None,
             checkpoint_dir: str | None = None) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list, dangling mass
    redistributed along the teleport vector. Returns (id, pagerank) for
    every node in ``nodes``; the published ranks are the loop's exact
    BIGINT ``10^-quantize``-unit values divided once by
    ``10^quantize`` — no ``round()`` anywhere (rounding already-
    quantized decimals lands on EXACT .5 ties where Java's HALF_UP,
    Python's half-even, and multiply-based rounds split).

    ``teleport`` selects the variant: ``None`` is classic PageRank
    (uniform teleport over all nodes); a frame of node ids makes it
    PERSONALIZED PageRank — restart mass concentrates uniformly on that
    seed set, ranking nodes by proximity to the seeds' similarity
    neighborhood (seed-based corpus expansion: "find me more documents
    like this curated handful"). Both are the SAME recurrence over a
    per-node teleport weight w (1/|S| on seeds, 0 elsewhere; classic =
    every node a seed): r' = (1-d)·w + d·(contribs + dangling·w), with
    the initial vector w itself. The weight is static, so it rides the
    rank frame next to the dangling flag — no per-round recompute.

    Bulk-synchronous contribution loop, the shape every distributed
    PageRank uses (Pregel/GraphX): per round, ranks join the
    outdegree-annotated edges (one shuffle), contributions sum per
    destination (one groupBy sharing the join's partitioning when keys
    align), and the dangling mass — rank parked on nodes with no
    out-edges — is a 1-row aggregate folded back uniformly via a
    broadcast cross-join, INSIDE the round's one job (a driver-side
    collect per round was measured at ~2× the wall clock: with tiny
    graphs the cost of a round is job scheduling, not the joins — the
    same observation that batched the CC fixpoint's hops). Each node's
    dangling status is static (the node set never changes), so it is
    computed once and carried through the rank frame as a flag instead
    of re-derived with a per-round anti-join. Lineage is cut every two
    rounds so plan depth stays bounded instead of one
    join-layer deeper per iteration. ``num_iters`` is a FIXED spec (not
    convergence-tested): at 100 TB the iteration count is a budget
    decision, and a fixed count is also what makes the run replayable.

    Determinism: the recurrence is INTEGER-UNIT — ranks live in BIGINT
    ``10^-quantize`` units, every per-edge contribution is a floor
    division ``r div deg``, the damping factor 0.85 applies as the
    rational 850/1000 in integer multiply-then-floor-divide, and
    the teleport weight is ``SCALE div s`` units. There is NO floating
    point anywhere in the loop, so no engine's float-sum order,
    ``round()`` half-boundary rule, or libm version can perturb a
    single unit — strictly stronger than the previous per-round
    ``round(x, 7)`` contract, whose quantized-rank-over-small-degree
    values landed near 1e-8 midpoints where the engines' float-sum
    orders rounded apart at sf0.1 (the r11 bitwise-audit hazard).
    Floor division sheds mass: at most one unit per edge, per teleport
    share, and per damping term per round — bounded by
    ``iters*(|E|+2|V|)*10^-q``, ~1e-3 at sf0.01's graph, a bias far
    below ranking granularity. The published ranks are the exact
    integer units divided once by ``10^quantize`` — a single
    correctly-rounded IEEE division of exact integers, bit-identical
    in any engine.
    """
    spark = edges.sparkSession
    if checkpoint_dir is not None:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)

    def _cut(df: DataFrame) -> DataFrame:
        # Reliable checkpoint when a dir is given (survives executor
        # churn across a long iteration budget, pins no executor
        # blocks); executor-local otherwise — same trade
        # connected_components documents.
        return df.checkpoint(eager=True) if checkpoint_dir is not None \
            else df.localCheckpoint(eager=True)

    seeds = (teleport if teleport is not None else nodes) \
        .select("id").distinct()
    s = seeds.count()
    if s == 0:
        raise ValueError(
            "pagerank: teleport/seed set is empty — classic PageRank "
            "needs a non-empty node frame, personalized PageRank a "
            "non-empty teleport frame (1/s is undefined at s=0)")
    outdeg = edges.groupBy("src").agg(F.count("*").alias("_d"))
    e = _cut(edges.select(F.col("src").alias("_s"),
                          F.col("dst").alias("_t"))
             .join(outdeg.select(F.col("src").alias("_s"), "_d"), "_s"))
    has_out = e.select(F.col("_s").alias("id")).distinct() \
               .withColumn("_has", F.lit(True))
    # Integer-unit spec: SCALE units of rank mass, damping as the
    # rational dnum/dden, teleport weight SCALE div s units.
    scale = 10 ** quantize
    if s >= scale:
        raise ValueError(
            f"pagerank: {s} seed nodes >= 10^quantize ({scale}) — the "
            "integer teleport weight SCALE div s would underflow to 0 "
            "and every rank with it; raise `quantize` so each seed "
            "holds at least one rank unit")
    # damping 0.85 as 850/1000: dden - dnum stays non-negative, where
    # Spark `div` (truncate toward zero) and DuckDB `//` (floor) agree.
    dnum, dden = 850, 1000
    # (id, _dang, _w, r): the dangling flag and teleport weight ride the
    # rank frame — node, edge, and seed sets are loop invariants, so
    # both are derived once.
    ranks = _cut(nodes.select("id")
                 .join(has_out, "id", "left")
                 .join(seeds.withColumn("_seed", F.lit(True)), "id", "left")
                 .select("id",
                         F.coalesce(~F.col("_has"), F.lit(True))
                         .alias("_dang"),
                         F.when(F.col("_seed"), F.lit(scale // s))
                         .otherwise(F.lit(0)).cast("long").alias("_w"))
                 .withColumn("r", F.col("_w")))
    pinned = ranks
    # r' = ((dden-dnum)·w) div dden + (dnum·(c + (dm·w) div SCALE)) div
    # dden — pure BIGINT multiply/floor-divide; `div` truncates toward
    # zero in Spark and `//` floors in DuckDB, identical on the
    # non-negative units here. Headroom: dm·w ≤ SCALE² = 1e14,
    # dnum·(c + …) ≤ 1000·2·SCALE = 2e10 — far inside BIGINT.
    upd = F.expr(
        f"(({dden - dnum}) * _w) div {dden}"
        f" + ({dnum} * (coalesce(c, CAST(0 AS BIGINT))"
        f"              + (_dm * _w) div {scale})) div {dden}")
    for i in range(num_iters):
        dang = (ranks.filter("_dang")
                .agg(F.coalesce(F.sum("r"), F.lit(0)).cast("long")
                     .alias("_dm")))
        rr = ranks.select(F.col("id").alias("_rid"), "r")
        contribs = (e.join(rr, e["_s"] == rr["_rid"])
                    .groupBy("_t")
                    .agg(F.sum(F.expr("r div _d")).alias("c"))
                    .withColumnRenamed("_t", "id"))
        ranks = (ranks.select("id", "_dang", "_w")
                 .join(contribs, "id", "left")
                 .crossJoin(F.broadcast(dang))
                 .select("id", "_dang", "_w", upd.alias("r")))
        # Lineage cut every ``cut_every`` rounds (and at the end), the
        # CC hop-batching move: on small graphs a round costs its
        # driver action, not its joins. An UNCUT round is referenced 3×
        # by the next one (dangling filter, contribution join, id
        # spine), but those references share canonically-identical
        # exchange subtrees, so ReuseExchange computes the round once —
        # plan text triples, work does not; cut cadence keeps the
        # triplication from compounding past ``cut_every`` rounds.
        if (i + 1) % 2 == 0 or i == num_iters - 1:
            prev = pinned
            ranks = _cut(ranks)
            pinned = ranks
            if checkpoint_dir is None:
                # Local mode: drop the superseded cut's pinned blocks so
                # only ONE rank frame is ever resident; the final frame
                # stays pinned until the caller materializes it (the
                # same documented handle the in-memory CC mode carries).
                prev.unpersist()
    # One correctly-rounded IEEE division of exact integers — the only
    # float in the operator, bit-identical in any engine.
    return ranks.select(
        "id", (F.col("r").cast("double") / F.lit(float(scale)))
        .alias("pagerank"))


def clustering_coefficient(edges: DataFrame) -> DataFrame:
    """Per-node LOCAL CLUSTERING COEFFICIENT over an undirected edge
    list: lcc = triangles / C(degree, 2) — the fraction of a node's
    neighbor pairs that are themselves connected. On a near-dup
    similarity graph this is the density signal that separates tight
    template/boilerplate clusters (lcc → 1: neighbors all mutually
    similar) from hub-like false-positive bridges (high degree, low
    lcc), which is how graph-based curation decides "collapse this
    neighborhood" vs "inspect this hub".

    Pure composition over :func:`triangle_counts` (degree-oriented
    wedge join — the same three edge-set shuffles, nothing new
    materializes), plus one map-side ratio. Nodes of degree < 2 have no
    neighbor pair to close, so lcc is NULL there (not 0 — "undefined"
    and "open wedges" are different facts). Integer triangle/degree
    inputs keep the ratio bit-identical cross-engine at 6 decimals.
    """
    base = triangle_counts(edges)
    pairs = (F.col("degree").cast("double")
             * (F.col("degree") - F.lit(1)).cast("double") / F.lit(2.0))
    return base.select(
        "id", "degree", "triangles",
        F.when(F.col("degree") >= 2,
               F.round(F.col("triangles").cast("double") / pairs, 6))
        .alias("lcc"))


def neighbor_jaccard(edges: DataFrame) -> DataFrame:
    """Per-EDGE neighbor-set Jaccard — the classic link-strength /
    link-prediction score: for an edge (a,b),
    ``|N(a)∩N(b)| / |N(a)∪N(b) − {a,b}|``. On a near-dup graph this
    grades each pair by how much of their neighborhoods agree: an edge
    inside a tight duplicate cluster scores → 1, a spurious bridge
    between unrelated clusters scores → 0 — the per-edge refinement of
    :func:`clustering_coefficient`'s per-node view, and the standard
    pre-filter before trusting transitive closure over noisy pairs.

    Common-neighbor counts are triangle counts PER EDGE: the same
    degree-oriented wedge join as :func:`triangle_counts` (out-degree
    bounded O(sqrt m), hub-safe), with each closed triangle credited to
    its three edges via one explode. Integer counts + one double
    division = bit-identical cross-engine. Returns
    (id_a, id_b, common_neighbors, jaccard) for every input edge,
    zero-common edges included."""
    und = (edges.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
           .union(edges.select(F.col("id_b").alias("u"),
                               F.col("id_a").alias("v"))))
    deg = und.groupBy("u").agg(F.count("*").alias("d")) \
             .select(F.col("u").alias("id"), "d")
    da, db = deg.alias("da"), deg.alias("db")
    e = (edges.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
         .join(da, F.col("a") == F.col("da.id"))
         .join(db, F.col("b") == F.col("db.id"))
         .select(
             F.when((F.col("da.d") < F.col("db.d"))
                    | ((F.col("da.d") == F.col("db.d"))
                       & (F.col("a") < F.col("b"))),
                    F.struct(F.col("a").alias("s"), F.col("b").alias("t")))
             .otherwise(
                    F.struct(F.col("b").alias("s"), F.col("a").alias("t")))
             .alias("e"))
         .select("e.s", "e.t"))
    w1 = e.select(F.col("s").alias("apex"), F.col("t").alias("t1"))
    w2 = e.select(F.col("s").alias("apex"), F.col("t").alias("t2"))
    closing = e.select(F.col("s").alias("t1"), F.col("t").alias("t2"))
    tri = (w1.join(w2, "apex")
           .join(closing, ["t1", "t2"])
           .select("apex", "t1", "t2"))
    # credit each triangle to its 3 edges, normalized (lo, hi)
    per_edge = (tri.select(F.explode(F.array(
        F.struct(F.least("apex", "t1").alias("lo"),
                 F.greatest("apex", "t1").alias("hi")),
        F.struct(F.least("apex", "t2").alias("lo"),
                 F.greatest("apex", "t2").alias("hi")),
        F.struct(F.least("t1", "t2").alias("lo"),
                 F.greatest("t1", "t2").alias("hi")))).alias("p"))
        .groupBy("p.lo", "p.hi")
        .agg(F.count("*").alias("common")))
    base = (edges.select(F.least("id_a", "id_b").alias("lo"),
                         F.greatest("id_a", "id_b").alias("hi"))
            .join(per_edge, ["lo", "hi"], "left")
            .join(da, F.col("lo") == F.col("da.id"))
            .join(db, F.col("hi") == F.col("db.id"))
            .select(F.col("lo").alias("id_a"), F.col("hi").alias("id_b"),
                    F.coalesce("common", F.lit(0)).alias("common"),
                    F.col("da.d").alias("d_a"), F.col("db.d").alias("d_b")))
    union_sz = (F.col("d_a") + F.col("d_b") - 2 - F.col("common"))
    return base.select(
        "id_a", "id_b",
        F.col("common").cast("bigint").alias("common_neighbors"),
        F.round(F.when(union_sz > 0,
                       F.col("common").cast("double")
                       / union_sz.cast("double"))
                .otherwise(F.lit(0.0)), 6).alias("jaccard"))


def kcore(edges: DataFrame, k: int = 3, cut_every: int = 2) -> DataFrame:
    """k-core extraction by 8 PEELING iterations: repeatedly
    drop nodes whose degree within the surviving subgraph is < ``k``.
    The k-core is the classic robust-density region — unlike a raw
    degree cut, membership survives the removal of its weakest
    neighbors, which is what makes it the "keep the genuinely dense
    duplicate mass, shed the hair" selector on near-dup graphs (and the
    usual seed set for community/influence work). Returns
    (id, degree) for nodes alive after the final round, degree measured
    in the surviving subgraph.

    FIXED-ITERATION SPEC, the pagerank discipline: the published result
    is "8 peels", bit-reproducible in both engines (the oracle
    unrolls the same rounds as materialized CTEs); peeling converges in
    a handful of rounds on bounded-degeneracy graphs, and a converged
    round is a no-op so extra rounds are safe. Integer degrees — no FP
    surface at all. Each round is one semi-join (edges ⋈ survivors ×2)
    + one degree groupBy over the shrinking edge set.

    The symmetrized edge frame is MATERIALIZED ONCE up front
    (localCheckpoint, seed_distances' recipe): callers typically derive
    edges from a join/mine (the co-purchase self-join in the registry
    query), and an unmaterialized lineage would re-run that derivation
    once per round per semi-join — measured 12.5 s → ~2 s at sf0.1. Survivor frames
    cut every ``cut_every`` rounds so plan depth stays bounded, with
    superseded frames unpersisted."""
    und = (edges.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
           .union(edges.select(F.col("id_b").alias("u"),
                               F.col("id_a").alias("v")))
           .localCheckpoint(eager=True))
    deg = und.groupBy("u").agg(F.count("*").alias("d"))
    alive = deg.filter(F.col("d") >= k).select(F.col("u").alias("id"))
    pinned = None
    last_n = None
    for r in range(1, 8):
        e = (und.join(alive.withColumnRenamed("id", "u"), "u", "leftsemi")
             .join(alive.withColumnRenamed("id", "v"), "v", "leftsemi"))
        deg = e.groupBy("u").agg(F.count("*").alias("d"))
        alive = deg.filter(F.col("d") >= k).select(F.col("u").alias("id"))
        if r % cut_every == 0:
            prev = pinned
            alive = alive.localCheckpoint(eager=True)
            pinned = alive
            if prev is not None:
                prev.unpersist()
            # Early exit at the fixpoint: survivor sets only SHRINK, so
            # an unchanged count at a materialized cut IS set equality,
            # and a converged round is a no-op — the early exit returns
            # exactly the full unroll's result while skipping its cost
            # (the count itself reads the just-materialized cut, not
            # the peel lineage).
            n = alive.count()
            if n == last_n:
                break
            last_n = n
    e = (und.join(alive.withColumnRenamed("id", "u"), "u", "leftsemi")
         .join(alive.withColumnRenamed("id", "v"), "v", "leftsemi"))
    return (e.groupBy(F.col("u").alias("id"))
            .agg(F.count("*").cast("bigint").alias("degree"))
            .filter(F.col("degree") >= k))


def label_propagation(edges: DataFrame, rounds: int = 2,
                      symmetric_distinct: bool = False) -> DataFrame:
    """Synchronous label propagation for community detection, run for a
    FIXED number of rounds (pagerank's fixed-iteration discipline — LPA
    famously oscillates under free-running synchronous updates, so a
    bounded unroll with a deterministic tie-break is the reproducible
    form): every node starts as its own label; each round it adopts the
    label most frequent among its neighbors, ties broken to the
    SMALLEST label id. Returns (node, label) after ``rounds`` rounds.

    Each round is one edge-scale join (labels onto edges) + one
    (node, label) count + one per-node argmax — the BSP shape; nothing
    driver-side. ``edges`` must be symmetric (src, dst); isolated nodes
    keep their own label (left join back onto the node set). The argmax
    is ``min_by(label, struct(-count, label))`` — a full aggregate with
    map-side partial aggregation instead of the r13 row_number window
    (guide §2.3, aggregate before you shuffle: the window form shipped
    every (node, label) row into a node-partitioned sort; min_by's
    ordering key (count DESC, label ASC) is the identical total order,
    so the picked labels are bit-identical while map tasks combine down
    to one row per node before the exchange).

    ``symmetric_distinct=True`` is the caller's assertion that the edge
    set is BOTH symmetric and duplicate-free, which licenses two exact
    algebraic shortcuts (outputs provably identical, pinned by tests):

    - Round 1 degenerates to ``min(src) per dst``: initial labels are
      the identity, so the joined label of every neighbor row is its
      ``src``, and with distinct edges every (dst, label) count is
      EXACTLY 1 — the argmax under (count DESC, label ASC) is simply
      the smallest neighbor id. One groupBy replaces the round's
      join + count + argmax.
    - Every node appears as ``dst`` (symmetry), so each round's argmax
      emits exactly one row per node and the per-round
      ``nodes LEFT JOIN picked`` coalesce is the identity — dropped,
      along with the ``nodes`` frame itself.

    Unlike :func:`kcore` — whose per-round MATERIALIZING actions force
    the edge frame to be checkpointed up front — this unroll is ONE
    lazy plan with no intermediate actions, so Catalyst's exchange
    reuse already deduplicates the edge-mine subtree across rounds:
    an sf0.1 A/B measured the raw lineage at 3.10 s vs 3.44 s with an
    up-front reliable checkpoint (the extra write+read costs more than
    it saves)."""
    # argmax under the (count DESC, label ASC) total order; label is
    # unique within each node's rows, so the ordering key has no ties
    # and the pick is deterministic in any engine.
    def _argmax(nbr: DataFrame) -> DataFrame:
        return (nbr.groupBy("node")
                .agg(F.min_by("label",
                              F.struct((-F.col("_c")).alias("_nc"),
                                       F.col("label"))).alias("label")))

    if symmetric_distinct:
        labels = None
        for r in range(rounds):
            if r == 0:
                labels = (edges.groupBy(F.col("dst").alias("node"))
                          .agg(F.min("src").alias("label")))
            else:
                nbr = (edges.join(labels.withColumnRenamed("node", "src"),
                                  "src")
                       .groupBy(F.col("dst").alias("node"), "label")
                       .agg(F.count("*").alias("_c")))
                labels = _argmax(nbr)
        if labels is None:  # rounds == 0: identity labels
            labels = (edges.select(F.col("src").alias("node")).distinct()
                      .select("node", F.col("node").alias("label")))
        return labels

    nodes = (edges.select(F.col("src").alias("node"))
             .union(edges.select(F.col("dst").alias("node")))
             .distinct())
    labels = nodes.select("node", F.col("node").alias("label"))
    for _ in range(rounds):
        nbr = (edges.join(labels.withColumnRenamed("node", "src"), "src")
               .groupBy(F.col("dst").alias("node"), "label")
               .agg(F.count("*").alias("_c")))
        picked = _argmax(nbr)
        labels = (nodes.join(picked, "node", "left")
                  .select("node",
                          F.coalesce(picked["label"],
                                     F.col("node")).alias("label")))
    return labels


def adamic_adar(edges: DataFrame) -> DataFrame:
    """Per-edge Adamic–Adar score — the frequency-weighted
    link-prediction refinement of :func:`neighbor_jaccard`:
    ``AA(a,b) = Σ_{w ∈ N(a)∩N(b)} 1/ln(deg(w))``, so a common neighbor
    shared with half the graph contributes almost nothing while a rare
    mutual contact is strong evidence (Adamic & Adar, 2003). Returns
    (id_a, id_b, common_neighbors, adamic_adar) for every input edge.

    Same degree-oriented wedge join as :func:`triangle_counts` (hub-safe
    O(√m) out-degrees), but the per-triangle explode carries WHICH node
    is the common neighbor of each credited edge, so the weight can
    look up that node's degree. Each 1/ln(deg) weight is quantized to
    DECIMAL(18,9) BEFORE summing — decimal sums are order-free, so the
    aggregate is engine-reproducible (a raw double sum would depend on
    partition order); a common neighbor has degree ≥ 2 by construction,
    so ln is never 0. The 9-dp round sits in the same accepted last-ulp
    libm-ln risk class documented at :func:`pagerank`."""
    und = (edges.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
           .union(edges.select(F.col("id_b").alias("u"),
                               F.col("id_a").alias("v"))))
    deg = und.groupBy("u").agg(F.count("*").alias("d")) \
             .select(F.col("u").alias("id"), "d")
    da, db = deg.alias("da"), deg.alias("db")
    e = (edges.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
         .join(da, F.col("a") == F.col("da.id"))
         .join(db, F.col("b") == F.col("db.id"))
         .select(
             F.when((F.col("da.d") < F.col("db.d"))
                    | ((F.col("da.d") == F.col("db.d"))
                       & (F.col("a") < F.col("b"))),
                    F.struct(F.col("a").alias("s"), F.col("b").alias("t")))
             .otherwise(
                    F.struct(F.col("b").alias("s"), F.col("a").alias("t")))
             .alias("e"))
         .select("e.s", "e.t"))
    w1 = e.select(F.col("s").alias("apex"), F.col("t").alias("t1"))
    w2 = e.select(F.col("s").alias("apex"), F.col("t").alias("t2"))
    closing = e.select(F.col("s").alias("t1"), F.col("t").alias("t2"))
    tri = (w1.join(w2, "apex")
           .join(closing, ["t1", "t2"])
           .select("apex", "t1", "t2"))
    # credit each triangle to its 3 edges, carrying the edge's common
    # neighbor (the triangle's third vertex)
    per_edge = (tri.select(F.explode(F.array(
        F.struct(F.least("apex", "t1").alias("lo"),
                 F.greatest("apex", "t1").alias("hi"),
                 F.col("t2").alias("w")),
        F.struct(F.least("apex", "t2").alias("lo"),
                 F.greatest("apex", "t2").alias("hi"),
                 F.col("t1").alias("w")),
        F.struct(F.least("t1", "t2").alias("lo"),
                 F.greatest("t1", "t2").alias("hi"),
                 F.col("apex").alias("w")))).alias("p"))
        .select("p.lo", "p.hi", "p.w")
        .join(deg.select(F.col("id").alias("w"),
                         F.col("d").alias("dw")), "w")
        .groupBy("lo", "hi")
        .agg(F.count("*").alias("common"),
             F.sum(F.round(F.lit(1.0) / F.log("dw"), 9)
                   .cast("decimal(18,9)")).alias("aas")))
    zero = F.lit(0).cast("decimal(18,9)")
    return (edges.select(F.least("id_a", "id_b").alias("lo"),
                         F.greatest("id_a", "id_b").alias("hi"))
            .join(per_edge, ["lo", "hi"], "left")
            .select(F.col("lo").alias("id_a"), F.col("hi").alias("id_b"),
                    F.coalesce("common", F.lit(0)).cast("bigint")
                    .alias("common_neighbors"),
                    F.round(F.coalesce(F.col("aas"), zero).cast("double"),
                            6).alias("adamic_adar")))
