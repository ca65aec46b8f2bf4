"""Similarity search over an embedding column (north-star extension).

Three tiers, trading recall for scan cost:

- **Brute force** — probe broadcast against the full corpus: one narrow
  map pass, exact. The baseline every ANN variant is graded against, and
  at 100 TB still the right plan when the QUERY side is small (corpus
  streams, no shuffle).
- **IVF** (inverted-file) — corpus pre-partitioned by nearest coarse
  centroid; a probe searches only its cell. Cuts the scanned fraction to
  ~1/n_centroids. Centroids here are the first K vectors (deterministic,
  so the DuckDB oracle can reproduce the partitioning); production would
  plug k-means centroids into the same plan.
- **Random-hyperplane LSH** (sign-random-projection) — bit signature per
  vector; same-bucket vectors are candidates. Planes are md5-derived
  constants, so signatures are reproducible everywhere.

All cosine math in double via ``functions/vectors.py`` (bit-identical to
DuckDB). Results carry ``round(..., 6)`` display values but are RANKED on
full precision.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashes import md5_hash32
from ..functions.vectors import as_double, cosine, cosine_with_norms, l2_norm


def _probe(emb: DataFrame, probe_id, id_col: str, vec_col: str) -> DataFrame:
    return (emb.filter(F.col(id_col) == probe_id)
            .select(as_double(F.col(vec_col)).alias("probe_vec"),
                    l2_norm(as_double(F.col(vec_col))).alias("probe_norm")))


def brute_force_topk(emb: DataFrame, probe_id, k: int = 20) -> DataFrame:
    """Exact cosine top-k vs one probe vector. Broadcast of a single row;
    ranking ties broken by id for determinism. The probe's norm ships in
    the broadcast, so the corpus pass runs two array aggregates per row
    (dot + own norm), not three."""
    scored = (emb.filter(F.col("vec_id") != probe_id)
              .select(F.col("vec_id"),
                      as_double(F.col("embedding")).alias("v"))
              .crossJoin(F.broadcast(_probe(emb, probe_id, "vec_id",
                                            "embedding")))
              .select(F.col("vec_id"),
                      cosine_with_norms(F.col("v"), F.col("probe_vec"),
                                        l2_norm(F.col("v")),
                                        F.col("probe_norm")).alias("_cos")))
    return (scored.orderBy(F.desc("_cos"), "vec_id").limit(k)
            .select("vec_id", F.round("_cos", 6).alias("cosine_sim")))


def radius_search(emb: DataFrame, n_probes: int = 10,
                  threshold: float = 0.3) -> DataFrame:
    """Range (radius) search: EVERY corpus vector within a cosine
    threshold of each probe (ids < ``n_probes``) — the other half of
    vector retrieval next to top-k. Top-k answers "the best k no matter
    how bad"; radius answers "everything at least this similar, no
    matter how many" — the form candidate generation for near-dup
    verification and recall-bounded retrieval actually needs (a top-k
    silently truncates dense neighborhoods; a radius never does).
    Returns (probe_id, vec_id, cosine_sim), unranked.

    Plan: identical scan shape to :func:`multi_probe_topk` — probe set
    (with norms) broadcasts, corpus streams through ONE map pass scoring
    all probes per row — but the window rank is replaced by a plain
    filter, so the operator is map-only after the scan: no shuffle at
    all, embarrassingly parallel at any corpus size. At 100 TB the same
    filter runs inside the IVF cell-pruned scan
    (:func:`ivf_topk_partitioned`'s layout) to cut the scanned fraction.

    Engine determinism: the threshold compares the 6-dp ROUNDED cosine
    (mirrored in the oracle), so the keep/drop boundary is quantized —
    the lesson of the r9 flag-boundary flakes applied at design time."""
    base = emb.select(F.col("vec_id").alias("id"),
                      as_double(F.col("embedding")).alias("v"))
    probes = (base.filter(F.col("id") < n_probes)
              .select(F.col("id").alias("probe_id"),
                      F.col("v").alias("pv"),
                      l2_norm(F.col("v")).alias("pn")))
    corpus = (base.filter(F.col("id") >= n_probes)
              .withColumn("nv", l2_norm(F.col("v"))))
    return (corpus.crossJoin(F.broadcast(probes))
            .select("probe_id", F.col("id").alias("vec_id"),
                    F.round(cosine_with_norms(F.col("v"), F.col("pv"),
                                              F.col("nv"), F.col("pn")),
                            6).alias("cosine_sim"))
            .filter(F.col("cosine_sim") >= threshold))


def mmr_diversify(emb: DataFrame, probe_id, k: int = 10, pool: int = 20,
                  lam: float = 0.7, mu: float = 0.3) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR 1998): greedily pick ``k`` of the top-``pool`` candidates,
    each step maximizing ``lam·rel(d) − mu·max_{s∈selected} sim(d, s)``
    — the diversification pass an LLM retrieval pipeline runs so the k
    contexts aren't k near-copies of the best hit. Returns
    (vec_id, mmr_rank, mmr_score) in selection order.

    Distribution shape: the corpus-scale work is the pool top-k
    (broadcast probe + TakeOrderedAndProject) and one pool×pool cosine
    self-join (≤ tens of rows); the greedy loop itself is inherently
    sequential, so it runs coordinator-side over the collected pool —
    the standard ANN-coordinator footprint (k·pool comparisons on
    pool-sized state), same class as the centroid model collect.

    Engine determinism: the greedy consumes the 6-dp ROUNDED relevance
    and pairwise sims — identical doubles on every engine — and the
    objective ``lam·rel − mu·div`` is two multiplies and a subtract on
    those identical inputs, so it is bit-identical in Python, Spark,
    and DuckDB and is used UNROUNDED for both selection and the output
    score (a final 6-dp round was the one place the engines could
    disagree: Python rounds half-to-even, SQL half-away — a score
    landing on a half-digit flipped the last decimal). ``lam``/``mu``
    are separate literals because ``1 − 0.7`` is not the double
    ``0.3``."""
    spark = emb.sparkSession
    pool_rows = brute_force_topk(emb, probe_id, pool) \
        .collect()
    rel = {r["vec_id"]: r["cosine_sim"] for r in pool_rows}
    pool_ids = list(rel)
    base = (emb.filter(F.col("vec_id").isin(pool_ids))
            .select(F.col("vec_id").alias("ia"),
                    as_double(F.col("embedding")).alias("va")))
    other = base.select(F.col("ia").alias("ib"), F.col("va").alias("vb"))
    sim: dict[tuple, float] = {}
    for r in (base.crossJoin(other).filter(F.col("ia") < F.col("ib"))
              .select("ia", "ib",
                      F.round(cosine(F.col("va"), F.col("vb")), 6)
                      .alias("s")).collect()):
        sim[(r.ia, r.ib)] = sim[(r.ib, r.ia)] = r.s
    selected: list[tuple] = []
    chosen: list = []
    # Candidates scan in ASCENDING id order with a strict > compare, so
    # the smallest id wins ties — uniformly, for int AND string ids
    # (matching the oracle's ascending-id tie-break; a keyed compare on
    # -d only worked for ints and inverted for strings).
    order = sorted(pool_ids)
    while len(selected) < min(k, len(pool_ids)):
        best_d, best_sc = None, None
        for d in order:
            if d in chosen:
                continue
            div = max((sim[(d, s)] for s in chosen), default=0.0)
            sc = lam * rel[d] - mu * div
            if best_sc is None or sc > best_sc:
                best_d, best_sc = d, sc
        selected.append((best_d, len(selected) + 1, best_sc))
        chosen.append(best_d)
    from pyspark.sql.types import (DoubleType, IntegerType, StructField,
                                   StructType)
    # The id field keeps the INPUT column's type — string ids used to
    # fail at createDataFrame against a hardcoded `long`.
    schema = StructType([StructField("vec_id", emb.schema["vec_id"].dataType),
                         StructField("mmr_rank", IntegerType()),
                         StructField("mmr_score", DoubleType())])
    return spark.createDataFrame(selected, schema)


def knn_graph(emb: DataFrame, k: int = 5, num_planes: int = 6,
              dim: int | None = None) -> DataFrame:
    """Blocked k-NN graph: per vector, its ``k`` nearest SRP-candidate
    neighbors by exact cosine — the graph SemDeDup-style clustering,
    label propagation, and graph-based curation consume. APPROXIMATE by
    construction and documented as such: neighbors come from the SRP
    candidate blocks (a vector whose true neighbor never shares a
    bucket in either of the 2 tables misses it — recall grows with tables,
    the same OR-amplification dial the near-dup pairs use), which is
    what keeps the build O(candidates) instead of the all-pairs O(n²)
    no 100 TB corpus survives. Returns
    (vec_id, neighbor_id, cosine_sim, knn_rank), rank 1 = nearest.

    Plan: the candidate-pair miner is reused verbatim (threshold −1
    keeps every verified candidate), pairs symmetrize with a cheap
    union, and one (src)-partitioned rank window cuts top-k — ranked on
    the ROUNDED cosine with id tie-breaks so the DuckDB twin replays
    the exact ordering."""
    pairs = cosine_neardup_pairs(emb, threshold=-1.0,
                                 num_planes=num_planes,
                                 num_tables=2, dim=dim)
    edges = (pairs.select(F.col("id_a").alias("src"),
                          F.col("id_b").alias("dst"), "cosine_sim")
             .unionByName(pairs.select(F.col("id_b").alias("src"),
                                       F.col("id_a").alias("dst"),
                                       "cosine_sim")))
    w = Window.partitionBy("src").orderBy(F.desc("cosine_sim"), "dst")
    return (edges.withColumn("knn_rank", F.row_number().over(w))
            .filter(F.col("knn_rank") <= k)
            .select(F.col("src").alias("vec_id"),
                    F.col("dst").alias("neighbor_id"),
                    "cosine_sim", "knn_rank"))


def cosine_neardup_pairs(emb: DataFrame, threshold: float,
                         block_col: str | None = None, num_planes: int = 6,
                         num_tables: int = 2,
                         dim: int | None = None) -> DataFrame:
    """Embedding near-dup pairs with cosine ≥ threshold, blocked so the
    self-join is per-bucket instead of full cross. Returns
    (id_a, id_b, cosine_sim), id_a < id_b.

    Blocking key: by default an UNSUPERVISED sign-random-projection bucket
    (``num_tables`` independent plane sets, OR-amplified — candidates
    match in ANY table), since real corpora carry no labels. Pass
    ``block_col`` to block on a supervised column instead.

    Plan shape mirrors :func:`~.dedup.minhash_lsh_pairs`: signatures are a
    narrow map pass; the (table_idx, bucket) self-join is the only shuffle
    and is O(candidates); candidates are verified with exact cosine. At
    100 TB this is the bucketed form that never goes quadratic; recall is
    tuned by ``num_planes`` (bucket size) × ``num_tables`` (OR tries).
    """
    v = as_double(F.col("embedding"))
    base = emb.select(F.col("vec_id").alias("id"), v.alias("v"),
                      l2_norm(v).alias("nv"),
                      *( [F.col(block_col).alias("blk")] if block_col else [] ))
    if block_col is not None:
        # Norms hoisted to once per vector (bit-identical hoist): each
        # candidate pair costs one dot-product pass, not three aggregates.
        sim = cosine_with_norms(F.col("a.v"), F.col("b.v"),
                                F.col("a.nv"), F.col("b.nv"))
        a, b = base.alias("a"), base.alias("b")
        return (a.join(b, (F.col("a.blk") == F.col("b.blk")) &
                          (F.col("a.id") < F.col("b.id")))
                .select(F.col("a.id").alias("id_a"),
                        F.col("b.id").alias("id_b"), sim.alias("_cos"))
                .filter(F.col("_cos") >= threshold)
                .select("id_a", "id_b",
                        F.round("_cos", 6).alias("cosine_sim")))
    dim = _vec_dim(emb, "embedding", dim)
    tables = [srp_planes(num_planes, dim, table=t) for t in range(num_tables)]
    # Signature dot products are interpreted HOFs — spread small
    # single-split inputs across cores before the CPU-heavy pass.
    from .dedup import ensure_min_parallelism
    sigs = ensure_min_parallelism(base).withColumn(
        "buckets", F.array(*[srp_signature(F.col("v"), p) for p in tables]))
    # Candidate stream is (id, buckets, table_idx, bucket) — the 64-dim
    # vectors never ride the bucket shuffle (the num_tables-int bucket
    # array does, so the first-match filter below can run join-side);
    # vectors re-join onto the candidate pair set for the verify pass.
    # posexplode_OUTER: the bucket array is a fixed num_tables of SRP
    # signatures (never null/empty), and an inner generate would get an
    # inferred size()>0 filter that re-runs every table's plane dot
    # products a second time (see dedup.minhash_lsh_pairs).
    buckets = sigs.select(
        "id", "buckets",
        F.posexplode_outer("buckets").alias("table_idx", "bucket"))
    a, b = buckets.alias("a"), buckets.alias("b")
    # FIRST-MATCHING-TABLE emission (same rewrite as simhash_near_pairs):
    # a pair colliding in m tables would surface m times; requiring every
    # earlier table's buckets to differ keeps exactly one occurrence, so
    # the candidate stream reaches the verify joins with NO dedup
    # exchange (measured 3× on this stage at sf0.1, identical output).
    first_match = F.lit(True)
    for t in range(num_tables):
        first_match = first_match & (
            (F.lit(t) >= F.col("table_idx"))
            | (F.element_at(F.col("a.buckets"), t + 1)
               != F.element_at(F.col("b.buckets"), t + 1)))
    cand = (a.join(b, ["table_idx", "bucket"])
            .filter(F.col("a.id") < F.col("b.id"))
            .filter(first_match)
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")))
    va = sigs.select(F.col("id").alias("id_a"), F.col("v").alias("v_a"),
                     F.col("nv").alias("nv_a"))
    vb = sigs.select(F.col("id").alias("id_b"), F.col("v").alias("v_b"),
                     F.col("nv").alias("nv_b"))
    verify = cosine_with_norms(F.col("v_a"), F.col("v_b"),
                               F.col("nv_a"), F.col("nv_b"))
    return (cand.join(va, "id_a").join(vb, "id_b")
            .withColumn("_cos", verify)
            .filter(F.col("_cos") >= threshold)
            .select("id_a", "id_b", F.round("_cos", 6).alias("cosine_sim")))


def _vec_base(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    v = as_double(F.col(vec_col))
    return emb.select(F.col(id_col).alias("id"), v.alias("v"),
                      l2_norm(v).alias("nv"))


def _centroid_frame(base: DataFrame, n_centroids: int,
                    centroids: list[list[float]] | None) -> DataFrame:
    """Centroid set as a (cid, cv, cnv) frame. ``centroids=None`` uses the
    first ``n_centroids`` vectors by id (deterministic, so the DuckDB
    oracle can reproduce the partitioning); pass :func:`kmeans_centroids`
    output for the production-quality split."""
    if centroids is None:
        return (base.filter(F.col("id") < n_centroids)
                .select(F.col("id").cast("int").alias("cid"),
                        F.col("v").alias("cv"), F.col("nv").alias("cnv")))
    spark = base.sparkSession
    rows = [(i, [float(x) for x in c]) for i, c in enumerate(centroids)]
    cdf = spark.createDataFrame(rows, "cid int, cv array<double>")
    return cdf.select("cid", "cv", l2_norm(F.col("cv")).alias("cnv"))


def _assign(base: DataFrame, cents: DataFrame) -> DataFrame:
    """Per-vector max-cosine centroid via broadcast + argmax window."""
    scored = (base.crossJoin(F.broadcast(cents))
              .select("id", "v", "nv", "cid",
                      cosine_with_norms(F.col("v"), F.col("cv"),
                                        F.col("nv"), F.col("cnv"))
                      .alias("_cos")))
    w = Window.partitionBy("id").orderBy(F.desc("_cos"), F.col("cid"))
    return (scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("id", "v", "nv", F.col("cid").alias("centroid")))


def ivf_assign(emb: DataFrame, n_centroids: int = 16) -> DataFrame:
    """Assign every vector to its max-cosine coarse centroid. Returns
    (id, v, nv, centroid).

    Plan: corpus ⋈ broadcast(centroids) → per-vector argmax via one
    window; the corpus is scanned once. At scale the assignment is
    computed at ingest and stored as a partition column — queries then
    prune to one cell for free.
    """
    base = _vec_base(emb, "vec_id", "embedding")
    return _assign(base, _centroid_frame(base, n_centroids, None))


def cell_balanced_sample(emb: DataFrame, cap: int,
                         n_centroids: int = 16) -> DataFrame:
    """Density-balanced corpus sampling over coarse embedding cells —
    the cluster-pruning step of an LLM data pipeline (SSL-prototypes /
    DeDup-then-balance style: dense regions of embedding space are
    over-represented crawl boilerplate, so keep at most ``cap`` docs per
    cell instead of sampling the corpus uniformly). Returns the kept
    rows as (id, centroid, cell_rank).

    Selection within a cell is a deterministic md5 shuffle key — the
    same engine-reproducible uniformizer as ``cur_sample_stratified``
    and the epoch shuffle — so reruns (and the DuckDB oracle) pick the
    same representatives; ties cannot occur (ids are unique).

    Plan: one broadcast-assign pass over the corpus (``ivf_assign``) and
    ONE exchange on the cell id for the per-cell rank — no per-cell
    collect, no global sort. At 100 TB the assignment is already a
    partition column (``write_ivf_partitioned``) and the rank window
    runs per cell-partition; ``cap`` bounds every cell's output, so the
    result is ≤ cap × n_centroids rows regardless of corpus size."""
    assigned = ivf_assign(emb, n_centroids)
    w = (Window.partitionBy("centroid")
         .orderBy(md5_hash32(F.col("id")), F.col("id")))
    return (assigned.select("id", "centroid")
            .withColumn("cell_rank", F.row_number().over(w))
            .filter(F.col("cell_rank") <= cap)
            .select(F.col("id").alias("vec_id"), "centroid", "cell_rank"))


def cell_semantic_dedup(emb: DataFrame, threshold: float = 0.35,
                        n_cells: int = 16) -> DataFrame:
    """CELL-BLOCKED semantic deduplication — the paper-faithful SemDeDup
    shape (Abbas et al. 2023: k-means cells, pairs mined per cluster):
    assign every embedding to a coarse
    cell, mine near-duplicate pairs ONLY within cells, and keep one
    representative per duplicate relation. Returns the survivors as
    (vec_id, cell).

    Drop rule: a vector is dropped iff some SAME-CELL vector with a
    smaller id has cosine ≥ ``threshold`` to it — the deterministic
    pairwise form of SemDeDup's keep-one-per-ε-ball (a transitive chain
    a~b~c with no a~c edge keeps a AND c; full connected components is
    ``dedup.connected_components`` over these pairs when the stricter
    policy is wanted). min-id is the same representative choice as
    ``exact_dedup``.

    Plan at 100 TB: one broadcast-assign pass (``ivf_assign``; at rest
    the cell IS a partition column, see ``write_ivf_partitioned``), then
    the pair self-join shuffles on the cell id only — within-cell
    quadratic, never corpus-quadratic, the same bound the paper's
    per-cluster pass has; the drop set re-enters as a left_anti join
    left UNHINTED — its size is data-dependent (dup-rate × corpus), so
    AQE picks broadcast only when it measures small. Centroids default
    to the deterministic first-``n_cells`` model so an oracle can
    replicate the partitioning; pass ``kmeans_centroids`` output for
    the production fit."""
    assigned = ivf_assign(emb, n_cells)
    sim = cosine_with_norms(F.col("a.v"), F.col("b.v"),
                            F.col("a.nv"), F.col("b.nv"))
    a, b = assigned.alias("a"), assigned.alias("b")
    dropped = (a.join(b, (F.col("a.centroid") == F.col("b.centroid"))
                         & (F.col("a.id") < F.col("b.id")))
               .filter(sim >= threshold)
               .select(F.col("b.id").alias("id")).distinct())
    return (assigned.join(dropped, "id", "left_anti")
            .select(F.col("id").alias("vec_id"),
                    F.col("centroid").alias("cell")))


def cell_recall_report(emb: DataFrame, threshold: float = 0.35) -> DataFrame:
    """Pair-recall certification of CELL blocking against the EXACT
    all-pairs cosine ground truth — the SemDeDup twin of
    ``dedup.lsh_recall_report``: before a 100 TB deployment trusts
    :func:`cell_semantic_dedup` (which can only drop a duplicate its
    cell partitioning lets it SEE), measure what fraction of the true
    cos ≥ ``threshold`` pairs land in the same coarse cell, and how
    much verify work the within-cell candidate set wastes. One row:
    (n_true_pairs, n_candidate_pairs, n_found_pairs, n_missed_pairs,
    recall, candidate_precision).

    Membership is the SAME cosine expression (``cosine_with_norms``,
    bit-identical to the per-pair form) and the same threshold literal
    on both the truth and the blocked side, so found ⊆ truth by
    construction and recall is one correctly-rounded IEEE division of
    exact BIGINT counts. A pair missed here is a boundary straddler —
    two near-identical vectors argmax-assigned to different centroids —
    which is exactly the failure mode SemDeDup's ε-ball-per-cluster
    approximation accepts; this query prices it.

    Plan: the truth side is DELIBERATELY brute-force all-pairs (one
    broadcast nested-loop self-join) — certification harness only, run
    on a bounded audit sample in production, same honesty note as
    ``exact_quantiles``; the candidate side is the identical
    broadcast-assign + cell-keyed self-join the certified operator
    pays; the three counts are 1-row aggregates cross-joined broadcast.
    """
    # The certification corpus arrives as one small parquet split; the
    # nested-loop truth join parallelizes over LEFT partitions, so an
    # unspread left side would run every interpreted-HOF cosine on one
    # core (measured 30s -> ~2s at sf0.1). Per-pair cosines and integer
    # counts are partitioning-invariant, so the spread is bit-free.
    from .dedup import ensure_min_parallelism
    base = ensure_min_parallelism(_vec_base(emb, "vec_id", "embedding"))
    sim = cosine_with_norms(F.col("a.v"), F.col("b.v"),
                            F.col("a.nv"), F.col("b.nv"))
    a, b = base.alias("a"), base.alias("b")
    truth = (a.join(b, F.col("a.id") < F.col("b.id"))
             .filter(sim >= threshold)
             .select(F.col("a.id").alias("id_a"),
                     F.col("b.id").alias("id_b")))
    assigned = ivf_assign(emb, 16)
    ca, cb = assigned.alias("a"), assigned.alias("b")
    cand = (ca.join(cb, (F.col("a.centroid") == F.col("b.centroid"))
                        & (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id").alias("id_a"),
                    F.col("b.id").alias("id_b")))
    # Pin both pair sets (lazy localCheckpoint): each is referenced
    # twice (found semi-join + its own count), and NEITHER sits behind
    # a shuffle exchange the runtime could reuse — the truth side is a
    # broadcast nested-loop and the cell join broadcasts too, so
    # without the pin the 2M-pair HOF cosine scan runs twice (contrast
    # dedup.lsh_recall_report, where the references ARE behind
    # identical exchanges and pinning measured slower). A/B at sf0.1:
    # 3.25 s → 2.68 s best-of-5 interleaved, identical row.
    truth = truth.localCheckpoint(eager=False)
    cand = cand.localCheckpoint(eager=False)
    found = truth.join(cand, ["id_a", "id_b"], "left_semi")
    t = truth.agg(F.count("*").cast("long").alias("n_true_pairs"))
    c = cand.agg(F.count("*").cast("long").alias("n_candidate_pairs"))
    f = found.agg(F.count("*").cast("long").alias("n_found_pairs"))
    nt, nc, nf = (F.col("n_true_pairs"), F.col("n_candidate_pairs"),
                  F.col("n_found_pairs"))
    return (t.crossJoin(F.broadcast(c)).crossJoin(F.broadcast(f))
            .select(
        "n_true_pairs", "n_candidate_pairs", "n_found_pairs",
        (nt - nf).alias("n_missed_pairs"),
        # single divisions of exact integers; vacuous sets score 1.0
        F.when(nt > 0, nf.cast("double") / nt.cast("double"))
         .otherwise(F.lit(1.0)).alias("recall"),
        F.when(nc > 0, nf.cast("double") / nc.cast("double"))
         .otherwise(F.lit(1.0)).alias("candidate_precision")))


def kmeans_centroids(emb: DataFrame, k: int = 16, n_iter: int = 5,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     dim: int | None = None,
                     sample_n: int | None = None) -> list[list[float]]:
    """Spherical k-means (Lloyd's iterations) centroid fit for IVF.

    Deterministic: init = first ``k`` vectors by id; assignment argmax
    ties break by cid. Each round is one broadcast-assign pass plus ONE
    groupBy computing all ``dim`` per-component means as separate
    aggregates (no posexplode — the shuffle carries k×dim doubles).
    The k×dim model is collected per round — that is the k-means
    communication pattern, not a driver-side data loop. Empty clusters
    keep their previous centroid.

    ``sample_n`` is the 100 TB path (VERDICT r8): fit on a
    DETERMINISTIC md5-ordered sample of ``sample_n`` vectors — ONE
    TakeOrdered pass over the corpus (per-partition top-n, no full
    shuffle) materialized once, then the identical Lloyd loop runs its
    ``n_iter`` rounds over the cached sample instead of re-scanning the
    corpus per round. A centroid model is a k×dim summary; a ~1M-row
    hash sample fits it to the same quality as 10^9 rows (recall is
    test-pinned), so the fit cost stops scaling with the corpus. The
    md5 order is content-independent and engine-reproducible (the
    repo's standard hash discipline), unlike an id-prefix sample which
    inherits whatever the id order correlates with."""
    dim = _vec_dim(emb, vec_col, dim)
    base = _vec_base(emb, id_col, vec_col)
    if sample_n is not None:
        from ..functions.hashes import md5_hash64
        base = (base.orderBy(md5_hash64(F.col("id").cast("string")), "id")
                .limit(sample_n))
    base = base.persist()
    try:
        if sample_n is not None:
            # first-k-by-id WITHIN the sample: ids < k need not survive
            # the hash sample, but the init stays deterministic
            cents = [r["v"] for r in base.orderBy("id").limit(k).collect()]
        else:
            cents = [r["v"] for r in
                     base.filter(F.col("id") < k).orderBy("id").collect()]
        for _ in range(n_iter):
            assigned = _assign(base, _centroid_frame(base, k, cents))
            stats = (assigned.groupBy("centroid")
                     .agg(*[F.avg(F.col("v")[i]).alias(f"c{i}")
                            for i in range(dim)]))
            got = {r["centroid"]: [r[f"c{i}"] for i in range(dim)]
                   for r in stats.collect()}
            cents = [got.get(i, cents[i]) for i in range(len(cents))]
        return cents
    finally:
        base.unpersist()


def ivf_topk(emb: DataFrame, probe_id, k: int = 20, nprobe: int = 1,
             centroids: list[list[float]] | None = None) -> DataFrame:
    """IVF search: exact cosine top-k within the ``nprobe`` centroid cells
    nearest the probe. Scans ~nprobe/16 of the corpus; recall
    rises with nprobe (and with k-means centroids via ``centroids``)."""
    base = _vec_base(emb, "vec_id", "embedding")
    cents = _centroid_frame(base, 16, centroids)
    assigned = _assign(base, cents)
    probe = (base.filter(F.col("id") == probe_id)
             .select(F.col("v").alias("probe_vec"),
                     F.col("nv").alias("probe_norm")))
    cells = (cents.crossJoin(F.broadcast(probe))
             .select("cid", "probe_vec", "probe_norm",
                     cosine_with_norms(F.col("cv"), F.col("probe_vec"),
                                       F.col("cnv"), F.col("probe_norm"))
                     .alias("_ccos"))
             .orderBy(F.desc("_ccos"), "cid").limit(nprobe)
             .select(F.col("cid").alias("centroid"),
                     "probe_vec", "probe_norm"))
    cand = (assigned.join(F.broadcast(cells), "centroid")
            .filter(F.col("id") != probe_id))
    scored = cand.select(
        F.col("id").alias("vec_id"),
        cosine_with_norms(F.col("v"), F.col("probe_vec"),
                          F.col("nv"), F.col("probe_norm")).alias("_cos"))
    return (scored.orderBy(F.desc("_cos"), "vec_id").limit(k)
            .select("vec_id", F.round("_cos", 6).alias("cosine_sim")))


def write_ivf_partitioned(emb: DataFrame, path: str,
                          centroids: list[list[float]] | None = None) -> None:
    """Materialize the corpus PARTITIONED BY its IVF cell — the at-rest
    layout behind 'assignment is computed at ingest and stored as a
    partition column' (ivf_assign's scale story, made real). Each cell
    becomes a parquet partition directory, so a probe that searches
    ``nprobe`` cells prunes the other ``16 - nprobe`` at FILE
    level: the bytes are never opened, which is the whole point of IVF
    on a 100 TB corpus. Idempotent layout job, like
    ``write_quantized_codes``."""
    base = _vec_base(emb, "vec_id", "embedding")
    assigned = _assign(base, _centroid_frame(base, 16, centroids))
    (assigned.select(F.col("id"), F.col("v"),
                     F.col("centroid").alias("cell"))
     .write.partitionBy("cell").mode("overwrite").parquet(path))


def ivf_topk_partitioned(spark, path: str, probe_vec: list[float],
                         centroids: list[list[float]], k: int = 20,
                         exclude_id=None) -> DataFrame:
    """IVF search against a cell-partitioned corpus
    (:func:`write_ivf_partitioned`): the coordinator ranks cells by
    probe-to-centroid cosine in plain Python (the centroid model is
    k×dim — coordinator-resident by design, as in every ANN system),
    then the scan filters ``cell IN (top 1)`` — a PARTITION filter,
    so Spark lists and reads only those directories. Exact cosine top-k
    within the probed cells; same results as :func:`ivf_topk` with the
    same centroid model."""
    import math

    pn = math.sqrt(sum(x * x for x in probe_vec))

    def cos(c):
        cn = math.sqrt(sum(x * x for x in c))
        d = sum(a * b for a, b in zip(probe_vec, c))
        return d / (cn * pn) if cn and pn else 0.0

    ranked = sorted(enumerate(centroids), key=lambda t: (-cos(t[1]), t[0]))
    cells = [cid for cid, _ in ranked[:1]]

    body = ",".join(f"{float(x)!r}D" for x in probe_vec)
    pv = F.expr(f"array({body})")
    df = spark.read.parquet(path).filter(F.col("cell").isin(cells))
    if exclude_id is not None:
        df = df.filter(F.col("id") != exclude_id)
    scored = df.select(
        F.col("id").alias("vec_id"),
        cosine_with_norms(F.col("v"), pv, l2_norm(F.col("v")),
                          F.lit(float(pn))).alias("_cos"))
    return (scored.orderBy(F.desc("_cos"), "vec_id").limit(k)
            .select("vec_id", F.round("_cos", 6).alias("cosine_sim")))


def ivf_incremental_assign(batch: DataFrame, model: DataFrame) -> DataFrame:
    """Assign an ARRIVING embedding batch against the EXISTING centroid
    model — the index-maintenance twin of
    :func:`~..operators.dedup.incremental_exact_dedup`: the at-rest IVF
    layout stays fresh without refitting or re-scanning the corpus.
    Returns (vec_id, cell).

    ``model`` is the frame holding the model vectors (the deterministic
    first-16-by-id convention, so the assignment is oracle-checkable).
    The batch is the only thing scanned — the
    model rides a k×dim broadcast, so daily ingest costs O(batch), not
    O(corpus)."""
    base = _vec_base(batch, "vec_id", "embedding")
    cents = _centroid_frame(_vec_base(model, "vec_id", "embedding"), 16,
                            None)
    return (_assign(base, cents)
            .select(F.col("id").alias("vec_id"),
                    F.col("centroid").alias("cell")))


def multi_probe_topk(emb: DataFrame, n_probes: int = 10, k: int = 5,
                     vec_col: str = "embedding") -> DataFrame:
    """Batch ANN workload: exact cosine top-k for EVERY probe in a probe
    set (ids < n_probes) against the rest of the corpus. Returns
    (probe_id, vec_id, rank, cosine_sim).

    Plan: probe set (with precomputed norms) broadcasts; the corpus
    streams through one map pass scoring all probes per row; per-probe
    ranking is a window partitioned BY PROBE — k small and n_probes
    bounded, so state per window is tiny and the only shuffle is
    (probe_id)-partitioned scored candidates. At 100 TB with millions of
    probes this flips to the IVF/LSH-bucketed plans; the window shape is
    unchanged."""
    base = emb.select(F.col("vec_id").alias("id"),
                      as_double(F.col(vec_col)).alias("v"))
    probes = (base.filter(F.col("id") < n_probes)
              .select(F.col("id").alias("probe_id"),
                      F.col("v").alias("pv"),
                      l2_norm(F.col("v")).alias("pn")))
    corpus = (base.filter(F.col("id") >= n_probes)
              .withColumn("nv", l2_norm(F.col("v"))))
    scored = (corpus.crossJoin(F.broadcast(probes))
              .select("probe_id", F.col("id").alias("vec_id"),
                      cosine_with_norms(F.col("v"), F.col("pv"),
                                        F.col("nv"), F.col("pn"))
                      .alias("_cos")))
    w = Window.partitionBy("probe_id").orderBy(F.desc("_cos"), F.col("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("probe_id", "vec_id", "rank",
                    F.round("_cos", 6).alias("cosine_sim")))


def _vec_dim(emb: DataFrame, vec_col: str, dim: int | None) -> int:
    """Resolve the embedding dimensionality. Callers should pass ``dim``
    (the schema's array type carries no length) so plan construction stays
    action-free; the ``.first()`` fallback exists for exploratory use and
    runs ONE row-limited job at plan-build time."""
    if dim is not None:
        return dim
    return len(emb.select(vec_col).first()[0])


def srp_planes(num_planes: int, dim: int, table: int = 0) -> list[list[float]]:
    """Deterministic random hyperplanes: component (p, d) is an md5-derived
    uniform in [-1, 1). Plain Python — these are plan-time constants
    embedded as literals in both engines. ``table`` seeds independent
    plane sets for multi-table (OR-amplified) LSH; table 0 preserves the
    original single-table constants."""
    import hashlib
    out = []
    for p in range(num_planes):
        row = []
        for d in range(dim):
            key = f"plane{p}:{d}" if table == 0 else f"t{table}:plane{p}:{d}"
            h = int(hashlib.md5(key.encode()).hexdigest()[:8], 16)
            row.append(h / 2**31 - 1.0)
        out.append(row)
    return out


def srp_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Bit signature: bit p = 1 iff dot(v, plane_p) > 0.

    The plane matrix enters the plan as ONE nested-array literal and the
    per-plane dots run inside a single ``transform``/``aggregate`` pair —
    not num_planes separate aggregate expressions each carrying dim
    literal nodes. Same result, but the expression tree is O(1) in
    (planes × dim), which keeps Catalyst analysis/optimization time flat
    (measured ~1 s/query of driver time at 12×64 with the unrolled
    form). The matrix literal is built from ONE parsed SQL string — a
    Python-side ``F.lit`` of nested lists walks py4j per element, which
    alone cost ~0.5 s driver time at 768 elements."""
    body = ",".join(
        "array(" + ",".join(f"{x!r}D" for x in plane) + ")"
        for plane in planes)
    pmat = F.expr(f"array({body})")  # array<array<double>>, one plan node
    bit_terms = F.zip_with(
        pmat,
        F.sequence(F.lit(0), F.lit(len(planes) - 1)),
        lambda plane, p: F.when(
            F.aggregate(F.zip_with(vec, plane, lambda x, y: x * y),
                        F.lit(0.0), lambda acc, x: acc + x) > 0,
            # 2^p as bigint (builtin shiftleft wants a Python-int count);
            # exact in double for p <= 52, planes are <= 16
            F.pow(F.lit(2.0), p).cast("bigint"))
            .otherwise(F.lit(0).cast("bigint")))
    return F.aggregate(bit_terms, F.lit(0).cast("bigint"),
                       lambda acc, x: acc + x)


def quantize_embeddings(emb: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Per-vector min-max scalar quantization to uint8 codes: code
    c = floor((x - mn)·255/(mx - mn) + 0.5). Returns
    (id, codes array<int>, mn, mx) — a 4× memory cut vs float32 (8× vs
    double), the standard trick that keeps a 100 TB ANN corpus scannable;
    ``floor(x+0.5)`` instead of ``round`` so every engine rounds ties
    identically. Degenerate constant vectors (mx == mn) code to 0."""
    v = as_double(F.col(vec_col))
    mn, mx = F.array_min(v), F.array_max(v)
    scale = F.when(mx > mn, (mx - mn) / F.lit(255.0)).otherwise(F.lit(1.0))
    return emb.select(
        F.col(id_col).alias("id"),
        F.transform(v, lambda x: F.floor((x - mn) / scale + 0.5)
                     .cast("int")).alias("codes"),
        mn.alias("mn"), mx.alias("mx"))


def quantized_codes_table(emb: DataFrame, id_col: str = "vec_id",
                          vec_col: str = "embedding") -> DataFrame:
    """The codes-at-rest frame backing :func:`quantized_cosine_topk`:
    (id, codes, mn, sc, sum_c, dn) where ``dn`` is the norm of the
    DEQUANTIZED vector and ``sum_c`` the integer code sum. With these two
    scalars materialized, coarse cosine needs only an integer dot product
    per pair (see the affine identity in quantized_cosine_topk) — no
    per-element dequantization at query time."""
    q = quantize_embeddings(emb, id_col, vec_col)
    sc = F.when(F.col("mx") > F.col("mn"),
                (F.col("mx") - F.col("mn")) / F.lit(255.0)).otherwise(F.lit(1.0))
    d = F.size("codes").cast("double")
    sum_c = F.aggregate("codes", F.lit(0).cast("bigint"),
                        lambda acc, c: acc + c.cast("bigint"))
    sum_c2 = F.aggregate("codes", F.lit(0).cast("bigint"),
                         lambda acc, c: acc + (c * c).cast("bigint"))
    return (q.select("id", "codes", "mn", sc.alias("sc"),
                     sum_c.alias("sum_c"), sum_c2.alias("sum_c2"))
            .select("id", "codes", "mn", "sc", "sum_c",
                    F.sqrt(d * F.col("mn") * F.col("mn")
                           + F.lit(2.0) * F.col("mn") * F.col("sc")
                           * F.col("sum_c").cast("double")
                           + F.col("sc") * F.col("sc")
                           * F.col("sum_c2").cast("double")).alias("dn")))


def write_quantized_codes(emb: DataFrame, path: str) -> None:
    """Materialize the uint8 codes (+ scalar stats) as a slim parquet
    table — the at-rest layout that makes the quantized scan actually
    cheap: the coarse pass reads THIS table only, never the
    full-precision embeddings. Codes are packed into ONE binary cell per
    vector (exactly dim bytes): a list column would hand the scan one
    Python object per element after Arrow, while a binary column crosses
    as flat bytes that a batch decodes with a single
    ``frombuffer(...).reshape(n, dim)`` — the difference between an
    object loop and a SIMD matmul downstream. Rewrite whenever the
    source embedding table changes (codes are content-derived, so this
    is an idempotent layout job like ``sources/layout.py`` compaction)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("codes", T.BinaryType()),
                           T.StructField("mn", T.DoubleType()),
                           T.StructField("sc", T.DoubleType()),
                           T.StructField("sum_c", T.LongType()),
                           T.StructField("dn", T.DoubleType())])

    def pack(batches):
        for pdf in batches:
            out = pdf[["id", "mn", "sc", "sum_c", "dn"]].copy()
            out.insert(1, "codes", pdf["codes"].map(
                lambda a: np.asarray(a, dtype=np.uint8).tobytes()))
            yield out

    (quantized_codes_table(emb, "vec_id", "embedding")
     .mapInPandas(pack, schema)
     .write.mode("overwrite").parquet(path))


# Codes-scan size at/below which the pure-JVM coarse pass beats the
# Arrow one: the mapInPandas stage pays a fixed Python round-trip
# (~0.1 s measured on the local harness) that the interpreted JVM fold
# only reaches at a few MB of codes. Calibrated locally; a cluster
# profile would retune it the way any CBO constant is tuned.
_JVM_COARSE_MAX_BYTES = 4 << 20


def _scan_bytes(df: DataFrame) -> int | None:
    """Total bytes of the frame's input files (catalog metadata — no
    job), or None when the plan's inputs aren't resolvable local files."""
    import os

    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    total = 0
    for f in files:
        path = f[len("file:"):] if f.startswith("file:") else f
        if not os.path.exists(path):
            return None
        total += os.path.getsize(path)
    return total


def _quantize_probe(probe_vec):
    """Driver-side probe quantization, bit-identical to
    :func:`quantized_codes_table`: the same IEEE ops in the same order,
    on Python doubles. Returns (pv, pcodes, pmn, psc, psum, pdn, pn)."""
    import math

    pv = [float(x) for x in probe_vec]
    pmn, pmx = min(pv), max(pv)
    psc = (pmx - pmn) / 255.0 if pmx > pmn else 1.0
    pcodes = [int(math.floor((x - pmn) / psc + 0.5)) for x in pv]
    psum = 0
    for c in pcodes:
        psum += c
    psum2 = 0
    for c in pcodes:
        psum2 += c * c
    d = float(len(pcodes))
    pdn = math.sqrt(d * pmn * pmn + 2.0 * pmn * psc * float(psum)
                    + psc * psc * float(psum2))
    acc = 0.0
    for x in pv:                 # sequential fold, matches l2_norm
        acc = acc + x * x
    pn = math.sqrt(acc)
    return pv, pcodes, pmn, psc, psum, pdn, pn


def _rescore_with_literal_probe(emb: DataFrame, coarse: DataFrame,
                                pv: list[float], pn: float, k: int,
                                id_col: str, vec_col: str) -> DataFrame:
    """Exact re-rank with the probe as ONE parsed literal array (repr
    round-trips doubles exactly; a py4j-built F.lit per element walks
    the gateway). Vectors/norms are computed AFTER the broadcast join,
    i.e. for the O(rescore_factor·k) candidates only."""
    plit = F.expr("array(" + ",".join(f"{x!r}D" for x in pv) + ")")
    cand_v = as_double(F.col(vec_col))
    exact = (emb.join(F.broadcast(coarse), id_col)
             .select(F.col(id_col),
                     cosine_with_norms(cand_v, plit, l2_norm(cand_v),
                                       F.lit(pn)).alias("_cos")))
    return (exact.orderBy(F.desc("_cos"), id_col).limit(k)
            .select(id_col, F.round("_cos", 6).alias("cosine_sim")))


def quantized_cosine_topk(emb: DataFrame, probe_id, k: int = 10,
                          rescore_factor: int = 3,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          codes: DataFrame | None = None,
                          vectorized: bool | str = "auto",
                          probe_vec: list[float] | None = None) -> DataFrame:
    """Quantized-scan + exact-rescore ANN: rank all vectors by cosine of
    their DEQUANTIZED uint8 codes, keep the top ``rescore_factor``·k
    candidates, then re-rank those exactly on the full-precision vectors.
    Returns (vec_id, cosine_sim) — exact scores for the returned rows.

    The coarse pass never dequantizes: with per-vector (mn, sc, sum_c,
    dn) materialized alongside the codes, the dequantized dot product
    decomposes as

        dot(dv_a, dv_p) = d·mn_a·mn_p + mn_a·s_p·Σq + mn_p·s_a·Σc
                          + s_a·s_p·Σ(c_i·q_i)

    so the only per-pair work is the INTEGER dot Σ(c_i·q_i); everything
    else is scalar arithmetic on per-row/probe constants. Cosine then
    divides by the stored dequantized norms — the same scores as
    dequantize-then-cosine, at integer-scan cost.

    Pass ``codes`` (from :func:`write_quantized_codes` read back, or
    :func:`quantized_codes_table` inline) to score against codes at
    rest — the intended shape: the coarse pass scans ONLY the slim codes
    table (~1 byte/element at rest vs 8 for doubles); the full-precision
    ``emb`` is touched for the O(rescore_factor·k) candidate rows alone,
    as id-pushdown point lookups.

    ``vectorized`` picks the coarse-scan engine; both compute the SAME
    IEEE-double scores in the same op order, so the shortlist (and the
    exact result) is identical:

    - ``True`` — Arrow-batched ``mapInPandas``: the integer dot is one
      uint8 numpy matmul per batch (SIMD). The batch compute is near
      free, but the stage pays a fixed Python round-trip (~0.1 s on the
      local harness) regardless of size — the right trade the moment
      the codes scan is big enough to amortize it.
    - ``False`` — pure JVM Column expressions: binary codes are decoded
      ISO-8859-1 (a bijective byte↔codepoint map) and the integer dot is
      an ``aggregate``/``zip_with``/``ascii`` fold. Interpreted per
      element, so it loses to the matmul asymptotically — but it has NO
      fixed Python cost, which wins while the whole codes table is
      small.
    - ``"auto"`` (default) — cost-based pick off catalog facts, no extra
      job: the codes scan's input-file bytes (when resolvable) against
      ``_JVM_COARSE_MAX_BYTES``. Small scan → JVM, big scan → Arrow;
      unresolvable sizes default to Arrow (the scale-safe side).

    The whole pipeline is ONE driver action — no ``collect()``
    anywhere, so there are no sequential Python→JVM job round-trips
    (the r2/r3 fixed-overhead tax). An absent probe id yields an EMPTY
    result, matching :func:`brute_force_topk` semantics; a zero-norm
    vector scores 0.0 instead of NaN (guarded division).

    Pass ``probe_vec`` (the query vector as plain floats — how an ANN
    coordinator actually receives a query, cf. :func:`ivf_topk_partitioned`)
    for the minimum-barrier plan: the probe is quantized DRIVER-side
    (identical IEEE op order to :func:`quantize_embeddings`, so the codes
    match the at-rest table bit-exactly) and embedded as plan constants,
    leaving exactly TWO sequential barriers — the coarse-shortlist
    broadcast and the final rescore scan — the same barrier count as
    brute force. Without ``probe_vec`` the probe's code row is fetched
    in-plan via a 1-row broadcast cross-join (one extra barrier, still
    zero collects)."""
    if codes is None:
        codes = quantized_codes_table(emb, id_col, vec_col)
    n_cand = rescore_factor * k
    base = _vec_base(emb, id_col, vec_col)
    probe = (base.filter(F.col("id") == probe_id)
             .select(F.col("v").alias("pv"), F.col("nv").alias("pn")))

    from pyspark.sql import types as T
    binary_codes = isinstance(codes.schema["codes"].dataType, T.BinaryType)
    if vectorized == "auto":
        nbytes = _scan_bytes(codes)
        vectorized = nbytes is None or nbytes > _JVM_COARSE_MAX_BYTES

    def _jvm_qcos_sql(codes_sql: str, probe_codes_sql: str, pmn_sql: str,
                      psc_sql: str, psum_sql: str, pdn_sql: str) -> str:
        """The whole coarse cosine as ONE SQL string → one ``F.expr``
        call and one parse. The Column-API equivalent (nested HOFs with
        Python lambdas) costs ~0.2 s of py4j round-trips PER QUERY
        BUILD — on a sub-second query, plan construction would dominate
        the runtime. Binary codes decode via ISO-8859-1 (a bijective
        byte↔code-point map, so ``ascii`` recovers each byte exactly);
        arithmetic is the same IEEE-double op order as the Arrow
        scorer, so the shortlist is engine-identical."""
        d_sql = ("CAST(length(codes) AS DOUBLE)" if binary_codes
                 else "CAST(size(codes) AS DOUBLE)")
        idot = (f"CAST(aggregate(zip_with({codes_sql}, {probe_codes_sql}, "
                "(c, q) -> CAST(c AS BIGINT) * CAST(q AS BIGINT)), "
                "CAST(0 AS BIGINT), (acc, x) -> acc + x) AS DOUBLE)")
        dot = (f"{d_sql} * mn * {pmn_sql} + mn * {psc_sql} * {psum_sql} "
               f"+ {pmn_sql} * sc * CAST(sum_c AS DOUBLE) "
               f"+ sc * {psc_sql} * {idot}")
        return (f"CASE WHEN dn * {pdn_sql} > 0.0D "
                f"THEN ({dot}) / (dn * {pdn_sql}) ELSE 0.0D END")

    def _ints_sql(col_sql: str) -> str:
        if binary_codes:
            return (f"transform(split(decode({col_sql}, 'ISO-8859-1'), "
                    "''), ch -> ascii(ch))")
        return col_sql

    def _rescore(coarse):
        """Exact re-rank of the coarse shortlist: broadcast the O(n_cand)
        ids onto the full-precision table; top-k via
        TakeOrderedAndProject."""
        exact = (base.join(F.broadcast(coarse), "id")
                 .crossJoin(F.broadcast(probe))
                 .select(F.col("id").alias(id_col),
                         cosine_with_norms(F.col("v"), F.col("pv"),
                                           F.col("nv"), F.col("pn"))
                         .alias("_cos")))
        return (exact.orderBy(F.desc("_cos"), id_col).limit(k)
                .select(id_col, F.round("_cos", 6).alias("cosine_sim")))

    if vectorized:
        import numpy as np
        import pandas as pd

        schema = T.StructType([T.StructField("id", T.LongType()),
                               T.StructField("_qcos", T.DoubleType())])

        def scorer(probe_consts):
            """Coarse scorer over Arrow batches. ``probe_consts`` is
            either the (qc, pmn, psc, psum, pdn) tuple (probe_vec path:
            plain closure constants, no probe columns in the input) or
            None (constants decoded from the broadcast-joined p_* columns
            of the first batch)."""

            def fn(batches):
                if probe_consts is not None:
                    qc, pmn, psc, psum, pdn = probe_consts
                    dim = len(qc)
                else:
                    qc = None
                for pdf in batches:
                    if len(pdf) == 0:
                        continue
                    if qc is None:
                        # Probe constants are identical on every row of
                        # the 1-row broadcast join — decode once per task.
                        praw = pdf["p_codes"].iloc[0]
                        qc = (np.frombuffer(praw, dtype=np.uint8)
                              if isinstance(praw, (bytes, bytearray))
                              else np.asarray(praw, dtype=np.uint8)
                              ).astype(np.int64)
                        pmn = float(pdf["p_mn"].iloc[0])
                        psc = float(pdf["p_sc"].iloc[0])
                        psum = float(pdf["p_sum"].iloc[0])
                        pdn = float(pdf["p_dn"].iloc[0])
                        dim = len(qc)
                    col = pdf["codes"]
                    if isinstance(col.iloc[0], (bytes, bytearray)):
                        mat = (np.frombuffer(b"".join(col), dtype=np.uint8)
                               .astype(np.int64).reshape(-1, dim))
                    else:
                        mat = np.stack(col.map(
                            lambda a: np.asarray(a, dtype=np.int64)))
                    idot = mat @ qc
                    mn = pdf["mn"].to_numpy()
                    sc = pdf["sc"].to_numpy()
                    num = (dim * mn * pmn + mn * psc * psum
                           + pmn * sc
                           * pdf["sum_c"].to_numpy().astype("float64")
                           + sc * psc * idot)
                    den = pdf["dn"].to_numpy() * pdn
                    # Zero-norm guard: an all-constant vector has dn == 0;
                    # score it 0.0 rather than letting NaN/Inf corrupt the
                    # lexsort ordering.
                    q = np.divide(num, den, out=np.zeros_like(num),
                                  where=den > 0)
                    ids = pdf["id"].to_numpy()
                    # Per-batch top-n_cand prune (global top ⊆ union of
                    # batch tops) so only ~n_cand rows/batch cross Arrow
                    # back; lexsort keeps the engine-wide (-score, id)
                    # tie-break exact at the cut.
                    if len(q) > n_cand:
                        keep = np.lexsort((ids, -q))[:n_cand]
                        ids, q = ids[keep], q[keep]
                    yield pd.DataFrame({"id": ids, "_qcos": q})

            return fn

        if probe_vec is not None:
            pv, pcodes, pmn, psc, psum, pdn, pn = _quantize_probe(probe_vec)
            qc = np.asarray(pcodes, dtype=np.int64)
            coarse = (codes.filter(F.col("id") != probe_id)
                      .select("id", "codes", "mn", "sc", "sum_c", "dn")
                      .mapInPandas(scorer((qc, pmn, psc, psum, pdn)),
                                   schema=schema)
                      .orderBy(F.desc("_qcos"), "id").limit(n_cand)
                      .select(F.col("id").alias(id_col)))
            return _rescore_with_literal_probe(emb, coarse, pv, pn, k,
                                               id_col, vec_col)

        probe_codes = (codes.filter(F.col("id") == probe_id)
                       .select(F.col("codes").alias("p_codes"),
                               F.col("mn").alias("p_mn"),
                               F.col("sc").alias("p_sc"),
                               F.col("sum_c").alias("p_sum"),
                               F.col("dn").alias("p_dn")))
        coarse = (codes.filter(F.col("id") != probe_id)
                  .select("id", "codes", "mn", "sc", "sum_c", "dn")
                  .crossJoin(F.broadcast(probe_codes))
                  .mapInPandas(scorer(None), schema=schema)
                  .orderBy(F.desc("_qcos"), "id").limit(n_cand)
                  .select("id"))
        return _rescore(coarse)

    # --- pure-JVM coarse pass ---
    if probe_vec is not None:
        pv, pcodes, pmn, psc, psum, pdn, pn = _quantize_probe(probe_vec)
        # Probe constants inlined as SQL double/array literals (repr
        # round-trips doubles exactly); no probe columns, no joins in
        # the coarse stage.
        qarr = "array(" + ",".join(f"{c}L" for c in pcodes) + ")"
        qcos = _jvm_qcos_sql(_ints_sql("codes"), qarr, f"{pmn!r}D",
                             f"{psc!r}D", f"{float(psum)!r}D", f"{pdn!r}D")
        coarse = (codes.filter(F.col("id") != probe_id)
                  .select(F.col("id").alias(id_col),
                          F.expr(qcos).alias("_qcos"))
                  .orderBy(F.desc("_qcos"), id_col).limit(n_cand)
                  .select(id_col))
        return _rescore_with_literal_probe(emb, coarse, pv, pn, k,
                                           id_col, vec_col)

    probe_q = (codes.filter(F.col("id") == probe_id)
               .select(F.col("codes").alias("p_codes"),
                       F.col("mn").alias("pmn"), F.col("sc").alias("psc"),
                       F.col("sum_c").alias("psum"),
                       F.col("dn").alias("pdn")))
    qcos = _jvm_qcos_sql(_ints_sql("codes"), _ints_sql("p_codes"), "pmn",
                         "psc", "CAST(psum AS DOUBLE)", "pdn")
    coarse = (codes.filter(F.col("id") != probe_id)
              .crossJoin(F.broadcast(probe_q))
              .select(F.col("id"), F.expr(qcos).alias("_qcos"))
              .orderBy(F.desc("_qcos"), "id").limit(n_cand)
              .select("id"))
    return _rescore(coarse)


def pq_codebooks_from_first_k(emb: DataFrame, m: int = 8,
                              n_centroids: int = 16,
                              dim: int | None = None
                              ) -> list[list[list[float]]]:
    """Deterministic product-quantization codebooks: subspace ``s``'s
    centroids are the first ``n_centroids`` vectors' s-th subvectors
    (by id) — the same oracle-checkable convention as the IVF coarse
    model (:func:`_centroid_frame` with ``centroids=None``). Returns
    ``m × n_centroids × (dim/m)`` plain floats (the coordinator-resident
    model, like every ANN codebook); swap in per-subspace k-means
    (``kmeans_centroids`` over sliced frames) for production quality —
    the search path is identical."""
    dim = _vec_dim(emb, "embedding", dim)
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    rows = (emb.filter(F.col("vec_id") < n_centroids).orderBy("vec_id")
            .select("embedding").collect())
    vecs = [[float(x) for x in r[0]] for r in rows]
    return [[v[s * sub:(s + 1) * sub] for v in vecs] for s in range(m)]


def _pq_cb_literal(codebooks: list[list[list[float]]]) -> str:
    """The m×k×sub codebook as ONE parsed SQL literal (see
    :func:`srp_signature` for why one string beats py4j element walks)."""
    return "array(" + ",".join(
        "array(" + ",".join(
            "array(" + ",".join(f"{x!r}D" for x in c) + ")"
            for c in subspace) + ")"
        for subspace in codebooks) + ")"


def pq_encode(emb: DataFrame, codebooks: list[list[list[float]]],
              id_col: str = "vec_id", vec_col: str = "embedding",
              keep: tuple[str, ...] = ()) -> DataFrame:
    """Product-quantization encoding: each vector becomes ``m`` small
    codes — subspace ``s``'s code is the argmin-squared-L2 centroid of
    its s-th subvector (ties → lowest centroid id). Returns
    (id, codes array<int>) — with k ≤ 256 centroids that is ONE byte
    per subspace at rest, an 8×·(dim/m) memory cut below even the
    scalar-quantized codes, which is why IVF-PQ is the billion-vector
    default.

    Pure Column SQL: the codebook rides as one literal; the distance
    list per subspace is let-bound so argmin evaluates it once; the
    subvector slices are disjoint, so the whole encode is O(dim·k) per
    row with no Python anywhere."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    cb = _pq_cb_literal(codebooks)
    dists = (f"transform(element_at(CB, s + 1), c -> "
             f"aggregate(zip_with(slice(v, s * {sub} + 1, {sub}), c, "
             f"(x, y) -> (x - y) * (x - y)), 0.0D, (a, x) -> a + x))")
    code = (f"element_at(transform(array({dists}), ds -> "
            f"array_position(ds, array_min(ds)) - 1), 1)")
    expr = (f"element_at(transform(array({cb}), CB -> "
            f"element_at(transform(array({_as_double_sql(vec_col)}), v -> "
            f"transform(sequence(0, {m - 1}), s -> CAST({code} AS INT))"
            f"), 1)), 1)")
    return emb.select(F.col(id_col).alias("id"), *keep,
                      F.expr(expr).alias("codes"))


def _as_double_sql(vec_col: str) -> str:
    return f"transform({vec_col}, x -> CAST(x AS DOUBLE))"


def _adc_score_expr(pv: list[float],
                    codebooks: list[list[list[float]]]
                    ) -> tuple[str, float]:
    """Asymmetric-distance scoring expression over a ``codes`` column:
    the probe×centroid dot products (LUT) and centroid squared norms
    are computed coordinator-side (m×k floats — the standard ANN model
    footprint) and ride the expression as literals, so a row's
    approximate cosine is m array lookups + one division, no arithmetic
    on vector elements. Returns (SQL expr, probe norm) — shared by
    :func:`pq_topk` (whole-corpus ADC) and :func:`ivfpq_topk_at_rest`
    (ADC within probed IVF cells)."""
    import math

    m = len(codebooks)
    sub = len(codebooks[0][0])
    qn = math.sqrt(sum(x * x for x in pv))
    lut = [[sum(pv[s * sub + i] * c[i] for i in range(sub))
            for c in codebooks[s]] for s in range(m)]
    n2 = [[sum(x * x for x in c) for c in codebooks[s]]
          for s in range(m)]

    def mat(rows):
        return "array(" + ",".join(
            "array(" + ",".join(f"{x!r}D" for x in r) + ")"
            for r in rows) + ")"

    num = (f"aggregate(sequence(0, {m - 1}), 0.0D, (a, s) -> "
           f"a + element_at(element_at({mat(lut)}, s + 1), "
           f"element_at(codes, s + 1) + 1))")
    dvn = (f"sqrt(aggregate(sequence(0, {m - 1}), 0.0D, (a, s) -> "
           f"a + element_at(element_at({mat(n2)}, s + 1), "
           f"element_at(codes, s + 1) + 1)))")
    qcos = (f"CASE WHEN {dvn} * {qn!r}D > 0.0D "
            f"THEN ({num}) / ({dvn} * {qn!r}D) ELSE 0.0D END")
    return qcos, qn


def pq_topk(emb: DataFrame, probe_vec: list[float],
            codebooks: list[list[list[float]]], k: int = 10,
            rescore_factor: int = 5, exclude_id=None,
            codes: DataFrame | None = None) -> DataFrame:
    """PQ search with asymmetric distance computation (ADC) + exact
    rescore: the coarse pass scores every vector from its ``m`` CODES
    alone — per-subspace dot products of the RAW query against each
    centroid form an m×k lookup table built coordinator-side, so a
    row's approximate dot is ``Σ_s LUT[s][code_s]`` (m array lookups,
    no arithmetic on vector elements), its dequantized norm
    ``sqrt(Σ_s N2[s][code_s])`` likewise — then the top
    ``rescore_factor·k`` candidates re-rank exactly on full-precision
    vectors (same tail as :func:`quantized_cosine_topk`). Returns
    (vec_id, cosine_sim) with exact scores.

    Pass ``codes`` (a :func:`pq_encode` frame, ideally read back from
    rest) so the coarse pass scans ~1 byte per subspace per vector;
    ``emb`` is touched only for the O(rescore_factor·k) candidate rows.
    Near-ties at the shortlist cut are absorbed by the same 5×-over-k
    margin argument as the scalar-quantized path (measured there:
    adjacent-gap ≈ 3e-5 vs ≤ 1e-14 cross-engine FP divergence)."""
    pv = [float(x) for x in probe_vec]
    qcos, qn = _adc_score_expr(pv, codebooks)
    if codes is None:
        codes = pq_encode(emb, codebooks, "vec_id", "embedding")
    coarse = codes
    if exclude_id is not None:
        coarse = coarse.filter(F.col("id") != exclude_id)
    shortlist = (coarse.select("id", F.expr(qcos).alias("_qcos"))
                 .orderBy(F.desc("_qcos"), "id")
                 .limit(rescore_factor * k)
                 .select(F.col("id").alias("vec_id")))
    return _rescore_with_literal_probe(emb, shortlist, pv, qn, k,
                                       "vec_id", "embedding")


def write_ivfpq_codes(emb: DataFrame, path: str,
                      codebooks: list[list[list[float]]]) -> None:
    """Materialize the IVF-PQ index: every vector's ``m`` one-byte PQ
    codes, PARTITIONED BY its coarse IVF cell — the composed at-rest
    form of :func:`write_ivf_partitioned` (cell layout, full vectors)
    and :func:`pq_encode` (codes, no layout), and the billion-vector
    default (Jégou et al., TPAMI'11): a probe that searches ``nprobe``
    cells opens only those directories (partition pruning) and reads
    ~m bytes per resident vector — the two compressions multiply.
    Idempotent layout job like the other index writers."""
    base = _vec_base(emb, "vec_id", "embedding")
    assigned = _assign(base, _centroid_frame(base, 16, None))
    coded = pq_encode(
        assigned.select("id", "v", F.col("centroid").alias("cell")),
        codebooks, id_col="id", vec_col="v", keep=("cell",))
    coded.write.partitionBy("cell").mode("overwrite").parquet(path)


def ivfpq_topk_at_rest(spark, path: str, probe_vec: list[float],
                       centroids: list[list[float]],
                       codebooks: list[list[list[float]]], emb: DataFrame,
                       exclude_id=None) -> DataFrame:
    """IVF-PQ search against a :func:`write_ivfpq_codes` index: the
    coordinator ranks cells by probe↔centroid cosine (k×dim model,
    plain Python — the standard ANN coordinator footprint), the scan
    reads ONLY the top-4 cell directories (partition filter —
    plan-pinned), ADC scores residents from their codes alone via the
    shared :func:`_adc_score_expr` literal LUT, and the
    5·10 shortlist re-ranks exactly on full-precision
    vectors. Returns (vec_id, cosine_sim) with exact scores.

    IO per probe = nprobe/n_centroids of the corpus × m bytes per
    vector — at 100 TB of raw vectors with m=8, nprobe=4/64 this is a
    ~6 GB index read, which is the entire reason this composition is
    the production shape. Recall is measured, not asserted
    (``sim_ivfpq_recall``)."""
    import math

    pv = [float(x) for x in probe_vec]
    pn = math.sqrt(sum(x * x for x in pv))

    def cos(c):
        cn = math.sqrt(sum(x * x for x in c))
        d = sum(a * b for a, b in zip(pv, c))
        return d / (cn * pn) if cn and pn else 0.0

    ranked = sorted(enumerate(centroids), key=lambda t: (-cos(t[1]), t[0]))
    cells = [cid for cid, _ in ranked[:4]]

    qcos, qn = _adc_score_expr(pv, codebooks)
    codes = spark.read.parquet(path).filter(F.col("cell").isin(cells))
    if exclude_id is not None:
        codes = codes.filter(F.col("id") != exclude_id)
    shortlist = (codes.select("id", F.expr(qcos).alias("_qcos"))
                 .orderBy(F.desc("_qcos"), "id")
                 .limit(5 * 10)
                 .select(F.col("id").alias("vec_id")))
    return _rescore_with_literal_probe(emb, shortlist, pv, qn, 10,
                                       "vec_id", "embedding")


def ivfpq_recall(spark, path: str, centroids: list[list[float]],
                 codebooks: list[list[list[float]]], emb: DataFrame,
                 n_probes: int = 8, k: int = 10, nprobe: int = 4,
                 rescore_factor: int = 5) -> DataFrame:
    """Measured recall@k of the at-rest IVF-PQ index against the exact
    scan, per probe — the certification number a deployment reads
    before trusting the doubly-compressed path, completing the
    recall-probe family (:func:`ivf_recall` for IVF alone,
    :func:`quantized_shortlist_recall` for scalar quantization,
    ``dedup_lsh_recall`` for banded LSH). Probes are ids <
    ``n_probes``; the corpus is everything else. Returns
    (probe_id, n_hits, recall_at_k).

    The approximate side replays :func:`ivfpq_topk_at_rest` EXACTLY,
    once per probe — coordinator cell ranking, partition-pruned code
    read, literal-LUT ADC shortlist, exact re-rank — because a recall
    probe that simplifies the serving path certifies the wrong plan.
    ``n_probes`` is a bounded certification panel (one pruned-index
    subplan each, unioned); the exact side is ONE
    :func:`multi_probe_topk` pass, and the compare join is
    (n_probes × k) rows broadcast, so total cost is n_probes pruned
    searches + one exact scan at any corpus size."""
    import math
    from functools import reduce

    id_type = emb.schema["vec_id"].dataType
    probe_rows = (emb.filter(F.col("vec_id") < n_probes)
                  .select("vec_id", "embedding").orderBy("vec_id").collect())
    parts = []
    for row in probe_rows:
        pid, pv = row[0], [float(x) for x in row[1]]
        pn = math.sqrt(sum(x * x for x in pv))

        def cos(c, pv=pv, pn=pn):
            cn = math.sqrt(sum(x * x for x in c))
            d = sum(a * b for a, b in zip(pv, c))
            return d / (cn * pn) if cn and pn else 0.0

        ranked = sorted(enumerate(centroids), key=lambda t: (-cos(t[1]), t[0]))
        cells = [cid for cid, _ in ranked[:nprobe]]
        qcos, qn = _adc_score_expr(pv, codebooks)
        codes = (spark.read.parquet(path)
                 .filter(F.col("cell").isin(cells))
                 .filter(F.col("id") >= n_probes))
        shortlist = (codes.select("id", F.expr(qcos).alias("_qcos"))
                     .orderBy(F.desc("_qcos"), "id")
                     .limit(rescore_factor * k)
                     .select(F.col("id").alias("vec_id")))
        topk = _rescore_with_literal_probe(emb, shortlist, pv, qn, k,
                                           "vec_id", "embedding")
        parts.append(topk.select(
            F.lit(pid).cast(id_type).alias("probe_id"), F.col("vec_id")))
    approx = reduce(DataFrame.unionByName, parts)
    exact = multi_probe_topk(emb, n_probes, k, "embedding")
    hit = approx.withColumn("_hit", F.lit(1))
    return (exact.select("probe_id", "vec_id")
            .join(F.broadcast(hit), ["probe_id", "vec_id"], "left")
            .groupBy("probe_id")
            .agg(F.count("_hit").alias("n_hits"))
            .select("probe_id", "n_hits",
                    (F.col("n_hits").cast("double") / k)
                    .alias("recall_at_k")))


def hard_negative_mining(emb: DataFrame, max_sim: float = 0.9) -> DataFrame:
    """Hard-negative mining for contrastive training: for every probe
    (ids < 10), the 5 MOST similar corpus vectors whose cosine
    stays BELOW ``max_sim`` — near the decision boundary, but not
    near-duplicates (those train nothing and leak label noise). Returns
    (probe_id, vec_id, rank, cosine_sim).

    Same plan as :func:`multi_probe_topk` — probe set (with precomputed
    norms) broadcasts, the corpus streams through ONE map pass scoring
    all probes per row — with the duplicate ceiling applied as a
    map-side filter BEFORE the per-probe rank window, so excluded
    near-dups never enter the rank shuffle. At 100 TB the probe side is
    the training batch (small) and the scan parallelizes over the
    corpus; with millions of probes this flips to the IVF/LSH-bucketed
    candidate plans like every other probe workload here."""
    base = _vec_base(emb, "vec_id", "embedding")
    probes = (base.filter(F.col("id") < 10)
              .select(F.col("id").alias("probe_id"),
                      F.col("v").alias("pv"), F.col("nv").alias("pn")))
    corpus = base.filter(F.col("id") >= 10)
    scored = (corpus.crossJoin(F.broadcast(probes))
              .select("probe_id", F.col("id").alias("vec_id"),
                      cosine_with_norms(F.col("v"), F.col("pv"),
                                        F.col("nv"), F.col("pn"))
                      .alias("_cos"))
              .filter(F.col("_cos") < max_sim))
    w = Window.partitionBy("probe_id").orderBy(F.desc("_cos"), F.col("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 5)
            .select("probe_id", "vec_id", "rank",
                    F.round("_cos", 6).alias("cosine_sim")))


def srp_bucket_topk(emb: DataFrame, probe_id, k: int = 20, num_planes: int = 8,
                    num_tables: int = 1, dim: int | None = None) -> DataFrame:
    """LSH-bucketed ANN: exact cosine top-k among vectors sharing the
    probe's sign-random-projection bucket in ANY of ``num_tables``
    independent plane sets (OR-amplification). ~num_tables/2^num_planes
    of the corpus scanned; recall rises with more tables, candidate cost
    with fewer planes — the standard LSH knob pair.

    One map pass computes all tables' signatures; the probe row (with its
    bucket array) broadcasts, and the candidate filter is a positional
    any-match over the two bucket arrays — no shuffle at any scale."""
    dim = _vec_dim(emb, "embedding", dim)
    tables = [srp_planes(num_planes, dim, table=t) for t in range(num_tables)]
    v = as_double(F.col("embedding"))
    base = emb.select(F.col("vec_id").alias("id"), v.alias("v"),
                      l2_norm(v).alias("nv"))
    sigs = base.withColumn(
        "buckets", F.array(*[srp_signature(F.col("v"), p) for p in tables]))
    probe = (sigs.filter(F.col("id") == probe_id)
             .select(F.col("v").alias("probe_vec"),
                     F.col("nv").alias("probe_norm"),
                     F.col("buckets").alias("probe_buckets")))
    any_match = F.exists(
        F.zip_with(F.col("buckets"), F.col("probe_buckets"),
                   lambda a, b: a == b),
        lambda x: x)
    cell = (sigs.join(F.broadcast(probe),
                      any_match & (F.col("id") != probe_id)))
    scored = cell.select(F.col("id").alias("vec_id"),
                         cosine_with_norms(F.col("v"), F.col("probe_vec"),
                                           F.col("nv"), F.col("probe_norm"))
                         .alias("_cos"))
    return (scored.orderBy(F.desc("_cos"), "vec_id").limit(k)
            .select("vec_id", F.round("_cos", 6).alias("cosine_sim")))


def ivf_batch_topk(emb: DataFrame, n_probes: int = 10, k: int = 10,
                   n_centroids: int = 16, nprobe: int = 2) -> DataFrame:
    """IVF search for a whole probe SET (ids < ``n_probes``) at once:
    each probe scans only its ``nprobe`` nearest centroid cells of the
    corpus (ids ≥ ``n_probes``). Returns (probe_id, vec_id, rank,
    cosine_sim) — the batched counterpart of :func:`ivf_topk`, sharing
    its corpus/probe split with :func:`multi_probe_topk` so the two are
    directly comparable.

    Plan: the corpus is centroid-assigned once (broadcast + argmax
    window); probe→cell routing is a tiny probes×centroids broadcast
    pass; candidates come from ONE equi-join on the centroid id — the
    corpus never cross-joins the probe set, so cost scales with
    nprobe/n_centroids of the corpus per probe, not with corpus×probes.
    """
    base = _vec_base(emb, "vec_id", "embedding")
    cents = _centroid_frame(base, n_centroids, None)
    corpus = _assign(base.filter(F.col("id") >= n_probes), cents)
    probes = (base.filter(F.col("id") < n_probes)
              .select(F.col("id").alias("probe_id"),
                      F.col("v").alias("pv"), F.col("nv").alias("pn")))
    wcell = Window.partitionBy("probe_id").orderBy(F.desc("_ccos"),
                                                   F.col("cid"))
    cells = (probes.crossJoin(F.broadcast(cents))
             .select("probe_id", "pv", "pn", "cid",
                     cosine_with_norms(F.col("pv"), F.col("cv"),
                                       F.col("pn"), F.col("cnv"))
                     .alias("_ccos"))
             .withColumn("_rn", F.row_number().over(wcell))
             .filter(F.col("_rn") <= nprobe)
             .select("probe_id", "pv", "pn",
                     F.col("cid").alias("centroid")))
    scored = (corpus.join(F.broadcast(cells), "centroid")
              .select("probe_id", F.col("id").alias("vec_id"),
                      cosine_with_norms(F.col("v"), F.col("pv"),
                                        F.col("nv"), F.col("pn"))
                      .alias("_cos")))
    w = Window.partitionBy("probe_id").orderBy(F.desc("_cos"), F.col("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("probe_id", "vec_id", "rank",
                    F.round("_cos", 6).alias("cosine_sim")))


def quantized_shortlist_recall(emb: DataFrame, n_probes: int = 8, k: int = 10,
                               rescore_factor: int = 3) -> DataFrame:
    """Recall@k of the QUANTIZED coarse shortlist per probe — the number
    that bounds what :func:`quantized_cosine_topk`'s exact rescore can
    recover: of the true (full-precision) top-k, how many survive into
    the top ``rescore_factor·k`` by dequantized cosine. Returns
    (probe_id, n_hits, recall_at_k) for probes ids < ``n_probes``
    against the corpus ids ≥ ``n_probes`` (the :func:`ivf_recall`
    split, so the ANN quality metrics are directly comparable).

    Scores are computed dequantize-then-cosine with the oracle's exact
    operation order (bit-identical to DuckDB), so the shortlist CUT —
    which recall reads directly, unlike the production query where a 5x
    margin absorbs near-ties — is engine-independent. The production
    integer-dot form is the same scores in exact arithmetic
    (the affine identity in :func:`quantized_cosine_topk`)."""
    n_cand = rescore_factor * k
    q = quantize_embeddings(emb, "vec_id", "embedding")
    sc = F.when(F.col("mx") > F.col("mn"),
                (F.col("mx") - F.col("mn")) / F.lit(255.0)) \
         .otherwise(F.lit(1.0))
    dv = F.transform(
        "codes", lambda c: F.col("mn") + c.cast("double") * F.col("sc"))
    deq = (q.withColumn("sc", sc).select("id", dv.alias("dv"))
           .withColumn("dn", l2_norm(F.col("dv"))))
    probes = (deq.filter(F.col("id") < n_probes)
              .select(F.col("id").alias("probe_id"),
                      F.col("dv").alias("pdv"), F.col("dn").alias("pdn")))
    corpus = deq.filter(F.col("id") >= n_probes)
    w = Window.partitionBy("probe_id").orderBy(F.desc("_qcos"), "id")
    shortlist = (corpus.crossJoin(F.broadcast(probes))
                 .select("probe_id", "id",
                         cosine_with_norms(F.col("dv"), F.col("pdv"),
                                           F.col("dn"), F.col("pdn"))
                         .alias("_qcos"))
                 .withColumn("_rn", F.row_number().over(w))
                 .filter(F.col("_rn") <= n_cand)
                 .select("probe_id", F.col("id").alias("vec_id"),
                         F.lit(1).alias("_hit")))
    exact = multi_probe_topk(emb, n_probes, k, "embedding")
    return (exact.select("probe_id", "vec_id")
            .join(F.broadcast(shortlist), ["probe_id", "vec_id"], "left")
            .groupBy("probe_id")
            .agg(F.count("_hit").alias("n_hits"))
            .select("probe_id", "n_hits",
                    (F.col("n_hits").cast("double") / k)
                    .alias("recall_at_k")))


def ivf_recall_curve(emb: DataFrame, nprobes: tuple[int, ...] = (1, 2, 4),
                     n_probes: int = 6, k: int = 10,
                     n_centroids: int = 8) -> DataFrame:
    """The multi-probe recall CURVE: mean recall@k across the probe set
    for each ``nprobe`` — the measurement behind IVF's core tuning
    trade (probe more cells → recall rises, scan cost rises linearly).
    Returns one row per nprobe: (nprobe, mean_recall).

    One exact reference (``multi_probe_topk``) compared against one
    ``ivf_batch_topk`` per nprobe; compare joins are (probes × k) rows
    and broadcast. The per-branch subplans are narrow map passes over
    the corpus scan — recomputed per branch rather than pinned, per the
    engine's no-persist rule."""
    exact = multi_probe_topk(emb, n_probes, k, "embedding") \
        .select("probe_id", "vec_id")
    denom = float(n_probes * k)
    parts = []
    for np_ in nprobes:
        approx = ivf_batch_topk(emb, n_probes, k, n_centroids, np_)
        hit = (approx.select("probe_id", "vec_id")
               .withColumn("_hit", F.lit(1)))
        parts.append(
            exact.join(F.broadcast(hit), ["probe_id", "vec_id"], "left")
            .agg((F.count("_hit").cast("double") / F.lit(denom))
                 .alias("_r"))
            .select(F.lit(np_).cast("int").alias("nprobe"),
                    F.col("_r").alias("mean_recall")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("nprobe")


def ivf_recall(emb: DataFrame, n_probes: int = 10, k: int = 10,
               n_centroids: int = 16, nprobe: int = 2) -> DataFrame:
    """Measured recall@k of the IVF index against the exact scan, per
    probe — the ANN quality metric made a first-class query instead of a
    test-only assertion. Returns (probe_id, n_hits, recall_at_k).

    Both sides share the same probe/corpus split; the compare is a tiny
    (n_probes × k)-row join, so the cost is just the two searches.
    """
    exact = multi_probe_topk(emb, n_probes, k, "embedding")
    approx = ivf_batch_topk(emb, n_probes, k, n_centroids, nprobe)
    hit = (approx.select("probe_id", "vec_id").withColumn("_hit", F.lit(1)))
    # The compare join is (n_probes × k) rows a side — broadcast it
    # explicitly so the static plan never falls back to sort-merge.
    return (exact.select("probe_id", "vec_id")
            .join(F.broadcast(hit), ["probe_id", "vec_id"], "left")
            .groupBy("probe_id")
            .agg(F.count("_hit").alias("n_hits"))
            .select("probe_id", "n_hits",
                    (F.col("n_hits").cast("double") / k)
                    .alias("recall_at_k")))


def _jl_matrix(in_dim: int, out_dim: int, seed: int = 0) -> list[list[float]]:
    """Deterministic Johnson–Lindenstrauss projection matrix: entry
    (j, i) is an Irwin–Hall(12) approximate standard normal — the sum
    of 12 md5-derived uniforms minus 6 (mean 0, variance exactly 1) —
    scaled by 1/sqrt(out_dim) so squared norms are preserved in
    expectation. Generated driver-side with hashlib (NOT engine hash
    functions): the matrix is ~out_dim·in_dim doubles, small enough to
    embed as literals in BOTH the Spark plan and the DuckDB twin, which
    is what makes the projection hash-checkable without either engine
    having to reproduce the RNG. Irwin–Hall instead of Box–Muller is
    deliberate: no ln/cos whose libm rounding could differ if an engine
    ever DID regenerate it — additions and one division only."""
    import hashlib
    import math

    scale = 1.0 / math.sqrt(out_dim)
    R = []
    for j in range(out_dim):
        row = []
        for i in range(in_dim):
            s = 0.0
            for t in range(12):
                key = f"rp|{seed}|{i}|{j}|{t}".encode()
                s += int(hashlib.md5(key).hexdigest()[:8], 16) / 4294967296.0
            row.append((s - 6.0) * scale)
        R.append(row)
    return R


def random_projection(emb: DataFrame, out_dim: int = 16, seed: int = 0,
                      dim: int | None = None, flat: bool = False) -> DataFrame:
    """JL random projection of the embedding column to ``out_dim``
    dimensions: proj[j] = <v, R[j]>, rounded to 6 decimals. Returns
    (vec_id, proj array<double>), or — with ``flat=True`` — one
    scalar double column per component (``proj_0..proj_{out_dim-1}``),
    the shape downstream columnar consumers (and value-hash harnesses)
    want. By the JL lemma pairwise distances survive within (1±ε) for
    out_dim = O(log n / ε²), so the projected table is the cheap at-rest
    form for coarse filtering: a 64→16 projection cuts vector bytes 4×
    and every downstream SRP/top-k pass scales with the smaller
    dimension.

    Plan: a pure narrow map — the matrix rides in the plan as literals
    (the same broadcast-a-tiny-model shape as the IVF centroids, minus
    the collect), each component one sequential JVM fold — so the
    projection pipelines with the scan and shuffles nothing at any
    corpus size. Each matrix row is F.lit(row) — a true array Literal,
    constant at eval time — NOT F.array of per-element lits, whose
    CreateArray is rebuilt per input row per component (the same
    per-row array-rebuild trap bloom_prefilter_join documents). ``dim``
    skips the one-row probe when the caller knows the input width."""
    from ..functions.vectors import as_double, dot

    if dim is None:
        dim = emb.select(F.size(F.col("embedding")).alias("d")).first()["d"]
    R = _jl_matrix(dim, out_dim, seed)
    v = as_double(F.col("embedding"))
    comps = [F.round(dot(v, F.lit(row)), 6) for row in R]
    if flat:
        return emb.select(F.col("vec_id"),
                          *[c.alias(f"proj_{j}") for j, c in enumerate(comps)])
    return emb.select(F.col("vec_id"), F.array(*comps).alias("proj"))


def matryoshka_recall(emb: DataFrame, dims: tuple[int, ...] = (8, 16, 32),
                      n_probes: int = 10, k: int = 10) -> DataFrame:
    """Recall@k of PREFIX-TRUNCATED embeddings against the full-dim
    exact ranking — the evaluation behind matryoshka representation
    learning (Kusupati et al., NeurIPS'22): if the first d coordinates
    carry the signal, a d-dim index answers at a fraction of the
    memory/FLOPs and this curve says what that truncation costs on YOUR
    corpus. Returns one row per d: (dims_kept, mean_recall), measured
    — never asserted — like :func:`ivf_recall_curve`.

    Plan: one exact full-dim reference (:func:`multi_probe_topk`), one
    truncated top-k per d over ``slice(vec, 1, d)`` — each a narrow
    map pass + probe-partitioned window; compare joins are
    (probes × k)-row broadcasts. At scale the truncated pass is the
    cheap one (d/D of the FLOPs), which is the whole point."""
    exact = multi_probe_topk(emb, n_probes, k, "embedding") \
        .select("probe_id", "vec_id")
    parts = []
    for d in dims:
        trunc = emb.select(
            F.col("vec_id"),
            F.slice(as_double(F.col("embedding")), 1, d).alias("_tv"))
        hit = (multi_probe_topk(trunc, n_probes, k, "_tv")
               .select("probe_id", "vec_id").withColumn("_hit", F.lit(1)))
        # denominator = the ACTUAL exact-reference row count, not
        # n_probes*k: a corpus smaller than k per probe must still be
        # able to score recall 1.0 at the identity truncation
        parts.append(
            exact.join(F.broadcast(hit), ["probe_id", "vec_id"], "left")
            .agg((F.count("_hit").cast("double")
                  / F.count("*").cast("double")).alias("_r"))
            .select(F.lit(d).cast("int").alias("dims_kept"),
                    F.col("_r").alias("mean_recall")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("dims_kept")
