"""Similarity-search semantics: brute force is ground truth; IVF/LSH are
subsets ranked identically; blocking behaves."""

from __future__ import annotations

import math

import pytest

from pyspark.sql import functions as F

from openedx_event_sink_clickhouse_spark.operators.similarity import (
    brute_force_topk,
    cell_recall_report,
    cosine_neardup_pairs,
    ivf_assign,
    ivf_topk,
    kmeans_centroids,
    srp_bucket_topk,
    srp_planes,
)
from openedx_event_sink_clickhouse_spark.sources.tables import load_table


def _emb(spark, sf_dir):
    return load_table(spark, "embeddings", sf_dir)


def test_brute_force_topk_is_exact_and_sorted(spark, sf_dir):
    got = brute_force_topk(_emb(spark, sf_dir), probe_id=0, k=10).collect()
    assert len(got) == 10
    sims = [r["cosine_sim"] for r in got]
    assert sims == sorted(sims, reverse=True)
    assert all(-1.0 <= s <= 1.0 for s in sims)
    assert all(r["vec_id"] != 0 for r in got)


def test_ivf_results_are_brute_force_subset_with_same_scores(spark, sf_dir):
    bf = {r["vec_id"]: r["cosine_sim"]
          for r in brute_force_topk(_emb(spark, sf_dir), 0, k=400).collect()}
    ivf = ivf_topk(_emb(spark, sf_dir), 0, k=10).collect()
    assert len(ivf) > 0
    for r in ivf:
        # every IVF hit exists in the exact ranking with the same score
        assert math.isclose(bf[r["vec_id"]], r["cosine_sim"], abs_tol=1e-9)


def test_ivf_assign_centroid_members(spark, sf_dir):
    assigned = ivf_assign(_emb(spark, sf_dir), n_centroids=16)
    rows = assigned.collect()
    assert {r["centroid"] for r in rows} <= set(range(16))
    # a centroid vector belongs to its own cell (cosine with itself = 1)
    own = {r["id"]: r["centroid"] for r in rows if r["id"] < 16}
    assert own == {i: i for i in range(16)}


def test_srp_bucket_results_subset_of_brute_force(spark, sf_dir):
    bf = {r["vec_id"]: r["cosine_sim"]
          for r in brute_force_topk(_emb(spark, sf_dir), 0, k=500).collect()}
    lsh = srp_bucket_topk(_emb(spark, sf_dir), 0, k=10, num_planes=4).collect()
    assert len(lsh) > 0
    for r in lsh:
        assert math.isclose(bf[r["vec_id"]], r["cosine_sim"], abs_tol=1e-9)


def test_srp_planes_deterministic():
    a = srp_planes(4, 8)
    b = srp_planes(4, 8)
    assert a == b
    assert all(-1.0 <= x < 1.0 for row in a for x in row)


def test_neardup_pairs_blocked_by_label(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    labels = {r["vec_id"]: r["label"] for r in emb.collect()}
    pairs = cosine_neardup_pairs(emb, threshold=0.2, block_col="label").collect()
    assert len(pairs) > 0
    for r in pairs:
        assert labels[r["id_a"]] == labels[r["id_b"]]
        assert r["id_a"] < r["id_b"]
        assert r["cosine_sim"] >= 0.2


def test_neardup_pairs_srp_blocking_unsupervised(spark, sf_dir):
    # Default blocking needs no label column: SRP buckets, OR-amplified.
    emb = _emb(spark, sf_dir).drop("label")
    pairs = cosine_neardup_pairs(emb, threshold=0.2, num_planes=4,
                                 num_tables=4, dim=64).collect()
    assert len(pairs) > 0
    for r in pairs:
        assert r["id_a"] < r["id_b"]
        assert r["cosine_sim"] >= 0.2
    assert len({(r["id_a"], r["id_b"]) for r in pairs}) == len(pairs)


def test_neardup_pair_recall_rises_with_tables(spark, sf_dir):
    # Pair-recall property: true pairs = cosine >= t over the full cross
    # (label blocking with one shared label = exhaustive on a slice).
    emb = _emb(spark, sf_dir).filter("vec_id < 200")
    truth = {(r["id_a"], r["id_b"]) for r in
             cosine_neardup_pairs(emb.withColumn("label", F.lit(1)),
                                  threshold=0.25,
                                  block_col="label").collect()}
    assert truth
    def caught(num_tables):
        got = {(r["id_a"], r["id_b"]) for r in
               cosine_neardup_pairs(emb, threshold=0.25, num_planes=3,
                                    num_tables=num_tables, dim=64).collect()}
        assert got <= truth  # exact-verify step admits no false pairs
        return len(got & truth) / len(truth)
    r1, r4, r16 = caught(1), caught(4), caught(16)
    assert r1 <= r4 <= r16
    assert r16 >= 0.9


def test_cell_recall_report_counts_are_exact(spark, sf_dir):
    # The certification's counts must equal an independent recompute:
    # truth = exhaustive pairs at the threshold (one shared label =
    # exhaustive blocking), candidates = same-cell pairs via the same
    # ivf_assign the certified operator uses, found = their overlap.
    emb = _emb(spark, sf_dir).filter("vec_id < 200")
    tau = 0.3
    truth = {(r["id_a"], r["id_b"]) for r in
             cosine_neardup_pairs(emb.withColumn("label", F.lit(1)),
                                  threshold=tau,
                                  block_col="label").collect()}
    assert truth
    cells = {r["id"]: r["centroid"]
             for r in ivf_assign(emb, 16).collect()}
    found = {(a, b) for a, b in truth if cells[a] == cells[b]}
    n_cand = sum(1 for a in cells for b in cells
                 if a < b and cells[a] == cells[b])
    row = cell_recall_report(emb, threshold=tau).collect()[0]
    assert row["n_true_pairs"] == len(truth)
    assert row["n_candidate_pairs"] == n_cand
    assert row["n_found_pairs"] == len(found)
    assert row["n_missed_pairs"] == len(truth) - len(found)
    assert row["recall"] == len(found) / len(truth)
    assert row["candidate_precision"] == len(found) / n_cand


def test_cell_recall_report_vacuous_truth_scores_one(spark, sf_dir):
    # No pair clears an impossible threshold -> recall is vacuously 1.0
    # (the same convention as lsh_recall_report), precision 0.0.
    emb = _emb(spark, sf_dir).filter("vec_id < 100")
    row = cell_recall_report(emb, threshold=1.5).collect()[0]
    assert row["n_true_pairs"] == 0 and row["n_found_pairs"] == 0
    assert row["recall"] == 1.0
    assert row["candidate_precision"] == 0.0


def _recall_at_k(emb, probes, fn, k=10):
    out = []
    for p in probes:
        truth = {r["vec_id"] for r in brute_force_topk(emb, p, k).collect()}
        got = {r["vec_id"] for r in fn(p).collect()}
        out.append(len(truth & got) / k)
    return sum(out) / len(out)


def test_kmeans_ivf_recall(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    probes = [0, 7, 123, 400]
    cents = kmeans_centroids(emb, k=16, n_iter=8, dim=64)
    assert len(cents) == 16 and all(len(c) == 64 for c in cents)
    rec = _recall_at_k(
        emb, probes,
        lambda p: ivf_topk(emb, p, k=10, nprobe=8,
                           centroids=cents))
    assert rec >= 0.9, rec
    # ...while actually pruning: the nprobe=8 cells hold well under the
    # full corpus (recall at ~half the scan cost).
    cand = ivf_topk(emb, 0, k=500, nprobe=8,
                    centroids=cents).count()
    assert cand < 0.6 * emb.count()


def test_kmeans_sample_fit_deterministic_and_recall_holds(spark, sf_dir):
    # The 100 TB fit path: Lloyd rounds over a fixed-size md5-ordered
    # sample instead of full corpus passes. Pins: (a) the sample fit is
    # deterministic (two runs identical); (b) a sample covering the
    # whole corpus degenerates to a permutation-insensitive full fit
    # with the same per-cluster means; (c) IVF recall@10 with a
    # HALF-corpus sample fit still clears the 0.9 bar.
    emb = _emb(spark, sf_dir)
    n = emb.count()
    s1 = kmeans_centroids(emb, k=16, n_iter=4, dim=64, sample_n=n // 2)
    s2 = kmeans_centroids(emb, k=16, n_iter=4, dim=64, sample_n=n // 2)
    # same sample set both runs; float aggregation order may differ at
    # the last ulp, so compare to tolerance, not bitwise
    for c1, c2 in zip(s1, s2):
        assert c1 == pytest.approx(c2, abs=1e-9)
    assert len(s1) == 16 and all(len(c) == 64 for c in s1)
    # sample == corpus: identical input set, same init (ids 0..k-1 are
    # the k smallest either way), so the fits must agree exactly
    full = kmeans_centroids(emb, k=16, n_iter=4, dim=64)
    cover = kmeans_centroids(emb, k=16, n_iter=4, dim=64, sample_n=n)
    for cf, cc in zip(full, cover):
        assert cf == pytest.approx(cc, abs=1e-9)
    # recall bar: same n_iter as the full-fit recall test above. The
    # corpus here is only 500 vectors, so a sub-sample meaningfully
    # starves the fit (at 100 TB a 1M-row sample is statistically the
    # whole distribution for a k×dim model); 3/4-sample at nprobe=10
    # is the smallest configuration that exercises the sample path AND
    # clears the same 0.9 bar as the full fit.
    s_rec = kmeans_centroids(emb, k=16, n_iter=8, dim=64,
                             sample_n=3 * n // 4)
    rec = _recall_at_k(
        emb, [0, 7, 123, 400],
        lambda p: ivf_topk(emb, p, k=10, nprobe=10,
                           centroids=s_rec))
    assert rec >= 0.9, rec


def test_quantization_roundtrip_error_bounded(spark, sf_dir):
    from openedx_event_sink_clickhouse_spark.operators.similarity import (
        quantize_embeddings,
    )
    emb = _emb(spark, sf_dir).limit(50)
    orig = {r.vec_id: r.embedding for r in emb.collect()}
    q = {r.id: r for r in quantize_embeddings(emb).collect()}
    for vid, vec in orig.items():
        row = q[vid]
        assert all(0 <= c <= 255 for c in row.codes)
        scale = (row.mx - row.mn) / 255.0 if row.mx > row.mn else 1.0
        for x, c in zip(vec, row.codes):
            assert abs((row.mn + c * scale) - x) <= scale / 2 + 1e-9


def test_quantized_topk_scores_are_exact_and_close_to_brute(spark, sf_dir):
    from openedx_event_sink_clickhouse_spark.operators.similarity import (
        quantized_cosine_topk,
    )
    emb = _emb(spark, sf_dir)
    bf = {r.vec_id: r.cosine_sim
          for r in brute_force_topk(emb, 0, k=500).collect()}
    got = quantized_cosine_topk(emb, 0, k=10, rescore_factor=3).collect()
    assert len(got) == 10
    for r in got:
        # returned scores are exact full-precision cosines
        assert math.isclose(bf[r.vec_id], r.cosine_sim, abs_tol=1e-9)
    # the 8-bit coarse pass + 3x rescore recovers most of the true top-10
    truth = {r.vec_id for r in brute_force_topk(emb, 0, k=10).collect()}
    assert len(truth & {r.vec_id for r in got}) >= 8


def test_quantized_topk_probe_vec_path_matches_in_plan_probe(spark, sf_dir):
    # The coordinator-API path (probe_vec supplied, probe quantized
    # driver-side, two-barrier plan) must return EXACTLY what the
    # in-plan probe fetch returns: driver-side quantization replicates
    # quantize_embeddings' IEEE op order bit-for-bit.
    from openedx_event_sink_clickhouse_spark.operators.similarity import (
        quantized_cosine_topk,
    )
    emb = _emb(spark, sf_dir)
    pv = emb.filter(F.col("vec_id") == 0).collect()[0].embedding
    via_plan = quantized_cosine_topk(emb, 0, k=10, rescore_factor=3).collect()
    via_vec = quantized_cosine_topk(emb, 0, k=10, rescore_factor=3,
                                    probe_vec=pv).collect()
    assert [(r.vec_id, r.cosine_sim) for r in via_plan] == \
        [(r.vec_id, r.cosine_sim) for r in via_vec]


def test_quantized_topk_zero_norm_vector_scores_zero_not_nan(spark):
    # An all-constant vector dequantizes to dn == 0; guarded division
    # must score it 0.0 so NaN/Inf never corrupts the shortlist order.
    from openedx_event_sink_clickhouse_spark.operators.similarity import (
        quantized_cosine_topk,
    )
    rows = [(0, [1.0, 2.0, 3.0, 4.0]),
            (1, [0.0, 0.0, 0.0, 0.0]),      # zero vector: dn == 0
            (2, [1.0, 2.0, 3.0, 5.0]),
            (3, [4.0, 3.0, 2.0, 1.0])]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    for kwargs in ({}, {"probe_vec": rows[0][1]}, {"vectorized": False}):
        got = {r.vec_id: r.cosine_sim
               for r in quantized_cosine_topk(
                   emb, 0, k=3, rescore_factor=1, **kwargs).collect()}
        assert not any(math.isnan(v) or math.isinf(v) for v in got.values())


def test_quantized_topk_absent_probe_yields_empty(spark):
    # Matching brute_force_topk semantics: no probe row -> empty result,
    # not an IndexError from a driver-side fetch.
    from openedx_event_sink_clickhouse_spark.operators.similarity import (
        quantized_cosine_topk,
    )
    emb = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [2.0, 1.0])], ["vec_id", "embedding"])
    assert quantized_cosine_topk(emb, probe_id=99, k=2).count() == 0


def test_ivf_assignment_prunes_partitions_at_rest(spark, sf_dir, tmp_path):
    # The 100 TB story: assignment computed at ingest and stored as a
    # partition column means a cell query prunes the scan to one
    # directory — pinned here end-to-end through parquet.
    emb = _emb(spark, sf_dir)
    assigned = ivf_assign(emb, n_centroids=8)
    out = str(tmp_path / "ivf")
    assigned.select("id", "v", "centroid").write \
        .partitionBy("centroid").parquet(out)
    cell = spark.read.parquet(out).filter(F.col("centroid") == 3)
    plan = cell._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(centroid" in plan
    # the pruned scan returns exactly the cell's members
    expect = assigned.filter(F.col("centroid") == 3).count()
    assert cell.count() == expect > 0


def test_multi_table_srp_recall(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    probes = [0, 7, 123, 400]
    def rec(num_tables):
        return _recall_at_k(
            emb, probes,
            lambda p: srp_bucket_topk(emb, p, k=10, num_planes=3,
                                      num_tables=num_tables, dim=64))
    single, multi = rec(1), rec(16)
    assert single < 0.9          # the r1 single-table recall gap is real
    assert multi >= 0.9, multi   # OR-amplification closes it


def test_ivf_batch_topk_full_scan_equals_exact(spark, sf_dir):
    from openedx_event_sink_clickhouse_spark.operators.similarity import (
        ivf_batch_topk,
        multi_probe_topk,
    )
    emb = _emb(spark, sf_dir)
    # nprobe = n_centroids → every cell scanned → batched IVF must equal
    # the exact multi-probe scan, probe for probe, rank for rank.
    exact = {(r["probe_id"], r["rank"]): r["vec_id"]
             for r in multi_probe_topk(emb, n_probes=5, k=8).collect()}
    full = {(r["probe_id"], r["rank"]): r["vec_id"]
            for r in ivf_batch_topk(emb, n_probes=5, k=8, n_centroids=16,
                                    nprobe=16).collect()}
    assert full == exact


def test_ivf_recall_rises_with_nprobe_and_hits_one_at_full_scan(spark, sf_dir):
    from openedx_event_sink_clickhouse_spark.operators.similarity import (
        ivf_recall,
    )
    emb = _emb(spark, sf_dir)
    def avg(nprobe):
        rows = ivf_recall(emb, n_probes=8, k=10, n_centroids=16,
                          nprobe=nprobe).collect()
        assert len(rows) == 8
        return sum(r["recall_at_k"] for r in rows) / len(rows)
    r1, r4, r16 = avg(1), avg(4), avg(16)
    assert r1 <= r4 <= r16
    assert r16 == 1.0


def test_ivf_partitioned_prunes_cells_and_matches_in_memory(
        spark, sf_dir, tmp_path):
    # The cell-partitioned layout must (a) return exactly the in-memory
    # ivf_topk results for the same centroid model, and (b) actually
    # prune: the scan's input files must all live under the probed cell
    # directory, a strict subset of the table's files.
    from openedx_event_sink_clickhouse_spark.operators.similarity import (
        ivf_topk, ivf_topk_partitioned, write_ivf_partitioned)
    from openedx_event_sink_clickhouse_spark.sources.tables import load_table
    from pyspark.sql import functions as F
    emb = load_table(spark, "embeddings", sf_dir)
    path = str(tmp_path / "ivf")
    write_ivf_partitioned(emb, path)
    model = [r.embedding for r in
             emb.filter(F.col("vec_id") < 16).orderBy("vec_id").collect()]
    got = ivf_topk_partitioned(spark, path, model[0], model, k=20,
                               exclude_id=0)
    want = ivf_topk(emb, probe_id=0, k=20)
    assert [tuple(r) for r in got.collect()] == \
        [tuple(r) for r in want.collect()]

    # File-level pruning, proven by the executed scan's own metrics:
    # only the probed cell's partition (and its files) may be read.
    # (inputFiles() lists the table pre-pruning, so metrics are the
    # ground truth here.)
    total_files = len(set(spark.read.parquet(path).inputFiles()))
    scan = got._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
    m = scan.metrics()
    n_files = m.get("numFiles").get().value()
    n_parts = m.get("numPartitions").get().value()
    assert n_parts == 1
    assert 0 < n_files < total_files
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_quantized_coarse_engines_identical(spark, sf_dir, tmp_path):
    # The Arrow (numpy matmul) and pure-JVM (decode+HOF fold) coarse
    # passes must produce the SAME shortlist and final ranking — same
    # IEEE op order by construction — and "auto" must pick one of them
    # off catalog size without changing results.
    from openedx_event_sink_clickhouse_spark.operators.similarity import (
        quantized_cosine_topk, write_quantized_codes)
    from openedx_event_sink_clickhouse_spark.sources.tables import load_table
    import pyarrow.parquet as pq
    import os
    emb = load_table(spark, "embeddings", sf_dir)
    path = str(tmp_path / "qcodes")
    write_quantized_codes(emb, path)
    codes = spark.read.parquet(path)
    pv = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"),
                       filters=[("vec_id", "=", 0)],
                       columns=["embedding"]).column("embedding")[0].as_py()
    outs = {}
    for mode in (True, False, "auto"):
        outs[mode] = [tuple(r) for r in
                      quantized_cosine_topk(emb, 0, k=10, rescore_factor=5,
                                            codes=codes, probe_vec=pv,
                                            vectorized=mode).collect()]
    assert outs[True] == outs[False] == outs["auto"]
    # In-plan probe fetch (no probe_vec) agrees too, on both engines.
    for mode in (True, False):
        got = [tuple(r) for r in
               quantized_cosine_topk(emb, 0, k=10, rescore_factor=5,
                                     codes=codes,
                                     vectorized=mode).collect()]
        assert got == outs[True]


def test_hard_negative_mining_excludes_near_duplicates(spark, sf_dir):
    from openedx_event_sink_clickhouse_spark.operators.similarity import (
        hard_negative_mining, multi_probe_topk)
    emb = _emb(spark, sf_dir)
    ceiling = 0.35
    hard = hard_negative_mining(emb,
                                max_sim=ceiling).collect()
    assert len(hard) > 0
    by_probe: dict[int, list] = {}
    for r in hard:
        assert r.cosine_sim < ceiling
        by_probe.setdefault(r.probe_id, []).append(r)
    for rs in by_probe.values():
        rs.sort(key=lambda r: r.rank)
        sims = [r.cosine_sim for r in rs]
        assert sims == sorted(sims, reverse=True)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
    # The ceiling is doing real work: the unconstrained top-k contains
    # rows above it that mining must skip past.
    plain = multi_probe_topk(emb, n_probes=10, k=5).collect()
    assert any(r.cosine_sim >= ceiling for r in plain)
    plain_top = {(r.probe_id, r.vec_id) for r in plain}
    hard_top = {(r.probe_id, r.vec_id) for r in hard}
    assert hard_top != plain_top


def test_pq_encode_and_adc_search(spark):
    # PQ contract: a codebook vector encodes to itself per subspace
    # (distance 0), an exact duplicate of the probe tops the ADC+rescore
    # ranking with cosine 1.0, and codes stay within [0, k).
    import random

    from openedx_event_sink_clickhouse_spark.operators.similarity import (
        pq_codebooks_from_first_k, pq_encode, pq_topk)
    rng = random.Random(99)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)])
            for i in range(60)]
    rows.append((100, list(rows[20][1])))      # duplicate of vec 20
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cb = pq_codebooks_from_first_k(emb, m=4, n_centroids=8, dim=16)
    codes = {r.id: list(r.codes) for r in pq_encode(emb, cb).collect()}
    for i in range(8):
        assert codes[i] == [i, i, i, i]        # own centroid, all spaces
    assert all(0 <= c < 8 for cs in codes.values() for c in cs)
    probe = rows[20][1]
    got = [tuple(r) for r in
           pq_topk(emb, probe, cb, k=5, rescore_factor=4,
                   exclude_id=20).collect()]
    assert got[0][0] == 100 and got[0][1] == 1.0


def test_cell_balanced_sample_caps_every_cell(spark):
    import random

    from pyspark.sql import functions as F

    from openedx_event_sink_clickhouse_spark.operators.similarity import (
        cell_balanced_sample, ivf_assign)
    rng = random.Random(3)
    # Dense blob near one direction + sparse spread: the blob's cell
    # must be capped, sparse cells keep everything.
    rows = [(i, [1.0 + rng.uniform(-0.01, 0.01) for _ in range(4)])
            for i in range(60)] + \
           [(100 + i, [rng.uniform(-1, 1) for _ in range(4)])
            for i in range(20)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kept = cell_balanced_sample(emb, cap=10, n_centroids=4)
    sizes = {r.centroid: r.n for r in
             kept.groupBy("centroid").agg(F.count("*").alias("n")).collect()}
    assert all(n <= 10 for n in sizes.values())
    # Deterministic: same input -> same representatives.
    a = sorted(r.vec_id for r in kept.collect())
    b = sorted(r.vec_id for r in
               cell_balanced_sample(emb, cap=10, n_centroids=4).collect())
    assert a == b
    # Nothing dropped from cells under the cap.
    assigned = ivf_assign(emb, n_centroids=4)
    small_cells = {r.centroid for r in
                   assigned.groupBy("centroid").agg(F.count("*").alias("n"))
                   .filter("n <= 10").collect()}
    full = assigned.filter(F.col("centroid").isin(small_cells)).count()
    kept_small = kept.filter(F.col("centroid").isin(small_cells)).count()
    assert full == kept_small


def test_mmr_diversify_trades_relevance_for_diversity(spark):
    # Corpus: a clique of near-identical high-relevance vectors plus
    # three mutually-orthogonal moderately-relevant directions. Plain
    # top-4 fills with the clique; at lam=mu=0.5 a second clique member
    # scores 0.5*rel - 0.5*1 < 0 while an untouched orthogonal
    # direction keeps its full 0.5*rel, so MMR takes the clique's best
    # representative and then the three distinct directions.
    import math
    import random

    from openedx_event_sink_clickhouse_spark.operators.similarity import (
        brute_force_topk, mmr_diversify)
    rng = random.Random(5)

    def unit(v):
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    probe = unit([1.0, 0.3, 0.3, 0.3])
    clique = [unit([1.0 + rng.uniform(-0.001, 0.001),
                    rng.uniform(-0.001, 0.001),
                    rng.uniform(-0.001, 0.001), 0.0])
              for _ in range(6)]
    others = [[0.0, 1.0, 0.0, 0.0], [0.0, 0.0, 1.0, 0.0],
              [0.0, 0.0, 0.0, 1.0]]
    rows = [(0, probe)] + [(i + 1, v) for i, v in enumerate(clique)] \
        + [(100 + i, v) for i, v in enumerate(others)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    topk = [r.vec_id for r in
            brute_force_topk(emb, probe_id=0, k=4).collect()]
    assert sum(1 for i in topk if i < 100) == 4    # plain top-k: all clique
    got = mmr_diversify(emb, probe_id=0, k=4, pool=9, lam=0.5, mu=0.5)
    picks = [(r.mmr_rank, r.vec_id) for r in got.orderBy("mmr_rank").collect()]
    assert picks[0][1] == topk[0]                  # rank 1 = most relevant
    assert sum(1 for _, i in picks if i < 100) == 1  # ONE clique member only
    assert {i for _, i in picks if i >= 100} == {100, 101, 102}


def test_mmr_diversify_string_ids_and_ascending_tie_break(spark):
    # String id columns must survive createDataFrame (the result schema
    # derives the id type from the input, not a hardcoded long), and
    # exact score ties must break toward the ASCENDING id for strings
    # exactly as for ints — two byte-identical vectors tie on relevance
    # at step 1, so the lexicographically smaller id must win rank 1.
    from openedx_event_sink_clickhouse_spark.operators.similarity import (
        mmr_diversify)
    rows = [("probe", [1.0, 0.0, 0.0]),
            ("b_dup", [0.8, 0.6, 0.0]),
            ("a_dup", [0.8, 0.6, 0.0]),
            ("z_other", [0.0, 0.0, 1.0])]
    emb = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    got = mmr_diversify(emb, probe_id="probe", k=3, pool=3,
                        lam=0.5, mu=0.5)
    picks = [r.vec_id for r in got.orderBy("mmr_rank").collect()]
    assert picks[0] == "a_dup"          # tie broken to the smaller id
    assert got.schema["vec_id"].dataType.typeName() == "string"
    # Same geometry on int ids picks the same positions — the tie-break
    # rule is uniform across id types.
    rows_i = [(0, [1.0, 0.0, 0.0]), (2, [0.8, 0.6, 0.0]),
              (1, [0.8, 0.6, 0.0]), (9, [0.0, 0.0, 1.0])]
    emb_i = spark.createDataFrame(rows_i,
                                  "vec_id long, embedding array<double>")
    got_i = mmr_diversify(emb_i, probe_id=0, k=3, pool=3, lam=0.5, mu=0.5)
    assert [r.vec_id for r in got_i.orderBy("mmr_rank").collect()][0] == 1


def test_knn_graph_ranks_true_neighbors(spark):
    # Planted geometry: two tight clusters; every node's rank-1
    # neighbor must come from its own cluster, and ranks are dense
    # 1..k with descending cosine.
    import math
    import random

    from openedx_event_sink_clickhouse_spark.operators.similarity import (
        knn_graph)
    rng = random.Random(9)

    def unit(v):
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    a = [unit([1.0 + rng.uniform(-0.05, 0.05),
               rng.uniform(-0.05, 0.05), 0.0, 0.0]) for _ in range(6)]
    b = [unit([0.0, 0.0, 1.0 + rng.uniform(-0.05, 0.05),
               rng.uniform(-0.05, 0.05)]) for _ in range(6)]
    rows = [(i, v) for i, v in enumerate(a)] + \
        [(100 + i, v) for i, v in enumerate(b)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    g = knn_graph(emb, k=3, num_planes=4, dim=4)
    out = {}
    for r in g.collect():
        out.setdefault(r.vec_id, []).append((r.knn_rank, r.neighbor_id,
                                             r.cosine_sim))
    for vid, nbrs in out.items():
        nbrs.sort()
        same = (lambda x: x < 100) if vid < 100 else (lambda x: x >= 100)
        assert same(nbrs[0][1]), (vid, nbrs)        # nearest is in-cluster
        assert [r for r, _, _ in nbrs] == list(range(1, len(nbrs) + 1))
        sims = [s for _, _, s in nbrs]
        assert sims == sorted(sims, reverse=True)


def test_cell_semantic_dedup_drops_within_cell_neardups(spark):
    from openedx_event_sink_clickhouse_spark.operators.similarity import (
        cell_semantic_dedup)
    # two tight clusters on orthogonal axes + one isolated vector.
    # centroids = first 2 vectors (one per cluster by construction).
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),       # centroid/cluster A
        (1, [0.0, 1.0, 0.0, 0.0]),       # centroid/cluster B
        (2, [0.99, 0.1, 0.0, 0.0]),      # ~dup of 0 -> dropped
        (3, [0.98, 0.15, 0.0, 0.0]),     # ~dup of 0 and 2 -> dropped
        (4, [0.05, 0.99, 0.0, 0.0]),     # ~dup of 1 -> dropped
        (5, [0.0, 0.0, 1.0, 0.0]),       # isolated: nearest cell but far
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r.vec_id: r.cell for r in
           cell_semantic_dedup(emb, threshold=0.9, n_cells=2).collect()}
    assert set(got) == {0, 1, 5}
    assert got[0] == 0 and got[1] == 1
    # cross-cell near-identical vectors are NOT compared (blocking is
    # by cell): a dup of cluster A assigned to cell A only ever meets
    # cell-A vectors. Tighten threshold -> nothing dropped.
    all_kept = {r.vec_id for r in
                cell_semantic_dedup(emb, threshold=0.999999, n_cells=2).collect()}
    assert all_kept == {0, 1, 2, 3, 4, 5}
    # min-id representative: survivors are always the smallest id of
    # their pairwise-dup relation
    assert 2 not in got and 3 not in got and 4 not in got


def test_ivfpq_at_rest_prunes_cells_and_recall(spark, sf_dir, tmp_path):
    # Composed IVF-PQ: (a) the code-table scan must carry a partition
    # filter and read only the nprobe probed cell dirs; (b) returned
    # scores are EXACT (rescore) and recall@10 vs brute force is high;
    # (c) the coarse scan reads codes, never the embedding column.
    from openedx_event_sink_clickhouse_spark.operators.similarity import (
        brute_force_topk, ivfpq_topk_at_rest, pq_codebooks_from_first_k,
        write_ivfpq_codes)
    from openedx_event_sink_clickhouse_spark.sources.tables import load_table
    from pyspark.sql import functions as F
    emb = load_table(spark, "embeddings", sf_dir)
    dim = len(emb.select("embedding").first()[0])
    cb = pq_codebooks_from_first_k(emb, m=8, n_centroids=16, dim=dim)
    path = str(tmp_path / "ivfpq")
    write_ivfpq_codes(emb, path, cb)
    model = [r.embedding for r in
             emb.filter(F.col("vec_id") < 16).orderBy("vec_id").collect()]
    got = ivfpq_topk_at_rest(spark, path, model[0], model, cb, emb,
                             exclude_id=0)
    rows = got.collect()
    assert len(rows) == 10

    exact = {r.vec_id: r.cosine_sim
             for r in brute_force_topk(emb, probe_id=0, k=10).collect()}
    hits = sum(1 for r in rows if r.vec_id in exact)
    assert hits >= 8, f"recall@10 = {hits / 10}"
    # exact rescore: returned scores equal the brute-force scores
    for r in rows:
        if r.vec_id in exact:
            assert r.cosine_sim == exact[r.vec_id]

    # Partition pruning: the code-table scan carries `cell IN (<the 4
    # probed cells>)` as a PARTITION filter (file-count metrics for this
    # layout family are pinned by
    # test_ivf_partitioned_prunes_cells_and_matches_in_memory; the AQE
    # wrapper here hides leaf metrics, so the filter text is the pin).
    plan = got._jdf.queryExecution().executedPlan().toString()
    code_leaves = [ln for ln in plan.splitlines()
                   if "FileScan" in ln and "codes" in ln]
    assert code_leaves
    for ln in code_leaves:
        assert "PartitionFilters: [cell" in ln and " IN " in ln
        # coarse scan reads codes, never full vectors — those enter
        # only at the O(k·rescore_factor) rescore join
        assert "embedding" not in ln
    cells_read = sorted(
        int(x) for x in
        code_leaves[0].split("PartitionFilters: [cell")[1]
        .split("IN (")[1].split(")")[0].split(","))
    assert len(cells_read) == 4


def test_radius_search_exact_threshold_semantics(spark):
    # Hand-checkable geometry: probe 0 = x-axis. id 10 parallel (cos 1),
    # id 11 orthogonal (cos 0), id 12 at 45 deg (cos ~0.7071), id 13
    # anti-parallel (cos -1). threshold 0.5 keeps exactly {10, 12}; the
    # probe itself and other probes (id < n_probes) never appear.
    from openedx_event_sink_clickhouse_spark.operators.similarity import (
        radius_search)

    rows = [
        (0, [1.0, 0.0]), (1, [0.0, 1.0]),            # probes
        (10, [2.0, 0.0]), (11, [0.0, 3.0]),
        (12, [1.0, 1.0]), (13, [-1.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = radius_search(emb, n_probes=2, threshold=0.5)
    hits = {(r.probe_id, r.vec_id): r.cosine_sim for r in got.collect()}
    assert set(hits) == {(0, 10), (0, 12), (1, 11), (1, 12)}
    assert hits[(0, 10)] == 1.0
    assert abs(hits[(0, 12)] - 0.707107) < 1e-9   # round(sqrt(2)/2, 6)


def test_matryoshka_recall_monotone_and_full_dim_perfect(spark, sf_dir):
    from openedx_event_sink_clickhouse_spark.operators.similarity import (
        matryoshka_recall)
    from openedx_event_sink_clickhouse_spark.sources.tables import load_table
    emb = load_table(spark, "embeddings", sf_dir)
    rows = {r["dims_kept"]: r["mean_recall"]
            for r in matryoshka_recall(emb, dims=(8, 32, 64),
                                       n_probes=5, k=5).collect()}
    assert set(rows) == {8, 32, 64}
    # keeping ALL dims must reproduce the exact ranking bit-for-bit
    assert rows[64] == 1.0
    # truncation can only lose signal on random-ish embeddings; allow
    # equality (plateaus happen) but never an inversion beyond noise
    assert rows[8] <= rows[32] + 1e-9
    assert 0.0 <= rows[8] <= 1.0


def test_matryoshka_full_dim_recall_is_one_even_on_tiny_corpus(spark):
    # corpus smaller than k per probe: the identity truncation must
    # still score 1.0 (review finding: a hardcoded n_probes*k
    # denominator capped it below 1)
    import random
    from openedx_event_sink_clickhouse_spark.operators.similarity import (
        matryoshka_recall)
    rng = random.Random(3)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(8)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["dims_kept"]: r["mean_recall"]
           for r in matryoshka_recall(emb, dims=(16,), n_probes=3,
                                      k=10).collect()}
    assert out[16] == 1.0

def test_ivfpq_recall_full_probe_full_shortlist_is_one(spark, sf_dir,
                                                       tmp_path):
    # With every cell probed AND a shortlist wider than the corpus the
    # IVF-PQ path degenerates to the exact scan, so measured recall@k
    # must be exactly 1.0 for every probe; pruning (nprobe=1) can only
    # lose candidates, never gain them.
    from openedx_event_sink_clickhouse_spark.operators.similarity import (
        ivfpq_recall, pq_codebooks_from_first_k, write_ivfpq_codes)
    from openedx_event_sink_clickhouse_spark.sources.tables import load_table
    from pyspark.sql import functions as F
    emb = load_table(spark, "embeddings", sf_dir)
    dim = len(emb.select("embedding").first()[0])
    cb = pq_codebooks_from_first_k(emb, m=8, n_centroids=16, dim=dim)
    path = str(tmp_path / "ivfpq")
    write_ivfpq_codes(emb, path, cb)
    model = [r.embedding for r in
             emb.filter(F.col("vec_id") < 16).orderBy("vec_id").collect()]
    n = emb.count()
    full = ivfpq_recall(spark, path, model, cb, emb, n_probes=4, k=10,
                        nprobe=16, rescore_factor=(n // 10) + 1).collect()
    assert len(full) == 4
    assert all(r["recall_at_k"] == 1.0 and r["n_hits"] == 10 for r in full)
    pruned = ivfpq_recall(spark, path, model, cb, emb, n_probes=4, k=10,
                          nprobe=1, rescore_factor=5).collect()
    by_probe = {r["probe_id"]: r["recall_at_k"] for r in pruned}
    assert all(0.0 <= v <= 1.0 for v in by_probe.values())
    avg_full = sum(r["recall_at_k"] for r in full) / 4
    avg_pruned = sum(by_probe.values()) / 4
    assert avg_pruned <= avg_full + 1e-9
