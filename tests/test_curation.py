"""Corpus-curation operators: filter reason codes, PII redaction,
decontamination semantics, deterministic sampling, sequence packing."""

from __future__ import annotations

from pyspark.sql import functions as F

from openedx_event_sink_clickhouse_spark.operators.curation import (
    corpus_mix,
    decontaminate,
    pack_sequences,
    quality_filter,
    sample_corpus,
    scrub_pii,
)


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string")


def test_quality_filter_reason_codes(spark):
    long_text = " ".join(f"w{i}" for i in range(120))
    repetitive = " ".join(["spam"] * 40)
    good = " ".join(f"word{i}" for i in range(50))
    df = _docs(spark, [
        (1, "too short", "en", "s"),
        (2, long_text, "en", "s"),
        (3, repetitive, "en", "s"),
        (4, good, "en", "s"),
    ])
    out = {r.doc_id: r for r in quality_filter(df).collect()}
    assert (out[1].keep, out[1].reason) == (0, "too_short")
    assert (out[2].keep, out[2].reason) == (0, "too_long")
    assert (out[3].keep, out[3].reason) == (0, "repetitive")
    assert (out[4].keep, out[4].reason) == (1, None)


def test_quality_filter_first_reason_wins(spark):
    # a 5-word repetitive doc violates too_short AND repetitive; the
    # rule order pins the reported reason
    df = _docs(spark, [(1, "x x x x x", "en", "s")])
    r = quality_filter(df).collect()[0]
    assert r.reason == "too_short"


def test_scrub_pii_redacts_and_counts(spark):
    df = _docs(spark, [
        (1, "mail a@b.com and b@c.org call +1-555-0100 ssn 123-45-6789",
         "en", "s"),
        (2, "nothing sensitive here", "en", "s"),
    ])
    out = {r.doc_id: r for r in scrub_pii(df).collect()}
    assert out[1].n_email == 2 and out[1].n_phone == 1 and out[1].n_ssn == 1
    s = out[1].scrubbed_text
    assert "<EMAIL>" in s and "<PHONE>" in s and "<SSN>" in s
    assert "a@b.com" not in s and "0100" not in s and "45-6789" not in s
    assert out[2].scrubbed_text == "nothing sensitive here"
    assert (out[2].n_email, out[2].n_phone, out[2].n_ssn) == (0, 0, 0)


def test_decontaminate_flags_overlap_only(spark):
    shared = " ".join(f"tok{i}" for i in range(8))  # one exact 8-gram
    bench = _docs(spark, [(100, shared + " plus benchmark tail", "en", "s")])
    corpus = _docs(spark, [
        (1, "front matter " + shared, "en", "s"),       # contaminated
        (2, " ".join(f"clean{i}" for i in range(12)), "en", "s"),
        (3, "too short", "en", "s"),                    # < 8 words: clean
    ])
    out = {r.doc_id: r for r in decontaminate(corpus, bench, n=8).collect()}
    assert out[1].contaminated == 1 and out[1].n_shared_grams >= 1
    assert out[2].contaminated == 0 and out[2].n_shared_grams == 0
    assert out[3].contaminated == 0
    assert len(out) == 3  # every corpus doc comes back, matched or not


def test_sample_corpus_deterministic_and_stratified(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = sorted(r.doc_id for r in sample_corpus(docs, 0.3).collect())
    b = sorted(r.doc_id for r in sample_corpus(docs, 0.3).collect())
    assert a == b and 0 < len(a) < docs.count()
    # rate monotonicity: a lower rate keeps a subset of a higher rate
    small = set(r.doc_id for r in sample_corpus(docs, 0.1).collect())
    assert small <= set(a)
    # stratified: en oversampled relative to the rest
    strat = sample_corpus(docs, 0.1, strat_col="lang",
                          strat_rates={"en": 0.9})
    frac = {r["lang"]: r["frac"] for r in
            strat.groupBy("lang").count()
            .join(docs.groupBy("lang").agg(F.count("*").alias("n")), "lang")
            .select("lang", (F.col("count") / F.col("n")).alias("frac"))
            .collect()}
    assert frac["en"] > 0.7
    assert all(v < 0.3 for k, v in frac.items() if k != "en")


def test_pack_sequences_budget_and_continuity(spark):
    rows = [(i, " ".join(f"w{j}" for j in range(100)), "en", "s")
            for i in range(10)]  # 10 docs x 100 tokens, budget 256
    out = sorted(pack_sequences(_docs(spark, rows), token_budget=256)
                 .collect(), key=lambda r: r.doc_id)
    # greedy contiguous: start offsets 0,100,...,900; bin = floor(start/256)
    assert [r.bin_id for r in out] == [0, 0, 0, 1, 1, 1, 2, 2, 3, 3]
    assert all(r.bin_offset == (100 * r.doc_id) % 256 for r in out)
    # bins never exceed budget except single over-budget docs (none here):
    from collections import defaultdict
    per_bin = defaultdict(int)
    for r in out:
        per_bin[r.bin_id] += r.n_tokens
    assert all(v <= 3 * 100 for v in per_bin.values())


def test_chunk_documents_overlap_and_coverage(spark):
    from openedx_event_sink_clickhouse_spark.operators.curation import (
        chunk_documents,
    )
    toks = [f"t{i}" for i in range(100)]
    df = _docs(spark, [(1, " ".join(toks), "en", "s"), (2, "tiny", "en", "s")])
    out = sorted(chunk_documents(df, chunk_tokens=40, overlap=10).collect(),
                 key=lambda r: (r.doc_id, r.chunk_idx))
    d1 = [r for r in out if r.doc_id == 1]
    # stride 30 over 100 tokens -> ceil(90/30)=3 chunks: [0:40) [30:70) [60:100)
    assert [r.chunk_idx for r in d1] == [0, 1, 2]
    assert d1[0].chunk_text.split(" ") == toks[0:40]
    assert d1[1].chunk_text.split(" ") == toks[30:70]
    assert d1[2].chunk_text.split(" ") == toks[60:100]
    # consecutive chunks share exactly `overlap` tokens
    assert d1[0].chunk_text.split(" ")[-10:] == d1[1].chunk_text.split(" ")[:10]
    # a short doc still yields one (short) chunk
    d2 = [r for r in out if r.doc_id == 2]
    assert len(d2) == 1 and d2[0].chunk_text == "tiny" and d2[0].n_tokens == 1


def test_corpus_mix_shares_sum_to_one(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rows = corpus_mix(docs).collect()
    assert abs(sum(r.token_share for r in rows) - 1.0) < 1e-3
    assert all(r.n_tokens > 0 for r in rows)


def test_repetition_signals_known_values(spark):
    from openedx_event_sink_clickhouse_spark.operators.curation import (
        repetition_signals,
    )
    df = _docs(spark, [
        (1, "a b a b a b", "en", "s"),     # bigrams: "a b"x3, "b a"x2
        (2, "x y z w", "en", "s"),          # all unique
        (3, "solo", "en", "s"),             # sub-2-word: no bigrams
    ])
    out = {r.doc_id: r for r in repetition_signals(df).collect()}
    r1 = out[1]
    assert r1.n_words == 6
    assert abs(r1.dup_word_frac - (1 - 2 / 6)) < 1e-6
    assert abs(r1.dup_bigram_frac - (1 - 2 / 5)) < 1e-6
    assert r1.top_bigram == "a b" and abs(r1.top_bigram_frac - 3 / 5) < 1e-6
    r2 = out[2]
    assert r2.dup_word_frac == 0.0 and r2.dup_bigram_frac == 0.0
    # tie on count (all bigrams once) -> lexicographically smallest wins
    assert r2.top_bigram == "x y"
    r3 = out[3]
    assert r3.top_bigram is None and r3.top_bigram_frac == 0.0
    assert r3.dup_bigram_frac == 0.0


def test_negative_samples_deterministic_and_valid(spark):
    from openedx_event_sink_clickhouse_spark.operators.curation import (
        negative_samples,
    )
    df = _docs(spark, [(i, f"doc {i}", "en", "s") for i in range(10)])
    out = negative_samples(df, k=3).collect()
    assert len(out) == 30
    for r in out:
        assert 0 <= r.neg_id < 10
        assert r.neg_id != r.doc_id          # self-hit guard
    # reproducible across invocations (no rand())
    again = negative_samples(df, k=3).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_clean_lines_rules_and_order(spark):
    from openedx_event_sink_clickhouse_spark.operators.curation import (
        clean_lines,
    )
    banner = "accept all cookies now"
    docs = spark.createDataFrame(
        [(0, f"keep me here\nno\n{banner}\njavascript required today\nalso keep this"),
         (1, f"{banner}\nanother good line"),
         (2, f"{banner}\nok")],
        ["doc_id", "text"])
    out = {r["doc_id"]: r for r in clean_lines(
        docs, min_line_words=3, blocklist=("javascript",),
        max_line_occurrences=2).collect()}
    # Doc 0: 'no' fails min words, 'javascript…' is blocklisted, banner
    # appears in 3 docs > max 2 → dropped; survivors keep their order.
    assert out[0]["cleaned_text"] == "keep me here\nalso keep this"
    assert out[0]["n_lines"] == 5 and out[0]["n_kept"] == 2
    assert out[1]["cleaned_text"] == "another good line"
    # Doc 2 loses everything → empty text, still one output row.
    assert out[2]["cleaned_text"] == "" and out[2]["n_kept"] == 0


def test_clean_lines_map_only_without_occurrence_cap(spark):
    from openedx_event_sink_clickhouse_spark.operators.curation import (
        clean_lines,
    )
    docs = spark.createDataFrame(
        [(0, "one two three\nshort")], ["doc_id", "text"])
    out = clean_lines(docs, min_line_words=2).collect()[0]
    assert out["cleaned_text"] == "one two three"
    # No corpus-wide cap requested → the plan must not contain the
    # md5-partitioned occurrence window.
    plan = clean_lines(docs, min_line_words=2)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "md5" not in plan.lower()


def test_decontaminate_bloom_superset_and_exact_agreement(spark, sf_dir):
    # Bloom verdicts must be a superset of exact verdicts (no false
    # negatives), agree exactly on contaminated docs, and the word table
    # must stay bounded by m_bits/63 rows regardless of benchmark size.
    from openedx_event_sink_clickhouse_spark.operators.curation import (
        decontaminate, decontaminate_bloom)
    from openedx_event_sink_clickhouse_spark.sources.tables import load_table
    docs = load_table(spark, "documents", sf_dir)
    bench = docs.filter("doc_id < 5")
    exact = {r.doc_id: r.contaminated
             for r in decontaminate(docs, bench, n=8).collect()}
    out = decontaminate_bloom(docs, bench, n=8).collect()
    assert len(out) == len(exact)
    for r in out:
        assert r.contaminated == exact[r.doc_id]
        assert r.bloom_flagged >= r.contaminated, r.doc_id


def test_decontaminate_bloom_tiny_filter_false_positives(spark):
    # Squeeze m_bits until false positives MUST appear: every bit set by
    # a disjoint benchmark still flags clean docs sometimes, but never
    # unflags a dirty one. With m_bits=63 (one word) and enough grams,
    # every probe hits a set bit -> all docs bloom-flagged.
    from openedx_event_sink_clickhouse_spark.operators.curation import (
        decontaminate_bloom)
    docs = spark.createDataFrame(
        [(i, f"alpha{i} beta{i} gamma{i} delta{i}") for i in range(20)],
        ["doc_id", "text"])
    bench = spark.createDataFrame(
        [(100 + i, f"zeta{i} eta{i} theta{i} iota{i}") for i in range(30)],
        ["doc_id", "text"])
    out = decontaminate_bloom(docs, bench, n=3, m_bits=63, k=2).collect()
    assert all(r.contaminated == 0 for r in out)      # disjoint vocab
    assert all(r.bloom_flagged == 1 for r in out)     # saturated filter


def test_mix_plan_temperature_rebalances_toward_tail(spark, sf_dir):
    # α=0.5 must close the gap between head and tail strata: the target
    # share of the largest stratum shrinks, the smallest grows, rates are
    # downsample-only (max == 1), and the target mix still sums to 1.
    from openedx_event_sink_clickhouse_spark.operators.curation import (
        mix_plan)
    from openedx_event_sink_clickhouse_spark.sources.tables import load_table
    docs = load_table(spark, "documents", sf_dir)
    rows = mix_plan(docs, alpha=0.5).collect()
    assert abs(sum(r.target_share for r in rows) - 1.0) < 1e-4
    head = max(rows, key=lambda r: r.token_share)
    tail = min(rows, key=lambda r: r.token_share)
    assert head.target_share < head.token_share
    assert tail.target_share > tail.token_share
    assert max(r.sample_rate for r in rows) == 1.0
    assert all(0 < r.sample_rate <= 1.0 for r in rows)
    # α=1 is the identity plan: every rate 1, target == natural share.
    for r in mix_plan(docs, alpha=1.0).collect():
        assert r.sample_rate == 1.0
        assert abs(r.target_share - r.token_share) < 2e-6


def test_shuffle_shards_deterministic_total_order(spark):
    from openedx_event_sink_clickhouse_spark.operators.curation import (
        shuffle_shards)
    docs = _docs(spark, [(i, f"doc {i}", "en", "web") for i in range(200)])
    out = shuffle_shards(docs, n_shards=8).collect()
    # Every doc placed exactly once, shards in range, positions are a
    # contiguous 0..len-1 run within each shard.
    assert sorted(r.doc_id for r in out) == list(range(200))
    by_shard: dict[int, list[int]] = {}
    for r in out:
        assert 0 <= r.shard < 8
        by_shard.setdefault(r.shard, []).append(r.position)
    for positions in by_shard.values():
        assert sorted(positions) == list(range(len(positions)))
    # Reproducible: a second run gives the identical placement.
    again = shuffle_shards(docs, n_shards=8).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    # The order is actually shuffled (not id order within shards), and a
    # different seed yields a different permutation.
    id_sorted = sorted(out, key=lambda r: (r.shard, r.doc_id))
    pos_sorted = sorted(out, key=lambda r: (r.shard, r.position))
    assert [r.doc_id for r in id_sorted] != [r.doc_id for r in pos_sorted]
    other = shuffle_shards(docs, n_shards=8, seed=7).collect()
    assert sorted(map(tuple, out)) != sorted(map(tuple, other))


def test_shuffle_shards_single_exchange(spark):
    from openedx_event_sink_clickhouse_spark.operators.curation import (
        shuffle_shards)
    docs = _docs(spark, [(i, f"doc {i}", "en", "web") for i in range(50)])
    plan = (shuffle_shards(docs, n_shards=4)
            ._jdf.queryExecution().executedPlan().toString())
    # One hash exchange on shard; the per-shard rank reuses it.
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_prepare_corpus_composition(spark):
    from openedx_event_sink_clickhouse_spark.operators.curation import (
        prepare_corpus, quality_filter, shuffle_shards)
    # 30 good docs (two of them exact dups), one too-short doc.
    rows = [(i, " ".join(f"w{i}x{j}" for j in range(30)), "en", "web")
            for i in range(30)]
    rows[7] = (7, rows[3][1], "en", "web")          # dup of doc 3
    rows.append((99, "too short", "en", "web"))
    docs = _docs(spark, rows)
    out = prepare_corpus(docs, token_budget=64, n_shards=4).collect()
    ids = sorted(r.doc_id for r in out)
    assert 99 not in ids          # quality-filtered
    assert 7 not in ids           # dedup loser (3 survives)
    assert 3 in ids
    assert len(ids) == 29
    # Shard/position mirror shuffle_shards over the survivor set.
    surv = docs.filter(docs.doc_id.isin(ids))
    expect = {(r.doc_id, r.shard, r.position)
              for r in shuffle_shards(surv, n_shards=4).collect()}
    assert {(r.doc_id, r.shard, r.position) for r in out} == expect
    # Packing invariants: bin offsets within budget; bins non-decreasing
    # in shuffle order per shard.
    by_shard: dict[int, list] = {}
    for r in out:
        assert 0 <= r.bin_offset < 64 or r.n_tokens > 64
        by_shard.setdefault(r.shard, []).append(r)
    for rs in by_shard.values():
        rs.sort(key=lambda r: r.position)
        bins = [r.bin_id for r in rs]
        assert bins == sorted(bins)


def test_perplexity_filter_band_semantics(spark, sf_dir):
    from openedx_event_sink_clickhouse_spark.operators.curation import (
        perplexity_filter)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = perplexity_filter(docs).collect()
    assert len(out) == docs.count()
    kept = [r.unigram_ppl for r in out if r.keep == 1]
    dropped = [r.unigram_ppl for r in out if r.keep == 0]
    # Both tails drop: something above the kept max and something below
    # the kept min.
    assert dropped and kept
    assert max(dropped) > max(kept)
    assert min(dropped) < min(kept)
    # Roughly the right mass inside the band (exact percentile band).
    frac = len(kept) / len(out)
    assert 0.75 <= frac <= 0.9
    # Absolute-bounds mode pins the band explicitly.
    lo, hi = min(kept), max(kept)
    fixed = perplexity_filter(docs, bounds=(lo, hi)).collect()
    assert {(r.doc_id, r.keep) for r in fixed} == \
        {(r.doc_id, r.keep) for r in out}


def test_release_pipeline_drops_benchmark_and_scrubs(spark, sf_dir):
    # End-to-end semantics that the hash-match alone doesn't surface:
    # benchmark docs (< 5) must be decontaminated OUT of the release
    # (their own grams overlap themselves), and the output is a valid
    # epoch placement over the survivor set.
    from openedx_event_sink_clickhouse_spark.registry import REGISTRY
    fn = REGISTRY["llm_release_pipeline"][0]
    rows = fn(spark, sf_dir).collect()
    ids = {r.doc_id for r in rows}
    assert ids and not (ids & {0, 1, 2, 3, 4})
    by_shard: dict[int, list] = {}
    for r in rows:
        assert 0 <= r.shard < 16 and r.n_tokens > 0
        by_shard.setdefault(r.shard, []).append(r.position)
    for ps in by_shard.values():
        assert sorted(ps) == list(range(len(ps)))


def test_train_val_test_split_deterministic_and_stable(spark):
    from openedx_event_sink_clickhouse_spark.operators.curation import (
        train_val_test_split)
    docs = _docs(spark, [(i, f"doc {i}", "en", "s") for i in range(1000)])
    out = {r.doc_id: r.split for r in
           train_val_test_split(docs, 0.05, 0.05).collect()}
    assert set(out.values()) == {"train", "val", "test"}
    n = len(out)
    frac = {s: sum(1 for v in out.values() if v == s) / n
            for s in ("train", "val", "test")}
    assert 0.85 <= frac["train"] <= 0.95
    assert 0.02 <= frac["val"] <= 0.08 and 0.02 <= frac["test"] <= 0.08
    # STABILITY under growth: assignments on a subset equal the full
    # corpus's assignments for the same ids (an id's split never moves).
    sub = docs.filter(docs.doc_id < 300)
    sub_out = {r.doc_id: r.split for r in
               train_val_test_split(sub, 0.05, 0.05).collect()}
    assert sub_out == {k: v for k, v in out.items() if k < 300}


def test_release_corpus_guards(spark):
    # benchmark=None AND bench_grams=None is a clear error, not an
    # AttributeError; bench_grams=[] means "no decontamination" and must
    # behave exactly like the quality filter alone.
    import pytest

    from openedx_event_sink_clickhouse_spark.operators.curation import (
        release_corpus)
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}x{j}" for j in range(25))) for i in range(6)],
        ["doc_id", "text"])
    with pytest.raises(ValueError, match="bench_grams"):
        release_corpus(docs, None)
    out = release_corpus(docs, None, bench_grams=[])
    assert out.count() == 6  # all pass quality, none decontaminated


def test_pack_by_counts_matches_budget_semantics(spark):
    from openedx_event_sink_clickhouse_spark.operators.curation import (
        pack_by_counts)
    counts = spark.createDataFrame(
        [(0, "a", 300), (1, "a", 300), (2, "a", 100), (3, "a", 600),
         (4, "b", 512)],
        "doc_id long, shard string, n_tokens long")
    out = {r.doc_id: (r.bin_id, r.bin_offset)
           for r in pack_by_counts(counts).collect()}
    assert out[0] == (0, 0)
    assert out[1] == (0, 300)     # starts at 300, crosses into bin 1
    assert out[2] == (1, 88)      # start 600 -> bin 1 offset 88
    assert out[3] == (1, 188)     # oversized doc: bin by its start
    assert out[4] == (0, 0)       # shard b independent


def test_mix_interleave_prefix_ratios(spark):
    # The WFQ property: every prefix of the mix_key order contains the
    # strata near their target ratios (within one doc per stratum).
    import pytest

    from openedx_event_sink_clickhouse_spark.operators.curation import (
        mix_interleave)
    docs = spark.createDataFrame(
        [(i, "a" if i < 300 else ("b" if i < 400 else "c"))
         for i in range(500)],
        ["doc_id", "lang"])
    weights = {"a": 0.6, "b": 0.2, "c": 0.2}
    rows = sorted(mix_interleave(docs, weights).collect(),
                  key=lambda r: (r.mix_key, r.stratum))
    for prefix in (10, 50, 100, 250):
        seen = [r.stratum for r in rows[:prefix]]
        for s, w in weights.items():
            # WFQ bound: |emitted - w*prefix| <= 1 per stratum
            assert abs(seen.count(s) - w * prefix) <= 1, (prefix, s)
    # deterministic + excluded strata dropped
    with pytest.raises(ValueError):
        mix_interleave(docs, {})
    only_ab = mix_interleave(docs, {"a": 0.5, "b": 0.5})
    assert only_ab.filter("stratum = 'c'").count() == 0


def test_weighted_sample_is_pps_and_deterministic(spark):
    # Sequential Poisson sampling: heavier rows must be sampled at a
    # measurably higher rate (here weights 1 vs 10 over 2000 rows), the
    # draw is identical run-to-run, excludes non-positive weights, and
    # sample_rank is a dense 1..k permutation of the selection order.
    from openedx_event_sink_clickhouse_spark.operators.curation import (
        weighted_sample)
    rows = [(i, 10 if i % 2 == 0 else 1) for i in range(2000)]
    rows += [(9000, 0), (9001, -5), (9002, None)]
    df = spark.createDataFrame(rows, "doc_id long, n_chars int")
    got = weighted_sample(df, k=200).collect()
    assert len(got) == 200
    assert sorted(r.sample_rank for r in got) == list(range(1, 201))
    ids = {r.doc_id for r in got}
    assert ids.isdisjoint({9000, 9001, 9002})
    heavy = sum(1 for i in ids if i % 2 == 0)
    # E[heavy] ≈ 200·10/11 ≈ 182; uniform would be 100. Wide margin.
    assert heavy > 150
    again = {r.doc_id for r in
             weighted_sample(df, k=200).collect()}
    assert again == ids


def test_quality_score_ranks_fluent_prose_above_junk(spark):
    from openedx_event_sink_clickhouse_spark.operators.curation import (
        quality_score)
    fluent = ("the model is trained on a large corpus of text and the "
              "data is filtered for quality before the training run "
              "begins so that results are stable and reproducible")
    junk = "$$$ !!! ??? ### @@@ %%% ^^^ &&& *** ((( ))) ;;; :::"
    short = "tiny doc"
    docs = spark.createDataFrame(
        [(1, fluent), (2, junk), (3, short)], "doc_id long, text string")
    got = {r.doc_id: r for r in quality_score(docs).collect()}
    assert got[1].quality_logit > got[2].quality_logit
    assert got[1].quality_logit > got[3].quality_logit
    assert got[1].keep == 1 and got[2].keep == 0
    # threshold moves the keep cut, never the score
    strict = {r.doc_id: r for r in
              quality_score(docs, threshold=5.0).collect()}
    assert strict[1].keep == 0
    assert strict[1].quality_logit == got[1].quality_logit


def test_weighted_sample_k_exceeding_population(spark):
    from openedx_event_sink_clickhouse_spark.operators.curation import (
        weighted_sample)
    df = spark.createDataFrame([(1, 5), (2, 5), (3, 0)],
                               "doc_id long, n_chars int")
    got = weighted_sample(df, k=10).collect()
    # only the 2 positive-weight rows exist; ranks stay dense 1..2
    assert sorted(r.doc_id for r in got) == [1, 2]
    assert sorted(r.sample_rank for r in got) == [1, 2]


def test_leakage_safe_split_keeps_clusters_together(spark):
    from pyspark.sql import functions as F

    from openedx_event_sink_clickhouse_spark.operators.curation import (
        leakage_safe_split, train_val_test_split)

    docs = _docs(spark, [(i, f"doc {i}", "en", "s") for i in range(300)])
    # synthetic cluster labels: docs 3k..3k+2 form a cluster labeled 3k
    labels = spark.createDataFrame(
        [(i, (i // 3) * 3, i % 3 == 0) for i in range(300)],
        "doc_id long, cluster_id long, is_survivor boolean")
    out = leakage_safe_split(docs, labels, val_frac=0.2, test_frac=0.2)
    rows = out.collect()
    assert len(rows) == 300
    # every cluster member shares one split (the leakage guarantee)
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r.split_key, set()).add(r.split)
    assert all(len(s) == 1 for s in by_cluster.values())
    # all three splits are populated at these fractions
    assert {r.split for r in rows} == {"train", "val", "test"}
    # the per-doc split WOULD split some cluster (the bug this fixes)
    naive = {r.doc_id: r.split
             for r in train_val_test_split(docs, 0.2, 0.2).collect()}
    assert any(len({naive[k], naive[k + 1], naive[k + 2]}) > 1
               for k in range(0, 300, 3))
    # unclustered docs key on their own id == the plain split's choice
    out2 = {r.doc_id: r.split for r in leakage_safe_split(
        docs, labels.filter(F.col("cluster_id") < 0),  # empty labels
        val_frac=0.2, test_frac=0.2).collect()}
    assert out2 == naive


def test_corpus_data_card_rollup_and_shares(spark):
    from openedx_event_sink_clickhouse_spark.operators.curation import (
        corpus_data_card)

    docs = spark.createDataFrame(
        [(0, "a b", "en", "web"), (1, "c d e", "en", "web"),
         (2, "f  g", "en", "books"), (3, "h", "fr", "web")],
        "doc_id long, text string, lang string, source string")
    rows = {(r.lang, r.source): r for r in corpus_data_card(docs).collect()}
    # leaf, subtotal and grand-total rows coexist (ROLLUP convention)
    assert rows[("en", "web")].n_docs == 2
    assert rows[("en", None)].n_docs == 3
    assert rows[(None, None)].n_docs == 4
    # double space does not mint a phantom token
    assert rows[("en", "books")].total_tokens == 2
    assert rows[(None, None)].total_tokens == 8
    assert rows[(None, None)].doc_share == 1.0
    assert rows[("en", None)].doc_share == 0.75
    assert rows[("fr", "web")].avg_chars == 1.0


def test_reservoir_per_key_exact_k_every_key(spark):
    # 100-row key vs 3-row key: big key yields exactly k, small key
    # yields ALL its rows -- the guarantee Bernoulli sampling lacks.
    from openedx_event_sink_clickhouse_spark.operators.curation import (
        reservoir_per_key)
    rows = [("big", i) for i in range(100)] + [("small", 1000 + i)
                                               for i in range(3)]
    df = spark.createDataFrame(rows, ["lang", "doc_id"])
    out = reservoir_per_key(df, "lang", "doc_id", k=10).collect()
    by_key = {}
    for r in out:
        by_key.setdefault(r.key, []).append(r)
    assert len(by_key["big"]) == 10
    assert len(by_key["small"]) == 3
    # deterministic: a re-run selects the identical id set
    again = {r.id for r in
             reservoir_per_key(df, "lang", "doc_id", k=10).collect()}
    assert {r.id for r in out} == again


def test_reservoir_rank_filter_becomes_group_limit(spark):
    from openedx_event_sink_clickhouse_spark.operators.curation import (
        reservoir_per_key)
    df = spark.createDataFrame([("a", i) for i in range(50)],
                               ["lang", "doc_id"])
    plan = (reservoir_per_key(df, "lang", "doc_id", k=5)
            ._jdf.queryExecution().executedPlan().toString())
    assert "WindowGroupLimit" in plan, plan


def test_weighted_reservoir_proportional_to_weight(spark):
    # One heavy id (weight 1000) among 200 light ones (weight 1), k=50:
    # across the md5-deterministic draw the heavy id must be selected
    # (P(miss) under A-ES is (1 - 1000/1199)^... effectively nil), and
    # zero-weight rows must never appear.
    from openedx_event_sink_clickhouse_spark.operators.curation import (
        weighted_reservoir_per_key)
    rows = [("k", 0, 1000.0)] + [("k", i, 1.0) for i in range(1, 201)] \
        + [("k", 999, 0.0)]
    df = spark.createDataFrame(rows, ["lang", "doc_id", "w"])
    out = weighted_reservoir_per_key(df, "lang", "doc_id", "w", k=50) \
        .collect()
    ids = {r.id for r in out}
    assert len(out) == 50
    assert 0 in ids          # the heavy row is in the sample
    assert 999 not in ids    # zero weight excluded
    # determinism: identical re-draw
    again = {r.id for r in weighted_reservoir_per_key(
        df, "lang", "doc_id", "w", k=50).collect()}
    assert ids == again
