"""Corpus-curation operators — the filter/scrub/decontaminate/sample/pack
stages a training-data pipeline runs between ingest and tokenization.

Greenfield relative to the reference (it has no text layer; SURVEY.md §2
"categories the reference does NOT have"), designed per the north-star
brief alongside dedup (``operators/dedup.py``) and quality signals
(``operators/textstats.py``). Everything is pure Column expressions or
broadcast semi-joins — no Python in any hot path, and each stage is a
map-only pass or a single bounded shuffle:

- :func:`quality_filter` — C4/Gopher-style rule stack over the quality
  signals: keep/drop + FIRST violated reason code. Map-only.
- :func:`scrub_pii` — regex redaction (emails, phone numbers, SSNs) with
  per-kind counts. Map-only.
- :func:`decontaminate` — flag documents sharing any ``n``-gram with a
  benchmark set (train/test leakage guard). Benchmark gram set is tiny
  relative to the corpus → broadcast semi-join; the corpus never
  shuffles.
- :func:`sample_corpus` — deterministic hash-Bernoulli sampling, optional
  per-stratum rates. Map-only, reproducible across runs/engines (md5
  uniform, not ``rand()``).
- :func:`pack_sequences` — greedy contiguous packing of documents into
  fixed token-budget bins, per shard. One window sort per shard;
  shards are independent so packing parallelizes.
- :func:`repetition_signals` — Gopher-style duplicate word/bigram
  fractions + per-doc top bigram. Map-only fractions; the mode needs
  one bounded explode/agg pass.
- :func:`corpus_mix` — token share per (lang, source) for mix planning.
  One low-cardinality rollup.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import ngrams, words
from ..functions.hashes import md5_hash64
from .textstats import quality_signals

# Default rule thresholds, tuned to fire on the driver corpus (words
# 10-99, uniq ratio 0.28-1.0) — callers override per corpus.
QUALITY_RULES = {
    "min_words": 20,
    "max_words": 95,
    "min_uniq_word_ratio": 0.35,
    "max_punct_ratio": 0.20,
}

# Redaction patterns: conservative RE2/Java-compatible classes so the
# Spark and DuckDB regex engines agree byte-for-byte.
PII_PATTERNS = (
    ("email", "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}", "<EMAIL>"),
    ("phone", "\\+[0-9][0-9() .-]{6,}[0-9]", "<PHONE>"),
    ("ssn", "[0-9]{3}-[0-9]{2}-[0-9]{4}", "<SSN>"),
)


def quality_filter(docs: DataFrame) -> DataFrame:
    """Keep/drop decision per document with the FIRST violated rule as
    the reason code (C4/Gopher-style filtering: length bounds, repetition,
    punctuation density). Returns (doc_id, n_words, uniq_word_ratio,
    punct_ratio, keep, reason); ``reason`` is NULL for kept docs.

    Rule order is the audit order — deterministic reasons make drop-rate
    dashboards per reason stable across runs."""
    r = QUALITY_RULES
    q = quality_signals(docs)
    reason = (
        F.when(F.col("n_words") < r["min_words"], F.lit("too_short"))
         .when(F.col("n_words") > r["max_words"], F.lit("too_long"))
         .when(F.col("uniq_word_ratio") < r["min_uniq_word_ratio"],
               F.lit("repetitive"))
         .when(F.col("punct_ratio") > r["max_punct_ratio"],
               F.lit("punct_heavy")))
    return q.select(
        "doc_id", "n_words", "uniq_word_ratio", "punct_ratio",
        F.when(reason.isNull(), 1).otherwise(0).cast("int").alias("keep"),
        reason.alias("reason"))


REPETITION_RULES = {
    "max_dup_word_frac": 0.6,
    "max_top_ngram_char_frac": 0.1,
    "max_dup_ngram_char_frac": 0.15,
}


def repetition_filter(docs: DataFrame) -> DataFrame:
    """Gopher repetition-rule filter (Rae et al. 2021 §A1.1) — the
    companion to :func:`quality_filter` for the repetition axis: drop
    documents dominated by repeated words / a single hot n-gram /
    duplicated n-gram spans. Returns the per-doc signals plus
    (keep, reason), first-violated-rule reason codes in audit order,
    NULL for kept docs. Same scale shape as the signals themselves:
    map-only, no shuffle (see ``textstats.gopher_repetition_signals``;
    this module's own ``repetition_signals`` is the earlier
    bigram-fraction variant with a different schema)."""
    from .textstats import gopher_repetition_signals

    r = REPETITION_RULES
    sig = gopher_repetition_signals(docs, dup_n=3)
    reason = (
        F.when(F.col("dup_word_frac") > r["max_dup_word_frac"],
               F.lit("dup_words"))
         .when(F.col("top_ngram_char_frac") > r["max_top_ngram_char_frac"],
               F.lit("hot_ngram"))
         .when(F.col("dup_ngram_char_frac") > r["max_dup_ngram_char_frac"],
               F.lit("dup_ngrams")))
    return sig.select(
        "doc_id", "dup_word_frac", "top_ngram_char_frac",
        "dup_ngram_char_frac",
        F.when(reason.isNull(), 1).otherwise(0).cast("int").alias("keep"),
        reason.alias("reason"))


def scrub_pii(docs: DataFrame) -> DataFrame:
    """Redact PII spans in place and count them per kind. Returns
    (doc_id, scrubbed_text, n_<kind>... ). Patterns apply in order to the
    progressively-redacted text (an email inside a phone-like digit run
    is counted once, by the earlier rule)."""
    scrubbed: Column = F.col("text")
    counts = []
    for kind, pat, repl in PII_PATTERNS:
        counts.append(F.regexp_count(scrubbed, F.lit(pat))
                       .cast("int").alias(f"n_{kind}"))
        scrubbed = F.regexp_replace(scrubbed, pat, repl)
    return docs.select("doc_id", scrubbed.alias("scrubbed_text"), *counts)


def decontaminate(docs: DataFrame, benchmark: DataFrame,
                  n: int = 8) -> DataFrame:
    """Train/test leakage guard: flag corpus docs sharing ANY word
    ``n``-gram with the benchmark set. Returns every corpus doc as
    (doc_id, contaminated, n_shared_grams).

    Plan: benchmark grams (distinct, hashed) are the SMALL side →
    broadcast inner join against the corpus' exploded gram stream, then a
    per-doc count; corpus docs without matches come back via a left join
    of the doc id spine onto the hit counts. The corpus shuffles only its
    (doc_id) hit stream — O(matches), not O(corpus)."""
    def gram_hashes(df: DataFrame) -> DataFrame:
        g = F.array_distinct(ngrams(words(F.col("text")), n))
        # outer + null-drop (short docs yield no grams): avoids the
        # inferred size()>0 filter re-hashing every gram twice — see
        # dedup.minhash_lsh_pairs for the trap.
        return (df.select(F.col("doc_id").alias("id"),
                          F.explode_outer(
                              F.transform(g, lambda x: md5_hash64(x)))
                           .alias("gh"))
                .filter(F.col("gh").isNotNull()))

    bench_grams = F.broadcast(gram_hashes(benchmark).select("gh").distinct())
    hits = (gram_hashes(docs).join(bench_grams, "gh")
            .groupBy("id")
            .agg(F.count_distinct("gh").alias("n_shared_grams")))
    spine = docs.select(F.col("doc_id").alias("id"))
    return (spine.join(hits, "id", "left")
            .select(F.col("id").alias("doc_id"),
                    F.when(F.col("n_shared_grams").isNotNull(), 1)
                     .otherwise(0).cast("int").alias("contaminated"),
                    F.coalesce("n_shared_grams", F.lit(0))
                     .alias("n_shared_grams")))


def decontaminate_bloom(docs: DataFrame, benchmark: DataFrame, n: int = 8,
                        m_bits: int = 1 << 20, k: int = 4) -> DataFrame:
    """Bloom-filter decontamination — the fixed-memory form of
    :func:`decontaminate` for when the benchmark gram set itself is too
    large to broadcast as a join table. The benchmark grams fold into an
    ``m_bits``-bit Bloom filter (``k`` md5-derived probe positions per
    gram, bit-packed 63 bits per BIGINT word by a ``bit_or`` aggregate —
    ≤ m_bits/63 rows REGARDLESS of benchmark size, and mergeable across
    shards/streams); the corpus probes it map-side via a broadcast join
    on the word index. Returns (doc_id, contaminated, bloom_flagged,
    n_bloom_grams): ``contaminated`` is the exact verdict,
    ``bloom_flagged`` the filter's — a superset by construction
    (false-positive rate ≈ (1-e^{-kn/m})^k; false negatives impossible),
    so ``bloom_flagged >= contaminated`` on every row.

    Everything is deterministic Column math (md5 positions, no native
    bloom expression), so the oracle replicates the filter bit-for-bit —
    the approximate path is hash-checked exactly, not just bounded.

    Why 63-bit words: both engines store BIGINT; a shift into bit 63
    overflows DuckDB's checked ``<<``, so words pack bits 0..62."""
    def doc_grams(df: DataFrame) -> DataFrame:
        g = F.array_distinct(ngrams(words(F.col("text")), n))
        # outer + null-drop: same InferFiltersFromGenerate dodge as above.
        return (df.select(F.col("doc_id").alias("id"),
                          F.explode_outer(g).alias("gram"))
                .filter(F.col("gram").isNotNull()))

    def probe_positions(df: DataFrame) -> DataFrame:
        # double hashing: pos_i = (h1 + i*h2) mod m, h2 forced odd
        from ..functions.hashes import md5_hash32
        h1 = md5_hash32(F.col("gram"), seed=101)
        h2 = md5_hash32(F.col("gram"), seed=202)
        # outer: k >= 1 literal probes, never empty — identical rows,
        # no inferred filter recomputing both md5 hashes per element.
        pos = F.explode_outer(F.array(*[
            ((h1 + F.lit(i) * (h2 * 2 + 1)) % F.lit(m_bits)).alias(f"p{i}")
            for i in range(k)])).alias("pos")
        return df.select("*", pos)

    bench = (probe_positions(
        doc_grams(benchmark).select("gram").distinct())
        .select(F.expr("pos div 63").alias("widx"),
                F.expr("shiftleft(1L, cast(pos % 63 as int))").alias("m")))
    words_tbl = (bench.groupBy("widx").agg(F.expr("bit_or(m)").alias("word")))

    cg = doc_grams(docs)
    probes = (probe_positions(cg)
              .select("id", "gram",
                      F.expr("pos div 63").alias("widx"),
                      F.expr("shiftleft(1L, cast(pos % 63 as int))").alias("m"))
              .join(F.broadcast(words_tbl), "widx", "left")
              .select("id", "gram",
                      F.when(F.col("word").isNotNull()
                             & (F.col("word").bitwiseAND(F.col("m")) != 0),
                             1).otherwise(0).alias("hit")))
    per_gram = (probes.groupBy("id", "gram")
                .agg(F.min("hit").alias("contained")))
    bloom_doc = (per_gram.groupBy("id")
                 .agg(F.max("contained").alias("bloom_flagged"),
                      F.sum("contained").alias("n_bloom_grams")))
    exact = decontaminate(docs, benchmark, n) \
        .select(F.col("doc_id").alias("id"), "contaminated")
    return (exact.join(bloom_doc, "id", "left")
            .select(F.col("id").alias("doc_id"),
                    F.col("contaminated").cast("int").alias("contaminated"),
                    F.coalesce("bloom_flagged", F.lit(0)).cast("int")
                     .alias("bloom_flagged"),
                    F.coalesce("n_bloom_grams", F.lit(0)).cast("bigint")
                     .alias("n_bloom_grams")))


def _hash_uniform(key: Column) -> Column:
    """Deterministic uniform in [0, 1) from a row key — md5-derived so
    sampling is reproducible across runs AND engines (never rand())."""
    return (F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10)
            .cast("double") / F.lit(float(1 << 32)))


def sample_corpus(docs: DataFrame, rate: float, strat_col: str | None = None,
                  strat_rates: dict[str, float] | None = None) -> DataFrame:
    """Deterministic Bernoulli sample: keep iff md5-uniform(id) < rate.
    With ``strat_col``/``strat_rates``, per-stratum rates (e.g. upsample
    low-resource languages) fall back to ``rate`` for unlisted strata.
    Map-only; the same ids are kept on every run and engine."""
    threshold: Column = F.lit(rate)
    if strat_col is not None and strat_rates:
        for value, r in strat_rates.items():
            threshold = F.when(F.col(strat_col) == value, F.lit(r)) \
                         .otherwise(threshold)
    return docs.filter(_hash_uniform(F.col("doc_id")) < threshold)


def weighted_sample(docs: DataFrame, k: int) -> DataFrame:
    """Fixed-size probability-proportional-to-size sample: Ohlsson's
    SEQUENTIAL POISSON sampling — rank every row by ``u(id) / w`` with
    ``u`` a deterministic md5-uniform in (0, 1] and take the ``k``
    smallest keys. Inclusion probability is ≈ k·w/Σw (exactly the PPS
    target as n grows), so e.g. weighting by ``n_chars`` draws a
    token-budget-faithful corpus sample instead of a per-doc one — the
    standard way to subsample training data when the unit that matters
    is tokens, not documents.

    Chosen over Efraimidis–Spirakis (u^(1/w) keys) deliberately: the
    ES key needs ln/pow, whose last-ulp behavior is libm-dependent, so
    a near-tie at the k-th key could select DIFFERENT rows on different
    engines. The sequential-Poisson key is ONE IEEE division of exactly
    representable operands — bit-identical on Spark, DuckDB, and any
    replica, which is what makes the sample itself hash-checkable.

    Plan shape: a narrow map computes the key, ``TakeOrderedAndProject``
    cuts k with per-partition top-k before the single tiny shuffle —
    the same 0-full-shuffle footprint as brute-force cosine top-k.
    Rows with NULL or non-positive weight are excluded (their PPS
    inclusion probability is 0/undefined)."""
    # (h+1)/2^32 ∈ (0, 1]: never 0, so key 0 cannot tie across rows.
    u = ((F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
                 16, 10).cast("double") + F.lit(1.0))
         / F.lit(float(1 << 32)))
    key = u / F.col("n_chars").cast("double")
    ranked = (docs.filter(F.col("n_chars").isNotNull()
                          & (F.col("n_chars") > 0))
              .withColumn("_spkey", key)
              .orderBy("_spkey", "doc_id").limit(k))
    w = Window.orderBy("_spkey", "doc_id")
    return (ranked.withColumn("sample_rank", F.row_number().over(w))
            .drop("_spkey"))


def pack_sequences(docs: DataFrame, token_budget: int = 512) -> DataFrame:
    """Greedy contiguous packing: within each shard, documents (ordered by
    id for determinism) are concatenated into bins of ``token_budget``
    whitespace tokens; a doc starts a new bin when it would overflow.
    Returns (doc_id, shard, n_tokens, bin_id, bin_offset).

    The classic sequence-packing pre-step for fixed-context training.
    One window sort per shard; shards are independent, so the packing
    parallelizes across the cluster and no global order is imposed.
    Docs longer than the budget get a bin of their own (never split —
    chunk upstream if splitting is wanted)."""
    toks = F.size(words(F.col("text")))
    w = (Window.partitionBy("lang").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, 0))
    # bin = how many full budgets precede this doc's START offset; greedy
    # contiguous chunking (each bin may undershoot, never overshoot,
    # except single docs over budget).
    cum = F.sum(toks).over(w)
    start = cum - toks
    return docs.select(
        F.col("doc_id"),
        F.col("lang").alias("shard"),
        toks.alias("n_tokens"),
        F.floor(start / token_budget).cast("bigint").alias("bin_id"),
        (start % token_budget).cast("bigint").alias("bin_offset"))


def mix_interleave(docs: DataFrame, weights: dict[str, float]) -> DataFrame:
    """Deterministic weighted INTERLEAVING order for corpus mixing —
    the emission-order half the mix plans (:func:`corpus_mix_stats` /
    ``mix_plan``) leave open: each document gets a virtual emission
    time ``mix_key = (rank_in_stratum − 0.5) / weight`` (weighted fair
    queueing), so reading the corpus sorted by mix_key delivers every
    stratum at its target ratio in EVERY prefix of the stream — not
    just over the whole epoch. A sequentially-trained model sees the
    intended mixture from step one, instead of whatever order the
    storage layout happened to produce. Returns
    (doc_id, stratum, mix_key); strata absent from ``weights`` are
    dropped (weight 0 = not in the mix).

    Plan: one rank window per stratum (a single hash exchange on the
    stratum key); NO global window — writers materialize the order with
    ``repartitionByRange(mix_key) + sortWithinPartitions`` exactly like
    ``write_zordered``, which parallelizes the sort at any scale.
    Deterministic (rank ties broken by id; weights are plan literals),
    so the order is reproducible across runs and engines."""
    if not weights or any(w <= 0 for w in weights.values()):
        raise ValueError("weights must be a non-empty map of "
                         "stratum -> positive weight")
    wmap = F.create_map(*[F.lit(x) for kv in weights.items() for x in kv])
    w = Window.partitionBy("lang").orderBy("doc_id")
    return (docs.filter(F.col("lang").isin(list(weights)))
            .select(F.col("doc_id"),
                    F.col("lang").alias("stratum"),
                    F.row_number().over(w).alias("_rank"))
            .select("doc_id", "stratum",
                    F.round((F.col("_rank").cast("double") - 0.5)
                            / wmap[F.col("stratum")], 6).alias("mix_key")))


def pack_by_counts(counts: DataFrame) -> DataFrame:
    """Greedy contiguous packing over PRECOMPUTED token counts — the
    tokenizer-exact form of :func:`pack_sequences`: feed it
    ``bpe_encode_stats``'s ``n_bpe_tokens`` and the bins hold true
    model tokens instead of whitespace approximations (a corpus that
    packs to budget by whitespace routinely overflows a real tokenizer
    by 10-30%). Same single window sort per shard; same never-split
    contract. Returns (doc_id, shard, n_tokens, bin_id, bin_offset)."""
    w = (Window.partitionBy("shard").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, 0))
    cum = F.sum("n_tokens").over(w)
    start = cum - F.col("n_tokens")
    return counts.select(
        F.col("doc_id"),
        F.col("shard"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.floor(start / 512).cast("bigint").alias("bin_id"),
        (start % 512).cast("bigint").alias("bin_offset"))


def chunk_documents(docs: DataFrame, chunk_tokens: int = 64,
                    overlap: int = 16) -> DataFrame:
    """Split documents into overlapping token-window chunks (the
    RAG/context-window pre-step): chunk i covers tokens
    [i·stride, i·stride + chunk_tokens), stride = chunk_tokens − overlap.
    Returns (doc_id, chunk_idx, n_tokens, chunk_text); every doc yields
    ≥1 chunk, the last chunk may be short, and no chunk starts past the
    end of the text.

    One ``transform(sequence)`` builds the chunk list per doc (array
    cell, no row blow-up until the final explode), so the fan-out is
    exactly n_chunks rows and the token array is let-bound — computed
    once per doc, not once per chunk."""
    stride = chunk_tokens - overlap
    if stride <= 0:
        raise ValueError("overlap must be smaller than chunk_tokens")

    def chunks_of(w: Column) -> Column:
        n = F.size(w)
        # number of stride-starts that still fall inside the text
        n_chunks = F.greatest(
            F.lit(1), F.ceil((n - F.lit(overlap)) / F.lit(stride)).cast("int"))
        return F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.struct(
                i.alias("chunk_idx"),
                F.concat_ws(" ", F.slice(w, i * stride + 1, chunk_tokens))
                 .alias("chunk_text")))

    w_bound = F.element_at(
        F.transform(F.array(words(F.col("text"))), chunks_of), 1)
    # outer: n_chunks is clamped to >= 1, so the chunk list is never
    # empty — and the inferred size()>0 filter would re-run the whole
    # chunk-building transform at the scan.
    return (docs
            .select(F.col("doc_id"), F.explode_outer(w_bound).alias("c"))
            .select("doc_id",
                    F.col("c.chunk_idx").alias("chunk_idx"),
                    F.size(F.split(F.col("c.chunk_text"), " "))
                     .alias("n_tokens"),
                    F.col("c.chunk_text").alias("chunk_text")))


def repetition_signals(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition metrics per document — the signals behind
    "drop docs dominated by repeated phrases" rules (Rae et al. 2021 §A1.1
    use duplicate line/n-gram fractions; this corpus is single-line, so
    the word/bigram forms carry the same signal). Returns
    (doc_id, n_words, dup_word_frac, dup_bigram_frac, top_bigram,
    top_bigram_frac); ``top_bigram`` is NULL for sub-2-word docs.

    Plan: MAP-ONLY, including the per-doc MODE. Through round 7 the top
    bigram paid explode → groupBy(doc, gram) → row_number window → join
    back (two corpus-token-scale shuffles); the ``gram_run_stats``
    sorted-run fold (see ``functions/text.py``) computes the same mode —
    identical count-then-lexicographic tie-break — inside the row, so
    the whole operator is now a single project over the scan. The oracle
    is unchanged (set-oriented unnest/GROUP BY): same values, plans
    differing by exactly the deleted shuffles."""
    from ..functions.text import gram_run_stats

    ws = words(F.col("text"))
    grams = ngrams(ws, 2)
    stats = gram_run_stats(grams)
    n_bigrams = F.size(grams)
    return docs.select(
        F.col("doc_id"),
        F.size(ws).alias("n_words"),
        (F.lit(1.0) - F.size(F.array_distinct(ws)) / F.size(ws))
        .alias("dup_word_frac"),
        F.when(n_bigrams > 0,
               F.lit(1.0) - F.size(F.array_distinct(grams))
               / n_bigrams)
         .otherwise(F.lit(0.0)).alias("dup_bigram_frac"),
        F.when(n_bigrams > 0, stats["bestg"]).alias("top_bigram"),
        F.when(n_bigrams > 0,
               stats["bestc"] / n_bigrams)
         .otherwise(F.lit(0.0)).alias("top_bigram_frac"))


def negative_samples(docs: DataFrame, k: int = 4) -> DataFrame:
    """Deterministic negative sampling for contrastive-pair training
    data: each anchor doc draws ``k`` pseudo-random OTHER doc ids.
    Returns (doc_id, neg_idx, neg_id), ``k`` rows per anchor.

    Draws are md5-derived (``hash(id:i) mod N``, bump-by-one on a self
    hit) so the sample is reproducible across runs, engines, and task
    retries — the same reason :func:`sample_corpus` never uses
    ``rand()``. Requires contiguous ids 0..N-1 (the testdata layout; for
    sparse ids join the draw against a zipWithIndex-style spine). The
    corpus count rides in as a 1-row broadcast and the fan-out is a
    per-row ``explode(sequence)`` — map-only, no shuffle at any N."""
    n = docs.select(F.count("*").alias("_n"))
    pairs = (docs.select(F.col("doc_id"))
             .crossJoin(F.broadcast(n))
             .select("doc_id", "_n",
                     F.explode(F.sequence(F.lit(0), F.lit(k - 1)))
                      .alias("neg_idx")))
    h = md5_hash64(F.concat_ws(":", F.col("doc_id"), F.col("neg_idx")))
    cand = h % F.col("_n")
    neg = F.when(cand == F.col("doc_id"), (cand + 1) % F.col("_n")) \
           .otherwise(cand)
    return pairs.select("doc_id", "neg_idx",
                        neg.cast("bigint").alias("neg_id"))


def corpus_mix(docs: DataFrame) -> DataFrame:
    """Token share per (lang, source) — the mix-planning rollup. One
    low-cardinality partial-aggregated shuffle; the share denominator is
    a 1-row broadcast window, not a driver round-trip."""
    toks = F.size(words(F.col("text")))
    agg = (docs.groupBy("lang", "source")
           .agg(F.count("*").alias("n_docs"),
                F.sum(toks).alias("n_tokens")))
    total = Window.partitionBy()
    return agg.select(
        "lang", "source", "n_docs", "n_tokens",
        (F.col("n_tokens") / F.sum("n_tokens").over(total))
        .alias("token_share"))


def mix_plan(docs: DataFrame, alpha: float = 0.5) -> DataFrame:
    """Temperature-based mix rebalancing plan: given per-stratum token
    shares p_i, the target mix is p_i^α renormalized (α<1 upsamples the
    tail — the standard multilingual temperature trick; α=1 keeps the
    natural mix, α→0 approaches uniform). Returns per stratum
    (stratum, n_tokens, token_share, target_share, sample_rate) where
    ``sample_rate`` is the downsample-only Bernoulli rate achieving the
    target mix: rate_i ∝ target_i / share_i, normalized so the most
    upweighted stratum keeps everything (rates in (0, 1] — feed them to
    :func:`sample_corpus` ``strat_rates``).

    Plan shape: one low-cardinality groupBy; the renormalization sums
    are 1-row window aggregates over the stratum rollup (strata ≪
    corpus), so nothing about this touches the corpus twice."""
    toks = F.size(words(F.col("text")))
    agg = (docs.groupBy(F.col("lang").alias("stratum"))
           .agg(F.sum(toks).cast("bigint").alias("n_tokens")))
    total = Window.partitionBy()
    share = (F.col("n_tokens").cast("double")
             / F.sum("n_tokens").over(total))
    powed = F.pow(share, F.lit(float(alpha)))
    target = powed / F.sum(powed).over(total)
    ratio = target / share
    rate = ratio / F.max(ratio).over(total)
    return (agg.select("stratum", "n_tokens",
                       F.round(share, 6).alias("token_share"),
                       F.round(target, 6).alias("target_share"),
                       F.round(rate, 6).alias("sample_rate"))
            .orderBy("stratum"))


def clean_lines(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", sep: str = "\n",
                min_line_words: int = 3,
                blocklist: tuple[str, ...] = (),
                max_line_occurrences: int | None = None) -> DataFrame:
    """C4-style line-level cleaning: split each document into lines, drop
    boilerplate lines, reassemble the survivors in order. A line is
    dropped when it has fewer than ``min_line_words`` words, contains any
    ``blocklist`` substring, or (with ``max_line_occurrences``) repeats
    corpus-wide more than that many times — the cookie-banner /
    nav-header rule. Returns (doc_id, n_lines, n_kept, cleaned_text).

    ``sep`` is a literal separator (regex-escaped before Spark's
    ``split``) used for both splitting and reassembly. Occurrence counts
    are taken over ALL lines, before the per-line rules, so a frequent
    line is recognized as boilerplate even where it also fails other
    rules.

    Plan shape: posexplode is the only row expansion; the corpus-wide
    occurrence count is a window over the line's md5 (one shuffle on a
    narrow hash key — the line text itself rides exactly one shuffle,
    into the per-doc reassembly groupBy). Per-doc order is restored by
    sorting the collected (pos, line) structs, so reassembly is
    deterministic regardless of shuffle order. With
    ``max_line_occurrences=None`` the corpus-wide window is skipped
    entirely and the pass stays explode → filter → groupBy.
    """
    import re

    lines = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), re.escape(sep), -1))
         .alias("pos", "line"))
    rule = F.size(F.split(F.col("line"), " ", -1)) >= min_line_words
    for term in blocklist:
        rule = rule & ~F.col("line").contains(term)
    if max_line_occurrences is not None:
        w = Window.partitionBy(F.md5(F.col("line")))
        lines = lines.withColumn("_occ", F.count("*").over(w))
        rule = rule & (F.col("_occ") <= max_line_occurrences)
    flagged = lines.withColumn("keep", rule)
    packed = F.sort_array(F.collect_list(
        F.struct(F.col("pos"), F.col("line"), F.col("keep"))))
    return (flagged.groupBy("id")
            .agg(F.count("*").alias("n_lines"),
                 F.sum(F.col("keep").cast("long")).alias("n_kept"),
                 F.array_join(
                     F.transform(
                         F.filter(packed, lambda x: x["keep"]),
                         lambda x: x["line"]),
                     sep).alias("cleaned_text"))
            .select(F.col("id").alias(id_col), "n_lines", "n_kept",
                    "cleaned_text"))


def shuffle_shards(docs: DataFrame, n_shards: int = 16,
                   seed: int = 0) -> DataFrame:
    """Deterministic global shuffle of the corpus into ``n_shards``
    training shards. Returns (doc_id, shard, position): ``shard`` is the
    output file the document lands in, ``position`` its 0-based offset
    within that shard — together a total order that is uniform-random
    with respect to the source layout but fully reproducible from
    ``seed`` (a retried job, a different engine, or a later audit
    reproduce the identical order; ``rand()`` would give none of that).

    The canonical pre-training step: a corpus at rest is clustered by
    crawl/source/time, and an epoch must visit it in source-decorrelated
    order without ever materializing a global sort. Plan: shuffle key =
    md5(id, seed); shard = key mod n_shards (ONE hash exchange of
    (id, key) pairs); position = per-shard rank — each shard sorts
    independently, so the sort parallelizes across the cluster and no
    global ordering step exists. At 100 TB: n_shards ≈ tens of
    thousands keeps each shard's sort in-memory; writing with
    ``partitionBy(shard)`` + sortWithinPartitions streams shards out in
    final order. Skew-free by construction (md5 keys are uniform).
    """
    key = md5_hash64(F.col("doc_id"), seed=seed)
    shard = F.pmod(key, F.lit(n_shards)).cast("int")
    w = Window.partitionBy("shard").orderBy("shuffle_key", "doc_id")
    return (docs.select(F.col("doc_id"), shard.alias("shard"),
                        key.alias("shuffle_key"))
            .withColumn("position",
                        (F.row_number().over(w) - 1).cast("bigint"))
            .select("doc_id", "shard", "position"))


def prepare_corpus(docs: DataFrame, token_budget: int = 512,
                   n_shards: int = 16) -> DataFrame:
    """End-to-end pre-training prep — the curation stages composed the
    way a production corpus job runs them: quality filter → exact dedup
    (min-id survivor per content hash) → deterministic epoch shuffle →
    greedy sequence packing, with packing done IN SHUFFLE ORDER so the
    emitted bins are source-decorrelated. Returns
    (doc_id, shard, position, n_tokens, bin_id, bin_offset) — exactly
    where each surviving document's tokens land in the training stream.

    Shuffle + packing share ONE window spec (partition by shard, order
    by shuffle key): Catalyst plans a single Exchange+Sort for the
    position rank and the running token sum together. The whole chain
    is LINEAR — quality as a map-side predicate on the scan, dedup as a
    content-hash window, then the shard window — so every frame has
    exactly one consumer and nothing upstream re-executes (a flag-join
    or survivor-join shape hands Catalyst the same uncached subplan
    twice; see :func:`release_corpus`). Two shuffles total. Nothing
    here collects, samples, or depends on input order."""
    r = QUALITY_RULES
    w_toks = words(F.col("text"))
    n_words = F.size(w_toks)
    lowered = F.lower(F.col("text"))
    n_chars = F.length(F.col("text"))
    uniq = F.size(F.array_distinct(w_toks)).cast("double") / n_words
    punct = ((n_chars
              - F.length(F.regexp_replace(lowered, "[^a-z0-9 ]", "")))
             .cast("double") / n_chars)
    keep = ((n_words >= r["min_words"]) & (n_words <= r["max_words"])
            & (uniq >= r["min_uniq_word_ratio"])
            & (punct <= r["max_punct_ratio"]))
    wdup = Window.partitionBy("_h").orderBy("doc_id")
    surv = (docs.filter(keep)
            .select(F.col("doc_id"), n_words.cast("int").alias("n_tokens"),
                    F.md5(F.col("text")).alias("_h"))
            .withColumn("_rn", F.row_number().over(wdup))
            .filter(F.col("_rn") == 1))
    key = md5_hash64(F.col("doc_id"), seed=0)
    sharded = surv.select(
        F.col("doc_id"), F.col("n_tokens"),
        key.alias("_key"),
        F.pmod(key, F.lit(n_shards)).cast("int").alias("shard"))
    w = (Window.partitionBy("shard").orderBy("_key", "doc_id"))
    wsum = w.rowsBetween(Window.unboundedPreceding, 0)
    start = F.sum("n_tokens").over(wsum) - F.col("n_tokens")
    return sharded.select(
        F.col("doc_id"), F.col("shard"),
        (F.row_number().over(w) - 1).cast("bigint").alias("position"),
        F.col("n_tokens"),
        F.floor(start / token_budget).cast("bigint").alias("bin_id"),
        (start % token_budget).cast("bigint").alias("bin_offset"))


def perplexity_filter(docs: DataFrame,
                      bounds: tuple[float, float] | None = None) -> DataFrame:
    """CCNet-style language-model perplexity band filter: score every
    document against the corpus's own unigram LM and keep those whose
    perplexity falls between the 0.05 and 0.9 QUANTILES of
    the corpus distribution — the top tail is noise/gibberish (the LM
    can't predict it), the bottom tail is degenerate boilerplate (too
    predictable to teach anything). Returns
    (doc_id, unigram_ppl, keep).

    Pass ``bounds=(lo, hi)`` to pin absolute thresholds instead (the
    production shape once a corpus profile exists — fixed bounds keep
    daily increments comparable; quantiles re-derive the band per run).

    Plan: the LM scoring is :func:`~.textstats.unigram_logprob` (one
    vocab aggregate + unhinted model join); the band is a 1-row exact
    percentile aggregate broadcast back — the corpus never re-shuffles
    for the filter. At 100 TB swap the exact percentile for
    ``approx_percentile`` (mergeable sketch), same plan shape."""
    from .textstats import unigram_logprob

    lp = unigram_logprob(docs) \
        .select("doc_id", "unigram_ppl")
    if bounds is not None:
        lo, hi = (F.lit(float(bounds[0])), F.lit(float(bounds[1])))
        banded = lp.withColumn("_lo", lo).withColumn("_hi", hi)
    else:
        q = lp.agg(
            F.round(F.expr(f"percentile(unigram_ppl, {0.05!r})"), 6)
            .alias("_lo"),
            F.round(F.expr(f"percentile(unigram_ppl, {0.9!r})"), 6)
            .alias("_hi"))
        banded = lp.crossJoin(F.broadcast(q))
    return banded.select(
        "doc_id", "unigram_ppl",
        ((F.col("unigram_ppl") >= F.col("_lo"))
         & (F.col("unigram_ppl") <= F.col("_hi")))
        .cast("int").alias("keep"))


def benchmark_gram_hashes(benchmark: DataFrame) -> list[int]:
    """The benchmark's distinct 8-gram hash set, collected — a bounded,
    per-dataset catalog fact (benchmarks are small by definition) that
    callers can compute once and reuse across queries instead of paying
    the collect per call."""
    got = (benchmark.select(
        F.explode_outer(F.transform(
            F.array_distinct(ngrams(words(F.col("text")), 8)),
            lambda g: md5_hash64(g))).alias("gh"))
        .filter(F.col("gh").isNotNull())
        .distinct().collect())
    return sorted({row[0] for row in got})


def release_corpus(docs: DataFrame, benchmark: DataFrame | None,
                   n_shards: int = 16,
                   bench_grams: list[int] | None = None) -> DataFrame:
    """The release flow FUSED into one linear chain: quality filter +
    benchmark decontamination as a single map-side predicate, exact
    dedup as a content-hash window, then the epoch-shuffle placement.
    Returns (doc_id, shard, position, n_tokens).

    Why fused instead of chaining the standalone operators: each stage
    boundary that reuses its input frame twice (flags joined back onto
    the spine, placement joined back onto survivors) hands Catalyst the
    upstream subplan twice, and with no materialization between stages
    the whole scrub/filter chain re-executes per consumer — measured ~2×
    the query at sf0.1. Here every frame has exactly ONE consumer: two
    window exchanges (content-hash dedup, shard placement) are the only
    shuffles, everything else is map-only.

    The benchmark gram set ships as a PLAN LITERAL (one parsed array) —
    benchmarks are bounded by definition, so this is the same
    driver-state class as the IVF centroid model; at a scale where the
    gram set outgrows a literal/broadcast, swap in the Bloom-filter
    branch (:func:`decontaminate_bloom`)."""
    r = QUALITY_RULES
    w = words(F.col("text"))
    n_words = F.size(w)
    lowered = F.lower(F.col("text"))
    n_chars = F.length(F.col("text"))
    uniq = F.size(F.array_distinct(w)).cast("double") / n_words
    punct = ((n_chars
              - F.length(F.regexp_replace(lowered, "[^a-z0-9 ]", "")))
             .cast("double") / n_chars)
    keep = ((n_words >= r["min_words"]) & (n_words <= r["max_words"])
            & (uniq >= r["min_uniq_word_ratio"])
            & (punct <= r["max_punct_ratio"]))

    if bench_grams is None and benchmark is None:
        raise ValueError(
            "release_corpus: pass `benchmark` (a frame to derive the "
            "contamination gram set from) or `bench_grams` (a "
            "precomputed hash list; [] means no decontamination)")
    bg = (bench_grams if bench_grams is not None
          else benchmark_gram_hashes(benchmark))
    if bg:
        bench_lit = F.expr("array(" + ",".join(f"{h}L" for h in bg) + ")")
        doc_grams = F.transform(F.array_distinct(ngrams(w, 8)),
                                lambda g: md5_hash64(g))
        keep = keep & ~F.arrays_overlap(doc_grams, bench_lit)
    # An EMPTY gram set means "nothing to decontaminate" — skip the
    # predicate entirely (a literal array() would be typed array<string>
    # and fail analysis against the bigint doc-gram array).
    clean = docs.filter(keep)

    wdup = Window.partitionBy("_h").orderBy("doc_id")
    surv = (clean.select(F.col("doc_id"), F.size(w).alias("n_tokens"),
                         F.md5(F.col("text")).alias("_h"))
            .withColumn("_rn", F.row_number().over(wdup))
            .filter(F.col("_rn") == 1))
    key = md5_hash64(F.col("doc_id"), seed=0)
    wsh = Window.partitionBy("shard").orderBy("_key", "doc_id")
    return (surv.select("doc_id", "n_tokens", key.alias("_key"),
                        F.pmod(key, F.lit(n_shards)).cast("int")
                        .alias("shard"))
            .select("doc_id", "shard",
                    (F.row_number().over(wsh) - 1).cast("bigint")
                    .alias("position"),
                    "n_tokens"))


def train_val_test_split(docs: DataFrame, val_frac: float = 0.05,
                         test_frac: float = 0.05) -> DataFrame:
    """Deterministic train/val/test assignment: split chosen by the
    md5-uniform of the document id — reproducible across runs, engines,
    and retries (never ``rand()``), and STABLE under corpus growth: a
    document's split never changes when other documents arrive, which
    is what keeps eval sets honest across dataset versions. Returns
    (doc_id, split). Map-only at any scale."""
    u = _hash_uniform(F.col("doc_id"))
    split = (F.when(u < test_frac, F.lit("test"))
             .when(u < test_frac + val_frac, F.lit("val"))
             .otherwise(F.lit("train")))
    return docs.select(F.col("doc_id"), split.alias("split"))


def leakage_safe_split(docs: DataFrame, labels: DataFrame,
                       val_frac: float = 0.05,
                       test_frac: float = 0.05) -> DataFrame:
    """Eval-split assignment that CANNOT leak near-duplicates across the
    train/test boundary: :func:`train_val_test_split` hashes each doc's
    own id, so two near-copies routinely land on opposite sides of the
    boundary — the classic contamination path that inflates eval scores
    even after in-split dedup. Here the split hash keys on the near-dup
    CLUSTER id (the min-id label from ``dedup.connected_components``),
    coalesced to the doc's own id for unclustered docs, so every member
    of a duplicate cluster shares one split by construction. Returns
    (doc_id, split_key, split).

    Same determinism contract as the plain split (md5-uniform, stable
    under corpus growth — with one honest caveat: a NEW duplicate edge
    can merge clusters and move the merged cluster's members together,
    which is exactly the behavior you want when a dup is discovered).
    Plan: one join of the doc spine against the label table —
    O(duplicated docs), unhinted so AQE broadcasts when small — then the
    map-only hash. At rest the labels come from a stored
    :func:`dedup.connected_components` output, not a fresh LSH+CC
    run."""
    lab = labels.select("doc_id", "cluster_id")
    keyed = (docs.select("doc_id").join(lab, "doc_id", "left")
             .select(F.col("doc_id"),
                     F.coalesce(F.col("cluster_id"), F.col("doc_id"))
                      .alias("split_key")))
    u = _hash_uniform(F.col("split_key"))
    split = (F.when(u < test_frac, F.lit("test"))
             .when(u < test_frac + val_frac, F.lit("val"))
             .otherwise(F.lit("train")))
    return keyed.select("doc_id", "split_key", split.alias("split"))


# Pinned linear quality model: weights over quality_signals features,
# trained offline (here: hand-set to favor long, low-punctuation,
# vocabulary-diverse documents — the shape a fastText/logreg quality
# classifier learns on web corpora). A MODEL ARTIFACT, not tunable
# per-call: the registry hash-audits scores under exactly these weights,
# the same pinned-model pattern as the BPE merge list.
QUALITY_LR_WEIGHTS = {
    "bias": -1.2,
    "n_words_per_100": 0.35,       # length (words / 100)
    "avg_word_len": 0.18,
    "punct_ratio": -2.1,
    "stopword_ratio": 1.4,         # fluent prose carries stopwords
    "uniq_word_ratio": 0.9,
}


def quality_score(docs: DataFrame, threshold: float = 0.0) -> DataFrame:
    """Model-based quality scoring: a pinned linear classifier over the
    :func:`~.textstats.quality_signals` features. Returns
    (doc_id, quality_logit, keep) — the LOGIT, deliberately not the
    sigmoid probability: the logit is pure multiply-add on 6-dp-rounded
    features (bit-identical on every engine), while exp() is a libm
    call whose last ulp is engine-dependent; monotone, so thresholding
    the logit IS thresholding the probability.

    The rule-stack :func:`quality_filter` and this scorer are the two
    halves of a production quality gate: rules catch the degenerate
    tail cheaply, the model ranks the bulk. Plan: the feature map
    composes with the score into ONE narrow projection — weights are
    plan literals (broadcast-a-tiny-model, minus the collect), nothing
    shuffles at any scale."""
    from .textstats import quality_signals

    w = QUALITY_LR_WEIGHTS
    f = quality_signals(docs)
    logit = (F.lit(w["bias"])
             + F.lit(w["n_words_per_100"]) * (F.col("n_words") / 100.0)
             + F.lit(w["avg_word_len"]) * F.col("avg_word_len")
             + F.lit(w["punct_ratio"]) * F.col("punct_ratio")
             + F.lit(w["stopword_ratio"]) * F.col("stopword_ratio")
             + F.lit(w["uniq_word_ratio"]) * F.col("uniq_word_ratio"))
    # The logit ships UNROUNDED: the multiply-add chain over rounded
    # features is bit-identical on every engine, while a final 6-dp
    # round would re-introduce the one divergence left — Spark rounds
    # the shortest decimal repr HALF_UP, DuckDB scales-and-rounds the
    # double, and a logit landing on a midpoint flips the last digit
    # (observed 1 in 5000 docs at sf0.1).
    return f.select(
        "doc_id",
        logit.alias("quality_logit"),
        (logit > F.lit(threshold)).cast("int").alias("keep"))


def corpus_data_card(docs: DataFrame) -> DataFrame:
    """Corpus data card: the per-(lang, source) composition report a
    training-data release ships (docs, chars, whitespace tokens, mean
    doc length, corpus share) with ROLLUP subtotal rows — per-lang and
    grand-total — in the same frame (NULL group keys, the SQL rollup
    convention).

    Plan: ONE scan → map-side partial rollup aggregate; the corpus
    share divides by the grand-total row via ONE unpartitioned window
    over the ROLLUP-cardinality frame (langs × sources + langs + 1
    rows — bounded metadata scale, the registry's ntile-over-rollup
    precedent, never the corpus)."""
    toks = F.size(F.array_remove(words(F.col("text")), ""))
    # avg_chars and doc_share are single divisions of exact BIGINT
    # sums (engine-native avg() may accumulate doubles in merge order;
    # round(double) flips at half boundaries across engine versions —
    # both r10 driver-red classes), published raw
    card = (docs.rollup("lang", "source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum(F.length("text")).alias("total_chars"),
                 F.sum(toks).alias("total_tokens"))
            .withColumn("avg_chars",
                        F.col("total_chars").cast("double")
                        / F.col("n_docs")))
    total = F.max(F.when(F.col("lang").isNull()
                         & F.col("source").isNull(), F.col("n_docs"))) \
             .over(Window.partitionBy())
    return card.select(
        "lang", "source", "n_docs", "total_chars", "total_tokens",
        "avg_chars",
        (F.col("n_docs").cast("double") / total).alias("doc_share"))


def reservoir_per_key(df: DataFrame, key_col: str, id_col: str,
                      k: int = 20) -> DataFrame:
    """Deterministic fixed-size sample PER KEY: exactly min(k, |key|)
    rows from every key, chosen by ranking on the md5 of the row id —
    the engine-reproducible stand-in for per-key reservoir sampling
    (true reservoirs are RNG- and scan-order-dependent; the hash rank
    is a function of the DATA, so re-runs, retries, and both engines
    agree row-for-row). Complements Bernoulli sampling
    (``sample_corpus``): rate-based sampling starves small keys —
    a 30-doc language at 1% yields 0 docs — while this guarantees
    every key its k. Returns (key, id, sample_rank).

    Plan: one hash projection + one key-partitioned TOP-K window.
    Spark rewrites the rank filter into WindowGroupLimit (per-partition
    partial top-k before the exchange), so the shuffle carries at most
    k rows per key per map task, not the corpus."""
    from pyspark.sql import Window
    w = Window.partitionBy("key").orderBy(
        F.md5(F.col("id").cast("string")), "id")
    return (df.select(F.col(key_col).alias("key"),
                      F.col(id_col).alias("id"))
            .withColumn("sample_rank", F.row_number().over(w))
            .filter(F.col("sample_rank") <= k))


def weighted_reservoir_per_key(df: DataFrame, key_col: str, id_col: str,
                               weight_col: str, k: int = 20) -> DataFrame:
    """Weighted sampling WITHOUT replacement, k per key, deterministic:
    Efraimidis-Spirakis A-ES — each row draws a uniform u and ranks by
    u^(1/w), keeping the top k, which provably selects each subset with
    probability proportional to its weights. Here u is md5-uniform in
    the row id, so the draw is a pure function of the DATA (re-runs and
    both engines pick the identical sample), and the rank key is the
    monotone-equivalent ln(u)/w — no pow, one log. The
    quality-weighted corpus draw: longer/higher-quality docs
    proportionally likelier, small keys still guaranteed min(k, |key|)
    rows. Returns (key, id, weight, sample_rank).

    Cross-engine ordering discipline: the score is rounded to 12
    decimals BEFORE ranking with an id tie-break after it, so a 1-ulp
    libm difference in ln cannot flip adjacent ranks. Zero/negative
    weights are excluded (A-ES is undefined there), matching the SQL
    twin's WHERE. Plan: one projection + one per-key top-k window
    (WindowGroupLimit — map tasks ship at most k rows per key)."""
    from pyspark.sql import Window
    from ..functions.hashes import md5_hash64

    u = (md5_hash64(F.col(id_col).cast("string")).cast("double")
         + F.lit(1.0)) / F.lit(float(1 << 60))
    score = F.round(F.log(u) / F.col(weight_col).cast("double"), 12)
    w = Window.partitionBy("key").orderBy(
        F.col("_score").desc(), F.col("id"))
    return (df.filter(F.col(weight_col) > 0)
            .select(F.col(key_col).alias("key"),
                    F.col(id_col).alias("id"),
                    F.col(weight_col).alias("weight"),
                    score.alias("_score"))
            .withColumn("sample_rank", F.row_number().over(w))
            .filter(F.col("sample_rank") <= k)
            .drop("_score"))
