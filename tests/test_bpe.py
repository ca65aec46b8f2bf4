"""Real BPE trainer/encoder (operators/bpe.py): hand-computed merges on a
tiny corpus, determinism, and encode statistics under the trained model."""

from __future__ import annotations

from openedx_event_sink_clickhouse_spark.operators.bpe import (
    EOW,
    _encoder,
    _merge_word,
    bpe_encode_stats,
    bpe_train,
    word_frequencies,
)


def test_merge_word_merges_all_occurrences():
    assert _merge_word(("a", "b", "a", "b", "c"), ("a", "b")) == \
        ("ab", "ab", "c")
    assert _merge_word(("x",), ("a", "b")) == ("x",)
    # overlapping matches merge leftmost-first, never reusing a product
    assert _merge_word(("a", "a", "a"), ("a", "a")) == ("aa", "a")


def test_bpe_train_hand_computed_merges(spark):
    # Corpus: "low" x5, "lower" x2 (the classic Sennrich example,
    # trimmed). Pair counts round 1: (l,o)=7, (o,w)=7, (w,</w>)=5,
    # (w,e)=2, (e,r)=2, (r,</w>)=2 -> tie (l,o)/(o,w) broken
    # lexicographically: ('l','o') merges first.
    docs = spark.createDataFrame(
        [(0, "low low low low low"), (1, "lower lower")],
        ["doc_id", "text"])
    merges = bpe_train(docs, n_merges=3)
    assert merges[0] == ("l", "o")
    assert merges[1] == ("lo", "w")
    # round 3: ("low", EOW)=5 dominates
    assert merges[2] == ("low", EOW)


def test_bpe_train_deterministic(spark, sf_dir):
    from openedx_event_sink_clickhouse_spark.sources.tables import load_table
    docs = load_table(spark, "documents", sf_dir).limit(50)
    m1 = bpe_train(docs, n_merges=30)
    m2 = bpe_train(docs, n_merges=30)
    assert m1 == m2 and len(m1) == 30


def test_encoder_applies_merges_in_rank_order():
    enc = _encoder([("l", "o"), ("lo", "w"), ("low", EOW)])
    assert enc("low") == ["low" + EOW]
    assert enc("lower") == ["low", "e", "r", EOW]
    assert enc("big") == ["b", "i", "g", EOW]


def test_bpe_encode_stats_compression_grows_with_merges(spark, sf_dir):
    from openedx_event_sink_clickhouse_spark.sources.tables import load_table
    docs = load_table(spark, "documents", sf_dir).limit(100)
    merges = bpe_train(docs, n_merges=100)
    out = {r.doc_id: r for r in bpe_encode_stats(docs, merges).collect()}
    base = {r.doc_id: r for r in bpe_encode_stats(docs, []).collect()}
    assert set(out) == set(base) and len(out) == 100
    for i in out:
        # with no merges every token is one char (+EOW): compression 1.0
        assert abs(base[i].compression - 1.0) < 1e-9
        assert base[i].n_bpe_tokens >= out[i].n_bpe_tokens >= out[i].n_words
        assert out[i].compression >= 1.0


def test_word_frequencies_matches_python(spark):
    docs = spark.createDataFrame([(0, "a b a"), (1, "b c")],
                                 ["doc_id", "text"])
    got = {r.word: r.c for r in word_frequencies(docs).collect()}
    assert got == {"a": 2, "b": 2, "c": 1}


def test_trainer_and_encoder_share_pretokenization(spark):
    # Repeated spaces produce empty split tokens: the trainer must drop
    # them (no "" word, no (,</w>) pair) and the encoder must count the
    # same words the trainer saw — n_words == 2 here, not 4.
    docs = spark.createDataFrame([(0, "low  low ")], ["doc_id", "text"])
    assert {r.word: r.c for r in word_frequencies(docs).collect()} == \
        {"low": 2}
    merges = bpe_train(docs, n_merges=2)
    row = bpe_encode_stats(docs, merges).collect()[0]
    assert row.n_words == 2
    enc = _encoder(merges)
    assert row.n_bpe_tokens == 2 * len(enc("low"))


def test_bpe_train_max_vocab_bounds_collect_with_stable_merges(spark):
    # Vocab = 3 Zipf-head words + 40 rare tail words (disjoint chars,
    # each x2 so the tail WOULD contribute mergeable pairs if scanned).
    # max_vocab=3 must (a) reproduce the head-only merges exactly —
    # stability under the bound — and (b) actually exclude the tail:
    # unbounded training at the same n_merges picks up tail pairs.
    head = ("low " * 50 + "lower " * 20 + "west " * 10).strip()
    tail_words = [f"q{i}z" for i in range(40)]
    tail = " ".join(w for w in tail_words for _ in range(2))
    docs = spark.createDataFrame(
        [(0, head), (1, tail)], ["doc_id", "text"])

    bounded = bpe_train(docs, n_merges=40, max_vocab=3)
    reference = bpe_train(
        spark.createDataFrame([(0, head)], ["doc_id", "text"]),
        n_merges=40, max_vocab=None)
    assert bounded == reference

    unbounded = bpe_train(docs, n_merges=40, max_vocab=None)
    assert unbounded != bounded  # the tail really was in reach
    # default is bounded (100k) — same result as explicit bound here
    assert bpe_train(docs, n_merges=40) == unbounded

