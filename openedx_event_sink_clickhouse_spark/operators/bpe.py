"""Byte-pair encoding — a REAL trainer + encoder, no external tokenizer
library (north-star "token counting" component, upgraded from the
regex approximation in ``textstats.token_counts``).

Training follows the classic word-frequency formulation (Sennrich et al.
2016, as used by GPT-2's tokenizer): merges are learned from the corpus's
(word, count) table, not from the raw token stream, so the expensive part
is ONE Spark aggregate over the corpus. The (vocab-bounded, not
corpus-bounded) frequency table collects to the driver and the merge loop
runs in plain Python — the same coordinator-resident-model pattern as
k-means centroids and IVF cells. The collect is bounded by default:
``max_vocab`` keeps only the most-frequent word types (the deterministic
maximum-mass vocabulary subsample), so an open-vocabulary web corpus
cannot blow up the driver.

Encoding is an Arrow-batched ``mapInPandas``: merges apply per DISTINCT
word per batch (memoized), so cost scales with batch vocabulary, not
token count. Word boundaries use the same lowercase-whitespace
pre-tokenization as the rest of the text layer; the end-of-word marker
``</w>`` keeps merges from crossing word boundaries, as in the original
algorithm.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.text import words

EOW = "</w>"


def word_frequencies(docs: DataFrame) -> DataFrame:
    """The (word, count) table BPE trains on: one partial-aggregated
    groupBy over the exploded token stream (map-side combine soaks the
    Zipf skew — identical shuffle shape to ``unigram_logprob``'s model
    build). Empty tokens (repeated separators) are dropped so the trainer
    sees exactly the words :func:`bpe_encode_stats` encodes — the two
    paths share one pre-tokenization: lowercase, split on ' ', discard
    empties."""
    return (docs.select(F.explode(words(F.col("text"))).alias("word"))
            .filter(F.col("word") != "")
            .groupBy("word").agg(F.count("*").alias("c")))


def _pair_counts(vocab: dict[tuple[str, ...], int]) -> dict[tuple[str, str], int]:
    counts: dict[tuple[str, str], int] = {}
    for sym, c in vocab.items():
        for a, b in zip(sym, sym[1:]):
            counts[(a, b)] = counts.get((a, b), 0) + c
    return counts


def _merge_word(sym: tuple[str, ...], pair: tuple[str, str]) -> tuple[str, ...]:
    out, i, merged = [], 0, pair[0] + pair[1]
    while i < len(sym):
        if i + 1 < len(sym) and sym[i] == pair[0] and sym[i + 1] == pair[1]:
            out.append(merged)
            i += 2
        else:
            out.append(sym[i])
            i += 1
    return tuple(out)


def bpe_train(docs: DataFrame, n_merges: int = 200,
              max_vocab: int | None = 100_000) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from the corpus. Deterministic:
    the most frequent adjacent symbol pair wins each round, ties broken
    lexicographically — same corpus, same merges, every run and engine.

    ``max_vocab`` (default 100k — the driver collect is BOUNDED by
    default; pass ``None`` only when the corpus vocabulary is known
    small) trains on the ``max_vocab`` most frequent word types (ties by
    word): the deterministic maximum-frequency-mass subsample of the
    vocabulary. The Zipf head carries nearly all pair mass, so merges
    are essentially unchanged while the collect stays O(max_vocab) rows
    and the Python merge loop O(max_vocab·symbols·n_merges) regardless
    of corpus vocabulary — a frequency-weighted random sample would
    converge to the same head for any bounded budget, with extra
    variance; the top-k head is that sample's deterministic limit.

    Returns the ordered merge list (the model — feed to
    :func:`bpe_encode_stats`)."""
    wf = word_frequencies(docs)
    if max_vocab is not None:
        wf = wf.orderBy(F.desc("c"), "word").limit(max_vocab)
    freqs = {r.word: r.c for r in wf.collect()}
    vocab: dict[tuple[str, ...], int] = {}
    for w, c in freqs.items():
        sym = tuple(w) + (EOW,)
        vocab[sym] = vocab.get(sym, 0) + c
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        counts = _pair_counts(vocab)
        if not counts:
            break
        # deterministic tie-break: highest count, then lexicographic pair
        top = max(counts.values())
        best = min(p for p, c in counts.items() if c == top)
        if counts[best] < 2:
            break
        merges.append(best)
        vocab = {_merge_word(sym, best): c for sym, c in vocab.items()}
    return merges


def _encoder(merges: list[tuple[str, str]]):
    ranks = {pair: i for i, pair in enumerate(merges)}

    def encode_word(word: str) -> list[str]:
        sym = list(word) + [EOW]
        while len(sym) > 1:
            pairs = [(ranks.get((a, b), 1 << 30), i)
                     for i, (a, b) in enumerate(zip(sym, sym[1:]))]
            rank, i = min(pairs)
            if rank >= (1 << 30):
                break
            sym[i:i + 2] = [sym[i] + sym[i + 1]]
        return sym

    return encode_word


BPE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("n_words", T.LongType()),
    T.StructField("n_bpe_tokens", T.LongType()),
    T.StructField("compression", T.DoubleType()),
])


def bpe_encode_stats(docs: DataFrame,
                     merges: list[tuple[str, str]]) -> DataFrame:
    """Per-document BPE statistics under a trained merge table:
    (doc_id, n_words, n_bpe_tokens, compression = chars+eow per token).
    Arrow-batched; the per-word encoding memoizes on the batch's
    distinct words, so hot words (Zipf head) encode once per batch
    rather than once per occurrence.

    ``compression`` rounds via ``floor(x·1e6 + 0.5)/1e6`` — explicit
    half-UP on the positive ratio — instead of Python's banker's
    ``round``: every engine (and the DuckDB oracle) rounds ties
    identically, same as ``quantize_embeddings``'s code rounding."""
    import math

    import pandas as pd

    def fn(batches):
        encode_word = _encoder(merges)
        cache: dict[str, int] = {}

        def n_tokens(word: str) -> int:
            if word not in cache:
                cache[word] = len(encode_word(word))
            return cache[word]

        for pdf in batches:
            ids, nw, nt, comp = [], [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                # Same pre-tokenization as word_frequencies/words():
                # lowercase, split on ' ' (NOT any-whitespace), drop
                # empties — trainer and encoder see identical words.
                ws = str(text).lower().split(" ")
                ws = [w for w in ws if w]
                total = sum(n_tokens(w) for w in ws)
                chars = sum(len(w) + 1 for w in ws)  # +1: the EOW symbol
                ids.append(doc_id)
                nw.append(len(ws))
                nt.append(total)
                comp.append(
                    math.floor((chars / total) * 1000000.0 + 0.5)
                    / 1000000.0 if total else 0.0)
            yield pd.DataFrame({"doc_id": pd.Series(ids, dtype="int64"),
                                "n_words": pd.Series(nw, dtype="int64"),
                                "n_bpe_tokens": pd.Series(nt, dtype="int64"),
                                "compression": pd.Series(comp,
                                                         dtype="float64")})

    return docs.select(F.col("doc_id"), F.col("text")) \
               .mapInPandas(fn, schema=BPE_SCHEMA)

