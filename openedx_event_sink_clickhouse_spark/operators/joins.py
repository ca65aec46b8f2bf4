"""Join operators S7–S9 (reference ``select_related`` prefetches and the
CCX child-course expansion).

Scale posture: every reference join is fact ⋈ small-dimension, so each is
explicitly ``broadcast()`` — a map-side hash join with ZERO shuffle of the
fact side. At 100 TB that is the difference between a pipeline and a
cluster-wide exchange. AQE would usually infer this, but dimensions like
``external_id_type`` are known-small by construction, so we declare it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def enrich(fact: DataFrame, dim: DataFrame, fact_key: str, dim_key: str,
           pick: dict[str, str]) -> DataFrame:
    """S7/S8 — N:1 dimension prefetch (``select_related("user")`` pulling
    ``user.email`` — ``sinks/user_profile_sink.py:18-19``,
    ``serializers.py:37``; double prefetch for external_id —
    ``sinks/external_id_sink.py:18-19``).

    ``pick`` maps dim column → output alias; only those columns survive,
    so Catalyst prunes the dim scan to exactly the joined fields. The dim
    key is aliased to the fact key so the join key appears once.
    """
    slim = dim.select(F.col(dim_key).alias(fact_key),
                      *[F.col(c).alias(a) for c, a in pick.items()])
    return fact.join(F.broadcast(slim), on=fact_key, how="left")


def expand_children(parents: DataFrame, children: DataFrame, on) -> DataFrame:
    """S9 — parent → child expansion (CCX children of a course,
    ``utils.py:62-68`` consumed at ``tasks.py:35-38``). The parent set is
    the (small) per-batch driver table → broadcast it, stream children."""
    return children.join(F.broadcast(parents), on=on, how="inner")


def bloom_prefilter_join(fact: DataFrame, dim: DataFrame,
                         fact_key: str, dim_key: str,
                         m_bits: int = 1 << 16, k: int = 4,
                         how: str = "inner") -> DataFrame:
    """Exact fact⋈dim join with a Bloom-filter PRE-FILTER on the fact
    side — the explicit form of a runtime row-level filter (Spark's own
    ``runtimeFilter.bloomFilter`` / ClickHouse's set-index prejoin): the
    dim's join keys fold into an ``m_bits``-bit filter whose ≤ m_bits/63
    packed words embed in the plan as a LITERAL array, so every fact row
    evaluates its ``k`` md5 double-hash probes as pure Column arithmetic
    — no join, no shuffle, no explode — and rows that cannot possibly
    match are dropped AT THE SCAN before the exact join runs. False
    negatives are impossible, so the result is exactly the plain join's;
    the filter only shrinks the join's input (at 100 TB, the shuffle).

    ``how`` accepts only join types where unmatched FACT rows don't
    survive ('inner'/'cross'/'left_semi'): dropping a fact row at the
    prefilter is then always safe. For 'left'/'outer' it would NOT be
    — unmatched fact rows belong in the result with NULLs, and the
    bloom would drop them (except nondeterministic false positives) —
    so those types raise rather than silently diverge from the plain
    join.

    Why a literal array instead of a broadcast join on word index: a
    per-probe join would need k joins or a k× explode (whose regroup is
    a fact-sized shuffle); ``element_at`` on a plan literal is free. The
    word-array collect is bounded by m_bits/63 (~1k longs at the
    default), NOT by dim size — the same bounded-model footprint as the
    IVF centroid collect. Size ``m_bits`` for the dim's key count
    (fpr ≈ (1-e^(-k·n/m))^k); an oversized filter only wastes plan
    bytes. md5 probes (not engine hash) keep the filter — and any
    oracle replica — engine-reproducible; the 63-bit word packing
    matches decontaminate_bloom's (DuckDB's checked ``<<`` overflows on
    bit 63).
    """
    _FACT_DROPPING = {"inner", "cross", "left_semi", "leftsemi", "semi"}
    if how.lower().replace("_", "") not in {
            h.replace("_", "") for h in _FACT_DROPPING}:
        raise ValueError(
            f"bloom_prefilter_join: how={how!r} would need unmatched fact "
            "rows in the result, which the prefilter drops; use one of "
            f"{sorted(_FACT_DROPPING)} or a plain join")
    n_words = (m_bits + 62) // 63

    # Hash choice: xxhash64, NOT the cross-engine md5 family. The bloom
    # filter is internal to the plan — the ORACLE for this operator is
    # the plain join (false negatives are impossible), so nothing ever
    # replicates the filter outside Spark, and md5 here would be pure
    # cost: md5 is ~20x xxhash64, FilterExec has no subexpression
    # elimination (each of the k probes would re-evaluate it), and the
    # HOF let-binding workaround drops the whole predicate out of
    # codegen into the interpreter (both measured: 0.6 s native-hash
    # scan vs 3.5-7 s md5 variants at sf0.1). xxhash64 is codegen'd and
    # deterministic per seed, which is all a runtime filter needs.
    def positions(col: Column) -> list[Column]:
        # both bases reduced mod m BEFORE the double-hash combine, so the
        # arithmetic stays tiny (ANSI mode: h2*2 on a raw 64-bit hash
        # overflows)
        h1 = F.pmod(F.xxhash64(col), F.lit(m_bits))
        h2 = F.pmod(F.xxhash64(col, F.lit(982451653)), F.lit(m_bits))
        return [F.pmod(h1 + F.lit(i) * (h2 * 2 + 1), F.lit(m_bits))
                for i in range(k)]

    word_rows = (dim.select(F.col(dim_key).alias("_k")).distinct()
                 .select(F.explode(F.array(*positions(F.col("_k"))))
                         .alias("pos"))
                 .select(F.expr("pos div 63").alias("widx"),
                         F.expr("shiftleft(1L, cast(pos % 63 as int))")
                         .alias("m"))
                 .groupBy("widx").agg(F.expr("bit_or(m)").alias("word"))
                 .collect())
    words = [0] * n_words
    for r in word_rows:
        words[r.widx] = r.word
    # F.lit(list) (not F.array(*lits)): a CreateArray of 1k children is
    # NOT constant-folded and would rebuild the array PER ROW per probe
    # — the same per-row array-rebuild trap as the phash cell means. A
    # true array Literal costs nothing at eval time.
    lit_words = F.lit(words)
    # shiftleft's bit count must be a literal in the DataFrame API, so
    # the 63 single-bit masks ride as their own literal array.
    lit_masks = F.lit([1 << b for b in range(63)])
    hit = None
    for pos in positions(F.col(fact_key)):
        probe = (F.element_at(lit_words, (pos / 63).cast("int") + 1)
                 .bitwiseAND(F.element_at(lit_masks,
                                          (pos % 63).cast("int") + 1)) != 0)
        hit = probe if hit is None else hit & probe
    return fact.filter(hit).join(dim, fact[fact_key] == dim[dim_key], how)
