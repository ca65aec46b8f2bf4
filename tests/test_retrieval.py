"""Keyword retrieval semantics: posting lists, BM25 ranking behavior
(tf saturation, idf rare-term preference, length normalization)."""

from __future__ import annotations

from openedx_event_sink_clickhouse_spark.operators.retrieval import (
    bm25_topk,
    inverted_index,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_inverted_index_postings_sorted_and_counted(spark):
    df = _docs(spark, [
        (3, "apple banana"),
        (1, "apple cherry apple"),
        (2, "banana"),
    ])
    out = {r.term: r for r in inverted_index(df).collect()}
    assert out["apple"].doc_freq == 2          # per-doc, not per-occurrence
    assert out["apple"].postings_csv == "1,3"  # sorted doc ids
    assert out["banana"].postings_csv == "2,3"
    assert out["cherry"].doc_freq == 1


def test_bm25_prefers_rare_terms_and_saturates_tf(spark):
    df = _docs(spark, [
        (1, "common rare filler filler"),     # has the rare term
        (2, "common common filler filler"),   # only common, tf=2
        (3, "common filler filler filler"),
        (4, "filler words only here now"),
    ])
    got = bm25_topk(df, ["common", "rare"], k=4).collect()
    ranks = [r.doc_id for r in got]
    # doc 1 matches the rare term (high idf) -> outranks tf-heavy doc 2
    assert ranks[0] == 1
    assert set(ranks) == {1, 2, 3}            # doc 4 matches nothing
    scores = {r.doc_id: r.bm25 for r in got}
    assert scores[2] > scores[3]              # higher tf still helps


def test_bm25_length_normalization(spark):
    short = "term filler"
    long_ = "term " + " ".join(["filler"] * 40)
    df = _docs(spark, [(1, short), (2, long_)])
    scores = {r.doc_id: r.bm25 for r in bm25_topk(df, ["term"], k=2).collect()}
    assert scores[1] > scores[2]              # same tf, shorter doc wins


def test_hybrid_rrf_fuses_both_rankings(spark, sf_dir):
    from openedx_event_sink_clickhouse_spark.operators.retrieval import (
        hybrid_rrf_topk,
    )
    from openedx_event_sink_clickhouse_spark.operators.similarity import (
        brute_force_topk,
    )
    from openedx_event_sink_clickhouse_spark.sources.tables import load_table
    docs = load_table(spark, "documents", sf_dir)
    emb = load_table(spark, "embeddings", sf_dir)
    terms = ["the", "data", "model"]
    out = hybrid_rrf_topk(docs, emb, terms, probe_id=0).collect()
    assert len(out) == 10
    scores = [r.rrf_score for r in out]
    assert scores == sorted(scores, reverse=True)
    # rrf = sum of 1/(60+rank) over the lists the doc appears in
    for r in out:
        expect = sum(1.0 / (60 + rk) for rk in (r.lex_rank, r.vec_rank)
                     if rk is not None)
        assert abs(r.rrf_score - expect) < 1e-6
    # vec ranks agree with the standalone cosine ranking
    vec_ids = [r.vec_id for r in
               brute_force_topk(emb, probe_id=0, k=20).collect()]
    for r in out:
        if r.vec_rank is not None:
            assert vec_ids[r.vec_rank - 1] == r.doc_id
    # a doc present in both lists outranks one present in neither list's
    # top spots with comparable single-list rank
    both = [r for r in out if r.lex_rank and r.vec_rank]
    single = [r for r in out if (r.lex_rank is None) ^ (r.vec_rank is None)]
    if both and single:
        assert max(r.rrf_score for r in both) > min(
            r.rrf_score for r in single)


def test_bm25_from_index_matches_scan_and_prunes(spark, sf_dir, tmp_path):
    # Serving from the at-rest postings index must reproduce the
    # scan-time ranking exactly, reading only the query terms'
    # hash-bucket partitions (PartitionFilter in the plan).
    from openedx_event_sink_clickhouse_spark.operators.retrieval import (
        bm25_topk,
        bm25_topk_from_index,
        term_bucket_of,
        write_postings_index,
    )
    from openedx_event_sink_clickhouse_spark.sources.tables import load_table
    docs = load_table(spark, "documents", sf_dir)
    path = str(tmp_path / "postings")
    write_postings_index(docs, path)
    terms = ["the", "data", "model"]
    got = bm25_topk_from_index(spark, path, terms)
    want = bm25_topk(docs, terms, k=10)
    assert [tuple(r) for r in got.collect()] == \
        [tuple(r) for r in want.collect()]
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "term_bucket" in plan
    # driver-side bucket math matches the layout's partition column
    # for every stored posting (terms absent from the corpus simply
    # have no partition — their empty scan is still correct)
    rows = (spark.read.parquet(path + "/postings")
            .select("term", "term_bucket").limit(200).collect())
    assert rows
    assert all(term_bucket_of(r.term, 64) == r.term_bucket for r in rows)


def test_tfidf_cosine_ranks_exact_match_first(spark):
    # A doc that IS the query bag must outrank docs that merely contain
    # the terms among others (higher cosine via smaller norm), and a
    # doc with no query term must not appear.
    from openedx_event_sink_clickhouse_spark.operators.retrieval import (
        tfidf_cosine_topk)
    docs = spark.createDataFrame(
        [(0, "data model"),
         (1, "data model training corpus quality filter scale"),
         (2, "gradient descent convergence"),
         (3, "data data data other words here")],
        ["doc_id", "text"])
    got = [(r.doc_id, r.tfidf_cosine) for r in
           tfidf_cosine_topk(docs, ["data", "model"]).collect()]
    ids = [d for d, _ in got]
    assert ids[0] == 0
    assert 2 not in ids
    assert set(ids) == {0, 1, 3}
    assert all(0 < s <= 1.0 + 1e-9 for _, s in got)


def test_tfidf_from_index_matches_scan_and_prunes(spark, sf_dir, tmp_path):
    # True-cosine ranking served from the layout: the tfidf_norms
    # sidecar replaces the live query's corpus re-tokenize for norms,
    # the dot product reads only the query terms' bucket partitions
    # (PartitionFilter), and the ranking reproduces the scan-time one
    # exactly.
    from openedx_event_sink_clickhouse_spark.operators.retrieval import (
        tfidf_cosine_from_index,
        tfidf_cosine_topk,
        write_postings_index,
    )
    from openedx_event_sink_clickhouse_spark.sources.tables import load_table
    docs = load_table(spark, "documents", sf_dir)
    path = str(tmp_path / "postings")
    write_postings_index(docs, path)
    terms = ["the", "data", "model"]
    got = tfidf_cosine_from_index(spark, path, terms)
    want = tfidf_cosine_topk(docs, terms)
    assert [tuple(r) for r in got.collect()] == \
        [tuple(r) for r in want.collect()]
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "term_bucket" in plan
    # No tokenize in the served plan: the only Generates allowed would
    # come from an explode — there are none; every input is a parquet
    # scan of the layout.
    assert "Generate" not in plan


def test_keyword_extraction_prefers_rare_terms(spark):
    # idf must push corpus-wide terms down and doc-specific terms up.
    from openedx_event_sink_clickhouse_spark.operators.retrieval import (
        keyword_extraction)
    docs = spark.createDataFrame(
        [(0, "the zebra quantum"),
         (1, "the the common words here"),
         (2, "the common words again today")],
        ["doc_id", "text"])
    kw = {}
    for r in keyword_extraction(docs, k=2).collect():
        kw.setdefault(r.doc_id, []).append((r.kw_rank, r.term))
    top0 = [t for _, t in sorted(kw[0])]
    assert set(top0) == {"zebra", "quantum"}   # not the df=3 'the' 


def test_phrase_search_position_algebra(spark):
    from openedx_event_sink_clickhouse_spark.operators.retrieval import (
        phrase_search)
    docs = spark.createDataFrame([
        (1, "the table is the table"),     # 2 occurrences, first at 0
        (2, "table the nothing"),          # words present, wrong order
        (3, "a the table b"),              # 1 occurrence at pos 1
        (4, "the the table"),              # overlap guard: 1 occ at 1
        (5, "no match here"),
        (6, ""),
    ], "doc_id long, text string")
    got = {r.doc_id: (r.n_occurrences, r.first_pos)
           for r in phrase_search(docs, ["the", "table"]).collect()}
    assert got == {1: (2, 0), 3: (1, 1), 4: (1, 1)}

    # repeated-term phrase: "a a" in "a a a" occurs at starts 0 and 1
    docs2 = spark.createDataFrame([(1, "a a a"), (2, "a b a")],
                                  "doc_id long, text string")
    got2 = {r.doc_id: (r.n_occurrences, r.first_pos)
            for r in phrase_search(docs2, ["a", "a"]).collect()}
    assert got2 == {1: (2, 0)}

    # three-term phrase
    got3 = phrase_search(docs, ["is", "the", "table"]).collect()
    assert [(r.doc_id, r.n_occurrences, r.first_pos) for r in got3] == \
        [(1, 1, 2)]


def test_query_likelihood_matches_hand_computation(spark):
    import math
    from openedx_event_sink_clickhouse_spark.operators.retrieval import (
        query_likelihood_topk)
    docs = spark.createDataFrame(
        [(0, "apple banana apple"),        # tf(apple)=2, dl=3
         (1, "banana cherry"),             # no apple, dl=2
         (2, "durian durian durian")],     # no query term -> not candidate
        ["doc_id", "text"])
    mu = 2.0
    out = {r["doc_id"]: r["ql"]
           for r in query_likelihood_topk(
               docs, ["apple", "banana"], k=10, mu=mu).collect()}
    # collection: |C|=8, cf(apple)=2, cf(banana)=2 -> p=0.25 each
    def score(tfs, dl):
        return round(sum(math.log((tf + mu * 0.25) / (dl + mu))
                         for tf in tfs), 6)
    assert out == {0: score([2, 1], 3), 1: score([0, 1], 2)}
    # doc 0 must outrank doc 1; doc 2 is not a candidate
    assert out[0] > out[1] and 2 not in out


def test_query_likelihood_absent_term_drops_out(spark):
    from openedx_event_sink_clickhouse_spark.operators.retrieval import (
        query_likelihood_topk)
    docs = spark.createDataFrame(
        [(0, "apple banana"), (1, "banana banana")], ["doc_id", "text"])
    with_ghost = query_likelihood_topk(
        docs, ["banana", "zzz_not_in_corpus"], k=5).collect()
    without = query_likelihood_topk(docs, ["banana"], k=5).collect()
    assert sorted(map(tuple, with_ghost)) == sorted(map(tuple, without))
