"""BM25 retrieval: hand-computed scores on a tiny corpus, top-k
determinism, input validation. Jaccard ranking and RRF fusion:
hand-computed fusion on the same corpus."""

from __future__ import annotations

import math

import pytest

from mhm_data_pipelines_spark.operators.retrieval import (
    bm25_scores,
    bm25_topk,
    jaccard_topk,
    rrf_fuse,
)

DOCS = [
    (1, "spark engine for data processing at scale"),
    (2, "data data data everywhere"),
    (3, "a completely unrelated document about cats"),
    (4, "spark spark spark spark streaming"),
]


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def _expected(query_terms, k1=1.2, b=0.75):
    toks = {d: t.lower().split() for d, t in DOCS}
    n = len(DOCS)
    avgdl = sum(len(t) for t in toks.values()) / n
    out = {}
    for d, t in toks.items():
        score, matched = 0.0, 0
        for q in query_terms:
            tf = t.count(q)
            if tf == 0:
                continue
            df = sum(1 for tt in toks.values() if q in tt)
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            score += idf * (tf * (k1 + 1.0)) / (
                tf + k1 * (1.0 - b + b * len(t) / avgdl)
            )
            matched += 1
        if matched:
            out[d] = (score, matched)
    return out


def test_bm25_scores_match_reference_formula(spark, corpus):
    got = {
        r.doc_id: (r.score, r.n_terms_matched)
        for r in bm25_scores(corpus, "spark data").collect()
    }
    want = _expected(["spark", "data"])
    assert set(got) == set(want)
    for d, (s, m) in want.items():
        assert got[d][1] == m
        assert got[d][0] == pytest.approx(s, rel=1e-12)


def test_bm25_topk_order_and_k(spark, corpus):
    rows = bm25_topk(corpus, "spark data", k=2).collect()
    want = _expected(["spark", "data"])
    order = sorted(want, key=lambda d: (-want[d][0], d))
    assert [r.doc_id for r in rows] == order[:2]
    # scores descend
    assert rows[0].score >= rows[1].score


def test_bm25_unmatched_docs_absent_and_case_folded(spark, corpus):
    got = {r.doc_id for r in bm25_scores(corpus, "SPARK").collect()}
    assert got == {1, 4}


def test_bm25_empty_query_raises(spark, corpus):
    with pytest.raises(ValueError):
        bm25_scores(corpus, "   ")


def test_jaccard_topk_hand_computed(spark, corpus):
    # query set {spark, data}; per-doc distinct tokens from DOCS.
    rows = jaccard_topk(corpus, "spark data", k=10).collect()
    got = {r.doc_id: (r.score, r.n_terms_matched) for r in rows}
    expect = {}
    for d, t in DOCS:
        toks = set(t.lower().split())
        inter = len(toks & {"spark", "data"})
        if inter:
            expect[d] = (
                round(inter / (len(toks) + 2 - inter), 6),
                inter,
            )
    assert got == expect
    # ordering: score desc, id asc
    scores = [(r.score, r.doc_id) for r in rows]
    assert scores == sorted(scores, key=lambda x: (-x[0], x[1]))


def test_jaccard_topk_respects_k(spark, corpus):
    assert jaccard_topk(corpus, "spark data", k=1).count() == 1


def test_rrf_fuse_hand_computed(spark, corpus):
    a = spark.createDataFrame(
        [(1, 3.0), (2, 2.0), (3, 1.0)], "doc_id long, score double"
    )
    b = spark.createDataFrame(
        [(2, 9.0), (4, 5.0)], "doc_id long, score double"
    )
    rows = rrf_fuse([a, b], k_const=60).collect()
    got = {r.doc_id: (r.rrf_score, r.n_lists) for r in rows}
    want = {
        1: (round(1 / 61, 8), 1),
        2: (round(1 / 62 + 1 / 61, 8), 2),
        3: (round(1 / 63, 8), 1),
        4: (round(1 / 62, 8), 1),
    }
    assert got == want
    # order: rrf desc, id asc; doc 2 fused from both lists wins
    assert [r.doc_id for r in rows][0] == 2


def test_rrf_fuse_tie_rule_and_topk(spark):
    # identical scores: rank by id asc within a list
    a = spark.createDataFrame(
        [(7, 1.0), (5, 1.0)], "doc_id long, score double"
    )
    rows = rrf_fuse([a], topk=1).collect()
    assert len(rows) == 1 and rows[0].doc_id == 5
    with pytest.raises(ValueError):
        rrf_fuse([])


def test_phrase_search_counts_positions(spark):
    from mhm_data_pipelines_spark.operators.retrieval import phrase_search

    df = spark.createDataFrame(
        [
            (1, "the data model beats the data lake"),
            (2, "metadata modeling is not the-data"),
            (3, "THE DATA THE DATA the data"),
            (4, "a a a"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.n_occurrences
        for r in phrase_search(df, "the data").collect()
    }
    # doc 2: substring/hyphen forms must NOT match (token-exact)
    assert got == {1: 2, 3: 3}
    # self-overlapping phrase counts every start position
    got2 = {
        r.doc_id: r.n_occurrences
        for r in phrase_search(df, "a a").collect()
    }
    assert got2 == {4: 2}


def test_phrase_search_order_k_and_validation(spark):
    import pytest as _pytest

    from mhm_data_pipelines_spark.operators.retrieval import phrase_search

    df = spark.createDataFrame(
        [(1, "x y"), (2, "x y x y"), (3, "x y x y x y")],
        "doc_id long, text string",
    )
    rows = phrase_search(df, "x y", k=2).collect()
    assert [(r.doc_id, r.n_occurrences) for r in rows] == [(3, 3), (2, 2)]
    with _pytest.raises(ValueError):
        phrase_search(df, "   ")


# ------------------------------------------------------------ collocations
import math

from mhm_data_pipelines_spark.operators.retrieval import pmi_collocations


def test_pmi_hand_computed(spark):
    # Corpus: "new york" twice, "new day" once -> tokens:
    # new x3, york x2, day x1; N=6. Bigrams: (new,york) x2, (new,day) x1
    # within docs; B = 3.
    docs = spark.createDataFrame(
        [(1, "new york"), (2, "new york"), (3, "new day")],
        "doc_id long, text string",
    )
    out = pmi_collocations(docs, min_count=1, topk=10).collect()
    rows = {(r["w1"], r["w2"]): r for r in out}
    assert set(rows) == {("new", "york"), ("new", "day")}
    n, b = 6.0, 3.0
    pmi_ny = math.log((2 / b) / ((3 / n) * (2 / n)))
    npmi_ny = pmi_ny / -math.log(2 / b)
    assert rows[("new", "york")]["c_ab"] == 2
    assert rows[("new", "york")]["pmi"] == round(pmi_ny, 6)
    assert rows[("new", "york")]["npmi"] == round(npmi_ny, 6)
    pmi_nd = math.log((1 / b) / ((3 / n) * (1 / n)))
    assert rows[("new", "day")]["pmi"] == round(pmi_nd, 6)


def test_pmi_min_count_and_order(spark):
    docs = spark.createDataFrame(
        [(1, "a b a b c d"), (2, "a b x y x y")],
        "doc_id long, text string",
    )
    out = pmi_collocations(docs, min_count=2, topk=10).collect()
    # only bigrams with c_ab >= 2 survive
    assert all(r["c_ab"] >= 2 for r in out)
    # ordering: npmi desc, then w1, w2 asc
    keys = [(-r["npmi"], r["w1"], r["w2"]) for r in out]
    assert keys == sorted(keys)


def test_pmi_collocation_beats_independent_pair(spark):
    # "foo bar" always co-occurs; "c d" occurs once among unrelated
    # tokens -> the true collocation must outrank it on npmi.
    docs = spark.createDataFrame(
        [(1, "foo bar c q"), (2, "foo bar r s"), (3, "c d t u")],
        "doc_id long, text string",
    )
    out = pmi_collocations(docs, min_count=1, topk=100).collect()
    by_pair = {(r["w1"], r["w2"]): r["npmi"] for r in out}
    assert by_pair[("foo", "bar")] > by_pair[("c", "d")]
    assert all(math.isfinite(r["npmi"]) for r in out)


# ---------------------------------------------------------------- keywords
from mhm_data_pipelines_spark.operators.retrieval import doc_keywords


def test_doc_keywords_hand_computed(spark):
    # 3 docs; 'zebra' only in doc 1 (idf ln3), 'the' in all (idf 0).
    docs = spark.createDataFrame(
        [
            (1, "the zebra zebra runs"),
            (2, "the cat sits"),
            (3, "the dog runs"),
        ],
        "doc_id long, text string",
    )
    out = doc_keywords(docs, topk=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append((r["rank"], r["term"], r["score"]))
    import math
    top1 = sorted(by_doc[1])[0]
    assert top1[1] == "zebra"
    assert top1[2] == round(2 * math.log(3), 6)
    # 'the' scores 0 everywhere -> never outranks positive-idf terms
    assert all(t != "the" or s == 0.0 for _, t, s in sum(by_doc.values(), []))
    assert all(len(v) == 2 for v in by_doc.values())


def test_doc_keywords_tie_order(spark):
    docs = spark.createDataFrame(
        [(1, "bb aa"), (2, "cc dd")], "doc_id long, text string"
    )
    out = [(r["rank"], r["term"]) for r in doc_keywords(docs, topk=2).collect()
           if r["doc_id"] == 1]
    # equal scores -> term asc
    assert sorted(out) == [(1, "aa"), (2, "bb")]
