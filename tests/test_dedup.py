"""Dedup operators: exact, MinHash-LSH (recall vs exact Jaccard), SimHash,
n-gram Jaccard verification, embedding near-dup."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mhm_data_pipelines_spark.operators.dedup import (
    dedup_exact,
    embedding_near_duplicates,
    exact_duplicates,
    minhash_lsh_candidates,
    minhash_near_duplicates,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_duplicates,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    (3, "The  quick brown fox jumps over the LAZY dog"),  # normalized dup
    (4, "the quick brown fox jumps over the lazy cat"),  # near dup
    (5, "completely different content about spark engines"),
    (6, "completely different content about spark engines and scale"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_duplicates_normalized(docs):
    groups = exact_duplicates(docs).collect()
    assert len(groups) == 1
    assert groups[0].member_ids == [1, 2, 3]  # case/whitespace-insensitive
    assert groups[0].keep_id == 1


def test_dedup_exact_keeps_lowest_id(docs):
    kept = {r.doc_id for r in dedup_exact(docs).collect()}
    assert kept == {1, 4, 5, 6}


def test_minhash_signature_shape_and_determinism(docs):
    s1 = minhash_signatures(docs, num_hashes=16).orderBy("doc_id").collect()
    s2 = minhash_signatures(docs, num_hashes=16).orderBy("doc_id").collect()
    assert all(len(r.signature) == 16 for r in s1)
    assert [r.signature for r in s1] == [r.signature for r in s2]
    # identical docs → identical signatures
    by_id = {r.doc_id: r.signature for r in s1}
    assert by_id[1] == by_id[2]


def test_minhash_lsh_finds_near_dups(docs):
    pairs = minhash_near_duplicates(
        docs, num_hashes=32, bands=16, threshold=0.5
    ).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 2) in found and (1, 3) in found and (2, 3) in found
    assert (1, 4) in found  # one-word change, high shingle overlap
    est = {(r.id_a, r.id_b): r.est_jaccard for r in pairs}
    assert est[(1, 2)] == 1.0


def test_minhash_candidates_no_self_or_reversed_pairs(docs):
    sigs = minhash_signatures(docs, num_hashes=16)
    cands = minhash_lsh_candidates(sigs, bands=8).collect()
    assert all(r.id_a < r.id_b for r in cands)


def test_simhash_identical_for_same_tokens(docs):
    groups = simhash_duplicates(docs).collect()
    members = {tuple(g.member_ids) for g in groups}
    # 1 and 2 identical text → same simhash (3 differs: simhash tokenizes
    # raw lowercase incl. double space handling).
    assert any({1, 2} <= set(m) for m in members)


def test_simhash_near_duplicates_matches_brute_force(spark):
    """Banded Hamming≤k candidates + exact verify must equal the brute
    force O(n²) result — the pigeonhole guarantee, for both hash
    families and a k that doesn't divide the bit width evenly."""
    from mhm_data_pipelines_spark.operators.dedup import (
        simhash,
        simhash_near_duplicates,
    )

    base = "w%d " * 40
    rows = [(i, base % tuple(range(i, i + 40))) for i in range(20)]
    # planted near-dups: doc 100/101 differ from doc 0 by 1-2 tokens
    d0 = base % tuple(range(40))
    rows += [(100, d0.replace("w1 ", "x1 ")), (101, d0.replace("w2 ", "x2 "))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for token_hash, bits, k in (("xxhash64", 64, 6), ("md5", 60, 7)):
        sigs = simhash(df, bits=bits, token_hash=token_hash)
        a, b = sigs.alias("a"), sigs.alias("b")
        brute = {
            (r.id_a, r.id_b, r.h)
            for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("id_a"),
                F.col("b.doc_id").alias("id_b"),
                F.bit_count(
                    F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
                ).cast("int").alias("h"),
            )
            .filter(F.col("h") <= k)
            .collect()
        }
        banded = {
            (r.id_a, r.id_b, r.hamming)
            for r in simhash_near_duplicates(
                df, max_hamming=k, bits=bits, token_hash=token_hash
            ).collect()
        }
        assert banded == brute, (token_hash, bits, k)
        assert brute, "fixture must produce at least one near-dup pair"


def test_minhash_hot_bucket_cap_bounds_candidates(spark):
    """A 1.2k-member bucket (identical boilerplate docs) must emit star
    pairs (m-1 edges to the min-id representative), not m(m-1)/2 pairwise
    — the 100 TB hot-bucket safeguard. Connected components over the star
    edges recover the full dup cluster."""
    from mhm_data_pipelines_spark.operators.components import (
        connected_components,
    )

    n = 1200
    rows = [(i, "standard license boilerplate header repeated verbatim")
            for i in range(n)]
    rows += [(10_000 + i, f"genuinely unique document body number {i} xyz")
             for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = minhash_signatures(df, num_hashes=16)
    capped = minhash_lsh_candidates(
        sigs, bands=8, num_hashes=16, max_bucket_size=100
    )
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    boiler = {p for p in got if p[0] < 10_000 and p[1] < 10_000}
    # identical docs → identical signature → one hot bucket per band →
    # the SAME star set from every band → exactly n-1 edges after distinct
    assert boiler == {(0, j) for j in range(1, n)}
    assert len(got) < 2 * n  # bounded: nowhere near n²/2 ≈ 720k
    comps = connected_components(capped)
    sizes = (
        comps.groupBy("component").count().orderBy(F.desc("count")).first()
    )
    assert sizes["count"] == n  # full cluster recovered via transitivity


def test_minhash_cap_above_bucket_size_is_noop(docs):
    uncapped = {
        (r.id_a, r.id_b, r.est_jaccard)
        for r in minhash_near_duplicates(
            docs, num_hashes=32, bands=16, threshold=0.5,
            max_bucket_size=None,
        ).collect()
    }
    capped = {
        (r.id_a, r.id_b, r.est_jaccard)
        for r in minhash_near_duplicates(
            docs, num_hashes=32, bands=16, threshold=0.5,
            max_bucket_size=100,
        ).collect()
    }
    assert uncapped == capped


def test_simhash_hot_bucket_cap(spark):
    """Identical-token docs all land in one chunk bucket per band; over
    the cap they must come back as star pairs with hamming 0 — linear
    fan-out, precision preserved by the exact hamming filter."""
    from mhm_data_pipelines_spark.operators.dedup import (
        simhash_near_duplicates,
    )

    n = 500
    rows = [(i, "identical token stream for every single document")
            for i in range(n)]
    rows += [(10_000, "an entirely different vocabulary cluster here now")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = simhash_near_duplicates(df, max_hamming=3, max_bucket_size=50)
    got = {(r.id_a, r.id_b): r.hamming for r in out.collect()}
    assert set(got) == {(0, j) for j in range(1, n)}
    assert all(h == 0 for h in got.values())


def test_winnow_overlap_pairs(spark):
    """Docs embedding the same long passage must pair up (winnowing
    guarantee) with n_shared ≥ min_shared; unrelated docs must not."""
    from mhm_data_pipelines_spark.operators.dedup import winnow_overlap_pairs

    passage = (
        "a very distinctive stretch of text that appears verbatim in "
        "two different documents and nowhere else at all"
    )
    rows = [
        (1, f"intro words {passage} and a unique tail for doc one"),
        (2, f"{passage} with an entirely different continuation here"),
        (3, "nothing in common with the others whatsoever in any way"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): r.n_shared
        for r in winnow_overlap_pairs(df, min_shared=5).collect()
    }
    assert set(got) == {(1, 2)}
    assert got[(1, 2)] >= 5


def test_dedup_paragraphs_first_occurrence_wins(spark):
    """Repeated paragraph survives only in its first (doc, pos) home —
    across docs AND within one doc; reassembly preserves order; a doc
    made entirely of seen paragraphs comes back empty."""
    from mhm_data_pipelines_spark.operators.dedup import dedup_paragraphs

    boiler = "This boilerplate notice appears everywhere."
    rows = [
        (1, f"Unique opening for doc one.\n\n{boiler}\n\nUnique close."),
        (2, f"{boiler}\n\nDoc two's own paragraph survives."),
        (3, f"{boiler}\n\n{boiler}"),  # nothing novel at all
        (4, f"Doc four repeats itself.\n\nDoc four repeats itself."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in dedup_paragraphs(df).collect()}
    assert (got[1].n_paras, got[1].n_kept) == (3, 3)
    assert got[1].text_dedup == rows[0][1]  # first doc keeps everything
    assert (got[2].n_paras, got[2].n_kept) == (2, 1)
    assert got[2].text_dedup == "Doc two's own paragraph survives."
    assert (got[3].n_paras, got[3].n_kept) == (2, 0)
    assert got[3].text_dedup == ""
    assert (got[4].n_paras, got[4].n_kept) == (2, 1)  # self-dup collapsed
    assert got[4].text_dedup == "Doc four repeats itself."


def test_ngram_jaccard_verification(docs, spark):
    cands = spark.createDataFrame(
        [(1, 2), (1, 4), (1, 5)], "id_a long, id_b long"
    )
    out = ngram_jaccard_pairs(docs, cands, n=3, threshold=0.0).collect()
    jac = {(r.id_a, r.id_b): r.jaccard for r in out}
    assert jac[(1, 2)] == 1.0
    assert 0.0 < jac[(1, 4)] < 1.0
    assert jac[(1, 5)] == 0.0


def test_embedding_near_duplicates(spark):
    rows = [
        (1, [1.0, 0.0, 0.0], "x"),
        (2, [0.99, 0.01, 0.0], "x"),   # near dup of 1
        (3, [0.0, 1.0, 0.0], "x"),     # orthogonal
        (4, [1.0, 0.0, 0.0], "y"),     # same dir as 1 but other block
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    pairs = embedding_near_duplicates(
        df, block_col="label", threshold=0.95
    ).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(1, 2)}
    # unblocked brute force also finds the cross-block pair
    pairs_all = embedding_near_duplicates(df, threshold=0.95).collect()
    assert {(r.id_a, r.id_b) for r in pairs_all} == {(1, 2), (1, 4), (2, 4)}


def test_minhash_match_index_finds_cross_split_dups(docs, spark):
    from mhm_data_pipelines_spark.operators.dedup import minhash_match_index

    # index = docs 1-3 (near-identical cluster), batch = docs 4-6;
    # doc 4 is a one-word edit of doc 1 → must match the index.
    index = docs.filter(F.col("doc_id") <= 3)
    batch = docs.filter(F.col("doc_id") >= 4)
    index_sigs = minhash_signatures(index, num_hashes=32)
    out = minhash_match_index(
        batch, index_sigs, num_hashes=32, bands=16, threshold=0.5
    )
    pairs = {(r.id_new, r.id_index) for r in out.collect()}
    assert (4, 1) in pairs
    # batch-internal and index-internal pairs never appear
    assert all(a >= 4 and b <= 3 for a, b in pairs)


def test_duplicate_ngram_spans_basic(spark):
    from mhm_data_pipelines_spark.operators.dedup import (
        duplicate_ngram_spans,
    )

    # Docs 10/11 share the 8-token run "a b c d e f g h" (10 at offset 3,
    # 11 at offset 1); doc 12 shares nothing long enough.
    rows = [
        (10, "x y z a b c d e f g h tail one"),
        (11, "w a b c d e f g h other words here"),
        (12, "a b c q q q q q q q q q"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = duplicate_ngram_spans(df, k=5, min_run=2).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.doc_a, r.doc_b) == (10, 11)
    assert (r.start_a, r.start_b) == (4, 2)
    # 8 shared tokens -> 4 consecutive 5-grams -> span of 4 + 5 - 1 = 8
    assert r.n_grams == 4
    assert r.span_tokens == 8


def test_duplicate_ngram_spans_gram_cap_drops_boilerplate(spark):
    from mhm_data_pipelines_spark.operators.dedup import (
        duplicate_ngram_spans,
    )

    # The same 6-token boilerplate in 4 docs -> each of its 2 5-grams
    # occurs 4 times; cap at 3 suppresses all spans through it.
    text = "same old boiler plate line again"
    df = spark.createDataFrame(
        [(i, text) for i in range(4)], "doc_id long, text string"
    )
    assert duplicate_ngram_spans(df, k=5, min_run=2).count() == 6  # C(4,2)
    assert (
        duplicate_ngram_spans(df, k=5, min_run=2, max_gram_df=3).count()
        == 0
    )


def test_duplicate_ngram_spans_short_text_empty(spark):
    from mhm_data_pipelines_spark.operators.dedup import (
        duplicate_ngram_spans,
    )

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c")], "doc_id long, text string"
    )
    assert duplicate_ngram_spans(df, k=5).count() == 0


def test_dedup_spans_keep_first(spark):
    from mhm_data_pipelines_spark.operators.dedup import (
        dedup_spans_keep_first,
    )

    rows = [
        (1, "x y z a b c d e f g h tail one"),
        (2, "w a b c d e f g h other words here"),
        (3, "fresh content with no duplicate runs at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dedup_spans_keep_first(df, k=5).collect()}
    assert len(out) == 3
    # Doc 1 (lowest id) keeps its copy; doc 2 loses the 8 shared tokens.
    assert out[1].n_removed_tokens == 0
    assert out[1].clean_text == rows[0][1]
    assert out[2].clean_text == "w other words here"
    assert out[2].n_removed_tokens == 8 and out[2].n_tokens == 12
    assert out[3].n_removed_tokens == 0


def test_dedup_sentences_first_occurrence_wins(spark):
    from mhm_data_pipelines_spark.operators.dedup import dedup_sentences

    df = spark.createDataFrame(
        [
            (1, "Alpha beta. Shared boilerplate! Gamma?"),
            (2, "Shared boilerplate! Delta epsilon."),
            (3, "Alpha beta. Shared boilerplate!"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in dedup_sentences(df).collect()}
    assert out[1]["n_sents"] == 3 and out[1]["n_kept"] == 3
    assert out[1]["text_dedup"] == "Alpha beta. Shared boilerplate! Gamma?"
    # Doc 2 loses the boilerplate sentence (doc 1 had it first).
    assert out[2]["n_sents"] == 2 and out[2]["n_kept"] == 1
    assert out[2]["text_dedup"] == "Delta epsilon."
    # Doc 3 is entirely boilerplate -> empty.
    assert out[3]["n_sents"] == 2 and out[3]["n_kept"] == 0
    assert out[3]["text_dedup"] == ""


def test_lsh_pipelines_leave_no_cache_behind(spark):
    """The LAZY LSH paths hide no persist (the r4 internal persist
    leaked one catalog-cached relation per call — ADVICE r4): repeated
    calls must add no RDD to the set of persisted ones. (Compared as id
    sets, not counts: Spark's ContextCleaner may release checkpoints
    that earlier tests left, asynchronously, while this test runs.)"""
    from mhm_data_pipelines_spark.operators.dedup import (
        minhash_near_duplicates,
        simhash_near_duplicates,
    )

    docs = spark.createDataFrame(
        [(i, f"some shared boilerplate text number {i % 3}")
         for i in range(30)],
        ["doc_id", "text"],
    )
    jsc = spark.sparkContext._jsc

    def persisted():
        return set(jsc.getPersistentRDDs().keys())

    before = persisted()
    for _ in range(2):
        minhash_near_duplicates(docs).count()
        simhash_near_duplicates(docs).count()
    assert persisted() <= before


def test_winnow_overlap_max_doc_freq_drops_noise(spark):
    """MOSS over-common rule (r5 scale fix): fingerprints present in
    more than max_doc_freq docs carry no pair evidence. A substring
    shared by ALL docs must produce no pairs under a low df cap, while
    a substring shared by exactly two docs still does."""
    from mhm_data_pipelines_spark.operators.dedup import (
        winnow_overlap_pairs,
    )

    common = "this boilerplate banner appears everywhere in the corpus"
    rare = "zq8xv unique shared passage kxw93 found only twice here"
    rows = [(i, f"{common} filler {i} " * 3) for i in range(8)] + [
        (100, f"{common} {rare} alpha"),
        (101, f"beta {rare} {common}"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    # df cap 4 < 10 docs sharing the banner -> banner evidence dropped;
    # the rare passage (df=2) still pairs 100-101.
    out = winnow_overlap_pairs(
        df, k=8, window=4, min_shared=2, max_doc_freq=4
    ).collect()
    got = {(r.id_a, r.id_b) for r in out}
    assert (100, 101) in got
    # no pair among the banner-only docs
    assert not any(a < 100 and b < 100 for a, b in got)
    # without the df cap the banner floods pairs among all 8
    flood = winnow_overlap_pairs(
        df, k=8, window=4, min_shared=2, max_doc_freq=None
    ).count()
    assert flood > len(got)


def test_remove_frequent_lines(spark):
    from mhm_data_pipelines_spark.operators.dedup import (
        frequent_lines,
        remove_frequent_lines,
    )

    boiler = "subscribe to our newsletter"
    rows = [
        (1, f"unique one\n{boiler}\ncontent a"),
        (2, f"{boiler}\nunique two"),
        (3, f"content b\n  {boiler}  "),   # whitespace-variant still drops
        (4, "all unique\n\nwith blank"),   # blank line survives
        (5, boiler),                       # fully-boilerplate doc -> empty
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    inv = frequent_lines(df, min_df=3).collect()
    assert [(r.line, r.df) for r in inv] == [(boiler, 4)]

    got = {
        r.doc_id: r
        for r in remove_frequent_lines(df, min_df=3).collect()
    }
    assert got[1].clean_text == "unique one\ncontent a"
    assert (got[1].n_lines, got[1].n_removed) == (3, 1)
    assert got[2].clean_text == "unique two"
    assert got[3].clean_text == "content b"
    # blank line is structure: kept verbatim, never counted as frequent
    assert got[4].clean_text == "all unique\n\nwith blank"
    assert got[4].n_removed == 0
    assert got[5].clean_text == ""
    assert (got[5].n_lines, got[5].n_removed) == (1, 1)


def test_remove_frequent_lines_df_counts_documents_not_occurrences(spark):
    from mhm_data_pipelines_spark.operators.dedup import (
        remove_frequent_lines,
    )

    # the same line 5x in ONE doc is repetition, not corpus boilerplate
    df = spark.createDataFrame(
        [(1, "spam\nspam\nspam\nspam\nspam"), (2, "other")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r for r in remove_frequent_lines(df, min_df=2).collect()
    }
    assert got[1].n_removed == 0
    assert got[1].clean_text == "spam\nspam\nspam\nspam\nspam"


def test_salted_neardup_pairs_match_unsalted(spark):
    """r10 guide-§2.5 salting: the salted blocked self-join (left side
    salt + right side replication + keyed repartition) must produce the
    IDENTICAL pair set as the unsalted join — each unordered pair
    exactly once — for both the embedding-cosine and the banded-Hamming
    operators."""
    from pyspark.sql import functions as F

    from mhm_data_pipelines_spark.operators.dedup import (
        embedding_near_duplicates,
        hamming_near_duplicates,
    )

    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)], i % 3)
        for i in range(60)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    plain = {
        (r.id_a, r.id_b, r.cosine)
        for r in embedding_near_duplicates(
            df, block_col="label", threshold=0.1
        ).collect()
    }
    salted = {
        (r.id_a, r.id_b, r.cosine)
        for r in embedding_near_duplicates(
            df, block_col="label", threshold=0.1, salt_buckets=4
        ).collect()
    }
    assert salted == plain and len(plain) > 0

    sigs = spark.createDataFrame(
        [(i, (i % 5) * 1099511627776 + (i % 7)) for i in range(80)],
        "doc_id long, simhash long",
    )
    base = {
        (r.id_a, r.id_b, r.hamming)
        for r in hamming_near_duplicates(sigs, max_hamming=3).collect()
    }
    s4 = {
        (r.id_a, r.id_b, r.hamming)
        for r in hamming_near_duplicates(
            sigs, max_hamming=3, salt_buckets=4
        ).collect()
    }
    assert s4 == base and len(base) > 0
    # the capped star path composes with the salt too
    capped = {
        (r.id_a, r.id_b)
        for r in hamming_near_duplicates(
            sigs, max_hamming=3, max_bucket_size=5, salt_buckets=4
        ).collect()
    }
    capped_plain = {
        (r.id_a, r.id_b)
        for r in hamming_near_duplicates(
            sigs, max_hamming=3, max_bucket_size=5
        ).collect()
    }
    assert capped == capped_plain
