"""Interpolated Kneser-Ney bigram LM: hand-computed probabilities,
probability-mass sanity, held-out OOV smoothing, degenerate docs."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from mhm_data_pipelines_spark.operators.lm import (
    kn_bigram_counts,
    kn_bigram_doc_scores,
)

# train corpus: bigrams (a,b):2, (b,a):1, (a,c):1 -> B = 3 types
# context a: c1=3, N1+(a *)=2; b: c1=1, N1+(b *)=1
# continuation N1+(* b)=1, N1+(* a)=1, N1+(* c)=1
_TRAIN = [
    ("d1", ["a", "b", "a", "b"]),
    ("d2", ["a", "c"]),
]
# D=0.75:
# P(b|a) = 1.25/3 + 0.75*2/3 * 1/3 = 0.5833333...
# P(a|b) = 0.25/1 + 0.75*1/1 * 1/3 = 0.5
# P(c|a) = 0.25/3 + 0.75*2/3 * 1/3 = 0.25
_P_BA = 1.25 / 3 + 0.75 * 2 / 3 * (1 / 3)
_P_AB = 0.25 + 0.75 * (1 / 3)
_P_CA = 0.25 / 3 + 0.75 * 2 / 3 * (1 / 3)


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id string, tk array<string>")


def test_kn_counts(spark):
    c = kn_bigram_counts(_df(spark, _TRAIN))
    big = {(r["w1"], r["w2"]): r["c12"] for r in c["bigram"].collect()}
    assert big == {("a", "b"): 2, ("b", "a"): 1, ("a", "c"): 1}
    ctx = {r["w1"]: (r["c1"], r["n1r"]) for r in c["context"].collect()}
    assert ctx == {"a": (3.0, 2.0), "b": (1.0, 1.0)}
    cont = {r["w2"]: r["n1l"] for r in c["continuation"].collect()}
    assert cont == {"a": 1.0, "b": 1.0, "c": 1.0}
    assert c["total"].collect()[0]["_b"] == 3.0


def test_kn_self_scored_hand_values(spark):
    df = _df(spark, _TRAIN)
    got = {r["doc_id"]: r for r in kn_bigram_doc_scores(df).collect()}
    m1 = (2 * math.log(_P_BA) + math.log(_P_AB)) / 3
    assert got["d1"]["n_bigrams"] == 3
    assert got["d1"]["avg_logp"] == pytest.approx(round(m1, 4))
    assert got["d1"]["ppl"] == pytest.approx(
        round(math.exp(-round(m1, 4)), 4)
    )
    # d2 = ["a", "c"]: exactly one bigram (a, c)
    assert got["d2"]["n_bigrams"] == 1
    assert got["d2"]["avg_logp"] == pytest.approx(round(math.log(_P_CA), 4))


def test_kn_probability_mass_sums_to_one(spark):
    """For a known context, P_KN over the full vocabulary must sum to
    exactly 1 — the defining property MLE-with-fallback hacks violate."""
    # P(a|a) = 0 + 0.75*2/3 * 1/3 (unseen bigram, known context)
    p_aa = 0.75 * 2 / 3 * (1 / 3)
    assert _P_BA + _P_CA + p_aa == pytest.approx(1.0)


def test_kn_held_out_oov_paths(spark):
    """Unseen bigram -> continuation mass; unknown context -> P_cont;
    unknown continuation -> D/B floor. All finite, all positive."""
    train = _df(spark, _TRAIN)
    held = _df(
        spark,
        [
            ("h1", ["a", "z"]),  # known ctx, unseen bigram+cont: 0.5 * D/B
            ("h2", ["z", "b"]),  # unknown ctx: P_cont(b) = 1/3
        ],
    )
    got = {
        r["doc_id"]: r
        for r in kn_bigram_doc_scores(held, train=train).collect()
    }
    p_h1 = (0.75 * 2 / 3) * (0.75 / 3)
    assert got["h1"]["avg_logp"] == pytest.approx(round(math.log(p_h1), 4))
    assert got["h2"]["avg_logp"] == pytest.approx(
        round(math.log(1 / 3), 4)
    )


def test_kn_degenerate_docs_dropped_and_validation(spark):
    df = _df(spark, _TRAIN + [("e1", []), ("e2", ["solo"])])
    out = kn_bigram_doc_scores(df)
    assert {r["doc_id"] for r in out.collect()} == {"d1", "d2"}
    with pytest.raises(ValueError):
        kn_bigram_doc_scores(df, discount=1.0)


def test_sb_trigram_branches_hand_values(spark):
    """Every Stupid-Backoff branch with hand-computed scores.
    train counts: tri (a,b,a):1 (b,a,b):1; big (a,b):2 (b,a):1 (a,c):1;
    uni a:3 b:2 c:1; N=6."""
    from mhm_data_pipelines_spark.operators.lm import sb_doc_scores

    train = _df(spark, _TRAIN)
    held = _df(
        spark,
        [
            ("t1", ["b", "a", "b"]),   # trigram branch: 1 / c(b,a)=1
            ("t2", ["a", "b", "a"]),   # trigram branch: 1 / c(a,b)=2
            ("t3", ["x", "a", "b"]),   # bigram backoff: .4 * 2/3
            ("t4", ["a", "b", "c"]),   # unigram backoff: .16 * 1/6
            ("t5", ["x", "y", "z"]),   # OOV floor: .16 * 1/6
            ("t6", ["a", "b"]),        # < 3 tokens: dropped
        ],
    )
    got = {
        r["doc_id"]: r
        for r in sb_doc_scores(held, train=train, order=3).collect()
    }
    assert "t6" not in got
    assert got["t1"]["avg_logs"] == pytest.approx(round(math.log(1.0), 4))
    assert got["t2"]["avg_logs"] == pytest.approx(round(math.log(0.5), 4))
    assert got["t3"]["avg_logs"] == pytest.approx(
        round(math.log(0.4 * 2 / 3), 4)
    )
    assert got["t4"]["avg_logs"] == pytest.approx(
        round(math.log(0.4 * 0.4 * 1 / 6), 4)
    )
    assert got["t5"]["avg_logs"] == pytest.approx(
        round(math.log(0.4 * 0.4 * 1.0 / 6), 4)
    )
    assert got["t1"]["n_ngrams"] == 1
    with pytest.raises(ValueError):
        sb_doc_scores(held, train=train, order=3, alpha=1.0)


def test_sb_self_scored_is_mle_trigram(spark):
    """Self-scoring always hits the trigram branch (prefix
    containment), so scores reduce to MLE trigram conditionals."""
    from mhm_data_pipelines_spark.operators.lm import sb_doc_scores

    df = _df(spark, [("d1", ["a", "b", "a", "b"])])
    got = {r["doc_id"]: r for r in sb_doc_scores(df, order=3).collect()}
    # trigrams (a,b,a): 1/c(a,b)=1/2... c(a,b)=2 within d1;
    # (b,a,b): 1/c(b,a)=1/1
    want = (math.log(0.5) + math.log(1.0)) / 2
    assert got["d1"]["avg_logs"] == pytest.approx(round(want, 4))


def test_kn_trigram_hand_values_all_levels(spark):
    """Interpolated KN trigram: every recursion level hand-computed on
    _TRAIN (tri (a,b,a):1 (b,a,b):1; cont counts all 1; B=3; D=.75):
    P(a|a,b) = .25 + .75*P(a|b) = .25 + .75*.5 = .625;
    unseen trigram/known ctx -> interpolation term only;
    unknown ctx -> middle level; unknown middle -> P_cont; OOV -> D/B."""
    from mhm_data_pipelines_spark.operators.lm import kn_doc_scores

    train = _df(spark, _TRAIN)
    held = _df(
        spark,
        [
            ("s1", ["a", "b", "a"]),   # full formula: .625
            ("h1", ["a", "b", "c"]),   # unseen tri, known ctx:
                                       # .75 * P(c|b) = .75*.25 = .1875
            ("h2", ["x", "a", "b"]),   # unknown ctx -> P(b|a) = .5
            ("h3", ["x", "z", "b"]),   # unknown middle -> P_cont(b)=1/3
            ("h4", ["x", "z", "q"]),   # OOV w3 -> D/B = .25
            ("h5", ["a", "b"]),        # < 3 tokens: dropped
        ],
    )
    got = {
        r["doc_id"]: r
        for r in kn_doc_scores(held, train=train, order=3).collect()
    }
    assert "h5" not in got
    want = {"s1": 0.625, "h1": 0.1875, "h2": 0.5, "h3": 1 / 3, "h4": 0.25}
    for k, w in want.items():
        assert got[k]["avg_logp"] == pytest.approx(round(math.log(w), 4)), k
        assert got[k]["n_ngrams"] == 1
    with pytest.raises(ValueError):
        kn_doc_scores(held, train=train, order=3, discount=0.0)


def test_kn_trigram_probability_mass_sums_to_one(spark):
    """For a seen context the trigram KN distribution must sum to
    EXACTLY 1 over the vocabulary — the property the re-aggregated
    c12 = Σ c123 denominator buys (raw bigram counts would break it
    at document boundaries). Σ_w3 P(w3 | a,b) over {a,b,c} = 1."""
    from mhm_data_pipelines_spark.operators.lm import kn_doc_scores

    train = _df(spark, _TRAIN)
    held = _df(
        spark,
        [("pa", ["a", "b", "a"]), ("pb", ["a", "b", "b"]),
         ("pz", ["a", "b", "c"])],
    )
    got = {
        r["doc_id"]: math.exp(r["avg_logp"])
        for r in kn_doc_scores(held, train=train, order=3).collect()
    }
    # note: exp(round(ln p, 4)) ~ p to ~1e-4
    assert sum(got.values()) == pytest.approx(1.0, abs=5e-4)


def test_kn5_every_recursion_level_hand_values(spark):
    """5-gram interpolated KN (the exact CCNet filter shape): one
    held-out doc per recursion level, hand-computed on
    train = a b c d e a b c d e (D=.75, B=5, all continuation counts
    1, c5(abcde)=2 with context total 2)."""
    from mhm_data_pipelines_spark.operators.lm import kn_doc_scores

    train = _df(spark, [("d5", list("abcdeabcde"))])
    held = _df(
        spark,
        [
            ("h1", list("abcde")),  # full 5-gram: .625 + .375*P4
            ("h2", list("xbcde")),  # unseen ctx -> P4(e|bcd)
            ("h3", list("xycde")),  # -> P3(e|cd)
            ("h4", list("xyzde")),  # -> P2(e|d)
            ("h5", list("xyzwe")),  # -> P_cont(e)
            ("h6", list("xyzwv")),  # -> D/B floor
            ("h7", list("abcdx")),  # known ctx, unseen 5-gram: pure
                                    # interpolation chain to the floor
            ("h8", list("abcd")),   # < 5 tokens: dropped
        ],
    )
    got = {
        r["doc_id"]: r
        for r in kn_doc_scores(held, train=train, order=5).collect()
    }
    assert "h8" not in got
    pc, floor = 1 / 5, 0.75 / 5
    p2 = 0.25 + 0.75 * pc            # .4
    p3 = 0.25 + 0.75 * p2            # .55
    p4 = 0.25 + 0.75 * p3            # .6625
    p5 = (2 - 0.75) / 2 + 0.75 * 1 / 2 * p4   # .8734375
    # h7: every level unseen numerator, known context -> D-weight chain
    x2 = 0.75 * floor
    x3 = 0.75 * x2
    x4 = 0.75 * x3
    x5 = 0.75 * 1 / 2 * x4
    want = {"h1": p5, "h2": p4, "h3": p3, "h4": p2, "h5": pc,
            "h6": floor, "h7": x5}
    for k, w in want.items():
        assert got[k]["avg_logp"] == pytest.approx(round(math.log(w), 4)), k
        assert got[k]["n_ngrams"] == 1
    with pytest.raises(ValueError):
        kn_doc_scores(held, train=train, order=1)


def test_kn5_probability_mass_sums_to_one(spark):
    """Σ_w P5(w | a,b,c,d) over the vocabulary = 1 exactly — the mass
    identity must survive the full 4-level recursion."""
    from mhm_data_pipelines_spark.operators.lm import kn_doc_scores

    train = _df(spark, [("d5", list("abcdeabcde"))])
    held = _df(
        spark,
        [(f"p{w}", ["a", "b", "c", "d", w]) for w in "abcde"],
    )
    got = {
        r["doc_id"]: math.exp(r["avg_logp"])
        for r in kn_doc_scores(held, train=train, order=5).collect()
    }
    assert sum(got.values()) == pytest.approx(1.0, abs=5e-4)


def test_sb5_every_backoff_level_hand_values(spark):
    """Configurable-order Stupid-Backoff at order=5 (the CCNet shape):
    one held-out doc per backoff level, hand-computed.
    train d5 = a b c d e a b c d e ->
    c(abcde)=2, c(abcd)=2, c(bcde)=2, c(cde)=2, c(cd)=2, c(de)=2,
    c(d)=2, c(e)=2, N=10."""
    from mhm_data_pipelines_spark.operators.lm import sb_doc_scores

    train = _df(spark, [("d5", list("abcdeabcde"))])
    held = _df(
        spark,
        [
            ("h1", list("abcde")),  # 5-gram branch: 2/2
            ("h2", list("xbcde")),  # 4-gram: .4 * 2/2
            ("h3", list("xycde")),  # trigram: .16 * 2/2
            ("h4", list("xyzde")),  # bigram:  .064 * 2/2
            ("h5", list("xyzwe")),  # unigram: .0256 * 2/10
            ("h6", list("xyzwv")),  # OOV floor: .0256 * 1/10
            ("h7", list("abcd")),   # < 5 tokens: dropped
        ],
    )
    got = {
        r["doc_id"]: r
        for r in sb_doc_scores(held, train=train, order=5).collect()
    }
    assert "h7" not in got
    a = 0.4
    want = {
        "h1": 2 / 2,
        "h2": a * 2 / 2,
        "h3": a * a * 2 / 2,
        "h4": a * a * a * 2 / 2,
        "h5": a * a * a * a * 2 / 10,
        "h6": a * a * a * a * 1.0 / 10,
    }
    for k, w in want.items():
        assert got[k]["avg_logs"] == pytest.approx(round(math.log(w), 4)), k
        assert got[k]["n_ngrams"] == 1
    with pytest.raises(ValueError):
        sb_doc_scores(held, train=train, order=1)


def test_kn_lower_ppl_for_in_distribution_text(spark):
    """The whole point of the filter: text made of corpus-frequent
    bigrams scores lower perplexity than shuffled/rare text."""
    import random

    rng = random.Random(5)
    common = ["the", "cat", "sat", "on", "the", "mat"]
    train = [
        (f"t{i}", common * 3) for i in range(10)
    ] + [(f"r{i}", [f"w{rng.randrange(50)}" for _ in range(12)]) for i in range(10)]
    df = _df(spark, train)
    score = _df(
        spark,
        [
            ("fluent", ["the", "cat", "sat", "on", "the", "mat"]),
            ("gibberish", ["mat", "the", "on", "cat", "w3", "w44"]),
        ],
    )
    got = {r["doc_id"]: r["ppl"] for r in kn_bigram_doc_scores(score, train=df).collect()}
    assert got["fluent"] < got["gibberish"]
