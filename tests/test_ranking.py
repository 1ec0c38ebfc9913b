"""Bradley-Terry MM fitting — hand-replayed recurrences and invariants."""

import math

import pytest

from mhm_data_pipelines_spark.operators.ranking import bradley_terry


def _fit_reference(comparisons, iterations, quantize=9):
    """Pure-python replay of the documented recurrence (same
    quantization points), used to pin the Spark values exactly."""
    cmp = [(w, l) for w, l in comparisons if w != l]
    items = sorted({x for p in cmp for x in p})
    wins = {i: 0 for i in items}
    for w, _ in cmp:
        wins[w] += 1
    n = {}
    for w, l in cmp:
        key = (min(w, l), max(w, l))
        n[key] = n.get(key, 0) + 1
    p = {i: 1.0 for i in items}
    for _ in range(iterations):
        raw = {}
        for i in items:
            denom = sum(
                c / (p[i] + p[j if i == a else a])
                for (a, j), c in n.items()
                if i in (a, j)
            )
            raw[i] = wins[i] / denom
        mean = sum(raw.values()) / len(items)
        p = {i: round(raw[i] / mean, quantize) for i in items}
    return p


def _run(spark, rows, **kw):
    df = spark.createDataFrame(rows, "winner string, loser string")
    out = bradley_terry(df, **kw).orderBy("item").collect()
    return {r["item"]: r["rating"] for r in out}


def test_matches_python_replay(spark):
    rows = (
        [("a", "b")] * 3
        + [("b", "a")] * 1
        + [("a", "c")] * 2
        + [("c", "a")] * 2
        + [("b", "c")] * 4
        + [("c", "b")] * 1
    )
    got = _run(spark, rows, iterations=8)
    want = _fit_reference(rows, iterations=8)
    assert got.keys() == want.keys()
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-9), k


def test_dominance_order(spark):
    # a beats b more than b beats a, and b likewise dominates c:
    # fitted strengths must come out strictly ordered.
    rows = [("a", "b")] * 5 + [("b", "a")] + [("b", "c")] * 5 + [("c", "b")]
    got = _run(spark, rows, iterations=8)
    assert got["a"] > got["b"] > got["c"]


def test_mean_one_normalization(spark):
    rows = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")]
    got = _run(spark, rows, iterations=4)
    assert sum(got.values()) / len(got) == pytest.approx(1.0, abs=1e-6)


def test_symmetric_comparisons_equal_ratings(spark):
    # Perfectly balanced record -> every item at the mean (rating 1).
    rows = [("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"),
            ("a", "c"), ("c", "a")]
    got = _run(spark, rows, iterations=6)
    for v in got.values():
        assert v == pytest.approx(1.0, abs=1e-9)


def test_never_winner_hits_zero_and_self_pairs_dropped(spark):
    rows = [("a", "c"), ("b", "c"), ("a", "b"), ("b", "a"), ("c", "c")]
    got = _run(spark, rows, iterations=5)
    assert got["c"] == 0.0
    assert set(got) == {"a", "b", "c"}
    # winners of everything stay finite (normalized), not inf
    assert all(math.isfinite(v) for v in got.values())


def test_driver_and_distributed_paths_identical(spark, monkeypatch):
    from mhm_data_pipelines_spark.operators import ranking

    rows = (
        [("a", "b")] * 4 + [("b", "a")] * 2 + [("b", "c")] * 3
        + [("c", "d")] * 2 + [("d", "a")]
    )
    df = spark.createDataFrame(rows, "winner string, loser string")
    fast = {r["item"]: r["rating"]
            for r in bradley_terry(df, iterations=6).collect()}
    monkeypatch.setattr(ranking, "_DRIVER_MAX_PAIRS", 0)
    slow = {r["item"]: r["rating"]
            for r in bradley_terry(df, iterations=6).collect()}
    assert fast == slow


def test_integer_items_supported(spark):
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 1)], "winner int, loser int"
    )
    out = bradley_terry(df, iterations=4).collect()
    assert {r["item"] for r in out} == {1, 2, 3}


class TestRankingMetrics:
    def _df(self, spark, rows):
        return spark.createDataFrame(
            rows, "query_id string, item_id long, score double, "
                  "relevance double"
        )

    def test_hand_computed_ndcg_mrr_ap(self, spark):
        import math

        from mhm_data_pipelines_spark.operators.ranking import (
            ranking_metrics,
        )

        # query A: ranked by score desc -> items 1(rel2), 2(rel0),
        # 3(rel1); ideal order rel desc -> 2,1,0
        rows = [
            ("A", 1, 9.0, 2.0),
            ("A", 2, 5.0, 0.0),
            ("A", 3, 3.0, 1.0),
        ]
        r = ranking_metrics(
            self._df(spark, rows), k=3
        ).collect()[0]
        dcg = (2**2 - 1) / math.log2(2) + 0.0 + (2**1 - 1) / math.log2(4)
        idcg = (2**2 - 1) / math.log2(2) + (2**1 - 1) / math.log2(3)
        assert r["n_items"] == 3 and r["n_pos"] == 2
        assert r["dcg_k"] == pytest.approx(dcg, abs=1e-6)
        assert r["ndcg_k"] == pytest.approx(dcg / idcg, abs=1e-6)
        assert r["mrr_k"] == pytest.approx(1.0)
        # AP: hits at ranks 1 and 3 -> (1/1 + 2/3) / min(2, 3)
        assert r["ap_k"] == pytest.approx((1.0 + 2 / 3) / 2, abs=1e-6)

    def test_no_positives_yields_null_ndcg_ap_zero_mrr(self, spark):
        from mhm_data_pipelines_spark.operators.ranking import (
            ranking_metrics,
        )

        rows = [("A", 1, 2.0, 0.0), ("A", 2, 1.0, 0.0)]
        r = ranking_metrics(self._df(spark, rows), k=10).collect()[0]
        assert r["ndcg_k"] is None and r["ap_k"] is None
        assert r["mrr_k"] == 0.0 and r["dcg_k"] == 0.0

    def test_positives_outside_topk_in_ap_denominator(self, spark):
        from mhm_data_pipelines_spark.operators.ranking import (
            ranking_metrics,
        )

        # k=1: one positive at rank 1, a second positive at rank 2 —
        # TREC denominator is min(R=2, k=1) = 1.
        rows = [("A", 1, 9.0, 1.0), ("A", 2, 8.0, 1.0)]
        r = ranking_metrics(self._df(spark, rows), k=1).collect()[0]
        assert r["ap_k"] == pytest.approx(1.0)
        assert r["n_pos"] == 2

    def test_score_tie_breaks_on_item_key(self, spark):
        from mhm_data_pipelines_spark.operators.ranking import (
            ranking_metrics,
        )

        # equal scores: item 1 must rank before item 2 -> positive at
        # rank 2 -> mrr 0.5
        rows = [("A", 2, 5.0, 1.0), ("A", 1, 5.0, 0.0)]
        r = ranking_metrics(self._df(spark, rows), k=10).collect()[0]
        assert r["mrr_k"] == pytest.approx(0.5)

    def test_null_rows_dropped_and_k_guard(self, spark):
        from mhm_data_pipelines_spark.operators.ranking import (
            ranking_metrics,
        )

        rows = [("A", 1, 9.0, 1.0), ("A", 2, None, 1.0),
                ("A", 3, 1.0, None)]
        r = ranking_metrics(self._df(spark, rows), k=5).collect()[0]
        assert r["n_items"] == 1
        with pytest.raises(ValueError, match="k must be"):
            ranking_metrics(self._df(spark, rows), k=0)


class TestRankBiasedOverlap:
    def _df(self, spark, rows):
        return spark.createDataFrame(
            rows, "q string, it long, sa double, sb double"
        )

    @staticmethod
    def _reference(items, p, k):
        """Textbook truncated RBO: (1-p) * sum p^(d-1) * X_d / d."""
        ra = {it: r + 1 for r, (it, _, _) in enumerate(
            sorted(items, key=lambda x: (-x[1], x[0])))}
        rb = {it: r + 1 for r, (it, _, _) in enumerate(
            sorted(items, key=lambda x: (-x[2], x[0])))}
        total = 0.0
        for d in range(1, k + 1):
            xd = sum(
                1 for it in ra if ra[it] <= d and rb[it] <= d
            )
            total += p ** (d - 1) * xd / d
        return (1 - p) * total

    def test_identical_rankings_approach_one(self, spark):
        from mhm_data_pipelines_spark.operators.ranking import (
            rank_biased_overlap,
        )

        rows = [("A", i, 100.0 - i, 200.0 - 2 * i) for i in range(10)]
        r = rank_biased_overlap(
            self._df(spark, rows), "q", "it", "sa", "sb",
            p=0.9, k=50,
        ).collect()[0]
        want = self._reference([(i, 100.0 - i, 200.0 - 2 * i)
                                for i in range(10)], 0.9, 50)
        assert r["rbo_k"] == pytest.approx(want, abs=1e-6)
        # identical 10-item lists at k=50: X_d/d < 1 past depth 10,
        # so truncated RBO tops out at ~0.855 (the extrapolated full
        # metric, not computed here, is what reaches 1.0)
        assert r["rbo_k"] == pytest.approx(0.854709, abs=1e-5)

    def test_disjoint_prefix_scores_low_and_matches_reference(self, spark):
        from mhm_data_pipelines_spark.operators.ranking import (
            rank_biased_overlap,
        )

        import random

        rng = random.Random(2)
        items = [(i, rng.random(), rng.random()) for i in range(25)]
        rows = [("A", i, a, b) for i, a, b in items]
        r = rank_biased_overlap(
            self._df(spark, rows), "q", "it", "sa", "sb",
            p=0.8, k=25,
        ).collect()[0]
        want = self._reference(items, 0.8, 25)
        assert r["rbo_k"] == pytest.approx(want, abs=1e-6)

    def test_reversed_ranking_and_guards(self, spark):
        from mhm_data_pipelines_spark.operators.ranking import (
            rank_biased_overlap,
        )

        rows = [("A", i, float(i), float(-i)) for i in range(6)]
        r = rank_biased_overlap(
            self._df(spark, rows), "q", "it", "sa", "sb",
            p=0.9, k=10,
        ).collect()[0]
        want = self._reference(
            [(i, float(i), float(-i)) for i in range(6)], 0.9, 10
        )
        assert r["rbo_k"] == pytest.approx(want, abs=1e-6)
        with pytest.raises(ValueError, match="p must"):
            rank_biased_overlap(
                self._df(spark, rows), "q", "it", "sa", "sb", p=1.0
            )


class TestIpwReport:
    def test_hand_computed_confounded_lift(self, spark):
        from mhm_data_pipelines_spark.operators.stats_tests import (
            ipw_report,
        )

        # stratum s1: 75% treated (e=.75); s2: 25% treated (e=.25).
        # outcomes differ by stratum, not treatment -> true ATE 0.
        rows = []
        rows += [("s1", "T", 10.0)] * 3 + [("s1", "C", 10.0)]
        rows += [("s2", "T", 2.0)] + [("s2", "C", 2.0)] * 3
        df = spark.createDataFrame(rows, "s string, arm string, y double")
        r = ipw_report(df, "arm", "y", ["s"], "T").collect()[0]
        assert r["n_used"] == 8 and r["n_no_overlap"] == 0
        # mu_t = (3*10/.75 + 2/.25)/(3/.75 + 1/.25) = 48/8 = 6
        assert r["mu_treat"] == pytest.approx(6.0)
        assert r["mu_control"] == pytest.approx(6.0)
        assert r["ate"] == pytest.approx(0.0)
        # naive arm means would be (32/4=8) vs (16/4=4): lift of 4
        # that IPW correctly removes.

    def test_no_overlap_strata_dropped_loudly(self, spark):
        from mhm_data_pipelines_spark.operators.stats_tests import (
            ipw_report,
        )

        rows = [("all_t", "T", 1.0), ("all_t", "T", 2.0),
                ("mix", "T", 3.0), ("mix", "C", 5.0)]
        df = spark.createDataFrame(rows, "s string, arm string, y double")
        r = ipw_report(df, "arm", "y", ["s"], "T").collect()[0]
        assert r["n_no_overlap"] == 2 and r["n_used"] == 2
        assert r["n_strata"] == 2
        assert r["mu_treat"] == pytest.approx(3.0)
        with pytest.raises(ValueError, match="strata_cols"):
            ipw_report(df, "arm", "y", [], "T")
