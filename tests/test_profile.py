"""profile_table: per-column stats correctness on a hand-built frame."""

from __future__ import annotations

import pytest

from mhm_data_pipelines_spark.operators.profile import profile_table


@pytest.fixture(scope="module")
def frame(spark):
    return spark.createDataFrame(
        [
            (1, "a", None),
            (2, "b", 1.5),
            (3, "b", 2.5),
            (4, None, 2.5),
            (5, "c", 2.5),
        ],
        "id long, s string, v double",
    )


def test_profile_stats_and_top_values(spark, frame):
    out = {r.column: r for r in profile_table(frame).collect()}
    assert set(out) == {"id", "s", "v"}
    s = out["s"]
    assert (s.n_rows, s.n_nulls, s.n_distinct) == (5, 1, 3)
    assert (s.min_value, s.max_value) == ("a", "c")
    # count desc, value asc; NULLs excluded
    assert s.top_values == "b:2, a:1, c:1"
    v = out["v"]
    assert (v.n_nulls, v.n_distinct) == (1, 2)
    assert v.top_values.startswith("2.5:3")
    assert out["id"].dtype == "bigint" and v.dtype == "double"


def test_profile_column_subset(spark, frame):
    out = profile_table(frame, columns=["s"]).collect()
    assert len(out) == 1 and out[0].column == "s"
    assert out[0].n_distinct == 3


def test_profile_unknown_column_raises(spark, frame):
    with pytest.raises(ValueError, match="unknown columns"):
        profile_table(frame, columns=["nope"])


def test_profile_complex_and_binary_columns(spark):
    df = spark.createDataFrame(
        [(1, {"k": "v"}, [1, 2], bytearray(b"\x01\xff")), (2, None, None, None)],
        "id long, m map<string,string>, a array<int>, b binary",
    )
    out = {r.column: r for r in profile_table(df).collect()}
    assert out["m"].n_nulls == 1 and out["m"].n_distinct == 1
    assert out["m"].top_values == '{"k":"v"}:1'
    assert out["a"].min_value == "[1,2]"
    assert out["b"].top_values == "01FF:1"


def test_profile_exotic_column_names(spark):
    df = spark.createDataFrame([(1, 2)], "`my col` long, `o'brien` long")
    out = {r.column: r for r in profile_table(df).collect()}
    assert set(out) == {"my col", "o'brien"}
    assert out["my col"].n_distinct == 1


def test_profile_empty_columns_rejected(spark, frame):
    with pytest.raises(ValueError, match="empty columns"):
        profile_table(frame, columns=[])


def test_profile_drift_flags_changes(spark):
    from mhm_data_pipelines_spark.operators.profile import profile_drift

    old = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "b", 3.0), (4, None, 4.0)],
        "id long, k string, v double",
    )
    new = spark.createDataFrame(
        # k: more nulls + new top value; v: max doubled; id: one fewer
        [(1, None, 1.0), (2, None, 2.0), (3, "c", 8.0)],
        "id long, k string, v double",
    )
    rows = profile_drift(old, new, columns=["k", "v"]).collect()
    got = {r.col_name: r for r in rows}
    assert [r.col_name for r in rows] == ["k", "v"]
    k = got["k"]
    assert (k.n_rows_old, k.n_rows_new) == (4, 3)
    assert k.null_frac_old == 0.25
    assert k.null_frac_new == round(2 / 3, 6)
    assert (k.n_distinct_old, k.n_distinct_new) == (2, 1)
    assert k.min_changed and k.max_changed and k.top_values_changed
    v = got["v"]
    assert not v.min_changed
    assert v.max_changed
    assert (v.null_frac_old, v.null_frac_new) == (0.0, 0.0)


def test_profile_drift_no_change_is_all_false(spark):
    from mhm_data_pipelines_spark.operators.profile import profile_drift

    df = spark.createDataFrame(
        [(1, "x"), (2, "y")], "id long, k string"
    )
    rows = profile_drift(df, df).collect()
    assert all(
        not (r.min_changed or r.max_changed or r.top_values_changed)
        for r in rows
    )
    assert {r.col_name for r in rows} == {"id", "k"}


# ----------------------------------------------------------------- Benford
import math

from mhm_data_pipelines_spark.operators.profile import benford_report


def test_benford_hand_computed(spark):
    # digits: 1 x3 (1, 12, 199), 2 x1 (25), 9 x1 (9000); zeros/negatives
    # and NULL excluded.
    rows = [(1,), (12,), (199,), (25,), (9000,), (0,), (-5,), (None,)]
    df = spark.createDataFrame(rows, "v long")
    out = {r["digit"]: r for r in benford_report(df, "v").collect()}
    assert sorted(out) == list(range(1, 10))
    assert out[1]["n"] == 3 and out[2]["n"] == 1 and out[9]["n"] == 1
    assert out[3]["n"] == 0  # unseen digit still emitted
    assert out[1]["observed_p"] == 0.6
    assert out[1]["expected_p"] == round(math.log10(2), 6)
    n, N, p = 3, 5.0, math.log10(2)
    assert out[1]["chi2_term"] == round((n - N * p) ** 2 / (N * p), 6)


def test_benford_conforming_sample_low_chi2(spark):
    # A perfectly Benford-shaped sample has chi2 ~ 0 per digit.
    rows = []
    for d in range(1, 10):
        rows += [(d * 1000,)] * round(math.log10(1 + 1 / d) * 1000)
    df = spark.createDataFrame(rows, "v long")
    out = benford_report(df, "v").collect()
    assert all(r["chi2_term"] < 0.05 for r in out)


# ------------------------------------------------------------ concentration
from mhm_data_pipelines_spark.operators.profile import concentration_report


def test_concentration_even_vs_single(spark):
    even = spark.createDataFrame(
        [(f"s{i % 4}",) for i in range(40)], "src string"
    )
    row = concentration_report(even, "src").collect()[0]
    assert row["n_groups"] == 4
    assert row["hhi"] == 0.25 and row["gini"] == 0.0
    single = spark.createDataFrame([("only",)] * 9, "src string")
    row = concentration_report(single, "src").collect()[0]
    assert row["hhi"] == 1.0 and row["gini"] == 0.0  # one group: even


def test_concentration_hand_computed_weighted(spark):
    # weights 1, 3 over two groups: shares .25/.75 -> hhi = .625;
    # sorted x = (1,3): G = 2*(1*1+2*3)/(2*4) - 3/2 = 14/8 - 1.5 = .25
    rows = [("a", 1.0), ("b", 3.0)]
    df = spark.createDataFrame(rows, "src string, w double")
    row = concentration_report(df, "src", "w").collect()[0]
    assert row["hhi"] == 0.625
    assert row["gini"] == 0.25


def test_concentration_null_weights_dropped(spark):
    rows = [("a", 1.0), ("b", 3.0), ("b", None), ("c", None), (None, 5.0)]
    df = spark.createDataFrame(rows, "src string, w double")
    row = concentration_report(df, "src", "w").collect()[0]
    # group c (all-NULL weights) and the NULL group vanish; values
    # match the 2-group hand case.
    assert row["n_groups"] == 2
    assert row["hhi"] == 0.625 and row["gini"] == 0.25


class TestFDReport:
    def _one(self, df, deps):
        from mhm_data_pipelines_spark.operators.profile import fd_report

        return {
            (r["determinant"], r["dependent"]): r.asDict()
            for r in fd_report(df, deps).collect()
        }

    def test_exact_fd_holds(self, spark):
        df = spark.createDataFrame(
            [(1, "a"), (1, "a"), (2, "b"), (3, "b")], "k int, v string"
        )
        got = self._one(df, [("k", "v")])[("k", "v")]
        assert got["holds"] is True
        assert got["violating_rows"] == 0
        assert got["g3_error"] == 0.0
        assert got["n_groups"] == 3 and got["clean_groups"] == 3

    def test_g3_is_min_rows_to_delete(self, spark):
        # group 1: values a,a,b -> delete 1 (the minority b);
        # group 2: values c -> clean.
        df = spark.createDataFrame(
            [(1, "a"), (1, "a"), (1, "b"), (2, "c")], "k int, v string"
        )
        got = self._one(df, [("k", "v")])[("k", "v")]
        assert got["holds"] is False
        assert got["violating_rows"] == 1
        assert got["g3_error"] == round(1 / 4, 6)
        assert got["clean_groups"] == 1

    def test_null_is_a_class_and_a_value(self, spark):
        # NULL determinant groups together; NULL dependents agree.
        df = spark.createDataFrame(
            [(None, "x"), (None, "x"), (1, None), (1, None)],
            "k int, v string",
        )
        got = self._one(df, [("k", "v")])[("k", "v")]
        assert got["holds"] is True and got["n_groups"] == 2

    def test_composite_determinant_and_multiple_deps(self, spark):
        df = spark.createDataFrame(
            [(1, 1, "a", "p"), (1, 2, "b", "p"), (1, 1, "a", "q")],
            "k1 int, k2 int, v string, w string",
        )
        got = self._one(df, [(("k1", "k2"), "v"), ("k1", "w")])
        assert got[("k1,k2", "v")]["holds"] is True
        assert got[("k1", "w")]["holds"] is False
        assert got[("k1", "w")]["violating_rows"] == 1

    def test_guards(self, spark):
        from mhm_data_pipelines_spark.operators.profile import fd_report

        df = spark.createDataFrame([(1, "a")], "k int, v string")
        with pytest.raises(ValueError, match="non-empty"):
            fd_report(df, [])
        with pytest.raises(ValueError, match="cannot appear"):
            fd_report(df, [(("k", "v"), "v")])


class TestParetoReport:
    def test_hand_curve(self, spark):
        from mhm_data_pipelines_spark.operators.profile import (
            pareto_report,
        )

        # weights: a=50, b=30, c=15, d=5 (total 100)
        rows = (
            [("a",)] * 50 + [("b",)] * 30 + [("c",)] * 15 + [("d",)] * 5
        )
        df = spark.createDataFrame(rows, "g string")
        r = pareto_report(df, "g").collect()[0]
        assert r["n_groups"] == 4
        assert r["total_weight"] == 100.0
        assert r["top1_share"] == pytest.approx(0.5)
        assert r["n_to_50"] == 1    # a alone reaches 50%
        assert r["n_to_80"] == 2    # a+b = 80%
        assert r["n_to_90"] == 3    # a+b+c = 95% >= 90%
        assert r["pct_groups_to_80"] == pytest.approx(0.5)

    def test_weight_col_and_tie_determinism(self, spark):
        from mhm_data_pipelines_spark.operators.profile import (
            pareto_report,
        )

        # equal weights: ranks broken by group key — counts stable
        df = spark.createDataFrame(
            [("x", 10.0), ("y", 10.0), ("z", 10.0)], "g string, w double"
        )
        r = pareto_report(df, "g", "w", thresholds=(1 / 3, 1.0)).collect()[0]
        assert r["n_to_33"] == 1
        assert r["n_to_100"] == 3

    def test_guards(self, spark):
        from mhm_data_pipelines_spark.operators.profile import (
            pareto_report,
        )

        df = spark.createDataFrame([("a",)], "g string")
        with pytest.raises(ValueError, match="non-empty"):
            pareto_report(df, "g", thresholds=())
        with pytest.raises(ValueError, match="in \\(0, 1\\]"):
            pareto_report(df, "g", thresholds=(1.5,))


class TestWeightedPercentiles:
    def test_hand_computed(self, spark):
        from mhm_data_pipelines_spark.operators.profile import (
            weighted_percentiles,
        )

        rows = [(1.0, 1.0), (2.0, 1.0), (3.0, 1.0), (4.0, 7.0)]
        df = spark.createDataFrame(rows, "v double, w double")
        r = weighted_percentiles(
            df, "v", "w", qs=(0.1, 0.5, 0.9)
        ).collect()[0]
        assert r.total_weight == pytest.approx(10.0)
        assert r.p10 == pytest.approx(1.0)
        assert r.p50 == pytest.approx(4.0)  # cum hits 5 only at v=4
        assert r.p90 == pytest.approx(4.0)

    def test_grouped_and_filters(self, spark):
        from mhm_data_pipelines_spark.operators.profile import (
            weighted_percentiles,
        )

        rows = [
            ("a", 1.0, 3.0), ("a", 9.0, 1.0),
            ("b", 5.0, 2.0),
            ("b", 7.0, None), ("b", None, 2.0), ("b", 8.0, 0.0),
        ]
        df = spark.createDataFrame(rows, "g string, v double, w double")
        out = {
            r.g: r
            for r in weighted_percentiles(
                df, "v", "w", qs=(0.5,), group_cols=["g"]
            ).collect()
        }
        assert out["a"].p50 == pytest.approx(1.0)  # 3 of 4 mass at 1
        assert out["b"].p50 == pytest.approx(5.0)
        assert out["b"].total_weight == pytest.approx(2.0)

    def test_guards(self, spark):
        from mhm_data_pipelines_spark.operators.profile import (
            weighted_percentiles,
        )

        df = spark.createDataFrame([(1.0, 1.0)], "v double, w double")
        with pytest.raises(ValueError, match="qs"):
            weighted_percentiles(df, "v", "w", qs=())
        with pytest.raises(ValueError, match="q must be"):
            weighted_percentiles(df, "v", "w", qs=(1.5,))
