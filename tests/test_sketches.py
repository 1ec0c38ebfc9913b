"""HLL sketch rollups: merge-consistency and accuracy invariants."""

from __future__ import annotations

from pyspark.sql import functions as F

from mhm_data_pipelines_spark.operators.sketches import (
    estimate,
    rollup_sketches,
    sketch_distinct,
)


def _frame(spark):
    # 3 groups x overlapping members; user u{i} appears in group i%5
    # and (i+1)%5 -> known per-group and global distincts.
    rows = []
    for i in range(200):
        rows.append((i % 5, f"u{i}"))
        rows.append(((i + 1) % 5, f"u{i}"))
    return spark.createDataFrame(rows, ["g", "user"])


def test_sketch_rollup_accuracy_and_merge(spark):
    df = _frame(spark)
    per_g = sketch_distinct(df, ["g"], key="user")
    est_g = {
        r["g"]: r["sketch_estimate"]
        for r in estimate(per_g).collect()
    }
    exact_g = {
        r["g"]: r["n"]
        for r in df.groupBy("g")
        .agg(F.count_distinct("user").alias("n"))
        .collect()
    }
    for g, n in exact_g.items():
        assert abs(est_g[g] - n) <= 0.1 * n, (g, est_g[g], n)
    # Merge path: union the 5 per-group sketches into one global
    # sketch WITHOUT touching raw rows; overlapping members must not
    # double-count (200 distinct users, not sum(per-group)=400).
    merged = rollup_sketches(
        per_g.withColumn("all", F.lit(1)), ["all"]
    )
    (row,) = estimate(merged).collect()
    assert abs(row["sketch_estimate"] - 200) <= 20
    assert sum(exact_g.values()) == 400  # the naive sum IS wrong


def test_sketch_is_small_and_mergeable_across_frames(spark):
    df = _frame(spark)
    sk = sketch_distinct(df, ["g"], key="user")
    (r,) = sk.limit(1).collect()
    assert isinstance(r["sketch"], (bytes, bytearray))
    assert len(r["sketch"]) < 64 * 1024  # KBs regardless of cardinality


def test_stream_sketch_table_merges_across_batches(spark, tmp_path):
    """Per-batch sketch partitions (sketch_stream layout) must merge to
    the true distinct count even when batches overlap members, and a
    re-written batch partition (idempotent retry) must not double-count."""
    from mhm_data_pipelines_spark.sources.io import _write_epoch
    from mhm_data_pipelines_spark.streaming.ingest import read_sketch_table

    root = str(tmp_path / "sk")
    b0 = spark.createDataFrame(
        [("d1", f"u{i}") for i in range(100)], ["day", "user"]
    )
    # batch 1 overlaps half of batch 0's users.
    b1 = spark.createDataFrame(
        [("d1", f"u{i}") for i in range(50, 150)], ["day", "user"]
    )
    for bid, b in ((0, b0), (1, b1)):
        _write_epoch(sketch_distinct(b, ["day"], key="user"), root, bid)
    merged = estimate(read_sketch_table(spark, root, ("day",)))
    (row,) = merged.collect()
    assert abs(row["sketch_estimate"] - 150) <= 15  # union, not 200
    # Retry of batch 1 overwrites its partition; count unchanged.
    _write_epoch(sketch_distinct(b1, ["day"], key="user"), root, 1)
    (row2,) = estimate(read_sketch_table(spark, root, ("day",))).collect()
    assert row2["sketch_estimate"] == row["sketch_estimate"]


def test_histogram_partials_merge_equals_whole(spark):
    from mhm_data_pipelines_spark.operators.sketches import (
        histogram_partials,
        merge_histograms,
    )

    df = spark.createDataFrame(
        [(i % 5, float(i % 100)) for i in range(1000)],
        "day int, value double",
    )
    whole = histogram_partials(
        df.withColumn("w", F.lit(0)), ["w"], "value", 0.0, 100.0, 10
    ).orderBy("bin").collect()
    daily = histogram_partials(df, ["day"], "value", 0.0, 100.0, 10)
    merged = merge_histograms(
        daily.withColumn("w", F.lit(0)), ["w"]
    ).orderBy("bin").collect()
    assert [(r.bin, r.cnt) for r in merged] == [
        (r.bin, r.cnt) for r in whole
    ]


def test_histogram_quantile_within_one_bin(spark):
    from mhm_data_pipelines_spark.operators.sketches import (
        histogram_partials,
        histogram_quantile,
    )

    df = spark.createDataFrame(
        [(0, float(v)) for v in range(1, 101)], "g int, value double"
    )
    hist = histogram_partials(df, ["g"], "value", 0.0, 100.0, 20)
    got = histogram_quantile(hist, ["g"], 0.5, 0.0, 100.0, 20).collect()[0]
    exact = 50.5  # interpolated median of 1..100
    assert got.n == 100
    assert abs(got.est - exact) <= 5.0  # one bin width


def test_histogram_clamps_out_of_range(spark):
    from mhm_data_pipelines_spark.operators.sketches import (
        histogram_partials,
    )

    df = spark.createDataFrame(
        [(0, -5.0), (0, 500.0), (0, 50.0)], "g int, value double"
    )
    got = {r.bin: r.cnt for r in histogram_partials(
        df, ["g"], "value", 0.0, 100.0, 10
    ).collect()}
    assert got == {0: 1, 9: 1, 5: 1}


# ------------------------------------------------------------ KMV/theta


def test_kmv_small_sets_exact(spark):
    from mhm_data_pipelines_spark.operators.sketches import kmv_set_ops

    rows = [("A", i) for i in range(50)] + [("B", i) for i in range(25, 75)]
    df = spark.createDataFrame(rows, "s string, e int")
    out = kmv_set_ops(df, "s", "e", k=256).collect()[0]
    # both sets smaller than k: everything kept, estimates EXACT
    assert out["est_a"] == 50.0 and out["est_b"] == 50.0
    assert out["est_inter"] == 25.0
    assert out["est_union"] == 75.0


def test_kmv_estimation_within_error_bounds(spark):
    from mhm_data_pipelines_spark.operators.sketches import kmv_set_ops

    rows = [("A", i) for i in range(2000)] + [
        ("B", i) for i in range(1000, 3000)
    ]
    df = spark.createDataFrame(rows, "s string, e int")
    out = kmv_set_ops(df, "s", "e", k=256).collect()[0]
    # 1/sqrt(k) ~ 6.3%; allow 4 sigma.
    for est, truth in (
        (out["est_a"], 2000),
        (out["est_b"], 2000),
        (out["est_inter"], 1000),
        (out["est_union"], 3000),
    ):
        assert abs(est - truth) / truth < 0.25, (est, truth)


def test_kmv_disjoint_sets(spark):
    from mhm_data_pipelines_spark.operators.sketches import kmv_set_ops

    rows = [("A", i) for i in range(300)] + [
        ("B", i + 10000) for i in range(300)
    ]
    df = spark.createDataFrame(rows, "s string, e int")
    out = kmv_set_ops(df, "s", "e", k=64).collect()[0]
    assert out["est_inter"] == 0.0
    assert out["est_union"] == out["est_a"] + out["est_b"]


def test_kmv_duplicates_and_nulls_ignored(spark):
    from mhm_data_pipelines_spark.operators.sketches import kmv_set_ops

    rows = [("A", 1), ("A", 1), ("A", 2), ("A", None),
            ("B", 1), ("B", 3)]
    df = spark.createDataFrame(rows, "s string, e int")
    out = kmv_set_ops(df, "s", "e", k=16).collect()[0]
    assert out["est_a"] == 2.0 and out["est_b"] == 2.0
    assert out["est_inter"] == 1.0 and out["est_union"] == 3.0


def test_kmv_k_guard(spark):
    import pytest as _pytest

    from mhm_data_pipelines_spark.operators.sketches import kmv_set_ops

    df = spark.createDataFrame([("A", 1)], "s string, e int")
    with _pytest.raises(ValueError):
        kmv_set_ops(df, "s", "e", k=1)
