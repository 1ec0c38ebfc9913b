"""Connected components + cluster dedup: crafted graphs with known
closures, quality-based representative selection, and the one-survivor-
per-component property."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mhm_data_pipelines_spark.operators.components import (
    connected_components,
    dedup_by_components,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "id_a bigint, id_b bigint")


def test_chain_clique_isolated(spark):
    # chain 1-2-3-4 (diameter 3, needs >1 round), clique {10,11,12},
    # isolated 99 (via nodes=).
    edges = _edges(
        spark,
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12)],
    )
    nodes = spark.range(0, 0).select(F.col("id").alias("n")).unionByName(
        spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 10, 11, 12, 99]], "n bigint")
    )
    got = {
        (r.node, r.component)
        for r in connected_components(edges, nodes=nodes).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10), (12, 10),
        (99, 99),
    }


def test_empty_edges_all_isolated(spark):
    edges = _edges(spark, [])
    nodes = spark.createDataFrame([(5,), (6,)], "n bigint")
    got = {
        (r.node, r.component)
        for r in connected_components(edges, nodes=nodes).collect()
    }
    assert got == {(5, 5), (6, 6)}


def _path(spark, n):
    return _edges(spark, [(i, i + 1) for i in range(n - 1)])


def test_unconverged_labels_raise(spark):
    # An 11-node path needs 10 label hops plus one quiet round; three
    # rounds would leave it split into 8 components.
    edges = _path(spark, 11)
    with pytest.raises(RuntimeError, match="fixpoint in 3 rounds"):
        connected_components(edges, max_iter=3)
    labels = connected_components(edges).collect()
    assert {r.component for r in labels} == {0}
    assert len(labels) == 11


def test_one_action_per_round(spark):
    """A path of n nodes takes n rounds (n - 1 label hops plus the quiet
    one), so the 8-node path runs 4 rounds more than the 4-node path.
    Each round is one count, whose plan holds the round's shuffles; under
    adaptive execution that is 6 jobs per round."""
    from test_lake import _run_counted

    jobs = {
        n: _run_counted(
            spark,
            f"test-cc-rounds-{n}",
            lambda n=n: connected_components(_path(spark, n)).collect(),
        )[0]
        for n in (4, 8)
    }
    assert 0 < jobs[8] - jobs[4] <= 6 * 4


def test_dedup_min_id_representative(spark):
    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in [1, 2, 3, 4, 7]], "doc_id bigint, text string"
    )
    edges = _edges(spark, [(2, 3), (3, 4)])
    kept = sorted(
        r.doc_id for r in dedup_by_components(docs, edges).collect()
    )
    assert kept == [1, 2, 7]


def test_dedup_quality_representative(spark):
    docs = spark.createDataFrame(
        [(1, 0.1), (2, 0.9), (3, 0.9), (4, 0.5)],
        "doc_id bigint, quality double",
    )
    # {1,2,3} one cluster: qualities 0.1, 0.9, 0.9 → tie at 0.9 → min id 2.
    edges = _edges(spark, [(1, 2), (2, 3)])
    kept = sorted(
        r.doc_id
        for r in dedup_by_components(
            docs, edges, quality_col="quality"
        ).collect()
    )
    assert kept == [2, 4]


def test_one_survivor_per_component_property(spark):
    """On the real documents table: survivors ≡ number of components."""
    from mhm_data_pipelines_spark.benchmarks.registry import (
        q_neardup_clusters,
        q_neardup_dedup_keep,
    )

    sf = "/root/testdata/sf0.001"
    n_components = (
        q_neardup_clusters(spark, sf).select("component").distinct().count()
    )
    n_survivors = q_neardup_dedup_keep(spark, sf).count()
    assert n_survivors == n_components


def test_golden_records_majority_and_ties(spark):
    from mhm_data_pipelines_spark.operators.components import (
        golden_records,
    )

    df = spark.createDataFrame(
        [
            # entity {1,2,3}: lang majority "en"; src tie b/a -> "a"
            (1, "en", "a"),
            (2, "en", "b"),
            (3, "de", None),  # NULL abstains from the source vote
            # singleton 9 keeps its own values
            (9, "fr", "c"),
        ],
        "doc_id int, lang string, source string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "id_a int, id_b int"
    )
    got = {
        r["entity_id"]: r
        for r in golden_records(
            df, pairs, ["lang", "source"]
        ).collect()
    }
    assert set(got) == {1, 9}
    assert got[1]["n_members"] == 3
    assert got[1]["lang"] == "en"
    assert got[1]["source"] == "a"  # 1-1 tie, min value wins
    assert got[9]["n_members"] == 1
    assert (got[9]["lang"], got[9]["source"]) == ("fr", "c")


def test_golden_records_all_null_attr_stays_null(spark):
    from mhm_data_pipelines_spark.operators.components import (
        golden_records,
    )

    df = spark.createDataFrame(
        [(1, None), (2, None)], "doc_id int, lang string"
    )
    pairs = spark.createDataFrame([(1, 2)], "id_a int, id_b int")
    row = golden_records(df, pairs, ["lang"]).collect()[0]
    assert row["entity_id"] == 1 and row["n_members"] == 2
    assert row["lang"] is None


def test_golden_records_requires_attrs(spark):
    import pytest as _pytest

    from mhm_data_pipelines_spark.operators.components import (
        golden_records,
    )

    df = spark.createDataFrame([(1, "x")], "doc_id int, lang string")
    pairs = spark.createDataFrame([(1, 1)], "id_a int, id_b int")
    with _pytest.raises(ValueError):
        golden_records(df, pairs, [])
