"""Degenerate input: each operator below returns no rows, and raises
nothing, when its input table is empty."""

from __future__ import annotations

import pytest

from mhm_data_pipelines_spark.operators import (
    baskets,
    budget,
    decontam,
    dedup,
    graph,
    overview,
    pca,
    retrieval,
    similarity,
)

DOCS = "doc_id long, source string, text string"
EDGES = "src long, dst long"
VECS = "vec_id long, embedding array<double>"

CASES = {
    "covariance_long": (VECS, lambda df: pca.covariance_long(df, dim=3)),
    "source_ngram_overlap": (DOCS, decontam.source_ngram_overlap),
    "association_rules": (
        "basket long, item string",
        lambda df: baskets.association_rules(df, "basket", "item"),
    ),
    "triangle_count": (EDGES, graph.triangle_count),
    "pagerank": (EDGES, graph.pagerank),
    "label_propagation": (EDGES, graph.label_propagation),
    "k_core": (EDGES, graph.k_core),
    "embedding_outliers": (VECS, similarity.embedding_outliers),
    "minhash_near_duplicates": (DOCS, dedup.minhash_near_duplicates),
    "duplicate_ngram_spans": (DOCS, dedup.duplicate_ngram_spans),
    "running_total": (
        "id long, v long",
        lambda df: budget.running_total(df, ["id"], "v"),
    ),
    "select_to_budget": (
        "id long, v long",
        lambda df: budget.select_to_budget(df, 10, ["id"], "v"),
    ),
    "bm25_scores": (DOCS, lambda df: retrieval.bm25_scores(df, "spark data")),
    "bm25_topk": (DOCS, lambda df: retrieval.bm25_topk(df, "spark data")),
    "overview_stats": (
        "site string, participant_id string, metric string, ts timestamp",
        overview.overview_stats,
    ),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_empty_input_gives_empty_output(spark, name):
    schema, op = CASES[name]
    assert op(spark.createDataFrame([], schema)).count() == 0
