"""Connected components over a pair graph — near-dup CLUSTER resolution.

Pair emitters (minhash/simhash/ngram-Jaccard/embedding near-dup in
``operators.dedup``) produce edges; deduplication needs the transitive
closure: if A~B and B~C, one representative must survive for {A,B,C},
not two. The reference's dedup surface stops at pairwise comparison
(its per-file loops never see the global graph); this operator is the
engine-level completion a 100 TB corpus requires.

Algorithm: iterative min-label propagation (each node adopts the
smallest id reachable so far; converges in O(component diameter)
rounds). Every round is ONE shuffle keyed by node id — the same hash
partitioning each round, so AQE reuses the exchange layout — and ONE
action: the round's aggregate carries each node's previous label next
to its new one, and a lazy ``localCheckpoint`` plus the count of
labels that dropped both materializes the round and tests the
fixpoint (the same discipline as ``graph.k_core``). The checkpoint
truncates lineage so 20 rounds don't build a 20-deep recursive plan.
Near-dup graphs in practice have tiny diameters (clusters are
cliques-ish from banded LSH), so 3-5 rounds settle real corpora;
``max_iter`` bounds adversarial chains loudly — a graph that has not
reached its fixpoint by then raises instead of returning split
components.

The driver-side loop is control flow only — labels never leave the
cluster; convergence is checked with a count aggregate, not a collect.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    nodes: DataFrame | None = None,
    max_iter: int = 25,
) -> DataFrame:
    """Resolve the undirected pair graph into components.

    Returns (node, component) where component = min node id reachable.
    ``nodes`` (single-column DataFrame) adds isolated vertices — pass
    the full corpus id set so singleton docs appear with their own id
    as the component label. Raises ``RuntimeError`` when the labels
    still change in round ``max_iter``.
    """
    sym = (
        edges.select(F.col(src).alias("node"), F.col(dst).alias("nbr"))
        .unionByName(
            edges.select(F.col(dst).alias("node"), F.col(src).alias("nbr"))
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = (
        sym.select("node")
        .distinct()
        .withColumn("component", F.col("node"))
    )
    for _ in range(max_iter):
        # Each node offers its current label to every neighbor; a node's
        # next label is the min of its own and all offers. Its own row
        # also carries the old label, so the same aggregate says whether
        # the node moved.
        offers = sym.join(labels, "node").select(
            F.col("nbr").alias("node"), "component", F.lit(None).alias("_old")
        )
        new_labels = (
            labels.withColumn("_old", F.col("component"))
            .unionByName(offers)
            .groupBy("node")
            .agg(
                F.min("component").alias("component"),
                F.min("_old").alias("_old"),
            )
            .localCheckpoint(eager=False)
        )
        # One job: materializes the round and tests the fixpoint.
        changed = new_labels.filter(
            F.col("component") < F.col("_old")
        ).count()
        labels = new_labels.drop("_old")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not reach a fixpoint in {max_iter}"
            " rounds"
        )
    if nodes is not None:
        node_col = nodes.columns[0]
        isolated = (
            nodes.select(F.col(node_col).alias("node"))
            .join(labels, "node", "left_anti")
            .withColumn("component", F.col("node"))
        )
        labels = labels.unionByName(isolated)
    return labels


def dedup_by_components(
    df: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    quality_col: str | None = None,
) -> DataFrame:
    """Keep ONE representative per near-dup cluster: the min-id member,
    or the best-``quality_col`` member (ties → min id). Docs in no pair
    survive untouched. The survivors join is LEFT SEMI on the id — full
    rows (the heavy text/binary columns) are never shuffled through the
    component computation."""
    comp = connected_components(
        edges, nodes=df.select(id_col)
    )
    if quality_col is None:
        keep = comp.groupBy("component").agg(F.min("node").alias(id_col))
    else:
        ranked = comp.join(
            df.select(id_col, quality_col),
            comp["node"] == df[id_col],
        )
        best = ranked.groupBy("component").agg(
            F.max_by(
                F.col("node"), F.struct(F.col(quality_col), -F.col("node"))
            ).alias(id_col)
        )
        keep = best
    return df.join(
        keep.select(id_col), id_col, "left_semi"
    )


def golden_records(
    df: DataFrame,
    pairs: DataFrame,
    attrs: Sequence[str],
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Entity-resolution consolidation ("golden record"): close the
    match-pair graph into entities with
    :func:`connected_components`, then elect ONE canonical value per
    attribute per entity by majority vote — ties broken by the
    SMALLEST value, NULLs abstain (a missing field never outvotes a
    present one). The survivorship step every MDM/ER pipeline runs
    after ``setjoin``/``fuzzy``/``linkage`` said "same entity".

    Returns ``(entity_id, n_members, <attrs...>)`` where ``entity_id``
    is the component label (min member id). An attribute that is NULL
    across the whole entity stays NULL.

    Scale shape: components as certified elsewhere (per-round
    min-label propagation); then ONE member-table join against the
    component map and, per attribute, a (component, value) hash
    aggregate + a component-bounded row_number window + an
    entity-sized join — every post-CC frame is entity-sized, never
    corpus-sized, and attributes vote independently (no wide melt
    that would force a common value type).
    """
    if not attrs:
        raise ValueError("attrs must be non-empty")
    comp = connected_components(
        pairs, src=src, dst=dst, nodes=df.select(id_col)
    )
    m = df.join(
        comp.withColumnRenamed("node", id_col), id_col
    ).localCheckpoint(eager=False)
    out = m.groupBy(F.col("component").alias("entity_id")).agg(
        F.count(F.lit(1)).alias("n_members")
    )
    for a in attrs:
        votes = (
            m.filter(F.col(a).isNotNull())
            .groupBy("component", a)
            .agg(F.count(F.lit(1)).alias("c"))
        )
        w = Window.partitionBy("component").orderBy(
            F.col("c").desc(), F.col(a).asc()
        )
        pick = (
            votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("component").alias("entity_id"), a)
        )
        out = out.join(pick, "entity_id", "left")
    return out
