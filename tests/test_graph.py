"""PageRank: hand-computed values on a known graph + invariants."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from mhm_data_pipelines_spark.operators.graph import pagerank


def _ranks(df) -> dict:
    return {r["node"]: r["rank"] for r in df.collect()}


def _reference_pagerank(edges, iterations, damping, weights=None):
    """Driver-side mirror of the documented recurrence."""
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    n = len(nodes)
    w = {e: 1.0 for e in edges}
    if weights:
        w = dict(weights)
    out_w: dict = {}
    for (s, _), wt in w.items():
        out_w[s] = out_w.get(s, 0.0) + wt
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(iterations):
        nxt = {v: (1.0 - damping) / n for v in nodes}
        for (s, d), wt in w.items():
            nxt[d] += damping * rank[s] * wt / out_w[s]
        rank = nxt
    return rank


def test_pagerank_matches_reference_unweighted(spark):
    # Classic 4-node graph with a dangling node (d has no out-edges).
    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("b", "d")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = _ranks(pagerank(df, iterations=5, damping=0.85))
    want = _reference_pagerank(edges, 5, 0.85)
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-12)
    # Dangling mass leaks: total < 1 but > (1-d) floor.
    assert 0.15 < sum(got.values()) < 1.0


def test_pagerank_weighted_and_self_loop(spark):
    edges = {("a", "b"): 3.0, ("a", "a"): 1.0, ("b", "a"): 2.0}
    df = spark.createDataFrame(
        [(s, d, w) for (s, d), w in edges.items()], ["src", "dst", "w"]
    )
    got = _ranks(pagerank(df, weight="w", iterations=4, damping=0.85))
    want = _reference_pagerank(list(edges), 4, 0.85, weights=edges)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-12)
    # No dangling nodes -> mass conserved.
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-12)


def test_pagerank_star_center_dominates(spark):
    # Everything points at the hub; the hub must out-rank every leaf.
    edges = [(f"leaf{i}", "hub") for i in range(6)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = _ranks(pagerank(df, iterations=3))
    hub = got.pop("hub")
    assert all(hub > v for v in got.values())
    # Leaves are symmetric -> identical ranks.
    assert len({round(v, 15) for v in got.values()}) == 1


def test_pagerank_validation(spark):
    df = spark.createDataFrame([("a", "b")], ["src", "dst"])
    with pytest.raises(ValueError):
        pagerank(df, damping=1.0)
    with pytest.raises(ValueError):
        pagerank(df, iterations=0)


def test_pagerank_empty_edges(spark):
    df = spark.createDataFrame([], "src string, dst string")
    assert pagerank(df, iterations=2).count() == 0


def test_pagerank_plan_is_bounded(spark):
    """localCheckpoint per round: the final plan must not nest one
    join-depth per iteration (lineage truncation, as in connected
    components)."""
    edges = [("a", "b"), ("b", "c"), ("c", "a")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    out = pagerank(df, iterations=8)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # The checkpointed frame scans appear instead of 8 nested joins.
    assert plan.count("Join") <= 2
    assert out.count() == 3


# ---------------------------------------------------------------- triangles
from mhm_data_pipelines_spark.operators.graph import triangle_count


def _tri(spark, edges):
    df = spark.createDataFrame(edges, "src string, dst string")
    out = triangle_count(df).orderBy("node").collect()
    return {r["node"]: r["triangles"] for r in out}


def test_triangle_single(spark):
    got = _tri(spark, [("a", "b"), ("b", "c"), ("c", "a")])
    assert got == {"a": 1, "b": 1, "c": 1}


def test_triangle_dedups_reversed_parallel_and_self_edges(spark):
    got = _tri(
        spark,
        [
            ("a", "b"), ("b", "a"), ("a", "b"),  # parallel + reversed
            ("b", "c"), ("c", "a"),
            ("a", "a"),                            # self-loop dropped
        ],
    )
    assert got == {"a": 1, "b": 1, "c": 1}


def test_triangle_k4_and_isolated_path_node(spark):
    # K4 has 4 triangles; every node participates in C(3,2)=3.
    k4 = [("1", "2"), ("1", "3"), ("1", "4"),
          ("2", "3"), ("2", "4"), ("3", "4")]
    got = _tri(spark, k4 + [("4", "5")])  # pendant node: 0 triangles
    assert got == {"1": 3, "2": 3, "3": 3, "4": 3, "5": 0}


def test_triangle_two_shared_edge(spark):
    # Two triangles sharing edge (a,b): a,b in 2 each; c,d in 1.
    got = _tri(
        spark,
        [("a", "b"), ("a", "c"), ("b", "c"), ("a", "d"), ("b", "d")],
    )
    assert got == {"a": 2, "b": 2, "c": 1, "d": 1}


def test_triangle_include_degree(spark):
    df = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "d")],
        "src string, dst string",
    )
    out = {r["node"]: (r["deg"], r["triangles"])
           for r in triangle_count(df, include_degree=True).collect()}
    assert out == {"a": (3, 1), "b": (2, 1), "c": (2, 1), "d": (1, 0)}


# ---------------------------------------------------------------- LPA


def _labels(df) -> dict:
    return {r["node"]: r["label"] for r in df.collect()}


def test_lpa_two_cliques_with_weak_bridge(spark):
    # Two triangles joined by one bridge edge: each clique converges
    # to its minimum node id; the bridge can't outvote two in-clique
    # neighbours.
    tri1 = [("a", "b"), ("b", "c"), ("c", "a")]
    tri2 = [("x", "y"), ("y", "z"), ("z", "x")]
    bridge = [("c", "x")]
    from mhm_data_pipelines_spark.operators.graph import (
        label_propagation,
    )

    df = spark.createDataFrame(
        tri1 + tri2 + bridge, "src string, dst string"
    )
    got = _labels(label_propagation(df, iterations=4))
    # first clique converges to its min id
    assert got["a"] == got["b"] == got["c"] == "a"
    # the second clique holds together on ONE label
    assert len({got["x"], got["y"], got["z"]}) == 1


def test_lpa_single_round_min_label_tiebreak(spark):
    # node "m" has two equal-weight neighbours "a" and "z": min label
    # wins the tie deterministically.
    from mhm_data_pipelines_spark.operators.graph import (
        label_propagation,
    )

    df = spark.createDataFrame(
        [("a", "m"), ("z", "m")], "src string, dst string"
    )
    got = _labels(label_propagation(df, iterations=1))
    assert got["m"] == "a"


def test_lpa_weighted_overrides_count(spark):
    # One heavy edge beats two light ones.
    from mhm_data_pipelines_spark.operators.graph import (
        label_propagation,
    )

    df = spark.createDataFrame(
        [("a", "m", 1.0), ("b", "m", 1.0), ("z", "m", 5.0)],
        "src string, dst string, w double",
    )
    got = _labels(label_propagation(df, weight="w", iterations=1))
    assert got["m"] == "z"


def test_lpa_seeds_and_unseeded_fallback(spark):
    from mhm_data_pipelines_spark.operators.graph import (
        label_propagation,
    )

    df = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "src string, dst string"
    )
    seeds = spark.createDataFrame(
        [("a", "L1")], "node string, label string"
    )
    got = _labels(
        label_propagation(df, iterations=2, seeds=seeds)
    )
    # a's seed label reaches b in round 1; c sees b's ORIGINAL label
    # in round 1 (synchronous) and L1 in round 2 via b.
    assert got["b"] == "L1"
    assert got["c"] == "L1"


def test_lpa_validation(spark):
    from mhm_data_pipelines_spark.operators.graph import (
        label_propagation,
    )

    df = spark.createDataFrame([("a", "b")], "src string, dst string")
    with pytest.raises(ValueError):
        label_propagation(df, iterations=0)


def test_lpa_isolated_seed_node_survives(spark):
    from mhm_data_pipelines_spark.operators.graph import (
        label_propagation,
    )

    df = spark.createDataFrame([("a", "b")], "src string, dst string")
    seeds = spark.createDataFrame(
        [("z", "L9")], "node string, label string"
    )
    got = _labels(label_propagation(df, iterations=2, seeds=seeds))
    assert got["z"] == "L9"  # isolated seed kept, clamped
    assert set(got) == {"a", "b", "z"}


class TestKCore:
    def test_known_graph(self, spark):
        from mhm_data_pipelines_spark.operators.graph import k_core

        # triangle {1,2,3} (2-core) with a pendant chain 3-4-5 and an
        # isolated edge 6-7; parallel + reversed + self-loop noise.
        edges = [
            (1, 2), (2, 3), (1, 3),
            (3, 4), (4, 5),
            (6, 7),
            (2, 1),      # reverse duplicate
            (1, 2),      # parallel duplicate
            (5, 5),      # self-loop (dropped)
        ]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {
            r["node"]: r["core_degree"]
            for r in k_core(df, k=2).collect()
        }
        # peeling: 5 (deg 1) out -> 4 (deg 1) out -> fixpoint; the
        # 6-7 edge dies in round one; the triangle survives at deg 2.
        assert got == {1: 2, 2: 2, 3: 2}

    def test_k1_keeps_every_connected_node(self, spark):
        from mhm_data_pipelines_spark.operators.graph import k_core

        df = spark.createDataFrame(
            [(1, 2), (3, 4)], "src long, dst long"
        )
        got = {r["node"] for r in k_core(df, k=1).collect()}
        assert got == {1, 2, 3, 4}

    def test_empty_core_and_guards(self, spark):
        from mhm_data_pipelines_spark.operators.graph import k_core
        import pytest as _pt

        df = spark.createDataFrame([(1, 2)], "src long, dst long")
        assert k_core(df, k=3).count() == 0
        with _pt.raises(ValueError, match="k must be >= 1"):
            k_core(df, k=0)

    def test_core_matches_python_peel_on_random_graph(self, spark):
        from mhm_data_pipelines_spark.operators.graph import k_core

        # deterministic pseudo-random graph; reference = naive peel
        edges = [((i * 7) % 23, (i * 11 + 3) % 23) for i in range(60)]
        df = spark.createDataFrame(edges, "src long, dst long")
        k = 3
        adj = {}
        for a, b in edges:
            if a == b:
                continue
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        while True:
            bad = [n for n, nb in adj.items() if len(nb) < k]
            if not bad:
                break
            for n in bad:
                for m in adj.pop(n):
                    adj[m].discard(n)
        want = {n: len(nb) for n, nb in adj.items()}
        got = {
            r["node"]: r["core_degree"]
            for r in k_core(df, k=k).collect()
        }
        assert got == want


class TestAdamicAdar:
    def test_known_graph(self, spark):
        import math

        from mhm_data_pipelines_spark.operators.graph import adamic_adar

        # star center c with leaves a,b,d plus edge a-b: candidate
        # non-edges through c are (a,d),(b,d); (a,b) is an existing
        # edge and must be anti-joined away by default.
        edges = [("a", "c"), ("b", "c"), ("d", "c"), ("a", "b")]
        df = spark.createDataFrame(edges, "src string, dst string")
        got = {
            (r["node_a"], r["node_b"]): (
                r["common_neighbors"],
                r["aa_score"],
            )
            for r in adamic_adar(df).collect()
        }
        w_c = 1.0 / math.log(3)  # deg(c) = 3
        assert set(got) == {("a", "d"), ("b", "d")}
        for pair in got:
            assert got[pair][0] == 1
            assert got[pair][1] == pytest.approx(w_c)

    def test_include_existing_scores_edges_too(self, spark):
        import math

        from mhm_data_pipelines_spark.operators.graph import adamic_adar

        edges = [("a", "c"), ("b", "c"), ("a", "b")]
        df = spark.createDataFrame(edges, "src string, dst string")
        got = {
            (r["node_a"], r["node_b"]): r["aa_score"]
            for r in adamic_adar(df, include_existing=True).collect()
        }
        # (a,b) share c (deg 2); (a,c) share b (deg 2); (b,c) share a.
        assert set(got) == {("a", "b"), ("a", "c"), ("b", "c")}
        assert got[("a", "b")] == pytest.approx(1.0 / math.log(2))

    def test_hub_cap_excludes_center_but_not_its_links(self, spark):
        from mhm_data_pipelines_spark.operators.graph import adamic_adar

        # hub h with 4 leaves; wedge pairs exist only through h, so
        # hub_cap=3 (< deg h = 4) empties the candidate set.
        edges = [("h", x) for x in "abcd"]
        df = spark.createDataFrame(edges, "src string, dst string")
        assert adamic_adar(df).count() == 6  # C(4,2) through h
        assert adamic_adar(df, hub_cap=3).count() == 0
        with pytest.raises(ValueError, match="hub_cap"):
            adamic_adar(df, hub_cap=1)

    def test_matches_python_reference_on_random_graph(self, spark):
        import math

        from mhm_data_pipelines_spark.operators.graph import adamic_adar

        edges = [((i * 7) % 19, (i * 13 + 5) % 19) for i in range(50)]
        df = spark.createDataFrame(edges, "src long, dst long")
        adj: dict = {}
        for a, b in edges:
            if a == b:
                continue
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        want = {}
        nodes = sorted(adj)
        for i, x in enumerate(nodes):
            for y in nodes[i + 1:]:
                if y in adj[x]:
                    continue
                common = adj[x] & adj[y]
                if common:
                    want[(x, y)] = (
                        len(common),
                        sum(1.0 / math.log(len(adj[z])) for z in common),
                    )
        got = {
            (r["node_a"], r["node_b"]): (
                r["common_neighbors"],
                r["aa_score"],
            )
            for r in adamic_adar(df).collect()
        }
        assert set(got) == set(want)
        for p in want:
            assert got[p][0] == want[p][0]
            assert got[p][1] == pytest.approx(want[p][1])


class TestJaccardLinks:
    def _edges(self, spark, pairs):
        return spark.createDataFrame(pairs, "src long, dst long")

    def test_hand_computed(self, spark):
        from mhm_data_pipelines_spark.operators.graph import jaccard_links

        # path graph 1-2-3 plus 1-4, 3-4: N(1)={2,4}, N(3)={2,4},
        # pair (1,3): common {2,4} = 2, deg1=2, deg3=2 -> 2/(2+2-2)=1.0
        edges = self._edges(
            spark, [(1, 2), (2, 3), (1, 4), (3, 4)]
        )
        out = {
            (r["node_a"], r["node_b"]): r
            for r in jaccard_links(edges).collect()
        }
        assert out[(1, 3)]["common_neighbors"] == 2
        assert out[(1, 3)]["jaccard"] == pytest.approx(1.0)
        # (2,4): common {1,3} = 2, deg2=2, deg4=2 -> 1.0
        assert out[(2, 4)]["jaccard"] == pytest.approx(1.0)
        # existing edges excluded by default
        assert (1, 2) not in out

    def test_include_existing_and_selfloops(self, spark):
        from mhm_data_pipelines_spark.operators.graph import jaccard_links

        edges = self._edges(
            spark, [(1, 2), (2, 3), (1, 3), (1, 1)]
        )
        out = {
            (r["node_a"], r["node_b"]): r["jaccard"]
            for r in jaccard_links(
                edges, include_existing=True
            ).collect()
        }
        # triangle: every pair shares exactly 1 neighbor, degs all 2
        # -> 1/(2+2-1)
        for p in [(1, 2), (1, 3), (2, 3)]:
            assert out[p] == pytest.approx(1 / 3)

    def test_hub_cap_excludes_center_only(self, spark):
        from mhm_data_pipelines_spark.operators.graph import jaccard_links

        # star center 0 with leaves 1..5: every leaf pair shares only
        # the hub. hub_cap=4 < deg(0)=5 -> no wedges survive.
        edges = self._edges(spark, [(0, i) for i in range(1, 6)])
        assert jaccard_links(edges, hub_cap=4).count() == 0
        out = jaccard_links(edges).collect()
        # uncapped: all 10 leaf pairs, jaccard = 1/(1+1-1) = 1
        assert len(out) == 10
        with pytest.raises(ValueError, match="hub_cap"):
            jaccard_links(edges, hub_cap=1)


class TestDegreeAssortativity:
    def test_star_is_perfectly_disassortative(self, spark):
        from mhm_data_pipelines_spark.operators.graph import (
            degree_assortativity,
        )

        edges = spark.createDataFrame(
            [(0, 1), (0, 2), (0, 3)], "src long, dst long"
        )
        r = degree_assortativity(edges).collect()[0]
        assert (r.n_nodes, r.n_edges) == (4, 3)
        assert r.assortativity == pytest.approx(-1.0)

    def test_path_of_three(self, spark):
        from mhm_data_pipelines_spark.operators.graph import (
            degree_assortativity,
        )

        edges = spark.createDataFrame(
            [(1, 2), (2, 3)], "src long, dst long"
        )
        r = degree_assortativity(edges).collect()[0]
        assert r.assortativity == pytest.approx(-1.0)

    def test_regular_graph_null(self, spark):
        from mhm_data_pipelines_spark.operators.graph import (
            degree_assortativity,
        )

        # triangle: every degree 2 -> zero variance -> NULL
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 1)], "src long, dst long"
        )
        r = degree_assortativity(edges).collect()[0]
        assert r.assortativity is None
        assert (r.n_nodes, r.n_edges) == (3, 3)

    def test_parallel_and_self_loops_dropped(self, spark):
        from mhm_data_pipelines_spark.operators.graph import (
            degree_assortativity,
        )

        edges = spark.createDataFrame(
            [(0, 1), (1, 0), (0, 1), (2, 2), (0, 2)],
            "src long, dst long",
        )
        r = degree_assortativity(edges).collect()[0]
        assert (r.n_nodes, r.n_edges) == (3, 2)


class TestMarkovStationary:
    def test_two_state_chain_closed_form(self, spark):
        """P(a->b)=1, P(b->a)=1/3, P(b->b)=2/3: pi = (1/4, 3/4)."""
        from mhm_data_pipelines_spark.operators.graph import (
            markov_stationary,
        )

        edges = spark.createDataFrame(
            [("a", "b", 3.0), ("b", "a", 1.0), ("b", "b", 2.0)],
            "src string, dst string, w double",
        )
        out = {
            r.state: r.pi
            for r in markov_stationary(
                edges, weight="w", n_iter=60
            ).collect()
        }
        assert out["a"] == pytest.approx(0.25, abs=1e-4)
        assert out["b"] == pytest.approx(0.75, abs=1e-4)

    def test_dangling_state_keeps_mass(self, spark):
        from mhm_data_pipelines_spark.operators.graph import (
            markov_stationary,
        )

        # b has no outgoing edges: all mass ends up stuck in b
        edges = spark.createDataFrame(
            [("a", "b")], "src string, dst string"
        )
        out = {
            r.state: r.pi
            for r in markov_stationary(edges, n_iter=30).collect()
        }
        assert out["b"] == pytest.approx(1.0, abs=1e-6)
        assert out["a"] == pytest.approx(0.0, abs=1e-6)

    def test_mass_conserved_and_guard(self, spark):
        from mhm_data_pipelines_spark.operators.graph import (
            markov_stationary,
        )

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 1), (2, 1)], "src long, dst long"
        )
        rows = markov_stationary(edges, n_iter=15).collect()
        assert sum(r.pi for r in rows) == pytest.approx(1.0, abs=1e-5)
        with pytest.raises(ValueError, match="n_iter"):
            markov_stationary(edges, n_iter=0)


class TestBroadcastThresholdEquivalence:
    """r9 optimization: the iterative operators broadcast their small
    per-round frames when the node/sub-k count fits under
    ``graph._BROADCAST_MAX_ROWS``. The hint changes join strategy only —
    results must be IDENTICAL with the threshold forced to 0 (pure
    shuffle joins, the at-scale plan)."""

    def _edges(self, spark):
        rows = [(i, (i * 7) % 23) for i in range(60)] + [
            (i, i + 1) for i in range(25)
        ]
        return spark.createDataFrame(
            [(a, b) for a, b in rows if a != b], "src long, dst long"
        )

    def test_k_core_same_either_strategy(self, spark, monkeypatch):
        from mhm_data_pipelines_spark.operators import graph

        e = self._edges(spark)
        bc = {(r.node, r.core_degree) for r in graph.k_core(e, k=3).collect()}
        monkeypatch.setattr(graph, "_BROADCAST_MAX_ROWS", 0)
        sj = {(r.node, r.core_degree) for r in graph.k_core(e, k=3).collect()}
        assert bc == sj and bc  # non-trivial core

    def test_label_propagation_same_either_strategy(self, spark, monkeypatch):
        from mhm_data_pipelines_spark.operators import graph

        e = self._edges(spark)
        bc = {
            (r.node, r.label)
            for r in graph.label_propagation(e, iterations=3).collect()
        }
        monkeypatch.setattr(graph, "_BROADCAST_MAX_ROWS", 0)
        sj = {
            (r.node, r.label)
            for r in graph.label_propagation(e, iterations=3).collect()
        }
        assert bc == sj

    def test_pagerank_same_either_strategy(self, spark, monkeypatch):
        from mhm_data_pipelines_spark.operators import graph

        e = self._edges(spark)
        bc = {r.node: r.rank for r in graph.pagerank(e, iterations=4).collect()}
        monkeypatch.setattr(graph, "_BROADCAST_MAX_ROWS", 0)
        sj = {r.node: r.rank for r in graph.pagerank(e, iterations=4).collect()}
        assert set(bc) == set(sj)
        for k in bc:
            assert bc[k] == pytest.approx(sj[k], rel=1e-12)

    def test_label_propagation_tie_breaks_to_smallest_label(self, spark):
        """The r9 min(struct(-wt, label)) argmax must keep the window's
        (wt desc, label asc) tie rule: node 3's neighbours 1 and 2 vote
        with equal weight — label 1 must win."""
        from mhm_data_pipelines_spark.operators.graph import (
            label_propagation,
        )

        e = spark.createDataFrame(
            [(1, 3), (2, 3)], "src long, dst long"
        )
        out = {
            r.node: r.label
            for r in label_propagation(e, iterations=1).collect()
        }
        assert out[3] == 1
