"""Similarity search: brute-force top-k vs numpy reference, LSH recall,
centroids."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from mhm_data_pipelines_spark.operators.similarity import (
    brute_force_topk,
    brute_force_topk_pairs,
    ivf_topk,
    label_centroids,
    label_centroids_long,
    lsh_bucket_ids,
    lsh_topk,
)

DIM = 16
N = 200


@pytest.fixture(scope="module")
def corpus_np():
    rng = np.random.default_rng(7)
    return rng.normal(size=(N, DIM)).astype(np.float64)


@pytest.fixture(scope="module")
def corpus(spark, corpus_np):
    rows = [(i, corpus_np[i].tolist(), int(i % 4)) for i in range(N)]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )


def test_brute_force_topk_matches_numpy(corpus, corpus_np):
    q = corpus_np[0]
    sims = corpus_np @ q / (np.linalg.norm(corpus_np, axis=1) * np.linalg.norm(q))
    expect = set(np.argsort(-sims)[:10].tolist())
    got = brute_force_topk(corpus, q.tolist(), k=10).collect()
    assert {r.vec_id for r in got} == expect
    top = max(got, key=lambda r: r.cosine)
    assert top.vec_id == 0 and top.cosine == pytest.approx(1.0)


def test_brute_force_topk_pairs(corpus, corpus_np):
    queries = corpus.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = brute_force_topk_pairs(corpus, queries, k=5).collect()
    assert len(got) == 15
    for qid in range(3):
        qrows = [r for r in got if r.query_id == qid]
        q = corpus_np[qid]
        sims = corpus_np @ q / (
            np.linalg.norm(corpus_np, axis=1) * np.linalg.norm(q)
        )
        expect = set(np.argsort(-sims)[:5].tolist())
        assert {r.vec_id for r in qrows} == expect


def test_lsh_buckets_deterministic_and_bounded(corpus):
    b1 = lsh_bucket_ids(corpus, dim=DIM, bits=6).select("vec_id", "lsh_bucket")
    b2 = lsh_bucket_ids(corpus, dim=DIM, bits=6).select("vec_id", "lsh_bucket")
    assert b1.collect() == b2.collect()
    assert b1.agg(F.max("lsh_bucket")).first()[0] < 2**6
    assert b1.agg(F.min("lsh_bucket")).first()[0] >= 0


def test_lsh_topk_recall(corpus, corpus_np):
    """With few bits the bucket join must return the query itself (same
    bucket, cosine 1.0) and nonzero overlap with the exact top-k."""
    queries = corpus.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = lsh_topk(corpus, queries, dim=DIM, k=10, bits=2).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, set()).add(r.vec_id)
    overlap = 0
    for qid in range(5):
        assert qid in by_q[qid]  # self lands in own bucket
        q = corpus_np[qid]
        sims = corpus_np @ q / (
            np.linalg.norm(corpus_np, axis=1) * np.linalg.norm(q)
        )
        exact = set(np.argsort(-sims)[:10].tolist())
        overlap += len(exact & by_q[qid])
    assert overlap >= 10  # ≥20% avg recall at 2 bits on random data


def test_train_kmeans_unsupervised_ivf(corpus, corpus_np):
    """k-means-lite quantizer: deterministic for a seed, non-degenerate
    partition, and usable by ivf_topk without labels — full probe stays
    exact, nprobe=2 keeps useful recall on the real embeddings shape."""
    from mhm_data_pipelines_spark.operators.similarity import train_kmeans

    cents = train_kmeans(corpus, n_lists=8, max_iter=4)
    assert [i for i, _ in cents] == list(range(8))
    assert train_kmeans(corpus, n_lists=8, max_iter=4) == cents  # seed-stable
    assert all(
        abs(sum(x * x for x in c) - 1.0) < 1e-9 for _, c in cents
    )  # spherical: unit centroids
    # The quantizer actually partitions the corpus (no single fat list).
    from mhm_data_pipelines_spark.operators.similarity import (
        _centroid_sim_structs,
    )
    from mhm_data_pipelines_spark.functions.vectors import normalize

    assigned = corpus.select(
        F.greatest(
            *_centroid_sim_structs(cents, normalize("embedding"))
        )["list_id"].alias("list_id")
    )
    sizes = {r.list_id: r.n for r in
             assigned.groupBy("list_id").agg(F.count("*").alias("n")).collect()}
    assert len(sizes) >= 4 and max(sizes.values()) < N

    queries = corpus.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def exact_topk(qid):
        q = corpus_np[qid]
        sims = corpus_np @ q / (
            np.linalg.norm(corpus_np, axis=1) * np.linalg.norm(q)
        )
        return set(np.argsort(-sims)[:10].tolist())

    got_all = ivf_topk(corpus, queries, cents, k=10, nprobe=len(cents)).collect()
    by_q = {}
    for r in got_all:
        by_q.setdefault(r.query_id, set()).add(r.vec_id)
    for qid in range(5):
        assert by_q[qid] == exact_topk(qid)

    got_2 = ivf_topk(corpus, queries, cents, k=10, nprobe=2).collect()
    by_q2 = {}
    for r in got_2:
        by_q2.setdefault(r.query_id, set()).add(r.vec_id)
    overlap = sum(len(exact_topk(q) & by_q2.get(q, set())) for q in range(5))
    assert overlap >= 15  # ≥30% avg recall at nprobe=2/8 on random data


def test_train_kmeans_pinned_init_matches_numpy(corpus, corpus_np):
    """Pinned-init fixed-round Lloyd (the kmeans_iters gate shape)
    matches an independent NumPy replay round for round, and
    kmeans_assign reproduces the final argmax assignment + cosines."""
    from mhm_data_pipelines_spark.operators.similarity import (
        kmeans_assign,
        train_kmeans,
    )

    k, rounds = 4, 2
    vn = corpus_np / np.linalg.norm(corpus_np, axis=1, keepdims=True)
    init = [corpus_np[i].tolist() for i in range(k)]
    cents = train_kmeans(
        corpus, max_iter=rounds, tol=0.0, init_centroids=init
    )
    assert [i for i, _ in cents] == list(range(k))

    ref = vn[:k].copy()
    for _ in range(rounds):
        # ties break to the HIGHEST list_id, like Spark's struct greatest
        sims = vn @ ref.T
        assign = (k - 1) - np.argmax(sims[:, ::-1], axis=1)
        for i in range(k):
            member = vn[assign == i]
            if len(member):
                m = member.mean(axis=0)
                ref[i] = m / np.linalg.norm(m)
    for i in range(k):
        assert np.allclose(cents[i][1], ref[i], atol=1e-9)

    got = {
        r["vec_id"]: (r["list_id"], r["cosine"])
        for r in kmeans_assign(corpus, cents).collect()
    }
    sims = vn @ ref.T
    want = (k - 1) - np.argmax(sims[:, ::-1], axis=1)
    assert len(got) == N
    for vid in range(N):
        assert got[vid][0] == want[vid]
        assert abs(got[vid][1] - sims[vid, want[vid]]) < 1e-9


def test_kmeans_assign_drops_degenerate_vectors(spark):
    """Zero-norm and NULL vectors have no cosine geometry: excluded
    from assignment (and from training) rather than landing in an
    arbitrary cluster."""
    from mhm_data_pipelines_spark.operators.similarity import kmeans_assign

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 0.0]), (2, None), (3, [0.0, 2.0])],
        "vec_id long, embedding array<double>",
    )
    got = kmeans_assign(df, [(0, [1.0, 0.0]), (1, [0.0, 1.0])]).collect()
    assert {r["vec_id"]: r["list_id"] for r in got} == {0: 0, 3: 1}


def test_ivf_topk_recall_and_exactness(corpus, corpus_np):
    """nprobe = all lists ⇒ IVF degrades to exact search (every bucket
    probed); small nprobe keeps decent recall and must include self."""
    cents = [(r.label, list(r.centroid)) for r in label_centroids(corpus).collect()]
    queries = corpus.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def exact_topk(qid):
        q = corpus_np[qid]
        sims = corpus_np @ q / (
            np.linalg.norm(corpus_np, axis=1) * np.linalg.norm(q)
        )
        return set(np.argsort(-sims)[:10].tolist())

    # full probe = exact
    got_all = ivf_topk(corpus, queries, cents, k=10, nprobe=len(cents)).collect()
    by_q = {}
    for r in got_all:
        by_q.setdefault(r.query_id, set()).add(r.vec_id)
    for qid in range(5):
        assert by_q[qid] == exact_topk(qid)

    # partial probe: self found, reasonable overlap on random data
    got_1 = ivf_topk(corpus, queries, cents, k=10, nprobe=1).collect()
    by_q1 = {}
    for r in got_1:
        by_q1.setdefault(r.query_id, set()).add(r.vec_id)
    overlap = sum(len(exact_topk(q) & by_q1.get(q, set())) for q in range(5))
    assert all(q in by_q1.get(q, set()) for q in range(5))
    assert overlap >= 10


def test_label_centroids(corpus, corpus_np):
    long = label_centroids_long(corpus).collect()
    lookup = {(r.label, r.pos): r.mean_val for r in long}
    for label in range(4):
        member = corpus_np[[i for i in range(N) if i % 4 == label]]
        mean = member.mean(axis=0)
        for pos in range(DIM):
            assert lookup[(label, pos + 1)] == pytest.approx(mean[pos])
    wide = label_centroids(corpus).collect()
    by_label = {r.label: r.centroid for r in wide}
    member0 = corpus_np[[i for i in range(N) if i % 4 == 0]].mean(axis=0)
    assert by_label[0] == pytest.approx(member0.tolist())


def _rand_books(m, ksub, dsub, seed=3):
    import random

    rng = random.Random(seed)
    return [
        [
            (c, [rng.gauss(0.0, 0.25) for _ in range(dsub)])
            for c in range(ksub)
        ]
        for _ in range(m)
    ]


def test_pq_encode_matches_numpy_argmin(corpus, corpus_np):
    from mhm_data_pipelines_spark.operators.similarity import pq_encode

    m, ksub, dsub = 4, 8, DIM // 4
    books = _rand_books(m, ksub, dsub)
    got = {
        r.vec_id: list(r.pq_codes)
        for r in pq_encode(corpus, books).collect()
    }
    V = corpus_np / np.linalg.norm(corpus_np, axis=1, keepdims=True)
    for i in range(N):
        for s in range(m):
            sub = V[i, s * dsub:(s + 1) * dsub]
            dists = [
                float(np.sum((sub - np.array(cv)) ** 2))
                for _, cv in books[s]
            ]
            assert got[i][s] == int(np.argmin(dists))


def test_pq_adc_topk_matches_numpy_lut(corpus, corpus_np):
    from mhm_data_pipelines_spark.operators.similarity import (
        pq_adc_topk,
        pq_encode,
    )

    m, ksub, dsub = 4, 8, DIM // 4
    books = _rand_books(m, ksub, dsub)
    q = corpus.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c = corpus.filter(F.col("vec_id") >= 3)
    out = pq_adc_topk(c, q, books, k=5)
    rows = out.collect()
    assert len(rows) == 15  # 3 queries × 5

    # Rebuild ADC scores in numpy from the codes and verify ranking.
    codes = {
        r.vec_id: list(r.pq_codes) for r in pq_encode(c, books).collect()
    }
    V = corpus_np / np.linalg.norm(corpus_np, axis=1, keepdims=True)
    for qid in range(3):
        qv = V[qid]
        scores = {}
        for vid, cd in codes.items():
            rec = np.concatenate(
                [np.array(books[s][cd[s]][1]) for s in range(m)]
            )
            scores[vid] = float(np.dot(qv, rec))
        want = sorted(scores, key=lambda v: (-scores[v], v))[:5]
        got = sorted(
            (r.vec_id for r in rows if r.query_id == qid),
            key=lambda v: (-scores[v], v),
        )
        assert got == want
        for r in rows:
            if r.query_id == qid:
                assert abs(r.adc_score - scores[r.vec_id]) < 1e-9


def test_train_pq_codebooks_reduces_reconstruction_error(
    corpus, corpus_np
):
    from mhm_data_pipelines_spark.operators.similarity import (
        pq_encode,
        train_pq_codebooks,
    )

    m, ksub, dsub = 4, 8, DIM // 4
    rand_books = _rand_books(m, ksub, dsub)
    trained = train_pq_codebooks(corpus, m=m, ksub=ksub, max_iter=4)
    assert len(trained) == m and all(len(b) == ksub for b in trained)

    V = corpus_np / np.linalg.norm(corpus_np, axis=1, keepdims=True)

    def mse(books):
        enc = {
            r.vec_id: list(r.pq_codes)
            for r in pq_encode(corpus, books).collect()
        }
        errs = []
        for i in range(N):
            rec = np.concatenate(
                [np.array(books[s][enc[i][s]][1]) for s in range(m)]
            )
            errs.append(float(np.sum((V[i] - rec) ** 2)))
        return float(np.mean(errs))

    assert mse(trained) < mse(rand_books) * 0.8


def test_train_pq_codebooks_rejects_bad_dims(corpus):
    from mhm_data_pipelines_spark.operators.similarity import (
        train_pq_codebooks,
    )

    with pytest.raises(ValueError, match="not divisible"):
        train_pq_codebooks(corpus, m=5)


def test_ivf_pq_index_and_topk(corpus, corpus_np):
    from mhm_data_pipelines_spark.operators.similarity import (
        ivf_pq_index,
        ivf_pq_topk,
    )

    m, ksub, dsub = 4, 8, DIM // 4
    books = _rand_books(m, ksub, dsub)
    import random

    rng = random.Random(5)
    cents = [
        (i, [rng.gauss(0.0, 1.0) for _ in range(DIM)]) for i in range(4)
    ]
    idx = ivf_pq_index(corpus, cents, books)
    rows = idx.collect()
    assert len(rows) == N
    assert all(0 <= r.list_id < 4 and len(r.pq_codes) == m for r in rows)

    # Index assignment must agree with numpy: argmax of cosine to the
    # normalized centroids, ties to the larger list (none expected here).
    V = corpus_np / np.linalg.norm(corpus_np, axis=1, keepdims=True)
    C = np.array([c for _, c in cents])
    C = C / np.linalg.norm(C, axis=1, keepdims=True)
    want = np.argmax(V @ C.T, axis=1)
    got = {r.vec_id: r.list_id for r in rows}
    assert sum(got[i] != want[i] for i in range(N)) == 0

    q = corpus.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c = corpus.filter(F.col("vec_id") >= 3)
    out = ivf_pq_topk(c, q, cents, books, k=5, nprobe=4).collect()
    assert len(out) == 15
    # Exhaustive probe (nprobe = n_lists) must rank exactly like plain
    # PQ ADC on residuals — verify against a numpy reconstruction.
    codes = {
        r.vec_id: (r.list_id, list(r.pq_codes))
        for r in ivf_pq_index(c, cents, books).collect()
    }
    for qid in range(3):
        qv = V[qid]
        scores = {}
        for vid, (lid, cd) in codes.items():
            rec = C[lid] + np.concatenate(
                [np.array(books[s][cd[s]][1]) for s in range(m)]
            )
            scores[vid] = float(np.dot(qv, rec))
        want_ids = sorted(scores, key=lambda v: (-scores[v], v))[:5]
        got_ids = [
            r.vec_id
            for r in sorted(
                (r for r in out if r.query_id == qid),
                key=lambda r: (-r.adc_score, r.vec_id),
            )
        ]
        assert got_ids == want_ids


def test_lsh_multiprobe_superset_and_recall(corpus, corpus_np):
    from mhm_data_pipelines_spark.operators.similarity import (
        lsh_multiprobe_topk,
    )

    q = corpus.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c = corpus.filter(F.col("vec_id") >= 5)

    single = {
        (r.query_id, r.vec_id)
        for r in lsh_topk(c, q, dim=DIM, k=200, bits=4).collect()
    }
    multi = {
        (r.query_id, r.vec_id)
        for r in lsh_multiprobe_topk(
            c, q, dim=DIM, k=200, bits=4
        ).collect()
    }
    # With k large enough to keep every candidate, the multiprobe
    # candidate set strictly contains the single-probe one.
    assert single <= multi
    assert len(multi) > len(single)

    # Recall@10 vs exact numpy ranking never decreases per query.
    V = corpus_np / np.linalg.norm(corpus_np, axis=1, keepdims=True)
    mp10 = {
        (r.query_id, r.vec_id)
        for r in lsh_multiprobe_topk(
            c, q, dim=DIM, k=10, bits=4
        ).collect()
    }
    sp10 = {
        (r.query_id, r.vec_id)
        for r in lsh_topk(c, q, dim=DIM, k=10, bits=4).collect()
    }
    for qid in range(5):
        sims = V[5:] @ V[qid]
        ids = np.arange(5, N)
        order = sorted(zip(-sims, ids))[:10]
        exact = {(qid, int(i)) for _, i in order}
        assert len(exact & mp10) >= len(exact & sp10)


def _fold_unit(m):
    """Row-normalize like ``functions.vectors.normalize``: left-fold
    sum of squares, so list assignments see the engine's exact floats."""
    m = np.asarray(m, dtype=np.float64)
    sq = np.zeros(len(m))
    for j in range(m.shape[1]):
        sq = sq + m[:, j] * m[:, j]
    return m / np.sqrt(sq)[:, None]


def _numpy_knn(vecs, ids, k, cents=None, nprobe=None):
    """Reference kNN graph ``{qid: [(nid, cosine), ...]}`` in (-cosine,
    nid) order. With ``cents``, query i only sees the vectors assigned
    to its ``nprobe`` nearest lists; lists rank by (similarity, list_id)
    descending, as ``_centroid_sim_structs`` orders them, and a vector
    is assigned to the first."""
    unit = _fold_unit(vecs)
    n = len(ids)
    sims = unit @ unit.T
    allowed = np.ones((n, n), dtype=bool)
    if cents is not None:
        lids = [lid for lid, _ in cents]
        c = _fold_unit([vec for _, vec in cents])
        csim = np.zeros((n, len(c)))
        for j in range(unit.shape[1]):
            csim = csim + unit[:, j, None] * c[None, :, j]
        ranked = [
            sorted(range(len(c)), key=lambda x: (csim[i, x], lids[x]),
                   reverse=True)
            for i in range(n)
        ]
        assigned = np.array([lids[r[0]] for r in ranked])
        for i in range(n):
            allowed[i] = np.isin(assigned, [lids[x] for x in ranked[i][:nprobe]])
    graph = {}
    for i in range(n):
        cand = sorted(
            (-sims[i, j], ids[j]) for j in range(n) if j != i and allowed[i, j]
        )
        graph[ids[i]] = [(nid, -neg) for neg, nid in cand[:k]]
    return graph


def _assert_graph(rows, want):
    """``knn_graph`` rows equal the reference: same neighbors per query
    in the same (-cosine, nid) order, and the same cosines."""
    got = {}
    for r in rows:
        got.setdefault(r.qid, []).append((-r.cosine, r.nid))
    got = {q: [(nid, -neg) for neg, nid in sorted(v)] for q, v in got.items()}
    want = {q: v for q, v in want.items() if v}
    assert {q: [n for n, _ in v] for q, v in got.items()} == {
        q: [n for n, _ in v] for q, v in want.items()
    }
    for q, v in want.items():
        assert [c for _, c in got[q]] == pytest.approx([c for _, c in v])


def test_knn_graph_exhaustive_matches_numpy(corpus, corpus_np):
    """nprobe = all lists ⇒ exact kNN graph for every vector: the
    cogrouped BLAS scorer gives a numpy brute force's neighbors, in
    (-cosine, nid) order, with its cosines and no self-edges."""
    from mhm_data_pipelines_spark.operators.similarity import knn_graph

    cents = [
        (r.label, list(r.centroid)) for r in label_centroids(corpus).collect()
    ]
    got = knn_graph(corpus, cents, k=5, nprobe=len(cents)).collect()
    assert len(got) == N * 5
    _assert_graph(got, _numpy_knn(corpus_np, list(range(N)), 5))


def test_knn_graph_blas_matches_expression_path(corpus):
    """The cogrouped BLAS scorer gives the edges and cosines of an
    expression-fold scoring of the same graph: every pair cosine-folded
    with ``functions.vectors.dot`` over normalized vectors and ranked by
    the per-query (cosine desc, id asc) window. The deprecated ``blas``
    flag leaves the result unchanged."""
    from pyspark.sql import Window

    from mhm_data_pipelines_spark.functions.vectors import dot, normalize
    from mhm_data_pipelines_spark.operators.similarity import knn_graph

    cents = [
        (r.label, list(r.centroid)) for r in label_centroids(corpus).collect()
    ]
    unit = corpus.select("vec_id", normalize("embedding").alias("u"))
    q = unit.select(F.col("vec_id").alias("qid"), F.col("u").alias("qu"))
    d = unit.select(F.col("vec_id").alias("nid"), F.col("u").alias("du"))
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nid"))
    expr = (
        q.crossJoin(d)
        .where(F.col("qid") != F.col("nid"))
        .select("qid", "nid", dot("qu", "du").alias("cosine"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 5)
        .collect()
    )
    blas = knn_graph(corpus, cents, k=5, nprobe=len(cents)).collect()
    g = {(r.qid, r.nid): r.cosine for r in blas}
    want = {(r.qid, r.nid): r.cosine for r in expr}
    assert set(g) == set(want)
    for key in want:
        assert g[key] == pytest.approx(want[key])
    with pytest.warns(DeprecationWarning):
        flagged = knn_graph(
            corpus, cents, k=5, nprobe=len(cents), blas=True
        ).collect()
    assert {(r.qid, r.nid): r.cosine for r in flagged} == g


def test_knn_graph_selective_probe_subset(corpus, corpus_np):
    """nprobe=1 candidates are a subset of the exhaustive graph's
    candidate space and still exclude self-edges; the nprobe=1 and
    nprobe=2 graphs over 4 lists equal a numpy reference that restricts
    each query to the vectors of its probed lists."""
    from mhm_data_pipelines_spark.operators.similarity import knn_graph

    cents = [
        (r.label, list(r.centroid)) for r in label_centroids(corpus).collect()
    ]
    assert len(cents) == 4
    got = knn_graph(corpus, cents, k=5, nprobe=1).collect()
    assert all(r.qid != r.nid for r in got)
    # Every query still gets up to k neighbors from its own list.
    per_q = {}
    for r in got:
        per_q[r.qid] = per_q.get(r.qid, 0) + 1
    assert all(c <= 5 for c in per_q.values())
    assert len(per_q) == N  # own list always probed -> nobody is empty
    ids = list(range(N))
    _assert_graph(got, _numpy_knn(corpus_np, ids, 5, cents, nprobe=1))
    got2 = knn_graph(corpus, cents, k=5, nprobe=2).collect()
    _assert_graph(got2, _numpy_knn(corpus_np, ids, 5, cents, nprobe=2))
    # Probing a second list changes some query's neighbors.
    assert {(r.qid, r.nid) for r in got2} != {(r.qid, r.nid) for r in got}


def test_knn_graph_blas_string_ids(spark):
    """The scorer must honor the id column's type (it once hardcoded
    long) and order string ids the way the window does."""
    from mhm_data_pipelines_spark.operators.similarity import knn_graph

    rows = [(f"doc-{i}", [float(i % 3), 1.0, float(i % 2)], i % 2)
            for i in range(12)]
    df = spark.createDataFrame(
        rows, "vec_id string, embedding array<double>, label int"
    )
    cents = [
        (r.label, list(r.centroid)) for r in label_centroids(df).collect()
    ]
    got = knn_graph(df, cents, k=3, nprobe=len(cents)).collect()
    assert all(isinstance(r.qid, str) for r in got)
    _assert_graph(
        got, _numpy_knn([v for _, v, _ in rows], [i for i, _, _ in rows], 3)
    )


def test_ivf_pq_index_persist_reload_search_parity(spark, corpus):
    """ANN index lifecycle: build -> persist (bucketed by list_id) ->
    reload -> search must return EXACTLY the in-memory build's results,
    and the persisted-search plan must show bucket pruning (only the
    probed lists' buckets read) with no shuffle on the index side."""
    from mhm_data_pipelines_spark.operators.similarity import (
        ivf_pq_index,
        ivf_pq_search_table,
        ivf_pq_topk,
        persist_ivf_pq_index,
    )

    m, ksub, dsub = 4, 8, DIM // 4
    books = _rand_books(m, ksub, dsub)
    import random

    rng = random.Random(5)
    cents = [
        (i, [rng.gauss(0.0, 1.0) for _ in range(DIM)]) for i in range(4)
    ]
    q = corpus.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c = corpus.filter(F.col("vec_id") >= 3)
    table = "ivfpq_idx_lifecycle_test"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        persist_ivf_pq_index(ivf_pq_index(c, cents, books), table,
                             n_buckets=4)
        got_df = ivf_pq_search_table(
            spark, table, q, cents, books, k=5, nprobe=2
        )
        want = {
            (r.query_id, r.vec_id): r.adc_score
            for r in ivf_pq_topk(c, q, cents, books, k=5, nprobe=2).collect()
        }
        got = {(r.query_id, r.vec_id): r.adc_score for r in got_df.collect()}
        assert set(got) == set(want)
        for key in want:
            assert got[key] == want[key], key  # bit-identical ADC floats
        plan = got_df._jdf.queryExecution().executedPlan().toString()
        # probed-lists filter bucket-prunes the persisted scan
        assert "SelectedBucketsCount" in plan, plan
        # index side streams into the broadcast join - the only
        # Exchanges are the probe broadcast and the top-k window
        assert "BroadcastHashJoin" in plan
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_ivf_pq_index_append_equals_rebuild(spark, corpus):
    """Incremental append: persist half the corpus, append the rest —
    searches must be bit-identical to an index built over the whole
    corpus at once (per-row encode is deterministic given frozen
    quantizers), and the appended table must still bucket-prune."""
    from mhm_data_pipelines_spark.operators.similarity import (
        append_to_ivf_pq_index,
        ivf_pq_index,
        ivf_pq_search_table,
        ivf_pq_topk,
        persist_ivf_pq_index,
    )

    m, ksub, dsub = 4, 8, DIM // 4
    books = _rand_books(m, ksub, dsub)
    import random

    rng = random.Random(5)
    cents = [
        (i, [rng.gauss(0.0, 1.0) for _ in range(DIM)]) for i in range(4)
    ]
    q = corpus.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c = corpus.filter(F.col("vec_id") >= 3)
    first = c.filter(F.col("vec_id") < 100)
    second = c.filter(F.col("vec_id") >= 100)
    table = "ivfpq_idx_append_test"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        persist_ivf_pq_index(
            ivf_pq_index(first, cents, books), table, n_buckets=4
        )
        append_to_ivf_pq_index(second, table, cents, books, n_buckets=4)
        got_df = ivf_pq_search_table(
            spark, table, q, cents, books, k=5, nprobe=2
        )
        want = {
            (r.query_id, r.vec_id): r.adc_score
            for r in ivf_pq_topk(c, q, cents, books, k=5, nprobe=2).collect()
        }
        got = {(r.query_id, r.vec_id): r.adc_score for r in got_df.collect()}
        assert got == want
        plan = got_df._jdf.queryExecution().executedPlan().toString()
        assert "SelectedBucketsCount" in plan, plan
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_knn_graph_degenerate_vectors_dropped(spark):
    """Vectors with no direction match nothing: zero-norm and
    NULL-element vectors normalize to NULL and must be DROPPED from the
    graph, not crash the cogroup's np.stack (shape mismatch on None) —
    found by the sf1 degenerate-row probe (r7). A NaN element makes
    every cosine NaN, which the scorer discards, so that vector is
    dropped too."""
    from mhm_data_pipelines_spark.operators.similarity import (
        knn_graph,
        mutual_nearest_pairs,
    )

    rows = [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]),
            (3, [0.0, 0.0]), (4, [0.0, 0.0]),  # zero-norm
            (5, [1.0, None]),  # NULL element
            (6, [float("nan"), 1.0])]  # NaN element
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    got = knn_graph(df, cents, k=2, nprobe=2).collect()
    assert {(r.qid, r.nid) for r in got} == {
        (0, 1), (0, 2), (1, 0), (1, 2), (2, 1), (2, 0)
    }
    assert all(np.isfinite(r.cosine) for r in got)
    pairs = mutual_nearest_pairs(df, cents, nprobe=2).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(0, 1)}


def test_knn_graph_blas_boundary_ties_beyond_slack(spark):
    """>8 candidates tying exactly AT the k-th cosine (duplicated
    vectors) must not let the argpartition preselect pick arbitrary
    ids — the boundary-tie widen keeps the (cosine desc, id asc)
    order of a numpy brute force (ADVICE r4)."""
    from mhm_data_pipelines_spark.operators.similarity import knn_graph

    # ids 0-1: the "near" pair; ids 2-19: 18 identical vectors that all
    # tie at every boundary. k=3 → tie group (18) >> slack (+8).
    rows = [(0, [1.0, 0.0, 0.0]), (1, [0.9, 0.1, 0.0])] + [
        (i, [0.0, 1.0, 0.0]) for i in range(2, 20)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])]
    got = knn_graph(df, cents, k=3, nprobe=2).collect()
    _assert_graph(
        got, _numpy_knn([v for _, v in rows], [i for i, _ in rows], 3)
    )


# ----------------------------------------------------------------- MMR
from mhm_data_pipelines_spark.operators.similarity import mmr_select


def _mmr_corpus(spark):
    # 3-D: ids 1 and 2 are near-duplicates, 3 orthogonal-ish to them,
    # 4 irrelevant. Query sits BETWEEN axes 1 and 2 so the redundancy
    # penalty is not collinear with relevance (a query equal to the
    # first pick makes sim == rel for every vector and MMR degenerates).
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.0447, 0.0]),  # near-dup of 1, slightly closer to q
        (3, [0.0, 1.0, 0.0]),
        (4, [0.0, 0.0, 1.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


_MMR_Q = [0.7071, 0.7071, 0.0]


def test_mmr_prefers_diverse_over_redundant(spark):
    df = _mmr_corpus(spark)
    out = mmr_select(df, _MMR_Q, k=4, lam=0.5).collect()
    order = [r["vec_id"] for r in sorted(out, key=lambda r: r["pick_order"])]
    # pick1: id 2 (highest rel). pick2: id 3 (diverse) beats the
    # near-dup id 1. pick3: even the IRRELEVANT id 4 (score 0) beats
    # the near-dup (negative score). pick4: id 1 last.
    assert order == [2, 3, 4, 1]


def test_mmr_lam_one_is_pure_relevance(spark):
    df = _mmr_corpus(spark)
    out = mmr_select(df, _MMR_Q, k=4, lam=1.0).collect()
    order = [r["vec_id"] for r in sorted(out, key=lambda r: r["pick_order"])]
    # plain cosine order: 2 (.738) then rel-tie 1 vs 3 (.7071 each,
    # id asc) then 4
    assert order == [2, 1, 3, 4]


def test_mmr_first_score_is_relevance_and_k_bounded(spark):
    df = _mmr_corpus(spark)
    out = {r["pick_order"]: r for r in mmr_select(df, _MMR_Q, k=10, lam=0.7).collect()}
    assert len(out) == 4  # corpus exhausted before k
    import math
    want = (0.999 * 0.7071 + 0.0447 * 0.7071) / (
        math.sqrt(0.999**2 + 0.0447**2) * math.sqrt(2 * 0.7071**2)
    )
    assert out[1]["score"] == pytest.approx(round(want, 7), abs=1e-7)


def test_mmr_validates(spark):
    df = _mmr_corpus(spark)
    import pytest as _pt
    with _pt.raises(ValueError):
        mmr_select(df, [1.0, 0.0], k=0)
    with _pt.raises(ValueError):
        mmr_select(df, [1.0, 0.0], lam=0.0)
    with _pt.raises(ValueError):
        mmr_select(df, [1.0, 0.0], k=4, pool=2)  # pool < k


def test_mmr_pooled_identical_to_exact_when_pool_covers_corpus(spark):
    """The driver-greedy pooled path must be BIT-identical to the
    per-round distributed path when pool >= |corpus| — same picks,
    same pick_order, same quantized scores (left-fold cosines +
    HALF_UP rounds replicate the Column arithmetic exactly)."""
    import random

    rng = random.Random(11)
    rows = [
        (i, [rng.gauss(0.0, 1.0) for _ in range(16)]) for i in range(60)
    ]
    # plant near-duplicates so the redundancy penalty actually bites
    rows += [
        (100 + i, [x + rng.gauss(0.0, 0.01) for x in rows[i][1]])
        for i in range(5)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qv = [rng.gauss(0.0, 1.0) for _ in range(16)]
    for lam in (0.5, 0.7):
        exact = [
            (r["vec_id"], r["pick_order"], r["score"])
            for r in mmr_select(df, qv, k=10, lam=lam).collect()
        ]
        pooled = [
            (r["vec_id"], r["pick_order"], r["score"])
            for r in mmr_select(df, qv, k=10, lam=lam, pool=1000).collect()
        ]
        assert pooled == exact


def test_mmr_pooled_restricts_to_top_pool_relevance(spark):
    df = _mmr_corpus(spark)
    # pool=2 keeps only the top-2 relevance candidates (ids 2, then
    # the rel-tie 1 vs 3 broken by id asc -> 1); greedy over {2, 1}
    out = mmr_select(df, _MMR_Q, k=2, lam=0.5, pool=2).collect()
    order = [r["vec_id"] for r in sorted(out, key=lambda r: r["pick_order"])]
    assert order == [2, 1]


def test_mmr_string_ids(spark):
    """Schema follows the corpus id type (ADVICE r5) — string-keyed
    corpora must not be cast through long."""
    rows = [
        ("a", [1.0, 0.0, 0.0]),
        ("b", [0.999, 0.0447, 0.0]),
        ("c", [0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "doc_id string, embedding array<double>")
    for pl in (None, 10):
        out = mmr_select(
            df, _MMR_Q, k=2, lam=0.5, vec_col="embedding",
            id_col="doc_id", pool=pl,
        )
        assert dict(out.dtypes)["doc_id"] == "string"
        got = [r["doc_id"] for r in out.orderBy("pick_order").collect()]
        assert got == ["b", "c"]


# ---------------------------------------------------------- mutual top-1
from mhm_data_pipelines_spark.operators.similarity import (
    label_centroids,
    mutual_nearest_pairs,
)


def test_mutual_nearest_pairs_hand(spark):
    # 1<->2 mutual near-dups; 3's top-1 is 4 but 4's top-1 is 3 too
    # (mutual); 5 points at 1 but 1 points at 2 -> not mutual.
    rows = [
        (1, 0, [1.0, 0.0]),
        (2, 0, [0.999, 0.045]),
        (3, 1, [0.0, 1.0]),
        (4, 1, [0.045, 0.999]),
        (5, 0, [0.9, 0.436]),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>"
    )
    cents = [
        (r["label"], list(r["centroid"]))
        for r in label_centroids(df).collect()
    ]
    got = {(r["id_a"], r["id_b"])
           for r in mutual_nearest_pairs(df, cents).collect()}
    assert got == {(1, 2), (3, 4)}


def test_mutual_nearest_pairs_selective_default(spark):
    """Production default is SELECTIVE probing (min(8, n_lists)) —
    with > 8 lists the default must not probe them all, and the
    explicit exhaustive call remains the exact reference."""
    import random

    rng = random.Random(3)
    rows = [
        (i, [rng.gauss(0.0, 1.0) for _ in range(8)]) for i in range(80)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [
        (j, [rng.gauss(0.0, 1.0) for _ in range(8)]) for j in range(12)
    ]
    exact = {
        (r["id_a"], r["id_b"])
        for r in mutual_nearest_pairs(df, cents, nprobe=12).collect()
    }
    sel = {
        (r["id_a"], r["id_b"])
        for r in mutual_nearest_pairs(df, cents).collect()  # nprobe=8
    }
    assert exact  # the reference graph found mutual pairs
    # selective recall on this easy random corpus should be high (most
    # top-1s live within the 8 nearest of 12 lists)
    assert len(exact & sel) / len(exact) >= 0.6
