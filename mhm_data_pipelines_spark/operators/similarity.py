"""Similarity search over embedding columns: brute-force cosine top-k
(baseline) and LSH/IVF-bucketed variants (the 100 TB path).

North-star extension (BASELINE.json). Scale design:

* Brute force broadcasts the *query* vectors (always small) against the
  corpus — a map-only job, no shuffle; per-partition top-k then a tiny
  final top-k on k×partitions rows.
* Random-hyperplane LSH assigns each vector a bucket id with builtin
  expressions; the search probes only matching buckets (equi-join on
  bucket), turning O(n·q) into O(n·q/2^bits) with recall controlled by
  multi-probe tables.
* IVF: k-means-lite centroids (seeded deterministic sample) → assign to
  nearest centroid → probe nprobe nearest lists.
"""

from __future__ import annotations

import warnings

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mhm_data_pipelines_spark.functions.vectors import cosine, dot, normalize

#: Decimals mmr_select quantizes relevance and every round's score to;
#: its driver-side and distributed greedy loops must round alike.
_MMR_DIGITS = 7


def _topk_per(
    scored: DataFrame, part_col: str, score_col: str, id_col: str, k: int
) -> DataFrame:
    """The ``k`` best rows of ``scored`` per ``part_col`` value: highest
    ``score_col`` first, ties broken by ``id_col`` ascending. The one
    per-query top-k of every search in this module."""
    w = Window.partitionBy(part_col).orderBy(F.desc(score_col), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .drop("rank")
    )


def brute_force_topk(
    corpus: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine against one query vector. The query is a
    literal array (no second table, nothing to shuffle); ranking is a
    global top-k which Spark executes as per-partition TakeOrdered —
    no full sort. Ties broken by id for determinism."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = corpus.select(
        F.col(id_col), cosine(F.col(vec_col), q).alias("cosine")
    )
    return scored.orderBy(F.desc("cosine"), F.col(id_col)).limit(k)


def brute_force_topk_pairs(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Top-k corpus neighbors per query row — broadcast the queries
    (small side) so the join is map-only; rank with a window partitioned
    by query."""
    q = queries.select(
        F.col(query_id_col), normalize(vec_col).alias("qv")
    )
    c = corpus.select(F.col(id_col), normalize(vec_col).alias("cv"))
    scored = c.crossJoin(F.broadcast(q)).select(
        query_id_col,
        id_col,
        dot("qv", "cv").alias("cosine"),
    )
    return _topk_per(scored, query_id_col, "cosine", id_col, k)


def lsh_bucket_ids(
    df: DataFrame,
    dim: int,
    bits: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane LSH bucket assignment, computed with builtin
    expressions: bucket bit j = sign(v · h_j). Hyperplanes are generated
    driver-side from a seeded RNG (deterministic, tiny) and embedded as
    literals — they broadcast with the plan itself.

    The whole bucket id is ONE SQL-text ``F.expr``: the Column-operator
    chain paid a py4j round-trip per node (bits × dim literals plus the
    fold operators — hundreds of driver round-trips per call, and the
    expression is built twice per search: corpus + queries). The text
    form is bit-identical — shortest-repr doubles via CAST, the same
    zip_with/aggregate fold, NULL dot still yields bit 0."""
    import random

    rng = random.Random(seed)
    sql = "CAST(0 AS BIGINT)"
    for j in range(bits):
        lits = ", ".join(
            f"CAST('{rng.gauss(0.0, 1.0)!r}' AS DOUBLE)"
            for _ in range(dim)
        )
        dot_sql = (
            f"aggregate(zip_with(`{vec_col}`, array({lits}), "
            "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
        )
        sql = f"({sql} * 2 + (CASE WHEN {dot_sql} > 0 THEN 1 ELSE 0 END))"
    return df.withColumn("lsh_bucket", F.expr(sql))


def _lsh_sides(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    bits: int,
    seed: int,
    vec_col: str,
    id_col: str,
    query_id_col: str,
) -> tuple[DataFrame, DataFrame]:
    """Corpus ``(id, lsh_bucket, cv)`` and query ``(query_id, lsh_bucket,
    qv)`` frames with L2-normalized vectors — the shared setup of the
    LSH searches."""
    cb = lsh_bucket_ids(corpus, dim, bits, seed, vec_col).select(
        id_col, "lsh_bucket", normalize(vec_col).alias("cv")
    )
    qb = lsh_bucket_ids(queries, dim, bits, seed, vec_col).select(
        F.col(query_id_col), "lsh_bucket", normalize(vec_col).alias("qv")
    )
    return cb, qb


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    bits: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: probe only the query's LSH bucket. Equi-join on
    bucket id co-partitions corpus and queries — the shuffle moves each
    corpus vector once, and AQE handles bucket skew. Recall < 1 by
    construction; raise ``bits``→fewer collisions, or probe multiple
    seeds and union for higher recall."""
    cb, qb = _lsh_sides(
        corpus, queries, dim, bits, seed, vec_col, id_col, query_id_col
    )
    scored = cb.join(qb, "lsh_bucket").select(
        query_id_col, id_col, dot("qv", "cv").alias("cosine")
    )
    return _topk_per(scored, query_id_col, "cosine", id_col, k)


def lsh_multiprobe_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    bits: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Multi-probe LSH top-k (Lv et al. 2007): the query probes its own
    bucket AND every bucket at Hamming distance 1 (one hyperplane sign
    flipped) — ``bits + 1`` probes recover most of the recall lost to
    near-boundary sign flips WITHOUT rebuilding the index or adding
    hash tables. The probe set is a pure expression (bucket XOR each
    power of two); the QUERY side explodes ``bits + 1``×, the corpus
    still moves once through the same equi-join as :func:`lsh_topk` —
    probe fan-out lands on the (always-small) query side, never the
    corpus."""
    cb, qb = _lsh_sides(
        corpus, queries, dim, bits, seed, vec_col, id_col, query_id_col
    )
    probes = F.array(
        F.col("lsh_bucket"),
        *[
            F.col("lsh_bucket").bitwiseXOR(F.lit(1 << j))
            for j in range(bits)
        ],
    )
    qp = qb.select(
        query_id_col, "qv", F.explode(probes).alias("lsh_bucket")
    )
    scored = cb.join(qp, "lsh_bucket").select(
        query_id_col, id_col, dot("qv", "cv").alias("cosine")
    )
    return _topk_per(scored, query_id_col, "cosine", id_col, k)


def _normalized_lit(vec: list[float]) -> list[float]:
    import math

    n = math.sqrt(sum(x * x for x in vec)) or 1.0
    return [float(x) / n for x in vec]


def _centroid_sim_structs(
    centroids: list[tuple[int, list[float]]], v: Column | str
) -> list[Column]:
    """(similarity, list_id) structs for an L2-normalized vector column
    against literal centroids — their ``greatest`` is the zero-shuffle
    nearest-centroid assignment (:func:`_nearest_list`,
    :func:`kmeans_assign`) and their descending sort the probe order
    (:func:`_probe_lists`); struct comparison is lexicographic, so ties
    resolve deterministically by list_id.

    Each centroid's literal array is built as ONE SQL-text ``F.expr``
    instead of ``F.array(*[F.lit(x) ...])``: a k×dim quantizer renders
    to thousands of expression nodes, and the Column-operator chain
    pays one py4j round-trip per node — measured ~2.5 s of pure
    driver-side plan CONSTRUCTION per call at k=8, dim=64, vs ~0.05 s
    with the array literals in text form. Bit-identical: the literals
    are shortest-repr doubles round-tripped through CAST (the exact
    values ``F.lit`` embeds) and the fold is the same
    zip_with/aggregate tree. Iterative callers (Lloyd rounds) rebuild
    this expression every round, so the construction cost was
    multiplied by the round count."""
    import math

    vc = F.col(v) if isinstance(v, str) else v

    def _render(x: float) -> str:
        # repr() of a non-finite double ('nan'/'inf'/'-inf') is NOT a
        # spelling Spark's string→double CAST accepts (NULL in non-ANSI
        # mode — a silent all-NULL centroid); Java's parseDouble wants
        # 'NaN'/'Infinity'. Finite shortest-repr doubles round-trip
        # exactly (the same values F.lit embeds).
        if math.isfinite(x):
            return f"CAST('{x!r}' AS DOUBLE)"
        if math.isnan(x):
            return "CAST('NaN' AS DOUBLE)"
        return f"CAST('{'' if x > 0 else '-'}Infinity' AS DOUBLE)"

    out = []
    for list_id, cvec in centroids:
        lits = ", ".join(_render(x) for x in _normalized_lit(cvec))
        out.append(
            F.struct(
                dot(vc, F.expr(f"array({lits})")).alias("sim"),
                F.lit(int(list_id)).alias("list_id"),
            )
        )
    return out


def _nearest_list(
    centroids: list[tuple[int, list[float]]], v: Column | str
) -> Column:
    """Id of the centroid nearest to the normalized vector ``v``: the
    ``greatest`` of the (similarity, list_id) structs, so ties go to the
    larger list id."""
    return F.greatest(*_centroid_sim_structs(centroids, v))["list_id"]


def _probe_lists(
    centroids: list[tuple[int, list[float]]], v: Column | str, nprobe: int
) -> Column:
    """Ids of the ``nprobe`` centroids nearest to the normalized vector
    ``v``, ordered by (similarity, list_id) descending."""
    return F.transform(
        F.slice(
            F.sort_array(
                F.array(*_centroid_sim_structs(centroids, v)), asc=False
            ),
            1,
            nprobe,
        ),
        lambda s: s["list_id"],
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    k: int = 10,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k.

    ``centroids`` is the coarse quantizer — (list_id, centroid) pairs.
    A quantizer is metadata-sized by construction (hundreds of vectors,
    not data-sized), so it is embedded as plan literals and ships with
    the task binary: **corpus assignment is a pure projection — zero
    shuffle, zero join** — each vector picks its nearest centroid via a
    ``greatest``-of-structs argmax (struct comparison is lexicographic,
    so (similarity, list_id) picks max-similarity with deterministic
    ties). Queries explode their ``nprobe`` nearest lists and equi-join
    corpus on ``list_id`` — the only shuffle, sized by list fan-out, not
    |corpus|×|queries|.

    Build centroids with :func:`label_centroids` (label-supervised) or
    :func:`train_kmeans` (unsupervised); recall grows with ``nprobe``
    (= exact when nprobe covers all lists).
    """
    c = corpus.select(F.col(id_col), normalize(vec_col).alias("cv"))
    c = c.withColumn("list_id", _nearest_list(centroids, "cv"))

    q = queries.select(F.col(query_id_col), normalize(vec_col).alias("qv"))
    q = q.select(
        query_id_col,
        "qv",
        F.explode(_probe_lists(centroids, "qv", nprobe)).alias("list_id"),
    )

    scored = c.join(F.broadcast(q), "list_id").select(
        query_id_col, id_col, dot("qv", "cv").alias("cosine")
    )
    return _topk_per(scored, query_id_col, "cosine", id_col, k)


def train_kmeans(
    df: DataFrame,
    n_lists: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_iter: int = 5,
    seed: int = 42,
    tol: float = 1e-6,
    init_centroids: list[list[float]] | None = None,
    round_means: int | None = None,
) -> list[tuple[int, list[float]]]:
    """Unsupervised spherical k-means-lite → IVF coarse quantizer
    (``[(list_id, centroid), ...]`` for :func:`ivf_topk`) with no labels
    required.

    Spark-first shape — the data never leaves the cluster:

    * init: the ``n_lists`` vectors with the smallest ``xxhash64(id,
      seed)`` (a deterministic, repartition-stable sample;
      ``orderBy(...).limit(n)`` plans as TakeOrdered, not a full sort);
    * each Lloyd round: assignment is the same literal-centroid
      ``greatest``-of-structs projection IVF uses (ZERO shuffle), the
      update is one posexplode + (list_id, pos) hash-aggregate; only the
      ``n_lists × dim`` centroid matrix — metadata-sized by
      construction — is collected per round, and each round is an
      independent job over the base relation, so lineage never grows
      (nothing to checkpoint);
    * the normalized ``(id, v)`` projection is persisted
      (MEMORY_AND_DISK) for the duration of training and unpersisted
      before returning — the standard iterative-ML pattern (MLlib
      does the same): Lloyd re-reads the corpus ``max_iter`` times,
      and the projection is far smaller than the source table. For a
      corpus too large even projected, pre-stage it to a parquet
      scratch table and pass that as ``df``;
    * empty lists keep their previous centroid; training stops early
      when total centroid movement drops under ``tol``.

    Cosine geometry throughout (vectors and centroids L2-normalized),
    matching :func:`ivf_topk`'s assignment metric.

    Cross-engine replay hooks (the ``kmeans_iters`` gate key): pass
    ``init_centroids`` to pin the starting point (skipping the hash
    sample — an independent engine can then replay every Lloyd round
    exactly), and ``round_means`` (digits, round-half-up = SQL
    ``round``) to round each mean component before re-normalization so
    both engines derive subsequent assignments from 6-digit-identical
    centroids. Zero-norm / NULL vectors are excluded from training
    (they have no cosine geometry).
    """
    if n_lists < 1:
        raise ValueError(f"n_lists must be >= 1, got {n_lists}")
    from pyspark.storagelevel import StorageLevel

    base = df.select(F.col(id_col), normalize(vec_col).alias("v")).filter(
        F.col("v").isNotNull()
    )
    base = base.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        return _lloyd_loop(
            base, n_lists, id_col, max_iter, seed, tol,
            init_centroids, round_means,
        )
    finally:
        base.unpersist()


def _lloyd_loop(
    base, n_lists, id_col, max_iter, seed, tol,
    init_centroids, round_means,
):
    if init_centroids is not None:
        if not init_centroids:
            raise ValueError("init_centroids must be non-empty")
        cents = [_normalized_lit(list(c)) for c in init_centroids]
        n_lists = len(cents)
    else:
        init = (
            base.select(
                "v",
                F.xxhash64(
                    F.col(id_col).cast("string"), F.lit(seed)
                ).alias("_h"),
            )
            .orderBy("_h")
            .limit(n_lists)
            .collect()
        )
        cents = [_normalized_lit(list(r["v"])) for r in init]
    for _ in range(max_iter):
        centroids = list(enumerate(cents))
        assigned = base.withColumn("list_id", _nearest_list(centroids, "v"))
        rows = (
            assigned.select(
                "list_id", F.posexplode("v").alias("pos", "val")
            )
            .groupBy("list_id", "pos")
            .agg(F.avg(F.col("val").cast("double")).alias("m"))
            .groupBy("list_id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("pos", "m"))
                ).alias("dims")
            )
            .select(
                "list_id",
                F.transform("dims", lambda d: d["m"]).alias("centroid"),
            )
            .collect()  # n_lists rows — metadata-sized
        )
        new_means = {r["list_id"]: list(r["centroid"]) for r in rows}
        if round_means is not None:
            new_means = {
                i: [_round_half_up(x, round_means) for x in m]
                for i, m in new_means.items()
            }
        movement = 0.0
        new_cents = []
        for i, old in enumerate(cents):
            cand = _normalized_lit(new_means[i]) if i in new_means else old
            movement += sum((a - b) ** 2 for a, b in zip(cand, old))
            new_cents.append(cand)
        cents = new_cents
        if movement < tol:
            break
    return list(enumerate(cents))


def kmeans_assign(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Final nearest-centroid assignment — (id, list_id, cosine) per
    vector, against the literal ``centroids`` from :func:`train_kmeans`.

    The same zero-shuffle greatest-of-structs projection IVF uses
    (:func:`_centroid_sim_structs`): the centroid matrix is plan
    literals, so assignment is a pure per-row expression — the corpus
    never shuffles, whole-stage codegen end to end, and the plan is
    identical at 100 TB. Ties resolve to the HIGHEST list_id
    (lexicographic struct greatest). Zero-norm / NULL vectors (no
    cosine geometry) are dropped, matching training."""
    base = df.select(F.col(id_col), normalize(vec_col).alias("v")).filter(
        F.col("v").isNotNull()
    )
    # One projection computes the argmax struct, a second extracts its
    # fields: referencing best["list_id"] and best["sim"] from a single
    # projection evaluates the whole greatest-of-k-folds expression
    # TWICE per row (higher-order functions run on the interpreted
    # path, which has no common-subexpression elimination — measured
    # ~2x on the assignment stage). CollapseProject keeps the split
    # because the alias is non-trivial and referenced twice.
    best = F.greatest(*_centroid_sim_structs(centroids, "v"))
    return base.select(F.col(id_col), best.alias("_best")).select(
        F.col(id_col),
        F.col("_best.list_id").alias("list_id"),
        F.col("_best.sim").alias("cosine"),
    )


def label_centroids_long(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Long-form per-label mean: (label, pos, mean_val) with 1-based pos —
    the oracle-checkable core of :func:`label_centroids`."""
    exploded = df.select(
        F.col(label_col), F.posexplode(F.col(vec_col)).alias("pos0", "val")
    )
    return exploded.groupBy(
        F.col(label_col), (F.col("pos0") + 1).alias("pos")
    ).agg(F.avg(F.col("val").cast("double")).alias("mean_val"))


def label_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-label mean vector via posexplode + two-level agg — the IVF
    coarse-quantizer building block. Scales as one shuffle of (label,
    pos, val) triples; no vectors ever collect to the driver."""
    exploded = df.select(
        F.col(label_col), F.posexplode(F.col(vec_col)).alias("pos", "val")
    )
    per_dim = exploded.groupBy(label_col, "pos").agg(
        F.avg(F.col("val").cast("double")).alias("mean_val")
    )
    return (
        per_dim.groupBy(label_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "mean_val"))
            ).alias("dims")
        )
        .select(
            label_col,
            F.transform("dims", lambda d: d["mean_val"]).alias("centroid"),
        )
    )


def _pq_check(codebooks: list[list[tuple[int, list[float]]]]):
    m = len(codebooks)
    if m == 0:
        raise ValueError("codebooks must have at least one subspace")
    dsub = len(codebooks[0][0][1])
    for book in codebooks:
        for _, cvec in book:
            if len(cvec) != dsub:
                raise ValueError("ragged PQ codebook subvector lengths")
    return m, dsub


def _pq_codebook_df(spark, codebooks):
    """(sub, code, cw) rows — the codebook as a broadcast-able frame.
    m × ksub rows, metadata-sized by construction."""
    rows = [
        (i, int(code), [float(x) for x in cvec])
        for i, book in enumerate(codebooks)
        for code, cvec in book
    ]
    return spark.createDataFrame(
        rows, "sub int, code int, cw array<double>"
    )


def _pq_sub_rows(base, m: int, dsub: int, id_cols: list[str]):
    """Long form (id..., sub, sv): one row per (vector, subspace) with
    the dsub-length subvector slice. The ``_cv`` source column is
    referenced m times, so the normalize stays staged (CollapseProject
    never duplicates a multi-referenced non-cheap alias)."""
    s = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("sub"),
                    F.slice("_cv", i * dsub + 1, dsub).alias("sv"),
                )
                for i in range(m)
            ]
        )
    ).alias("s")
    return base.select(*id_cols, s).select(
        *id_cols, F.col("s.sub").alias("sub"), F.col("s.sv").alias("sv")
    )


def _pq_l2(a: str, b: str) -> Column:
    """Left-associative ``Σ (a_j − b_j)²`` fold — the exact IEEE-double
    sequence the DuckDB gate oracle replays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pq_encode(
    df: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    codes_col: str = "pq_codes",
) -> DataFrame:
    """Product-quantization encoding (Jégou et al. 2011): L2-normalize,
    split the vector into ``m`` contiguous subspaces, and store per
    subspace the id of the nearest codeword (argmin L2, ties to the
    smaller code) — ``m`` small ints replace ``dim`` floats, the memory
    move that makes billion-vector search fit a cluster's RAM.

    Physical shape: Arrow-batched ``mapInPandas`` — a pure map stage,
    zero shuffle; the codebook ships in the UDF closure (metadata-sized
    by construction). Each batch is scored against all codewords as
    (batch × ksub) numpy elementwise ops with an EXPLICIT per-dimension
    accumulation loop, so every float — the norm, each squared
    difference, each running sum — follows the same left-associative
    IEEE-double sequence as the declarative ``aggregate``/``zip_with``
    fold (numpy's own ``sum`` would pairwise-associate), keeping the
    codes bit-reproducible for the DuckDB value oracle; ``argmin``
    takes the first minimum = the smaller code on ties. The two
    declarative formulations measured 3-10× slower at m=8, ksub=16:
    codebook-as-plan-literals overflows janino's 64 KB method limit
    (interpreted fallback), and a broadcast-join + struct-min aggregate
    pays ksub× row fan-out through interpreted HOF folds.
    Zero vectors cannot be normalized and are excluded from the output
    (they match nothing in cosine space). Codes are 0-based.
    """
    import numpy as np
    import pandas as pd

    m, dsub = _pq_check(codebooks)
    dim = m * dsub
    # (m, ksub, dsub) codeword tensor, ordered by code id.
    cb = np.array(
        [[cvec for _, cvec in sorted(book)] for book in codebooks],
        dtype=np.float64,
    )
    id_type = df.schema[id_col].dataType.simpleString()

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            # Left-assoc ||v||²: explicit dim loop, not np.sum.
            sq = np.zeros(len(v))
            for j in range(dim):
                sq = sq + v[:, j] * v[:, j]
            nrm = np.sqrt(sq)
            ok = nrm > 0
            v = v[ok] / nrm[ok, None]
            ids = pdf[id_col].to_numpy()[ok]
            codes = np.empty((len(v), m), dtype=np.int32)
            for i in range(m):
                # Left-assoc Σ_j (v_j − c_j)² over (rows × ksub).
                d = np.zeros((len(v), cb.shape[1]))
                for j in range(dsub):
                    t = v[:, i * dsub + j, None] - cb[None, i, :, j]
                    d = d + t * t
                codes[:, i] = np.argmin(d, axis=1)  # first min = low code
            yield pd.DataFrame(
                {id_col: ids, codes_col: list(codes)}
            )

    return df.select(id_col, vec_col).mapInPandas(
        run, schema=f"{id_col} {id_type}, {codes_col} array<int>"
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """PQ approximate top-k by Asymmetric Distance Computation: the
    query stays full-precision; each candidate's similarity is the sum
    over subspaces of a per-query lookup table (inner product of the
    query subvector with the candidate's codeword).

    Scale shape: the LUT (m × ksub doubles per query) is computed in a
    zero-shuffle ``mapInPandas`` stage symmetric with
    :func:`pq_encode` — the codebook rides the UDF closure, each inner
    product uses the same explicit left-associative per-dimension
    accumulation so the floats are bit-reproducible — and ships with
    the broadcast of the (always-small) query frame; per-candidate
    scoring is ``m`` array lookups + adds against the encoded corpus,
    no full-vector math and no shuffle of the corpus beyond the final
    per-query top-k window. The ADC sum is an explicit left-to-right
    add chain (not a SUM aggregate) so the float sequence is
    deterministic for the value oracle. Recall is bounded by
    quantization error; raise ksub/m or re-rank the top-k' with true
    vectors downstream.
    """
    import numpy as np
    import pandas as pd

    m, dsub = _pq_check(codebooks)
    dim = m * dsub
    enc = pq_encode(corpus, codebooks, vec_col, id_col)

    cbt = np.array(
        [[cvec for _, cvec in sorted(book)] for book in codebooks],
        dtype=np.float64,
    )
    qid_type = queries.schema[query_id_col].dataType.simpleString()

    def build_lut(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            sq = np.zeros(len(v))
            for j in range(dim):
                sq = sq + v[:, j] * v[:, j]
            nrm = np.sqrt(sq)
            ok = nrm > 0
            v = v[ok] / nrm[ok, None]
            qids = pdf[query_id_col].to_numpy()[ok]
            luts = np.empty((len(v), m, cbt.shape[1]))
            for i in range(m):
                ipacc = np.zeros((len(v), cbt.shape[1]))
                for j in range(dsub):
                    ipacc = ipacc + (
                        v[:, i * dsub + j, None] * cbt[None, i, :, j]
                    )
                luts[:, i, :] = ipacc
            yield pd.DataFrame(
                {
                    query_id_col: qids,
                    "_lut": [
                        [list(row) for row in lt] for lt in luts
                    ],
                }
            )

    lut = queries.select(query_id_col, vec_col).mapInPandas(
        build_lut,
        schema=f"{query_id_col} {qid_type}, _lut array<array<double>>",
    )

    score = None
    for i in range(m):
        term = F.element_at(
            F.element_at("_lut", i + 1),
            F.element_at(F.col("pq_codes"), i + 1) + 1,
        )
        score = term if score is None else score + term
    scored = enc.crossJoin(F.broadcast(lut)).select(
        query_id_col, id_col, score.alias("adc_score")
    )
    return _topk_per(scored, query_id_col, "adc_score", id_col, k)


def train_pq_codebooks(
    df: DataFrame,
    m: int = 8,
    ksub: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_iter: int = 5,
    seed: int = 42,
    tol: float = 1e-6,
) -> list[list[tuple[int, list[float]]]]:
    """Per-subspace L2 Lloyd iterations over the normalized vectors —
    the PQ codebook trainer. Same cluster-friendly shape as
    :func:`train_kmeans`: deterministic hash-sample init, the same
    broadcast-join + struct-min assignment :func:`pq_encode` uses, one
    hash-aggregate chain per round, and only the m × ksub × dsub
    codeword matrix (metadata-sized) reaches the driver. All m
    subspaces train in the SAME jobs — the per-round aggregate is keyed
    by (subspace, code, pos), so the round count, not m, bounds the
    number of passes over the data."""
    dim_row = df.select(
        F.size(F.col(vec_col)).alias("d")
    ).limit(1).collect()
    if not dim_row:
        raise ValueError("cannot train PQ codebooks on an empty frame")
    dim = dim_row[0]["d"]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m

    spark = df.sparkSession
    base = df.select(
        F.col(id_col).alias("_id"), normalize(vec_col).alias("_cv")
    ).filter(F.col("_cv").isNotNull())
    base = base.persist()
    try:
        # Deterministic init: the ksub smallest-hash rows seed every
        # subspace's codewords (sliced per subspace).
        seeds = (
            base.withColumn(
                "_h", F.xxhash64(F.col("_id"), F.lit(seed))
            )
            .orderBy("_h", "_id")
            .limit(ksub)
            .select("_cv")
            .collect()
        )
        if len(seeds) < ksub:
            raise ValueError(
                f"need at least ksub={ksub} vectors, got {len(seeds)}"
            )
        books = [
            [
                (c, [float(x) for x in seeds[c]["_cv"][i * dsub:(i + 1) * dsub]])
                for c in range(ksub)
            ]
            for i in range(m)
        ]
        subs = _pq_sub_rows(base, m, dsub, ["_id"])
        for _ in range(max_iter):
            cb = _pq_codebook_df(spark, books)
            assigned = (
                subs.join(F.broadcast(cb), "sub")
                .select(
                    "_id",
                    "sub",
                    "sv",
                    "code",
                    _pq_l2("sv", "cw").alias("_d"),
                )
                .groupBy("_id", "sub")
                .agg(
                    F.min(F.struct("_d", "code")).alias("s"),
                    # sv is identical across the group's rows, so
                    # first() is deterministic here.
                    F.first("sv").alias("sv"),
                )
                .select("sub", F.col("s.code").alias("code"), "sv")
            )
            rows = (
                assigned.select("sub", "code", F.posexplode("sv"))
                .groupBy("sub", "code", "pos")
                .agg(F.avg("col").alias("mval"))
                .groupBy("sub", "code")
                .agg(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "mval"))
                    ).alias("dims")
                )
                .select(
                    "sub",
                    "code",
                    F.transform("dims", lambda d: d["mval"]).alias("cw"),
                )
                .collect()  # m × ksub rows — metadata-sized
            )
            new = {(r["sub"], r["code"]): list(r["cw"]) for r in rows}
            movement = 0.0
            next_books = []
            for i, book in enumerate(books):
                nb = []
                for code, old in book:
                    cand = [
                        float(x) for x in new.get((i, code), old)
                    ]
                    movement += sum(
                        (a - b) ** 2 for a, b in zip(cand, old)
                    )
                    nb.append((code, cand))
                next_books.append(nb)
            books = next_books
            if movement < tol:
                break
        return books
    finally:
        base.unpersist()


def ivf_pq_index(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[list[tuple[int, list[float]]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-PQ index build (Jégou et al. 2011, the billion-scale FAISS
    ``IVFx,PQy`` shape): each vector is assigned to its nearest coarse
    centroid (inverted list) and its RESIDUAL against that centroid is
    product-quantized — (id, list_id, pq_codes) rows replace the full
    vectors.

    One Arrow-batched ``mapInPandas`` pass, zero shuffle; both the
    coarse quantizer and the codebooks ride the UDF closure
    (metadata-sized by construction). All float work uses explicit
    left-associative per-dimension accumulation so norms, similarities,
    residuals and distances are bit-reproducible for the DuckDB value
    oracle; coarse ties resolve to the LARGER list id (matching
    :func:`ivf_topk`'s greatest-of-structs) and code ties to the
    smaller code.
    """
    import numpy as np
    import pandas as pd

    m, dsub = _pq_check(codebooks)
    dim = m * dsub
    cents = sorted(centroids)
    lids = np.array([int(i) for i, _ in cents])
    C = np.array([_normalized_lit(c) for _, c in cents], dtype=np.float64)
    cb = np.array(
        [[cvec for _, cvec in sorted(book)] for book in codebooks],
        dtype=np.float64,
    )
    id_type = corpus.schema[id_col].dataType.simpleString()

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            sq = np.zeros(len(v))
            for j in range(dim):
                sq = sq + v[:, j] * v[:, j]
            nrm = np.sqrt(sq)
            ok = nrm > 0
            v = v[ok] / nrm[ok, None]
            ids = pdf[id_col].to_numpy()[ok]
            sims = np.zeros((len(v), len(C)))
            for j in range(dim):
                sims = sims + v[:, j, None] * C[None, :, j]
            # argmax with ties to the LARGER list id: first max of the
            # reversed columns.
            best = (len(C) - 1) - np.argmax(sims[:, ::-1], axis=1)
            r = v - C[best]
            codes = np.empty((len(v), m), dtype=np.int32)
            for i in range(m):
                d = np.zeros((len(v), cb.shape[1]))
                for j in range(dsub):
                    t = r[:, i * dsub + j, None] - cb[None, i, :, j]
                    d = d + t * t
                codes[:, i] = np.argmin(d, axis=1)
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "list_id": lids[best],
                    "pq_codes": list(codes),
                }
            )

    return corpus.select(id_col, vec_col).mapInPandas(
        run,
        schema=f"{id_col} {id_type}, list_id int, pq_codes array<int>",
    )


def _ivf_pq_probes(
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[list[tuple[int, list[float]]]],
    nprobe: int,
    vec_col: str,
    query_id_col: str,
) -> DataFrame:
    """Probe frame for IVF-PQ search: one row per (query, probed list)
    carrying the q·centroid scalar and the query's ADC LUT. Zero
    shuffle — one Arrow map stage; queries are small by contract."""
    import numpy as np
    import pandas as pd

    m, dsub = _pq_check(codebooks)
    dim = m * dsub
    cents = sorted(centroids)
    lids = np.array([int(i) for i, _ in cents])
    C = np.array([_normalized_lit(c) for _, c in cents], dtype=np.float64)
    cb = np.array(
        [[cvec for _, cvec in sorted(book)] for book in codebooks],
        dtype=np.float64,
    )
    qid_type = queries.schema[query_id_col].dataType.simpleString()

    def probe(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            sq = np.zeros(len(v))
            for j in range(dim):
                sq = sq + v[:, j] * v[:, j]
            nrm = np.sqrt(sq)
            ok = nrm > 0
            v = v[ok] / nrm[ok, None]
            qids = pdf[query_id_col].to_numpy()[ok]
            sims = np.zeros((len(v), len(C)))
            for j in range(dim):
                sims = sims + v[:, j, None] * C[None, :, j]
            luts = np.empty((len(v), m, cb.shape[1]))
            for i in range(m):
                acc = np.zeros((len(v), cb.shape[1]))
                for j in range(dsub):
                    acc = acc + v[:, i * dsub + j, None] * cb[None, i, :, j]
                luts[:, i, :] = acc
            out = {
                query_id_col: [],
                "list_id": [],
                "qc": [],
                "_lut": [],
            }
            for row in range(len(v)):
                # nprobe lists by (sim desc, list_id desc) — the same
                # ordering as ivf_topk's sorted struct slice.
                order = sorted(
                    range(len(C)),
                    key=lambda c: (-sims[row, c], -lids[c]),
                )[:nprobe]
                for c in order:
                    out[query_id_col].append(qids[row])
                    out["list_id"].append(lids[c])
                    out["qc"].append(sims[row, c])
                    out["_lut"].append(
                        [list(r) for r in luts[row]]
                    )
            yield pd.DataFrame(out)

    return queries.select(query_id_col, vec_col).mapInPandas(
        probe,
        schema=(
            f"{query_id_col} {qid_type}, list_id int, qc double,"
            " _lut array<array<double>>"
        ),
    )


def _adc_topk(
    index: DataFrame,
    probes: DataFrame,
    m: int,
    k: int,
    id_col: str,
    query_id_col: str,
) -> DataFrame:
    """ADC scoring join + per-query top-k over a (persisted or
    freshly-built) IVF-PQ index and a probe frame."""
    score = F.col("qc")
    for i in range(m):
        score = score + F.element_at(
            F.element_at("_lut", i + 1),
            F.element_at(F.col("pq_codes"), i + 1) + 1,
        )
    scored = index.join(F.broadcast(probes), "list_id").select(
        query_id_col, id_col, score.alias("adc_score")
    )
    return _topk_per(scored, query_id_col, "adc_score", id_col, k)


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[list[tuple[int, list[float]]]],
    k: int = 10,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    index: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ approximate top-k: queries probe their ``nprobe`` nearest
    inverted lists and score candidates by residual-ADC —
    ``score = q·c_list + Σᵢ LUT[i][codeᵢ]`` (the q·residual part is the
    same codebook LUT as plain PQ, since the codebook is shared across
    lists; the q·centroid part is one scalar per probe).

    Scale shape: the index (:func:`ivf_pq_index`) and the probe frame
    are both zero-shuffle map stages; candidate generation is an
    equi-join on ``list_id`` with the (always-small) probe side
    broadcast — fan-out is list-sized, never |corpus| × |queries| — and
    the only corpus movement is the final per-query top-k window over
    probed candidates. The ADC sum is an explicit left-to-right add
    chain for the value oracle. Recall grows with nprobe and ksub;
    re-rank the top-k' with true vectors downstream for exactness.

    ``index``: a prebuilt :func:`ivf_pq_index` frame (e.g. reloaded
    from a persisted table via :func:`load_ivf_pq_index`) — pass it to
    skip the per-search encode; it must have been built with the SAME
    centroids/codebooks or the ADC scores are meaningless.
    """
    m, _ = _pq_check(codebooks)
    if index is None:
        index = ivf_pq_index(corpus, centroids, codebooks, vec_col, id_col)
    probes = _ivf_pq_probes(
        queries, centroids, codebooks, nprobe, vec_col, query_id_col
    )
    return _adc_topk(index, probes, m, k, id_col, query_id_col)


def persist_ivf_pq_index(
    index: DataFrame, table: str, n_buckets: int = 8
) -> None:
    """Persist an IVF-PQ index as a catalog table BUCKETED BY
    ``list_id`` (sources/bucketed.write_bucketed): the index is built
    once and searched many times, so the one-time write buys every
    subsequent search a pre-clustered scan where a probed-lists filter
    prunes to matching bucket files (``SelectedBucketsCount`` in the
    plan) instead of scanning the whole index. At 100 TB the index is
    ~1-2% of corpus bytes (codes, not vectors) but still far too big to
    rebuild per search — the lifecycle IS the production shape."""
    from mhm_data_pipelines_spark.sources.bucketed import write_bucketed

    write_bucketed(index, table, keys=["list_id"], n_buckets=n_buckets)


def append_to_ivf_pq_index(
    new_vectors: DataFrame,
    table: str,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[list[tuple[int, list[float]]]],
    n_buckets: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """INCREMENTAL index maintenance: encode only the new vectors
    (:func:`ivf_pq_index` is a zero-shuffle map — per-row encode is
    deterministic given fixed quantizers, so append ≡ rebuild row-set,
    asserted by the ``ann_index_append`` gate query) and APPEND them to
    the persisted bucketed table with the SAME bucket spec — Spark
    co-buckets the new files, so searches stay bucket-pruned with no
    rewrite of the existing index. The arrival-batch shape of a live
    corpus: daily embeddings append in minutes while the quantizers
    stay frozen; retrain + full rebuild only when recall drift (watch
    ``ivf_recall``) says the coarse centroids went stale. Caller must
    pass the same quantizers and bucket count as the original build —
    mixed-quantizer indexes are meaningless, so drift here is on the
    caller's catalog discipline (at 100 TB: store quantizer versions
    in the table properties)."""
    from mhm_data_pipelines_spark.sources.bucketed import write_bucketed

    idx = ivf_pq_index(new_vectors, centroids, codebooks, vec_col, id_col)
    write_bucketed(
        idx, table, keys=["list_id"], n_buckets=n_buckets, mode="append"
    )


def load_ivf_pq_index(spark, table: str) -> DataFrame:
    """Reload a persisted IVF-PQ index table (bucket metadata rides the
    catalog entry, so downstream list_id filters bucket-prune)."""
    return spark.table(table)


def ivf_pq_search_table(
    spark,
    table: str,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[list[tuple[int, list[float]]]],
    k: int = 10,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Search a PERSISTED IVF-PQ index end-to-end: compute the probe
    frame, collect the probed list ids (bounded: ≤ |queries| × nprobe
    ints — the one collect, documented), PUSH them as an ``isin``
    filter onto the bucketed index scan so only the matching buckets'
    files are read, then ADC-score and top-k exactly as
    :func:`ivf_pq_topk`. Results are identical to an in-memory build
    with the same quantizers (asserted by the ``ann_index_roundtrip``
    gate query); the plan difference is the point — no per-search
    index encode, no full index scan."""
    m, _ = _pq_check(codebooks)
    probes = _ivf_pq_probes(
        queries, centroids, codebooks, nprobe, vec_col, query_id_col
    )
    # Reuse the tiny probe frame across the collect and the join.
    probes = probes.localCheckpoint(eager=False)
    probed_lists = sorted(
        {r["list_id"] for r in probes.select("list_id").distinct().collect()}
    )
    index = load_ivf_pq_index(spark, table).filter(
        F.col("list_id").isin(probed_lists)
    )
    return _adc_topk(index, probes, m, k, id_col, query_id_col)


def knn_graph(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    k: int = 10,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    blas: bool | None = None,
) -> DataFrame:
    """k-nearest-neighbor GRAPH: top-k cosine neighbors for EVERY
    vector (the all-queries twin of :func:`ivf_topk`) — the substrate
    for SemDeDup-style clustering, kNN classification, and
    graph-centrality corpus selection (``operators.graph.pagerank``
    over the resulting edges).

    Unlike :func:`ivf_topk`, the query side IS the corpus, so nothing
    broadcasts: data vectors assign to their single nearest list
    (zero-shuffle literal-quantizer projection, see
    :func:`_centroid_sim_structs`), query probes explode to their
    ``nprobe`` nearest lists, and data and probes cogroup on
    ``list_id`` — both sides shuffle once on the list key, pair fan-out
    is bounded by list sizes (quantizer balance), never |corpus|².

    Each cogroup is one Arrow stage that computes a single numpy
    ``probes @ data.T`` matrix product with a per-list partial top-k,
    so only ``|queries| × nprobe × k`` candidate rows (not the full
    pair fan-out) reach the final per-query window. Each cogroup holds
    one list in memory: balance the quantizer (or sub-bucket hot lists)
    so a list fits an executor.

    Each (query, data) pair arises at most once — the data side lives
    in exactly one list — so no distinct is needed. ``nprobe =
    len(centroids)`` makes the graph EXACT (every list probed);
    smaller ``nprobe`` trades recall for a proportionally smaller
    join, same as IVF search. Self-edges are excluded. Vectors that are
    zero, NULL, or hold a NULL or NaN element match nothing: they get
    no edges and are nobody's neighbor.

    ``blas`` is deprecated and ignored: the cogrouped scorer above is
    the only scoring path.
    """
    import numpy as np
    import pandas as pd

    if blas is not None:
        warnings.warn(
            "knn_graph(blas=...) is ignored: the cogrouped scorer is the "
            "only scoring path",
            DeprecationWarning,
            stacklevel=2,
        )
    # Zero-norm, NULL and NULL-element vectors normalize to NULL (the
    # NULL-cosine contract: no direction → cosine undefined → matches
    # nothing). Drop them HERE: the cogroup's np.stack cannot stack a
    # NULL (shape mismatch) — found by the sf1 degenerate-row probe
    # fixtures. exists(x ≠ 0) short-circuits at the first nonzero
    # element, and array_compact keeps every element only when none is
    # NULL — filtering on normalize(...).isNotNull() instead re-ran the
    # full O(d) norm fold per row and cost ~1.4× on the whole graph.
    # NaN elements pass the filter; the scorer discards NaN cosines.
    v = F.col(vec_col)
    base = df.filter(
        F.exists(v, lambda x: x != F.lit(0.0))
        & (F.size(F.array_compact(v)) == F.size(v))
    ).select(F.col(id_col), normalize(vec_col).alias("v"))
    data = base.withColumn("list_id", _nearest_list(centroids, "v"))
    q = base.select(
        F.col(id_col).alias("qid"),
        F.col("v").alias("qv"),
        F.explode(_probe_lists(centroids, "v", nprobe)).alias("list_id"),
    )

    def score_list(left: "pd.DataFrame", right: "pd.DataFrame"):
        if left.empty or right.empty:
            # Empty object columns coerce to any declared Arrow
            # type (the id dtype follows id_col, not a hardcode).
            return pd.DataFrame({"qid": [], "nid": [], "cosine": []})
        dmat = np.stack(left["v"].to_numpy()).astype(np.float64)
        qmat = np.stack(right["qv"].to_numpy()).astype(np.float64)
        sims = qmat @ dmat.T  # |probes| × |list|
        dids = left[id_col].to_numpy()
        qids = right["qid"].to_numpy()
        # Self-mask in place (a query never neighbors itself).
        sims[dids[None, :] == qids[:, None]] = -np.inf
        nd = sims.shape[1]
        # Vectorized preselect: argpartition the whole matrix to a
        # small per-row candidate set, then tie-sort only that set
        # with the window's (-sim, id) rule. The +8 slack usually
        # absorbs equal-cosine ties at the k-th value; when a tie
        # group extends BEYOND the preselected set (>8 duplicated
        # vectors — plausible in a dedup-oriented corpus), the
        # boundary check below widens that row to every candidate
        # ≥ the boundary value, so the (cosine desc, id asc) order
        # stays exactly the final window's.
        take = min(k + 8, nd)
        pre = np.argpartition(-sims, take - 1, axis=1)[:, :take]
        out_q, out_n, out_c = [], [], []
        for row in range(sims.shape[0]):
            cand = pre[row]
            cand_sims = sims[row, cand]
            # Drops the self-mask and NaN cosines.
            keep = cand_sims > -np.inf
            cand = cand[keep]
            cand_sims = cand_sims[keep]
            if cand.size == 0:
                continue
            kk = min(k, cand.size)
            # Boundary value = k-th largest of the preselect; if any
            # non-preselected candidate also reaches it, the tie
            # group crosses the preselect boundary — widen to every
            # candidate ≥ bval (one O(n) scan, tie rows only).
            bval = np.partition(cand_sims, -kk)[-kk]
            row_sims = sims[row]
            if np.count_nonzero(row_sims >= bval) > np.count_nonzero(
                cand_sims >= bval
            ):
                cand = np.flatnonzero(row_sims >= bval)
                cand_sims = row_sims[cand]
            order = np.lexsort((dids[cand], -cand_sims))[:kk]
            out_q.extend([qids[row]] * kk)
            out_n.extend(dids[cand[order]].tolist())
            out_c.extend(cand_sims[order].tolist())
        return pd.DataFrame({"qid": out_q, "nid": out_n, "cosine": out_c})

    id_type = df.schema[id_col].dataType.simpleString()
    scored = (
        data.groupBy("list_id")
        .cogroup(q.groupBy("list_id"))
        .applyInPandas(
            score_list,
            schema=f"qid {id_type}, nid {id_type}, cosine double",
        )
    )
    return _topk_per(scored, "qid", "cosine", "nid", k)


def embedding_outliers(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    group_col: str | None = None,
    z_threshold: float = 2.0,
) -> DataFrame:
    """Centroid-distance outlier report — the semantic-filtering
    complement of SemDeDup: SemDeDup removes points too CLOSE to their
    cluster center (redundancy), this flags points too FAR (noise, OCR
    garbage, mislabeled modality) for exclusion or manual review, as in
    prototypicality-based pruning (Sorscher et al. 2022, "Beyond neural
    scaling laws").

    Per group (``group_col``; the whole corpus when None): the mean
    vector via :func:`label_centroids`, each row's L2 distance to its
    group centroid, and the within-group z-score of that distance.
    Returns ``(id_col, group, dist, z_score, is_outlier)`` where
    ``is_outlier = z_score > z_threshold``; a zero-variance group
    (all points equidistant) z-scores to 0.0, never NaN.

    Scale shape: centroids are ONE (group, pos, val) shuffle; both the
    centroid table (n_groups rows) and the distance-stats table
    (n_groups rows) join back by broadcast — the corpus never
    self-joins. The narrow (id, group, dist) projection has two
    consumers (stats agg, final join) and Spark plans subtrees per
    consumer, so it is lazily ``localCheckpoint``\\ ed — ONE corpus
    scan instead of two.
    """
    g = group_col
    if g is None:
        df = df.withColumn("_g", F.lit(0))
        g = "_g"
    cents = label_centroids(df, vec_col=vec_col, label_col=g)
    dsq = F.aggregate(
        F.zip_with(
            F.col(vec_col),
            F.col("centroid"),
            lambda x, c: (x.cast("double") - c) * (x.cast("double") - c),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    dists = (
        df.join(F.broadcast(cents), on=g)
        .withColumn("dist", F.sqrt(dsq))
        .select(id_col, F.col(g).alias("group"), "dist")
        .localCheckpoint(eager=False)
    )
    stats = dists.groupBy("group").agg(
        F.avg("dist").alias("_mu"),
        F.stddev_pop("dist").alias("_sd"),
    )
    out = dists.join(F.broadcast(stats), on="group").select(
        id_col,
        "group",
        "dist",
        F.when(F.col("_sd") > 0, (F.col("dist") - F.col("_mu")) / F.col("_sd"))
        .otherwise(F.lit(0.0))
        .alias("z_score"),
    )
    return out.withColumn(
        "is_outlier", F.col("z_score") > F.lit(z_threshold)
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    label_col: str = "label",
    min_cosine: float | None = None,
) -> DataFrame:
    """Hard-negative mining for contrastive / retrieval training (DPR,
    Karpukhin et al. 2020 §3.2): per query, the top-``k`` most-similar
    corpus vectors with a DIFFERENT label — near-misses that teach the
    boundary, where random negatives teach nothing. ``min_cosine`` sets
    an optional semi-hard floor (drop negatives so distant they are
    trivial). Returns ``(query_id, id, neg_label, cosine)``, ties
    broken by id.

    Scale shape: the query side broadcasts (training batches of
    queries are small by contract); the label-mismatch condition is in
    the join, so same-label pairs are never scored. Per-query ranking
    is one window over the scored candidates. For query sets too large
    to broadcast, run :func:`knn_graph` over queries and corpus
    together (nothing broadcasts) and anti-filter same-label edges
    afterwards instead.
    """
    q = queries.select(
        F.col(query_id_col),
        F.col(label_col).alias("_qlabel"),
        normalize(vec_col).alias("qv"),
    )
    c = corpus.select(
        F.col(id_col), F.col(label_col), normalize(vec_col).alias("cv")
    )
    scored = c.join(
        F.broadcast(q), on=F.col(label_col) != F.col("_qlabel")
    ).select(
        query_id_col,
        id_col,
        F.col(label_col).alias("neg_label"),
        dot("qv", "cv").alias("cosine"),
    )
    if min_cosine is not None:
        scored = scored.filter(F.col("cosine") >= F.lit(min_cosine))
    return _topk_per(scored, query_id_col, "cosine", id_col, k)


def _round_half_up(x: float, q: int) -> float:
    """Replicate Spark's ``F.round`` on doubles (BigDecimal HALF_UP over
    the shortest decimal representation) so driver-side greedy rounds
    land on the identical values the distributed path produces."""
    import decimal

    return float(
        decimal.Decimal(repr(x)).quantize(
            decimal.Decimal(1).scaleb(-q), rounding=decimal.ROUND_HALF_UP
        )
    )


def _fold_dot(a: list[float], b: list[float]) -> float:
    """Left-fold dot product — the exact IEEE add sequence of
    ``functions.vectors.dot`` (F.aggregate over zip_with), so driver
    cosines are bit-identical to the codegen'd expression path."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def _fold_norm(a: list[float]) -> float:
    import math

    acc = 0.0
    for x in a:
        acc = acc + x * x
    return math.sqrt(acc)


def _mmr_greedy_driver(
    rows, lam: float, k: int, quantize: int
) -> list[tuple]:
    """Driver-side greedy MMR over an already-collected candidate pool:
    bit-for-bit the same picks as the distributed per-round path, via
    left-fold cosines (same IEEE sequence as the Column expressions)
    and HALF_UP per-round quantization (same as F.round). Incremental
    max-sim update — each round scores every live candidate against
    only the NEWEST pick, so total work is O(|pool| * k * dim)."""
    olam = 1.0 - lam
    cands = [
        (r["_id"], [float(x) for x in r["_v"]], float(r["_rel"]))
        for r in rows
    ]
    norms = [_fold_norm(v) for _, v, _ in cands]
    maxsim = [float("-inf")] * len(cands)
    alive = [True] * len(cands)
    picks: list[tuple] = []
    for rnd in range(1, k + 1):
        best = None
        for i, (cid, _v, rel) in enumerate(cands):
            if not alive[i]:
                continue
            if rnd == 1:
                score = rel
            else:
                score = _round_half_up(
                    lam * rel - olam * maxsim[i], quantize
                )
            key = (-score, cid)
            if best is None or key < best[0]:
                best = (key, i, score)
        if best is None:
            break
        _, bi, bscore = best
        bid, bvec, _ = cands[bi]
        picks.append((bid, rnd, float(bscore)))
        alive[bi] = False
        bnorm = norms[bi]
        for i, (_cid, v, _rel) in enumerate(cands):
            if not alive[i]:
                continue
            denom = norms[i] * bnorm
            if denom > 0:
                s = _fold_dot(v, bvec) / denom
                if s > maxsim[i]:
                    maxsim[i] = s
    return picks


def mmr_select(
    corpus: DataFrame,
    query_vec: list[float],
    k: int = 8,
    lam: float = 0.7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    pool: int | None = None,
) -> DataFrame:
    """Maximal Marginal Relevance selection (Carbonell & Goldstein,
    SIGIR'98): greedily pick ``k`` items maximizing

        ``lam * cos(v, q)  -  (1 - lam) * max_{s in selected} cos(v, s)``

    — the standard diversity-aware sampler for eval-set construction
    and "relevant but not redundant" few-shot pools.

    Scale shape — TWO paths:

    * ``pool=M`` (production): ONE distributed relevance pass, then a
      ``TakeOrdered(M)`` candidate pool (rerank-top-M MMR, the standard
      industrial shape) collected to the driver — bounded by contract:
      M rows × dim doubles, keep M ≲ 100k — where the greedy loop runs
      in-process with incremental max-sim updates (O(M·k·dim) scalar
      work, zero further cluster jobs). Corpus passes: exactly 1.
      When ``M ≥ |corpus|`` the result is bit-identical to the exact
      path (left-fold cosines + HALF_UP rounds replicate the Column
      arithmetic — asserted in tests); when M < |corpus| it is MMR over
      the top-M relevance pool.
    * ``pool=None`` (exact): ``k`` sequential rounds, each ONE map-only
      corpus pass — query and selected vectors ride in as literal
      arrays, per-row work is k+1 codegen'd cosine folds, NO join, NO
      shuffle, TakeOrdered(1) argmax per round; driver traffic k rows.
      Relevance is computed once and lazily localCheckpoint'ed so round
      j does not replay rounds 1..j-1's filters over the scan lineage.

    Cross-engine determinism: relevance and every round's score are
    QUANTIZED to 7 decimals before the argmax, ties broken
    by id asc — the unrolled SQL oracle replays the identical greedy
    recursion value-for-value.

    Returns ``(id_col, pick_order, score)`` — pick_order 1..k; score
    is the quantized MMR objective at selection time (round 1: pure
    relevance). Zero-norm vectors never qualify (NULL cosine).
    """
    if not 0.0 < lam <= 1.0:
        raise ValueError(f"lam must be in (0,1], got {lam}")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    spark = corpus.sparkSession
    id_type = corpus.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_type}, pick_order int, score double"
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    rel_expr = corpus.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        F.round(cosine(F.col(vec_col), q), _MMR_DIGITS).alias("_rel"),
    ).filter(F.col("_rel").isNotNull())
    if pool is not None:
        if pool < k:
            raise ValueError(f"pool must be >= k, got {pool} < {k}")
        rows = (
            rel_expr.orderBy(F.desc("_rel"), F.col("_id"))
            .limit(pool)
            .collect()  # bounded by contract: pool rows × dim doubles
        )
        picks = _mmr_greedy_driver(rows, lam, k, _MMR_DIGITS)
        return spark.createDataFrame(picks, schema=out_schema)
    rel = rel_expr.localCheckpoint(eager=False)
    olam = 1.0 - lam
    picks: list[tuple] = []
    sel_vecs: list[list[float]] = []
    remaining = rel
    for rnd in range(1, k + 1):
        if not sel_vecs:
            score = F.col("_rel")
        else:
            sims = [
                cosine(F.col("_v"), F.array(*[F.lit(float(x)) for x in sv]))
                for sv in sel_vecs
            ]
            maxsim = sims[0] if len(sims) == 1 else F.greatest(*sims)
            score = F.round(
                F.lit(lam) * F.col("_rel") - F.lit(olam) * maxsim, _MMR_DIGITS
            )
        top = (
            remaining.select("_id", "_v", score.alias("_score"))
            .orderBy(F.desc("_score"), F.col("_id"))
            .limit(1)
            .collect()  # bounded: exactly one row per round, k rounds
        )
        if not top:
            break
        row = top[0]
        picks.append((row["_id"], rnd, float(row["_score"])))
        sel_vecs.append([float(x) for x in row["_v"]])
        remaining = remaining.filter(F.col("_id") != F.lit(row["_id"]))
    return spark.createDataFrame(picks, schema=out_schema)


def mutual_nearest_pairs(
    corpus: DataFrame,
    centroids,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    nprobe: int | None = None,
) -> DataFrame:
    """Mutual nearest-neighbor pairs: (a, b) with a < b where b is a's
    cosine top-1 AND a is b's — the reciprocal-best-match criterion
    used for translation pair mining (Artetxe & Schwenk 2019 margin
    precursor), duplicate confirmation, and contrastive positives
    that are safe to trust without a threshold.

    Built on :func:`knn_graph` at k=1; the mutuality check is one
    self-equi-join of the N-row top-1 table on the canonical
    (min, max) pair key — nothing quadratic anywhere.

    ``nprobe`` defaults to ``min(8, len(centroids))`` — SELECTIVE
    probing, the production plan: every vector scores against its 8
    nearest lists only, so work scales with ``n x avg_list_size x
    nprobe``, not ``n^2``. Pass ``nprobe=len(centroids)`` for the
    provably-exact exhaustive graph (that IS brute force in BLAS —
    only worth it for oracles and recall certification; the
    ``mutual_knn_recall`` registry query measures what the selective
    default gives up, the same pattern as ``ivf_recall``).

    .. versionchanged:: round 6
       The default ``nprobe`` changed from exhaustive (provably exact)
       to ``min(8, len(centroids))`` — callers relying on the old
       default now get APPROXIMATE pairs (recall certified by
       ``mutual_knn_recall``). Pass ``nprobe=len(centroids)``
       explicitly to restore the exact behavior.

    Returns ``(id_a, id_b, cosine)``.
    """
    top1 = knn_graph(
        corpus,
        centroids,
        k=1,
        nprobe=nprobe if nprobe is not None else min(8, len(centroids)),
        vec_col=vec_col,
        id_col=id_col,
    )
    e = top1.select(
        F.least("qid", "nid").alias("id_a"),
        F.greatest("qid", "nid").alias("id_b"),
        F.col("cosine"),
    )
    return (
        e.groupBy("id_a", "id_b")
        .agg(F.count("*").alias("_n"), F.first("cosine").alias("cosine"))
        .filter(F.col("_n") == 2)  # both directions chose each other
        .select("id_a", "id_b", "cosine")
    )
