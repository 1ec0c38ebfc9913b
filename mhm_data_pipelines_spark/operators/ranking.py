"""Bradley-Terry strength ratings from pairwise comparisons.

No reference counterpart (north-star LLM-pipeline extension): RLHF /
arena-style evaluation pipelines reduce to "here are millions of
pairwise preferences (A beat B); rate the items" — the Bradley-Terry
model is the standard answer (Chatbot-Arena-style leaderboards, reward
-model calibration checks, annotator-quality scoring). This is the
natural consumer of :mod:`.preferences`' pair builder.

Model: ``P(i beats j) = p_i / (p_i + p_j)``. Fitted by the classic MM
update (Hunter, "MM algorithms for generalized Bradley-Terry models",
Annals of Statistics 2004):

    ``p_i ← w_i / Σ_{j≠i} n_ij / (p_i + p_j)``

where ``w_i`` is item i's total wins and ``n_ij`` the number of
comparisons between i and j; ratings are then normalized to mean 1.

Scale shape (the part that matters at 100 TB of comparisons):

* The raw comparison stream is reduced ONCE by two hash aggregates —
  per-item wins ``w_i`` and per-unordered-pair counts ``n_ij``. Those
  tables are ``O(K)`` / ``O(K²)`` for K items (models, annotators,
  policies — thousands, not billions), so every MM iteration runs on
  the reduced tables only; the comparison stream is never re-scanned.
* Each iteration is one ``O(K²)`` join (ratings attach to both ends of
  the directed pair table — AQE broadcasts the K-row ratings side) and
  one hash aggregate; the mean for normalization is a single-row
  aggregate broadcast back. The driver loop is control flow only.
* Lineage is truncated per round with ``localCheckpoint`` (same
  discipline as :mod:`.graph` / :mod:`.components`) so ``iterations``
  rounds don't build an ``iterations``-deep plan over a K-row table.

Cross-engine float determinism: each iteration's per-item denominator
and the normalization mean are float sums in engine-arbitrary order,
so ratings are QUANTIZED to 9 decimals at the end of every
iteration — per-step ordering drift (~1e-15) is absorbed and both
engines enter the next iteration from bit-identical state. The DuckDB
oracle unrolls the identical recurrence (fixed iterations, same
quantization), so agreement is value-for-value.

Semantics notes: self-comparisons (i vs i) carry no information and
are dropped; an item appearing only as a loser gets rating 0 after one
iteration (w_i = 0) and stays there — the MM fixed point for a
never-winner; items never compared at all do not appear.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["bradley_terry", "ranking_metrics"]

#: Decimals every iteration's ratings are quantized to (see module
#: doc); the driver and distributed loops must round alike.
_DIGITS = 9

#: Directed pair-table size up to which bradley_terry runs its MM loop
#: driver-side in numpy; past it the loop stays distributed.
_DRIVER_MAX_PAIRS = 2_000_000


def bradley_terry(
    comparisons: DataFrame,
    winner_col: str = "winner",
    loser_col: str = "loser",
    iterations: int = 8,
) -> DataFrame:
    """Fit Bradley-Terry ratings over ``(winner, loser)`` rows.

    Returns ``(item, rating)`` — ratings normalized to mean 1.0 and
    rounded to 9 decimals (the per-iteration quantization
    that makes the recurrence engine-reproducible; see module doc).

    ``iterations`` is a fixed count, not a convergence test — fixed
    plans are reproducible and externally verifiable; callers wanting
    convergence run a second pass and compare.

    Execution strategy: the distributed reductions always run on the
    cluster; the MM loop itself runs DRIVER-SIDE in numpy whenever the
    directed pair table fits ``_DRIVER_MAX_PAIRS`` (a K²-bounded
    metadata collect, same contract as ``pca.fit_pca``'s d² moments —
    K is items, not rows), because 2·iterations cluster jobs over a
    K-row table are pure scheduling latency. Above the bound the loop
    stays fully distributed (one checkpoint every other round). Both
    paths quantize identically per round, so they are value-identical
    and the oracle can't tell them apart.
    """
    wn, ls = winner_col, loser_col
    cmp = comparisons.filter(
        F.col(wn).isNotNull() & F.col(ls).isNotNull() & (F.col(wn) != F.col(ls))
    ).select(F.col(wn).alias("winner"), F.col(ls).alias("loser"))

    # One-pass reductions of the (possibly huge) comparison stream.
    wins = cmp.groupBy(F.col("winner").alias("item")).agg(
        F.count("*").alias("w")
    )
    und = (
        cmp.select(
            F.least("winner", "loser").alias("i"),
            F.greatest("winner", "loser").alias("j"),
        )
        .groupBy("i", "j")
        .agg(F.count("*").alias("n"))
    )
    directed = und.select(
        F.col("i").alias("item"), F.col("j").alias("other"), "n"
    ).unionAll(
        und.select(F.col("j").alias("item"), F.col("i").alias("other"), "n")
    )
    # K-row working set; checkpoint once so every iteration re-reads a
    # materialized table instead of re-deriving the reductions.
    directed = directed.localCheckpoint(eager=False)

    spark = comparisons.sparkSession
    n_pairs = directed.count()  # metadata-sized by the K contract
    if n_pairs <= _DRIVER_MAX_PAIRS:
        rows = directed.collect()  # bounded: <= _DRIVER_MAX_PAIRS rows
        wrows = {r["item"]: r["w"] for r in wins.collect()}  # K rows
        items = sorted({r["item"] for r in rows})
        idx = {it_: i for i, it_ in enumerate(items)}
        import numpy as np

        from pyspark.sql.types import (
            DoubleType,
            StructField,
            StructType,
        )

        item_type = directed.schema["item"].dataType
        schema = StructType(
            [
                StructField("item", item_type),
                StructField("rating", DoubleType()),
            ]
        )
        k = len(items)
        if k == 0:
            return spark.createDataFrame([], schema)
        nbr: list[list[tuple[int, int]]] = [[] for _ in range(k)]
        for r in rows:
            nbr[idx[r["item"]]].append((idx[r["other"]], r["n"]))
        w = np.array([float(wrows.get(it_, 0)) for it_ in items])
        p = np.ones(k)
        for _ in range(iterations):
            raw = np.empty(k)
            for i in range(k):
                denom = sum(n / (p[i] + p[j]) for j, n in nbr[i])
                raw[i] = w[i] / denom
            p = np.round(raw / raw.mean(), _DIGITS)
        out = [(it_, float(p[idx[it_]])) for it_ in items]
        return spark.createDataFrame(out, schema)

    ratings = directed.select("item").distinct().withColumn("p", F.lit(1.0))

    for it in range(iterations):
        denom = (
            directed.join(ratings, "item")
            .join(
                ratings.select(
                    F.col("item").alias("other"), F.col("p").alias("p_other")
                ),
                "other",
            )
            .groupBy("item")
            .agg(
                F.sum(F.col("n") / (F.col("p") + F.col("p_other"))).alias(
                    "denom"
                )
            )
        )
        raw = denom.join(wins, "item", "left").select(
            "item",
            (
                F.coalesce(F.col("w"), F.lit(0)).cast("double")
                / F.col("denom")
            ).alias("r"),
        )
        mean = raw.agg(F.avg("r").alias("_mean"))
        ratings = raw.crossJoin(F.broadcast(mean)).select(
            "item",
            F.round(F.col("r") / F.col("_mean"), _DIGITS).alias("p"),
        )
        # Truncate lineage every OTHER round: ratings feeds both join
        # sides, so an un-checkpointed round squares the plan — one
        # inline round (4 references to a K-row checkpoint scan) is
        # cheap, but 2^iterations is not. Checkpointing half as often
        # halves the per-iteration job-scheduling latency (the tables
        # are K-row; wall time here is driver rounds, not data).
        if it % 2 == 1 or it == iterations - 1:
            ratings = ratings.localCheckpoint(eager=True)
    return ratings.select("item", F.col("p").alias("rating"))


def ranking_metrics(
    df: DataFrame,
    query_col: str = "query_id",
    item_col: str = "item_id",
    score_col: str = "score",
    rel_col: str = "relevance",
    k: int = 10,
) -> DataFrame:
    """Per-query ranked-retrieval quality — nDCG@k, MRR@k, AP@k — over
    ``(query, item, score, relevance)`` rows: the standard offline eval
    for a retrieval / reranking stage (the consumer of
    :func:`~..operators.retrieval.bm25_topk` / ``hybrid_rrf`` outputs,
    and the leaderboard metric for embedding-search pipelines).

    Definitions (Järvelin & Kekäläinen 2002 nDCG; TREC AP/MRR):

    * rank: items ordered per query by ``score`` DESC, ties broken by
      the item key ASC — deterministic in any engine.
    * ``dcg_k   = Σ_{r<=k} (2^rel − 1) / log2(r + 1)`` (graded rel).
    * ``ndcg_k  = dcg_k / idcg_k`` where idcg ranks by ``rel`` DESC
      (same item-key tiebreak); NULL when the query has no positive
      relevance (idcg = 0) — reported, not silently dropped.
    * ``mrr_k   = 1 / rank`` of the first item with rel > 0 inside the
      top-k, else 0.0.
    * ``ap_k    = (Σ_{r<=k, rel_r>0} precision@r) / min(R, k)`` with
      binary rel > 0, R = the query's total positives (inside OR
      outside the top-k — the TREC denominator); NULL when R = 0.

    Returns one row per query: ``(query, n_items, n_pos, dcg_k,
    ndcg_k, mrr_k, ap_k)``, metrics rounded 6dp. Macro-average with a
    plain ``.agg(avg(...))`` — kept out of this builder so the
    per-query table stays joinable against query metadata.

    Scale shape: ONE shuffle partitions by query; both rank windows
    (actual + ideal), the top-k filter, and the final hash aggregate
    all reuse that partitioning. NULL scores/relevance are treated as
    0 relevance and rank wherever the engine's DESC NULL order puts
    them is NOT acceptable — rows with NULL score or relevance are
    dropped up front (documented contract; count them upstream).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    base = df.filter(
        F.col(score_col).isNotNull() & F.col(rel_col).isNotNull()
    ).select(
        F.col(query_col).alias("q"),
        F.col(item_col).alias("it"),
        F.col(score_col).cast("double").alias("sc"),
        F.col(rel_col).cast("double").alias("rel"),
    )
    w_rank = Window.partitionBy("q").orderBy(F.desc("sc"), F.asc("it"))
    w_ideal = Window.partitionBy("q").orderBy(F.desc("rel"), F.asc("it"))
    ranked = base.select(
        "q",
        "rel",
        F.row_number().over(w_rank).alias("r"),
        F.row_number().over(w_ideal).alias("ri"),
    )
    gain = lambda rel: (F.pow(F.lit(2.0), rel) - F.lit(1.0))  # noqa: E731
    disc = lambda r: F.log2(r.cast("double") + F.lit(1.0))  # noqa: E731
    is_pos = (F.col("rel") > 0).cast("int")
    # precision@r numerator needs the running positive count along the
    # ACTUAL ranking — same partitioning, rank-ordered frame.
    w_cum = (
        Window.partitionBy("q")
        .orderBy("r")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ranked = ranked.withColumn("cum_pos", F.sum(is_pos).over(w_cum))
    topk = F.col("r") <= k
    per_q = ranked.groupBy("q").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(is_pos).cast("long").alias("n_pos"),
        F.sum(F.when(topk, gain(F.col("rel")) / disc(F.col("r"))))
        .alias("_dcg"),
        F.sum(
            F.when(F.col("ri") <= k, gain(F.col("rel")) / disc(F.col("ri")))
        ).alias("_idcg"),
        F.max(
            F.when(topk & (F.col("rel") > 0), F.lit(1.0) / F.col("r"))
        ).alias("_rr"),
        F.sum(
            F.when(
                topk & (F.col("rel") > 0),
                F.col("cum_pos").cast("double") / F.col("r"),
            )
        ).alias("_psum"),
    )
    ap_den = F.least(F.col("n_pos"), F.lit(k)).cast("double")
    return per_q.select(
        F.col("q").alias(query_col),
        "n_items",
        "n_pos",
        F.round(F.coalesce("_dcg", F.lit(0.0)), 6).alias("dcg_k"),
        F.round(
            F.when(F.col("_idcg") > 0, F.col("_dcg") / F.col("_idcg")),
            6,
        ).alias("ndcg_k"),
        F.round(F.coalesce("_rr", F.lit(0.0)), 6).alias("mrr_k"),
        F.round(
            F.when(
                F.col("n_pos") > 0,
                F.coalesce("_psum", F.lit(0.0)) / ap_den,
            ),
            6,
        ).alias("ap_k"),
    )


def rank_biased_overlap(
    df: DataFrame,
    query_col: str,
    item_col: str,
    score_a_col: str,
    score_b_col: str,
    p: float = 0.9,
    k: int = 50,
) -> DataFrame:
    """Rank-biased overlap (Webber, Moffat & Zobel 2010) between two
    rankers of the SAME item set, per query — the principled
    "how similar are these two rankings?" metric: top-weighted (the
    geometric ``p`` discount makes rank-1 disagreement matter far
    more than rank-40), bounded [0, 1], defined without a gold
    labeling. The standard readout when swapping a scorer: "RBO 0.95
    vs prod" is a shippable sentence, Kendall's tau over full lists is
    not.

    Truncated form: ``rbo@k = (1−p) · Σ_{d=1}^{k} p^{d−1}·X_d/d``
    where ``X_d`` is the overlap of the two depth-d prefixes. Since
    both rankings cover the same items, an item with ranks (ra, rb)
    joins every prefix pair from depth ``m = max(ra, rb)`` on, so its
    total contribution is the SUFFIX SUM ``Σ_{d=m}^{k} p^{d−1}/d`` —
    precomputed here as a k-element literal array shared verbatim
    with the SQL twin (identical doubles in, identical out). Rows
    with NULL scores are dropped; both ranks use the item key as the
    deterministic tiebreak.

    Returns ``(query, n_items, rbo_k)`` (6dp). Scale shape: one
    query-partitioned shuffle; both rank windows and the final hash
    aggregate reuse it; the weight lookup is an ``element_at`` on a
    literal array — no join.
    """
    if not 0.0 < p < 1.0:
        raise ValueError(f"p must be in (0, 1), got {p}")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    # suf[m] = sum_{d=m..k} p^(d-1)/d, 1-indexed — accumulated
    # HIGH-to-LOW so the float fold order is pinned (the SQL twin
    # embeds these exact literals, it never recomputes them)
    terms = [p ** (d - 1) / d for d in range(1, k + 1)]
    acc = 0.0
    suf = [0.0] * (k + 2)
    for d in range(k, 0, -1):
        acc = acc + terms[d - 1]
        suf[d] = acc
    weights = F.array(*[F.lit(float(suf[m])) for m in range(1, k + 1)])
    base = df.filter(
        F.col(score_a_col).isNotNull() & F.col(score_b_col).isNotNull()
    ).select(
        F.col(query_col).alias("q"),
        F.col(item_col).alias("it"),
        F.col(score_a_col).cast("double").alias("sa"),
        F.col(score_b_col).cast("double").alias("sb"),
    )
    wa = Window.partitionBy("q").orderBy(F.desc("sa"), F.asc("it"))
    wb = Window.partitionBy("q").orderBy(F.desc("sb"), F.asc("it"))
    ranked = base.select(
        "q",
        F.row_number().over(wa).alias("ra"),
        F.row_number().over(wb).alias("rb"),
    )
    m = F.greatest("ra", "rb")
    contrib = F.when(m <= k, F.element_at(weights, m.cast("int")))
    return ranked.groupBy("q").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(
            F.lit(1.0 - p) * F.coalesce(F.sum(contrib), F.lit(0.0)), 6
        ).alias("rbo_k"),
    ).select(F.col("q").alias(query_col), "n_items", "rbo_k")
