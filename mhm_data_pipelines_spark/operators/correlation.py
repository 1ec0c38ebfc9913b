"""Rank statistics between score columns — Spearman's rho and
rank-biased overlap (RBO).

No reference counterpart (north-star LLM-pipeline extension): data
pipelines accumulate many per-document quality signals (classifier
score, perplexity, compression ratio, length…), and two questions come
up constantly: "do these two signals RANK the corpus the same way?"
(Spearman, tie-aware — Pearson on raw values is distorted by heavy
tails) and "do these two RETRIEVAL rankings agree at the top?" (RBO,
Webber et al., TOIS 2010 — top-weighted, unlike Kendall/Spearman).

Scale shapes:

* ``spearman_rho`` never globally sorts the data: fractional (average)
  ranks come from per-VALUE counts + the two-phase distributed prefix
  sum of :func:`..budget.running_total` over the (distinct-value)
  table, joined back by value. The correlation itself is one hash
  aggregate of exact sums. Ranks are integers-or-halves, so every sum
  is exact in IEEE doubles up to 2^53 — order-independent, which is
  what makes the oracle hash-match; beyond that scale the final
  rounding absorbs ulp drift.
* ``rbo`` reduces each compared pair to ONE row per co-ranked item:
  with truncation depth d and persistence p, an item first covered at
  depth ``m = max(rank_a, rank_b)`` contributes exactly
  ``Σ_{k=m..d} p^(k-1)/k`` — a d-entry LITERAL lookup table — so
  RBO@d is an equi-join on (query, item) + one aggregate. No per-depth
  re-scan, no explode by d.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Decimals of the rounded output columns. The registry oracles round
#: to the same, so the two engines' results hash-match.
_DIGITS = 6

__all__ = ["spearman_rho", "rbo"]


def _avg_ranks(df: DataFrame, val_col: str, out_col: str) -> DataFrame:
    """(value → fractional rank) lookup: ties get the average of the
    positions they span (standard fractional ranking)."""
    from mhm_data_pipelines_spark.operators.budget import _tie_avg_ranks

    counts = df.groupBy(val_col).agg(F.count("*").alias("_c"))
    cum, rank = _tie_avg_ranks(counts, val_col, "_c", "_cum")
    return cum.select(val_col, rank.alias(out_col))


def spearman_rho(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Tie-aware Spearman rank correlation between two numeric columns.

    Rows where either value is NULL are dropped (a rank requires a
    value). Returns one row ``(n, rho)`` with rho rounded; NULL when
    either column is constant (zero rank variance — undefined).
    """
    base = df.filter(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    ).select(F.col(x_col).alias("_x"), F.col(y_col).alias("_y"))
    rx = _avg_ranks(base, "_x", "_rx")
    ry = _avg_ranks(base, "_y", "_ry")
    ranked = base.join(rx, "_x").join(ry, "_y")
    agg = ranked.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("_rx").alias("sx"),
        F.sum("_ry").alias("sy"),
        F.sum(F.col("_rx") * F.col("_ry")).alias("sxy"),
        F.sum(F.col("_rx") * F.col("_rx")).alias("sxx"),
        F.sum(F.col("_ry") * F.col("_ry")).alias("syy"),
    )
    var_x = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    var_y = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    rho = F.when(
        (var_x > 0) & (var_y > 0), num / F.sqrt(var_x * var_y)
    )
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.round(rho, _DIGITS).alias("rho"),
    )


def rbo(
    ranking_a: DataFrame,
    ranking_b: DataFrame,
    query_col: str = "query_id",
    item_col: str = "item_id",
    rank_col: str = "rank",
    p: float = 0.9,
    depth: int = 10,
) -> DataFrame:
    """Truncated rank-biased overlap RBO@depth per query:

        ``RBO@d = (1-p) · Σ_{k=1..d} p^(k-1) · |A_k ∩ B_k| / k``

    where ``A_k``/``B_k`` are each ranking's top-k item sets. Inputs
    are 1-based dense rankings; rows deeper than ``depth`` are pruned
    before the join. An item co-ranked at ``m = max(rank_a, rank_b)``
    contributes to every term k ≥ m, so its total weight is the
    precomputed literal ``Σ_{k=m..d} p^(k-1)/k`` — the whole statistic
    is one (query, item) equi-join + one hash aggregate.

    Returns ``(query_col, rbo)``; queries present in either input
    always emit a row (zero overlap → 0.0).
    """
    if not 0.0 < p < 1.0:
        raise ValueError(f"p must be in (0,1), got {p}")
    if depth < 1:
        raise ValueError(f"depth must be >= 1, got {depth}")
    # weight(m) = (1-p) * sum_{k=m..d} p^(k-1)/k, exact same float
    # evaluation order as the oracle's literal table.
    tail = [p ** (k - 1) / k for k in range(1, depth + 1)]
    weights = [
        (1.0 - p) * sum(tail[m - 1:]) for m in range(1, depth + 1)
    ]
    a = ranking_a.filter(F.col(rank_col) <= depth).select(
        F.col(query_col), F.col(item_col), F.col(rank_col).alias("_ra")
    )
    b = ranking_b.filter(F.col(rank_col) <= depth).select(
        F.col(query_col), F.col(item_col), F.col(rank_col).alias("_rb")
    )
    wmap = F.create_map(
        *[x for m in range(1, depth + 1)
          for x in (F.lit(m), F.lit(weights[m - 1]))]
    )
    joined = a.join(b, [query_col, item_col]).select(
        F.col(query_col),
        wmap[F.greatest("_ra", "_rb").cast("int")].alias("_w"),
    )
    queries = a.select(query_col).unionAll(b.select(query_col)).distinct()
    scores = joined.groupBy(query_col).agg(F.sum("_w").alias("_s"))
    return queries.join(scores, query_col, "left").select(
        F.col(query_col),
        F.round(F.coalesce(F.col("_s"), F.lit(0.0)), _DIGITS).alias("rbo"),
    )
