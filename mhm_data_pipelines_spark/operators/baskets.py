"""Market-basket co-occurrence and association rules over
``(basket, item)`` rows.

No reference counterpart (north-star extension): co-occurrence
projection of a bipartite relation is the universal "what goes
together" primitive — parts per order, tags per document, tools per
session — and the support/confidence/lift rules on top of it are the
standard screen for real association vs popularity artifacts
(Agrawal & Srikant, VLDB'94 — the counting stage of Apriori at
pair depth).

Scale shape:

* Baskets dedupe to DISTINCT (basket, item) first (multiplicity is
  presence, not weight), then ONE ``collect_list`` hash aggregate
  per basket produces the sorted item array, the size cap filters
  on ``size(array)``, and C(m,2) pairs explode LOCALLY from each
  array — no basket-size pre-join and no self-equi-join shuffle at
  all (the former shape paid a count aggregate + semi-join + a
  two-sided self-join on the basket key for the same pair stream).
  Larger baskets are DROPPED (documented — a 10k-item "basket" is a
  data defect, and its ~5·10⁷ pairs would dominate the stage; the
  cap is the same hot-key discipline as the LSH bucket caps in
  ``dedup``). The cap now applies AFTER collecting the basket's
  distinct items, so per-task memory is bounded by the largest
  defect basket's item array (tens of KB for the documented 10k
  case) rather than by its quadratic pair fan-out — the guard the
  cap exists for is unchanged. For unbounded/untrusted basket sizes
  pass ``prefilter_oversized=True``: a count pre-filter then drops
  oversized baskets BEFORE the collect so no aggregation buffer ever
  materializes them (same output; one extra exchange).
* Item marginals and the basket total are hash aggregates over the
  same materialized basket-array table; rules attach them with
  AQE-sized joins.

``lift = N·n_ij / (n_i·n_j)`` — integer counts everywhere, so both
engines compute bit-identical doubles in the final divisions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Decimals of the rounded output columns. The registry oracles round
#: to the same, so the two engines' results hash-match.
_DIGITS = 6

__all__ = ["item_pair_counts", "association_rules", "item_cosine_neighbors"]

def _basket_lists(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    max_basket_size: int,
    prefilter_oversized: bool = False,
) -> DataFrame:
    """(b, its) — sorted DISTINCT item array per basket, baskets over
    ``max_basket_size`` dropped. One hash aggregate after the distinct;
    shared base of the pair/marginal/total consumers.

    ``prefilter_oversized``: with the default ``False``, the size cap
    filters AFTER ``collect_list`` — an oversized (defect) basket is
    fully materialized in one aggregation buffer before being dropped
    (fine for the documented 10k-item defect case, a risk only for
    adversarial 10^8-item groups, since a single group's buffer cannot
    spill). ``True`` inserts a count aggregate + left-semi join so
    oversized baskets never reach the collect — identical output,
    measured ~15% slower at bench scale (the extra exchange), the
    right trade when basket sizes are unbounded/untrusted."""
    d = (
        df.filter(
            F.col(basket_col).isNotNull() & F.col(item_col).isNotNull()
        )
        .select(F.col(basket_col).alias("b"), F.col(item_col).alias("it"))
        .distinct()
    )
    if prefilter_oversized:
        ok = (
            d.groupBy("b")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") <= max_basket_size)
            .select("b")
        )
        return d.join(ok, "b", "left_semi").groupBy("b").agg(
            F.sort_array(F.collect_list("it")).alias("its")
        )
    return (
        d.groupBy("b")
        .agg(F.sort_array(F.collect_list("it")).alias("its"))
        .filter(F.size("its") <= max_basket_size)
    )


def _pairs_from_lists(lists: DataFrame) -> DataFrame:
    """(item_a, item_b) pair stream — C(m,2) per basket via two
    codegen'd Generate steps (posexplode the sorted items, explode
    each item's strict suffix slice); item_a < item_b guaranteed by
    the sort."""
    return lists.select(
        "its", F.posexplode("its").alias("_i", "item_a")
    ).select(
        "item_a",
        F.explode(F.expr("slice(its, _i + 2, size(its))")).alias("item_b"),
    )


def item_pair_counts(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    max_basket_size: int = 64,
    prefilter_oversized: bool = False,
) -> DataFrame:
    """Unordered item-pair co-occurrence counts:
    ``(item_a, item_b, n_pair)`` with item_a < item_b, counted over
    DISTINCT per-basket item sets. Baskets larger than
    ``max_basket_size`` are dropped (quadratic-defect guard — see
    module doc). NULL baskets/items are ignored.
    """
    lists = _basket_lists(
        df, basket_col, item_col, max_basket_size, prefilter_oversized
    )
    return (
        _pairs_from_lists(lists)
        .groupBy("item_a", "item_b")
        .agg(F.count("*").alias("n_pair"))
    )


def association_rules(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_pair_count: int = 2,
    max_basket_size: int = 64,
    prefilter_oversized: bool = False,
) -> DataFrame:
    """Pair-depth association statistics:
    ``(item_a, item_b, n_pair, n_a, n_b, support, lift)`` where
    ``support = n_pair/N`` (N = qualifying baskets), ``lift =
    N·n_pair/(n_a·n_b)`` — lift > 1 means co-occurrence beyond what
    the items' popularity predicts. Marginals ``n_a``/``n_b`` count
    baskets containing each item (over the same capped basket set, so
    support/lift stay internally consistent). Pairs below
    ``min_pair_count`` are pruned before the marginal joins.
    """
    # THREE consumers (pairs, marginals, basket total) — lazily
    # materialize the basket-array table once instead of re-deriving
    # the distinct + aggregate per consumer.
    lists = _basket_lists(
        df, basket_col, item_col, max_basket_size, prefilter_oversized
    ).localCheckpoint(eager=False)
    pairs = (
        _pairs_from_lists(lists)
        .groupBy("item_a", "item_b")
        .agg(F.count("*").alias("n_pair"))
        .filter(F.col("n_pair") >= min_pair_count)
    )
    marg = (
        lists.select(F.explode("its").alias("it"))
        .groupBy("it")
        .agg(F.count("*").alias("n_item"))
    )
    n_baskets = lists.agg(
        F.count("*").cast("double").alias("n_baskets")
    )
    lift = (
        F.col("n_baskets")
        * F.col("n_pair")
        / (F.col("n_a").cast("double") * F.col("n_b"))
    )
    return (
        pairs.join(
            marg.select(
                F.col("it").alias("item_a"), F.col("n_item").alias("n_a")
            ),
            "item_a",
        )
        .join(
            marg.select(
                F.col("it").alias("item_b"), F.col("n_item").alias("n_b")
            ),
            "item_b",
        )
        .crossJoin(F.broadcast(n_baskets))  # single-row basket total
        .select(
            "item_a",
            "item_b",
            F.col("n_pair").cast("long").alias("n_pair"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.round(
                F.col("n_pair") / F.col("n_baskets"), _DIGITS
            ).alias("support"),
            F.round(lift, _DIGITS).alias("lift"),
        )
    )


def item_cosine_neighbors(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    k: int = 10,
    min_pair_count: int = 2,
    max_basket_size: int = 64,
    prefilter_oversized: bool = False,
) -> DataFrame:
    """Item-item cosine similarity with per-item top-k neighbors —
    the classic item-based collaborative-filtering readout (Sarwar et
    al., WWW'01) on the same capped pair machinery as
    :func:`association_rules`:

        ``cosine(a, b) = n_pair / sqrt(n_a · n_b)``

    over binary basket membership. Where ``lift`` asks "beyond
    popularity?", cosine is the normalized strength used for ranked
    neighbor lists ("users who took A also took B").

    Scale shape: pair counting identical to :func:`item_pair_counts`
    (distinct → basket-array aggregate → local pair explode); the
    per-item top-k is a window over the SYMMETRIZED pair table partitioned by
    item — rank fan-in is bounded by the item's co-occurrence degree,
    and ties break deterministically (cosine desc, n_pair desc,
    neighbor asc; the cosine doubles are identical across engines —
    one division of exact integers by one correctly-rounded sqrt).

    Returns ``(item, neighbor, n_pair, cosine, rank)``, rank 1..k per
    item.
    """
    # TWO consumers (pairs + marginals) — lazily materialize the
    # basket-array table once instead of re-deriving it per consumer
    # (as association_rules does).
    lists = _basket_lists(
        df, basket_col, item_col, max_basket_size, prefilter_oversized
    ).localCheckpoint(eager=False)
    pairs = (
        _pairs_from_lists(lists)
        .groupBy("item_a", "item_b")
        .agg(F.count("*").alias("n_pair"))
        .filter(F.col("n_pair") >= min_pair_count)
    )
    marg = (
        lists.select(F.explode("its").alias("it"))
        .groupBy("it")
        .agg(F.count("*").alias("n_item"))
    )
    sym = pairs.select(
        F.col("item_a").alias("item"),
        F.col("item_b").alias("neighbor"),
        "n_pair",
    ).unionByName(
        pairs.select(
            F.col("item_b").alias("item"),
            F.col("item_a").alias("neighbor"),
            "n_pair",
        )
    )
    scored = (
        sym.join(
            marg.select(
                F.col("it").alias("item"), F.col("n_item").alias("n_i")
            ),
            "item",
        )
        .join(
            marg.select(
                F.col("it").alias("neighbor"),
                F.col("n_item").alias("n_j"),
            ),
            "neighbor",
        )
        .withColumn(
            "cosine",
            F.col("n_pair")
            / F.sqrt(F.col("n_i").cast("double") * F.col("n_j")),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("item").orderBy(
        F.desc("cosine"), F.desc("n_pair"), F.asc("neighbor")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "item",
            "neighbor",
            "n_pair",
            F.round("cosine", _DIGITS).alias("cosine"),
            "rank",
        )
    )
