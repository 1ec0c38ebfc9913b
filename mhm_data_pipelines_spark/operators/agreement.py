"""Inter-rater agreement — pairwise Cohen's kappa over a long-form
``(item, rater, label)`` table.

No reference counterpart (north-star LLM-pipeline extension): labeled
training data comes from multiple annotators (human or rule/model
raters), and the standard QA question is "do they agree beyond
chance?" — per annotator pair, Cohen's kappa (Cohen 1960). The same
statistic audits FILTER agreement: run two quality heuristics as
"raters" over the corpus and kappa says whether they encode the same
signal (high kappa → one is redundant) or complementary ones.

Definition per rater pair (a, b), over the items BOTH rated:

    ``po = Σ_l n_ll / n``                    (observed agreement)
    ``pe = Σ_l (n_a(l)/n) · (n_b(l)/n)``     (chance agreement)
    ``kappa = (po - pe) / (1 - pe)``

``pe = 1`` (both raters constant with the same label) leaves kappa
undefined — emitted as NULL, never a division blow-up.

Scale shape: the item self-join fans out R rows per item to R(R-1)/2
pair rows — R is the RATER count (a handful to a few hundred), so the
fan-out is a bounded constant per item, and everything after is hash
aggregates on (rater_a, rater_b [, label]) keys: O(R² · L) groups —
metadata-sized however big the item stream is. All arithmetic is
integer counts until the final three divisions, so both engines
compute bit-identical doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Decimals of the rounded output columns. The registry oracles round
#: to the same, so the two engines' results hash-match.
_DIGITS = 6

__all__ = ["pairwise_kappa"]


def pairwise_kappa(
    df: DataFrame,
    item_col: str = "item_id",
    rater_col: str = "rater",
    label_col: str = "label",
) -> DataFrame:
    """Cohen's kappa for every unordered rater pair.

    Input rows are one label per (item, rater); duplicate ratings for
    the same (item, rater) are an input contract violation (they would
    inflate the join) — deduplicate upstream. NULL labels are dropped
    (an abstention is not a rating). Returns
    ``(rater_a, rater_b, n_items, po, pe, kappa)`` with rater_a <
    rater_b, floats rounded to 6 decimals; ``kappa`` NULL when
    ``pe = 1``.
    """
    base = df.filter(F.col(label_col).isNotNull()).select(
        F.col(item_col).alias("item"),
        F.col(rater_col).alias("r"),
        F.col(label_col).alias("l"),
    )
    a = base.select(
        "item", F.col("r").alias("rater_a"), F.col("l").alias("la")
    )
    b = base.select(
        "item", F.col("r").alias("rater_b"), F.col("l").alias("lb")
    )
    j = a.join(b, "item").filter(F.col("rater_a") < F.col("rater_b"))
    cnt = j.groupBy("rater_a", "rater_b", "la", "lb").agg(
        F.count("*").alias("c")
    )
    totals = cnt.groupBy("rater_a", "rater_b").agg(
        F.sum("c").alias("n"),
        F.sum(F.when(F.col("la") == F.col("lb"), F.col("c")).otherwise(0))
        .alias("agree"),
    )
    marg_a = cnt.groupBy("rater_a", "rater_b", "la").agg(
        F.sum("c").alias("ca")
    )
    marg_b = cnt.groupBy("rater_a", "rater_b", "lb").agg(
        F.sum("c").alias("cb")
    )
    pe_num = (
        marg_a.join(
            marg_b,
            (marg_a["rater_a"] == marg_b["rater_a"])
            & (marg_a["rater_b"] == marg_b["rater_b"])
            & (marg_a["la"] == marg_b["lb"]),
        )
        .select(marg_a["rater_a"], marg_a["rater_b"],
                # products as doubles: ca·cb can exceed int64 at corpus
                # scale (n ~ 1e12 → ca·cb ~ 1e24); the L-term float sum
                # drifts < 1ulp·L, absorbed by the
                # 6-decimal rounding
                (F.col("ca").cast("double") * F.col("cb")).alias("p"))
        .groupBy("rater_a", "rater_b")
        .agg(F.sum("p").alias("pe_num"))
    )
    po = F.col("agree") / F.col("n")
    pe = F.col("pe_num") / (F.col("n").cast("double") * F.col("n"))
    kappa = F.when(pe < 1.0, (po - pe) / (1.0 - pe))
    return (
        totals.join(pe_num, ["rater_a", "rater_b"])
        .select(
            "rater_a",
            "rater_b",
            F.col("n").cast("long").alias("n_items"),
            F.round(po, _DIGITS).alias("po"),
            F.round(pe, _DIGITS).alias("pe"),
            F.round(kappa, _DIGITS).alias("kappa"),
        )
    )
