"""Kaplan-Meier survival estimation over a per-subject duration table.

Domain completion of the reference's engagement reporting: the
overview/retention surface (process-overview.py's per-participant
activity span, `cohort_retention`'s triangle) answers "how many users
were active in month M"; the survival curve answers the censoring-aware
version — "what fraction of users is still active after t days,
accounting for users whose observation window simply ended" — the
standard churn/retention estimator a product-analytics consumer of the
same events table expects.

Scale design:
* One hash aggregate builds the per-subject (duration, event) row —
  the only full-data shuffle; everything after operates on one row per
  distinct (group, duration), which is bounded by the time horizon
  (days), not by row count.
* The risk set n(t) = Σ subjects with duration ≥ t is a window over
  that small per-duration table (descending cumulative sum), and the
  product-limit estimator Π(1 - d/n) is computed as
  exp(Σ ln(1 - d/n)) with an explicit zero-factor flag so d = n
  (everyone fails at the last time) yields survival exactly 0 instead
  of -inf propagation. Both windows partition by the cohort key, so
  curves for different cohorts never co-shuffle.
* No driver-side state, no Python UDFs — pure Column expressions,
  whole-stage-codegen end to end.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: Decimals of the rounded output columns. The registry oracles round
#: to the same, so the two engines' results hash-match.
_DIGITS = 6


def kaplan_meier(
    subjects: DataFrame,
    duration: str = "duration",
    event: str = "event",
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Product-limit survival estimate from one row per subject.

    Parameters
    ----------
    subjects : one row per subject with a non-negative integer/float
        ``duration`` (time observed) and an ``event`` flag (1 = the
        terminal event was observed at that time, 0 = right-censored).
    group_cols : optional cohort keys; one independent curve per group.

    Returns one row per (group, distinct duration) with
    ``n_at_risk``, ``n_events``, ``n_censored`` and the running
    ``survival`` estimate S(t), ordered by group then time.
    """
    g = list(group_cols)
    per_t = subjects.groupBy(
        *g, F.col(duration).alias("t")
    ).agg(
        F.sum(F.col(event).cast("long")).alias("n_events"),
        F.sum(F.lit(1) - F.col(event).cast("long")).alias("n_censored"),
        F.count(F.lit(1)).alias("_n_here"),
    )
    w_risk = (
        Window.partitionBy(*g)
        .orderBy(F.col("t").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_cum = (
        Window.partitionBy(*g)
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    factored = per_t.withColumn(
        "n_at_risk", F.sum("_n_here").over(w_risk)
    ).withColumn(
        "_factor",
        F.lit(1.0) - F.col("n_events") / F.col("n_at_risk"),
    )
    return (
        factored.withColumn(
            "_dead", F.max((F.col("_factor") == 0).cast("int")).over(w_cum)
        )
        .withColumn(
            "survival",
            F.when(F.col("_dead") == 1, F.lit(0.0)).otherwise(
                F.exp(
                    F.sum(
                        F.log(
                            F.when(F.col("_factor") > 0, F.col("_factor"))
                        )
                    ).over(w_cum)
                )
            ),
        )
        .select(*g, "t", "n_at_risk", "n_events", "n_censored", "survival")
        .orderBy(*g, "t")
    )


def activity_spans(
    events: DataFrame,
    subject: str = "user_id",
    ts: str = "ts",
    churn_horizon_days: int = 14,
) -> DataFrame:
    """Build the per-subject (duration, event) table from a raw event
    stream: duration = days between a subject's first and last event;
    the terminal event is OBSERVED (event=1, "churned") when the last
    event predates the corpus cutoff by more than ``churn_horizon_days``
    — otherwise the subject is right-censored (still active).

    One hash aggregate per subject plus a 1-row global-cutoff broadcast;
    the cutoff crossJoin is a scalar broadcast, not a data join.
    """
    per_user = events.groupBy(subject).agg(
        F.min(ts).alias("_first"),
        F.max(ts).alias("_last"),
        F.count(F.lit(1)).alias("n_events"),
    )
    cutoff = events.agg(F.max(ts).alias("_cutoff"))
    return per_user.crossJoin(F.broadcast(cutoff)).select(
        subject,
        F.datediff(F.to_date("_last"), F.to_date("_first")).alias(
            "duration"
        ),
        (
            F.to_date("_last")
            < F.date_sub(F.to_date("_cutoff"), churn_horizon_days)
        )
        .cast("int")
        .alias("event"),
        "n_events",
    )


def logrank_test(
    subjects: DataFrame,
    group_a,
    group_b,
    duration: str = "duration",
    event: str = "event",
    group_col: str = "group",
) -> DataFrame:
    """Two-group log-rank test (Mantel-Cox): does survival differ
    between cohorts ``group_a`` and ``group_b``? The censoring-aware
    companion of :func:`kaplan_meier` — KM draws the curves, this
    says whether they differ. Rows outside the two named cohorts are
    filtered out (the caller names the comparison explicitly; no
    hidden k-group semantics).

    At every distinct event time t:

        ``e_a(t) = d(t) · n_a(t)/n(t)``                 (expected)
        ``v(t)   = d(t) · (n_a/n)(1 − n_a/n) · (n−d)/(n−1)``

    with ``d`` = events at t (both groups), ``n`` / ``n_a`` = at-risk
    totals. ``chi2 = (O_a − E_a)² / Σv`` is chi-square with 1 dof
    under H0; the p-value is ``2·(1 − Φ(√chi2))`` via the
    engine-portable :func:`..functions.stats.normal_cdf` polynomial,
    so a SQL oracle reproduces it bit-for-bit.

    Scale shape: ONE hash aggregate reduces the subject table to one
    row per distinct duration (bounded by the time horizon in
    days/periods, not by subject count); the at-risk cumulative sums
    are two descending window sums over that metadata-sized table
    (single-task by design — the partition is the horizon, never the
    data), and the test statistic is one final aggregate. Because the
    per-duration table carries BOTH groups' counts on the same global
    time axis, ``n_a(t) = Σ_{u≥t} c_a(u)`` needs no group×grid
    densification and no cross join.

    Returns one row ``(n_a, n_b, observed_a, expected_a, observed_b,
    expected_b, variance, chi2, p_value)``; chi2/p are NULL when the
    variance is zero (no events, or a degenerate risk set).
    """
    from mhm_data_pipelines_spark.functions.stats import normal_cdf

    g = F.col(group_col)
    base = subjects.filter(
        g.isin([group_a, group_b]) & F.col(duration).isNotNull()
    ).select(
        F.col(duration).alias("t"),
        F.col(event).cast("long").alias("ev"),
        (g == F.lit(group_a)).cast("long").alias("ia"),
    )
    per_t = base.groupBy("t").agg(
        F.sum("ev").alias("d"),
        F.sum(F.col("ev") * F.col("ia")).alias("d_a"),
        F.count(F.lit(1)).alias("c"),
        F.sum("ia").alias("c_a"),
    )
    w = (
        Window.partitionBy()
        .orderBy(F.col("t").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    risk = per_t.withColumn("n", F.sum("c").over(w)).withColumn(
        "n_a", F.sum("c_a").over(w)
    )
    share = F.col("n_a").cast("double") / F.col("n")
    terms = risk.filter(F.col("d") > 0).select(
        "d",
        "d_a",
        (F.col("d") * share).alias("e_a"),
        F.when(
            F.col("n") > 1,
            F.col("d").cast("double")
            * share
            * (F.lit(1.0) - share)
            * (F.col("n") - F.col("d"))
            / (F.col("n") - 1),
        )
        .otherwise(F.lit(0.0))
        .alias("v"),
    )
    totals = base.agg(
        F.sum("ia").cast("long").alias("n_a_subjects"),
        F.sum(F.lit(1) - F.col("ia")).cast("long").alias(
            "n_b_subjects"
        ),
    )
    stat = terms.agg(
        F.coalesce(F.sum("d_a"), F.lit(0)).cast("long").alias("o_a"),
        F.coalesce(F.sum(F.col("d") - F.col("d_a")), F.lit(0))
        .cast("long")
        .alias("o_b"),
        F.coalesce(F.sum("e_a"), F.lit(0.0)).alias("e_a"),
        F.coalesce(F.sum(F.col("d") - F.col("e_a")), F.lit(0.0)).alias(
            "e_b"
        ),
        F.coalesce(F.sum("v"), F.lit(0.0)).alias("variance"),
    )
    dev = F.col("o_a") - F.col("e_a")
    chi2 = F.when(
        F.col("variance") > 0, dev * dev / F.col("variance")
    )
    return stat.crossJoin(F.broadcast(totals)).select(
        F.col("n_a_subjects").alias("n_a"),
        F.col("n_b_subjects").alias("n_b"),
        F.col("o_a").alias("observed_a"),
        F.round("e_a", _DIGITS).alias("expected_a"),
        F.col("o_b").alias("observed_b"),
        F.round("e_b", _DIGITS).alias("expected_b"),
        F.round("variance", _DIGITS).alias("variance"),
        F.round(chi2, _DIGITS).alias("chi2"),
        F.round(
            F.lit(2.0) * (F.lit(1.0) - normal_cdf(F.sqrt(chi2))),
            _DIGITS,
        ).alias("p_value"),
    )


def nelson_aalen(
    subjects: DataFrame,
    duration: str = "duration",
    event: str = "event",
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Nelson-Aalen cumulative-hazard estimate — the additive
    companion of :func:`kaplan_meier`'s product-limit survival:

        ``H(t) = Σ_{u ≤ t} d(u)/n(u)``,  ``Var = Σ d(u)/n(u)²``

    Preferred when hazards are the modelling target (H is what
    regression models fit) and numerically benign where KM's
    product hits zero. Same per-(group, duration) machinery: one
    hash aggregate, one descending risk-set window, one cumulative
    window — all partitioned by the cohort key over horizon-bounded
    tables.

    Returns one row per (group, distinct duration): ``n_at_risk``,
    ``n_events``, ``cum_hazard``, ``hazard_var``, and
    ``survival_na = exp(−H)`` (the Fleming-Harrington survival
    estimate), ordered by group then time.
    """
    g = list(group_cols)
    per_t = subjects.groupBy(
        *g, F.col(duration).alias("t")
    ).agg(
        F.sum(F.col(event).cast("long")).alias("n_events"),
        F.count(F.lit(1)).alias("_n_here"),
    )
    w_risk = (
        Window.partitionBy(*g)
        .orderBy(F.col("t").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_cum = (
        Window.partitionBy(*g)
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    risked = per_t.withColumn(
        "n_at_risk", F.sum("_n_here").over(w_risk)
    )
    inc = F.col("n_events").cast("double") / F.col("n_at_risk")
    vinc = F.col("n_events").cast("double") / (
        F.col("n_at_risk").cast("double") * F.col("n_at_risk")
    )
    return (
        risked.withColumn("_h", F.sum(inc).over(w_cum))
        .withColumn("_v", F.sum(vinc).over(w_cum))
        .select(
            *g,
            "t",
            "n_at_risk",
            "n_events",
            F.round("_h", _DIGITS).alias("cum_hazard"),
            F.round("_v", _DIGITS).alias("hazard_var"),
            F.round(F.exp(-F.col("_h")), _DIGITS).alias(
                "survival_na"
            ),
        )
        .orderBy(*g, "t")
    )
