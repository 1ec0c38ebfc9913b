"""Exact two-sample / independence test statistics — KS, Mann-Whitney
U, chi-square.

No reference counterpart (north-star LLM-pipeline extension): the
question behind every data refresh is "did the distribution move?" —
new crawl vs old (lengths, quality scores), source A vs source B,
pre- vs post-filter. These are the standard answers: Kolmogorov-
Smirnov (any distributional difference), Mann-Whitney (location
shift, rank-based — heavy-tail-proof), chi-square (categorical
independence, e.g. source × language).

All three are EXACT over the full data, not sampled, and built so an
external SQL engine reproduces them value-for-value:

* KS: the ECDF gap needs cumulative counts over the VALUE order — the
  per-distinct-value count table goes through the two-phase
  distributed prefix sum (:func:`..budget.running_total`), so the raw
  rows are never globally sorted and no single-task window exists.
  ``D = max |cum_a/n_a − cum_b/n_b|`` evaluated at every distinct
  value (ECDFs only change there).
* Mann-Whitney: fractional (tie-averaged) ranks from the same
  prefix-sum machinery (shared with ``correlation.spearman_rho``);
  ``U = R_a − n_a(n_a+1)/2`` with the standard tie-corrected normal
  approximation — every sum is integers-or-halves, exact in doubles.
* chi-square: one contingency hash aggregate + margin aggregates
  joined back; ``Σ (o−e)²/e`` with ``e = row·col/N``.

Scale shape: everything reduces to per-value / per-category count
tables before any join — the data streams through hash aggregates
once; only metadata-sized tables shuffle afterwards.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: Decimals of the rounded output columns. The registry oracles round
#: to the same, so the two engines' results hash-match.
_DIGITS = 6

__all__ = [
    "ks_test",
    "mann_whitney_u",
    "chi2_independence",
    "two_proportion_ztest",
    "poisson_bootstrap_ci",
    "POISSON1_CDF",
    "anova_oneway",
    "brown_forsythe",
    "randomization_test",
    "mutual_information",
    "sprt_bernoulli",
    "fdr_adjust",
    "cuped_report",
    "srm_check",
    "did_report",
    "bayes_ab",
    "ipw_report",
    "kruskal_wallis",
    "cochran_armitage",
    "mcnemar_test",
    "friedman_test",
    "group_sequential_ztest",
    "eb_rate_shrinkage",
    "qini_curve",
    "wilson_ci",
    "cliffs_delta",
]


def ks_test(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov D between ``group_a`` and
    ``group_b`` rows of ``value_col``.

    Returns one row ``(n_a, n_b, d_stat, ks_lambda)`` where
    ``ks_lambda = D · sqrt(n_a·n_b / (n_a+n_b))`` — the scaled
    statistic usually compared against 1.36 (α=0.05) / 1.63 (α=0.01);
    emitting λ instead of a p-value keeps the output free of
    transcendental-series evaluation differences across engines.
    NULL values are dropped; rows in neither group are ignored.
    """
    from mhm_data_pipelines_spark.operators.budget import running_total

    g = F.col(group_col)
    base = df.filter(
        F.col(value_col).isNotNull() & g.isin([group_a, group_b])
    ).select(
        F.col(value_col).cast("double").alias("v"),
        F.when(g == F.lit(group_a), 1).otherwise(0).alias("ia"),
        F.when(g == F.lit(group_b), 1).otherwise(0).alias("ib"),
    )
    per_val = base.groupBy("v").agg(
        F.sum("ia").alias("ca"), F.sum("ib").alias("cb")
    )
    cum_a = running_total(
        per_val, order_by=[("v", True)], value_col="ca", out_col="cum_a"
    ).select("v", "cum_a")
    cum_b = running_total(
        per_val, order_by=[("v", True)], value_col="cb", out_col="cum_b"
    ).select("v", "cum_b")
    totals = per_val.agg(
        F.sum("ca").cast("double").alias("n_a"),
        F.sum("cb").cast("double").alias("n_b"),
    )
    gap = F.abs(
        F.col("cum_a") / F.col("n_a") - F.col("cum_b") / F.col("n_b")
    )
    d = (
        cum_a.join(cum_b, "v")
        .crossJoin(F.broadcast(totals))  # single-row sample sizes
        .agg(
            F.max(gap).alias("d"),
            F.first("n_a").alias("n_a"),
            F.first("n_b").alias("n_b"),
        )
    )
    lam = F.col("d") * F.sqrt(
        F.col("n_a") * F.col("n_b") / (F.col("n_a") + F.col("n_b"))
    )
    return d.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round("d", _DIGITS).alias("d_stat"),
        F.round(lam, _DIGITS).alias("ks_lambda"),
    )


def mann_whitney_u(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
    round_to: int = 6,
) -> DataFrame:
    """Exact Mann-Whitney U (Wilcoxon rank-sum) between two groups,
    fractional ranks with the standard tie-corrected normal z:

        ``U_a = R_a − n_a(n_a+1)/2``
        ``z = (U_a − n_a·n_b/2) / sqrt(n_a·n_b/12 · ((n+1) − T))``
        ``T = Σ(t³−t) / (n(n−1))``  over tie-group sizes t.

    Returns one row ``(n_a, n_b, u_a, u_b, z)``; z is NULL when the
    variance is zero (all values tied). Every intermediate sum is
    integers-or-halves — exact in doubles, order-independent.
    """
    g = F.col(group_col)
    base = df.filter(
        F.col(value_col).isNotNull() & g.isin([group_a, group_b])
    ).select(
        F.col(value_col).cast("double").alias("v"),
        F.when(g == F.lit(group_a), 1).otherwise(0).alias("ia"),
    )
    per_val = base.groupBy("v").agg(
        F.count("*").alias("t"), F.sum("ia").alias("ca")
    )
    from mhm_data_pipelines_spark.operators.budget import _tie_avg_ranks

    cum, rank = _tie_avg_ranks(per_val, "v", "t", "cum")
    ranked = cum.select("v", "t", "ca", rank.alias("r"))
    agg = ranked.agg(
        F.sum("ca").cast("double").alias("n_a"),
        F.sum(F.col("t") - F.col("ca")).cast("double").alias("n_b"),
        F.sum(F.col("ca") * F.col("r")).alias("ra"),
        F.sum(
            F.col("t").cast("double") * F.col("t") * F.col("t")
            - F.col("t")
        ).alias("ties"),
    )
    n = F.col("n_a") + F.col("n_b")
    u_a = F.col("ra") - F.col("n_a") * (F.col("n_a") + 1) / 2
    u_b = F.col("n_a") * F.col("n_b") - u_a
    var = (
        F.col("n_a") * F.col("n_b") / 12.0
        * ((n + 1) - F.col("ties") / (n * (n - 1)))
    )
    z = F.when(var > 0, (u_a - F.col("n_a") * F.col("n_b") / 2) / F.sqrt(var))
    return agg.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(u_a, round_to).alias("u_a"),
        F.round(u_b, round_to).alias("u_b"),
        F.round(z, round_to).alias("z"),
    )


def chi2_independence(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Pearson chi-square test of independence between two categorical
    columns: ``chi2 = Σ (o_xy − e_xy)² / e_xy`` with
    ``e_xy = row_x · col_y / N`` summed over OBSERVED cells plus the
    expected mass of empty cells (algebraically:
    ``chi2 = Σ_cells o²/e − N``, which needs no empty-cell
    enumeration — an r×c grid join would materialize cells the data
    never had). NULL categories are dropped.

    Returns one row ``(n, dof, chi2)`` with
    ``dof = (r−1)(c−1)``.
    """
    base = df.filter(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    ).select(F.col(x_col).alias("x"), F.col(y_col).alias("y"))
    cells = base.groupBy("x", "y").agg(F.count("*").alias("o"))
    rows = cells.groupBy("x").agg(F.sum("o").alias("rx"))
    cols = cells.groupBy("y").agg(F.sum("o").alias("cy"))
    tot = cells.agg(
        F.sum("o").cast("double").alias("n"),
        F.count_distinct("x").alias("r"),
        F.count_distinct("y").alias("c"),
    )
    # Σ o²/e = N · Σ o²/(rx·cy); chi2 = that − N.
    term = (
        F.col("o").cast("double") * F.col("o")
        / (F.col("rx").cast("double") * F.col("cy"))
    )
    s = (
        cells.join(rows, "x")
        .join(cols, "y")
        .agg(F.sum(term).alias("s"))
    )
    return (
        s.crossJoin(F.broadcast(tot))  # single-row totals
        .select(
            F.col("n").cast("long").alias("n"),
            ((F.col("r") - 1) * (F.col("c") - 1)).cast("long").alias(
                "dof"
            ),
            F.round(F.col("n") * F.col("s") - F.col("n"), _DIGITS).alias(
                "chi2"
            ),
        )
    )


def two_proportion_ztest(
    df: DataFrame,
    group_col: str,
    group_a,
    group_b,
    success_col: str,
) -> DataFrame:
    """Two-proportion z-test (pooled): did variant A convert at a
    different rate than variant B? — the A/B-readout companion to the
    distributional tests above.

        ``z = (p_a − p_b) / sqrt(p̂(1−p̂)(1/n_a + 1/n_b))``

    with ``p̂`` the pooled success rate. ``success_col`` is boolean (or
    0/1); NULL successes are dropped (an unresolved outcome is not a
    failure). Returns one row ``(n_a, n_b, p_a, p_b, risk_ratio, z)``
    — risk_ratio = p_a/p_b (NULL when p_b = 0); z NULL when the pooled
    variance is zero (all successes or all failures).

    One hash aggregate into two groups; every input to the final
    divisions is an integer count — bit-identical doubles everywhere.
    """
    g = F.col(group_col)
    base = df.filter(
        F.col(success_col).isNotNull() & g.isin([group_a, group_b])
    ).select(
        F.when(g == F.lit(group_a), 1).otherwise(0).alias("ia"),
        F.col(success_col).cast("int").alias("s"),
    )
    agg = base.agg(
        F.sum("ia").cast("double").alias("n_a"),
        F.sum(1 - F.col("ia")).cast("double").alias("n_b"),
        F.sum(F.col("ia") * F.col("s")).cast("double").alias("s_a"),
        F.sum((1 - F.col("ia")) * F.col("s")).cast("double").alias("s_b"),
    )
    p_a = F.col("s_a") / F.col("n_a")
    p_b = F.col("s_b") / F.col("n_b")
    pooled = (F.col("s_a") + F.col("s_b")) / (F.col("n_a") + F.col("n_b"))
    var = pooled * (1.0 - pooled) * (
        1.0 / F.col("n_a") + 1.0 / F.col("n_b")
    )
    z = F.when(var > 0, (p_a - p_b) / F.sqrt(var))
    return agg.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(p_a, _DIGITS).alias("p_a"),
        F.round(p_b, _DIGITS).alias("p_b"),
        F.round(F.when(p_b > 0, p_a / p_b), _DIGITS).alias("risk_ratio"),
        F.round(z, _DIGITS).alias("z"),
    )


#: Poisson(λ=1) CDF F(k) for k = 0..8 as exact double literals — the
#: inverse-CDF thresholds for the Poisson bootstrap. P(X > 8) ≈ 1.1e-7;
#: draws past the table clamp to 9. The SAME literals are embedded in
#: every oracle twin (f-string), so the weight is an identical CASE
#: chain in both engines.
import math as _math

POISSON1_CDF: tuple[float, ...] = tuple(
    _math.exp(-1.0) * sum(1.0 / _math.factorial(i) for i in range(k + 1))
    for k in range(9)
)


def poisson_bootstrap_weight(u) -> F.Column:
    """Poisson(1) inverse CDF over a unit draw ``u`` — the per-(row,
    replicate) resampling weight of the Poisson bootstrap (the
    distributed approximation to multinomial resampling: at corpus
    scale n the multinomial's row coupling is unobtainable, Poisson(1)
    weights are independent per row and converge to the same law)."""
    w = F.when(u < F.lit(POISSON1_CDF[0]), F.lit(0))
    for k in range(1, len(POISSON1_CDF)):
        w = w.when(u < F.lit(POISSON1_CDF[k]), F.lit(k))
    return w.otherwise(F.lit(len(POISSON1_CDF)))


def poisson_bootstrap_ci(
    df: DataFrame,
    value_col: str,
    id_col: str,
    keys: list | None = None,
    n_boot: int = 200,
    seed: int = 42,
    alpha: float = 0.05,
) -> DataFrame:
    """Per-group bootstrap confidence interval for the MEAN of
    ``value_col`` — the Poisson bootstrap (the industry-standard
    distributed bootstrap: no global resampling pass, no row coupling):

    * every (row, replicate) pair draws a deterministic Poisson(1)
      weight from ``md5(id '#' replicate ':' seed)`` — the repo's one
      unit-draw construction (sampling.md5_unit_draw), so any engine
      with md5 replays the exact resample;
    * replicate means are ONE hash aggregate over the exploded frame
      (codegen explode feeds the aggregate — the ``n_boot``× row
      stream is never materialized);
    * the CI is the exact interpolated [α/2, 1−α/2] percentile of the
      ``n_boot`` replicate means (percentile = quantile_cont parity).

    Float discipline: per-replicate weighted sums round to 6 digits
    before the division, so both engines derive
    replicate means from bit-identical doubles (the ivm_rollup/
    ols_trend convention). Replicates whose weights all landed 0 (only
    possible for tiny groups) yield NULL means, which the percentile
    ignores. Returns keys + (n, mean, ci_lo, ci_hi).

    Scale: work is ``n_boot × |rows|`` weight draws inside one
    projection + two hash aggregates — embarrassingly parallel, zero
    corpus shuffles beyond the group-by; tune ``n_boot`` to budget.
    """
    from mhm_data_pipelines_spark.operators.sampling import md5_unit_draw

    if not 0.0 < alpha < 1.0:
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    if n_boot < 2:
        raise ValueError(f"n_boot must be >= 2, got {n_boot}")
    keys = list(keys or [])
    y = F.col(value_col).cast("double")
    base = df.filter(y.isNotNull()).select(
        *keys, F.col(id_col).alias("_id"), y.alias("_y")
    )
    reps = base.withColumn(
        "_b", F.explode(F.sequence(F.lit(0), F.lit(n_boot - 1)))
    )
    u = md5_unit_draw(
        F.concat(
            F.col("_id").cast("string"),
            F.lit("#"),
            F.col("_b").cast("string"),
        ),
        seed,
    )
    w = poisson_bootstrap_weight(u).cast("double")
    boot = (
        reps.groupBy(*keys, "_b")
        .agg(
            F.round(F.sum(w * F.col("_y")), _DIGITS).alias("_sw"),
            F.sum(w).alias("_ww"),
        )
        .withColumn(
            "_mean_b",
            F.when(F.col("_ww") > 0, F.col("_sw") / F.col("_ww")),
        )
    )
    gb = boot.groupBy(*keys) if keys else boot.groupBy()
    ci = gb.agg(
        F.percentile(F.col("_mean_b"), F.lit(alpha / 2)).alias("ci_lo"),
        F.percentile(F.col("_mean_b"), F.lit(1 - alpha / 2)).alias(
            "ci_hi"
        ),
    )
    pgb = base.groupBy(*keys) if keys else base.groupBy()
    point = pgb.agg(
        F.count("_y").alias("n"),
        (F.round(F.sum("_y"), _DIGITS) / F.count("_y")).alias("mean"),
    )
    joined = (
        point.join(F.broadcast(ci), on=keys)
        if keys
        else point.crossJoin(F.broadcast(ci))
    )
    return joined.select(*keys, "n", "mean", "ci_lo", "ci_hi")


def anova_oneway(
    df: DataFrame,
    value_col: str,
    group_col: str,
    keys: list | None = None,
    round_sums: int | None = 6,
) -> DataFrame:
    """One-way ANOVA F over the FULL data from sufficient statistics:
    per-group (n, Σy, Σy²) is one hash aggregate to k rows, the second
    (metadata-sized) aggregate derives

        SSW = Σ_g (q_g − s_g²/n_g)          (within-group)
        SSB = Σ_g s_g²/n_g − S²/N           (between-group)
        F   = (SSB/(k−1)) / (SSW/(N−k))

    — the classic computational form, exact given the sums. Like
    :func:`~..timeseries.ols_trend`, ``round_sums`` rounds Σy/Σy² (per
    group) so two engines derive the closed form from bit-identical
    doubles; pre-center ``value_col`` if its magnitude makes Σy² lose
    precision. NULL values drop; F is NULL when k < 2, N ≤ k, or
    SSW ≤ 0 (all groups constant). Returns keys +
    (k_groups, n, ss_between, ss_within, f_stat).

    Scale shape: the corpus is touched once by the group hash
    aggregate; everything after is k-rows-sized. With ``keys`` the
    whole computation stays one shuffle on (keys, group).
    """
    keys = list(keys or [])
    y = F.col(value_col).cast("double")
    base = df.filter(y.isNotNull() & F.col(group_col).isNotNull())
    per_group = base.groupBy(*keys, group_col).agg(
        F.count(F.lit(1)).alias("ng"),
        F.sum(y).alias("sg"),
        F.sum(y * y).alias("qg"),
    )
    if round_sums is not None:
        per_group = per_group.withColumn(
            "sg", F.round("sg", round_sums)
        ).withColumn("qg", F.round("qg", round_sums))
    gb = per_group.groupBy(*keys) if keys else per_group.groupBy()
    tot = gb.agg(
        F.count(F.lit(1)).alias("k_groups"),
        F.sum("ng").alias("n"),
        F.sum("sg").alias("s"),
        F.sum(F.col("sg") * F.col("sg") / F.col("ng")).alias("ssb_raw"),
        F.sum(F.col("qg") - F.col("sg") * F.col("sg") / F.col("ng")).alias(
            "ssw"
        ),
    )
    k = F.col("k_groups").cast("double")
    n = F.col("n").cast("double")
    ssb = F.col("ssb_raw") - F.col("s") * F.col("s") / n
    f_ok = (k > 1) & (n > k) & (F.col("ssw") > 0)
    return tot.select(
        *keys,
        "k_groups",
        "n",
        ssb.alias("ss_between"),
        F.col("ssw").alias("ss_within"),
        F.when(f_ok, (ssb / (k - 1)) / (F.col("ssw") / (n - k))).alias(
            "f_stat"
        ),
    )


def brown_forsythe(
    df: DataFrame,
    value_col: str,
    group_col: str,
    keys: list | None = None,
    round_sums: int | None = 6,
    round_dev: int | None = 6,
) -> DataFrame:
    """Brown-Forsythe variance-homogeneity test: one-way ANOVA F over
    the MEDIAN-centered absolute deviations ``z = |y − median_g|`` —
    the robust Levene variant (median centering survives heavy tails,
    which is why it's the recommended default). A significant W says
    the groups' spreads differ, e.g. a new crawl got noisier even
    though its mean held.

    Exact medians via Spark ``percentile`` (= ANSI quantile_cont, the
    cross-engine-exact primitive of :func:`~.repair.winsorize_bounds`);
    the k-row median table broadcasts back (AQE picks the broadcast
    side), so the corpus shuffles only for the two hash aggregates.
    ``round_dev`` rounds z itself — median interpolation is one
    divide, so rounding z makes both engines feed the ANOVA identical
    inputs. Output schema = :func:`anova_oneway` with f_stat = W.
    """
    keys = list(keys or [])
    y = F.col(value_col).cast("double")
    base = df.filter(y.isNotNull() & F.col(group_col).isNotNull())
    med = base.groupBy(*keys, group_col).agg(
        F.percentile(y, F.lit(0.5)).alias("_med")
    )
    joined = base.join(F.broadcast(med), on=[*keys, group_col])
    z = F.abs(y - F.col("_med"))
    if round_dev is not None:
        z = F.round(z, round_dev)
    dev = joined.select(*keys, group_col, z.alias("_z"))
    return anova_oneway(dev, "_z", group_col, keys, round_sums)


def randomization_test(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
    id_col: str,
    n_perm: int = 200,
    seed: int = 42,
) -> DataFrame:
    """Randomization (approximate permutation) test for the difference
    in MEANS between two groups — the assumption-free significance
    check when z/t preconditions (normality, equal variance) don't
    hold, which at corpus scale they usually don't.

    Each replicate reassigns every row independently to pseudo-A with
    probability ``n_a/n`` from a deterministic md5 unit draw over
    ``(id, replicate, seed)`` (sampling.md5_unit_draw — the repo's one
    cross-engine draw). Independent reassignment is the distributed
    form of permutation: an exact permutation couples all rows through
    a global shuffle, which is unobtainable at scale, and the binomial
    approximation converges to the same null law (and is itself a
    valid randomization test). The two-sided p is the add-one
    estimator ``(1 + #{|diff_b| >= |diff_obs|}) / (n_perm + 1)``.

    Float discipline: per-replicate sums and both diffs round to 6
    digits BEFORE the >= compare, so
    the extreme-count is integer-identical across engines. Degenerate
    replicates (a side drew zero rows — vanishing probability at real
    n) yield NULL diffs, which never count as extreme. Returns one row
    (n_a, n_b, diff_obs, n_extreme, p_two_sided).

    Scale: n_perm × rows weight draws in one codegen explode-project,
    two hash aggregates, a one-row broadcast — the bootstrap_ci shape.
    """
    from mhm_data_pipelines_spark.operators.sampling import md5_unit_draw

    if n_perm < 1:
        raise ValueError(f"n_perm must be >= 1, got {n_perm}")
    g = F.col(group_col)
    y = F.col(value_col).cast("double")
    base = df.filter(
        y.isNotNull() & g.isin([group_a, group_b])
    ).select(
        F.col(id_col).alias("_id"),
        F.when(g == F.lit(group_a), 1).otherwise(0).alias("_ia"),
        y.alias("_y"),
    )
    obs = base.agg(
        F.sum("_ia").alias("n_a"),
        F.sum(F.lit(1) - F.col("_ia")).alias("n_b"),
        F.round(F.sum(F.col("_ia") * F.col("_y")), _DIGITS).alias("sa"),
        F.round(
            F.sum((F.lit(1) - F.col("_ia")) * F.col("_y")), _DIGITS
        ).alias("sb"),
    ).select(
        "n_a",
        "n_b",
        F.round(
            F.col("sa") / F.col("n_a") - F.col("sb") / F.col("n_b"),
            _DIGITS,
        ).alias("diff_obs"),
    )
    reps = base.crossJoin(F.broadcast(obs.select("n_a", "n_b"))).withColumn(
        "_b", F.explode(F.sequence(F.lit(0), F.lit(n_perm - 1)))
    )
    u = md5_unit_draw(
        F.concat(
            F.col("_id").cast("string"),
            F.lit("#"),
            F.col("_b").cast("string"),
        ),
        seed,
    )
    pa = F.col("n_a").cast("double") / (
        F.col("n_a") + F.col("n_b")
    ).cast("double")
    tagged = reps.withColumn("_pa", (u < pa).cast("int"))
    per_rep = tagged.groupBy("_b").agg(
        F.round(
            F.sum(F.col("_pa") * F.col("_y")), _DIGITS
        ).alias("sa"),
        F.round(
            F.sum((F.lit(1) - F.col("_pa")) * F.col("_y")), _DIGITS
        ).alias("sb"),
        F.sum("_pa").alias("ka"),
        F.sum(F.lit(1) - F.col("_pa")).alias("kb"),
    )
    diff_b = F.round(
        F.when(
            (F.col("ka") > 0) & (F.col("kb") > 0),
            F.col("sa") / F.col("ka") - F.col("sb") / F.col("kb"),
        ),
        _DIGITS,
    )
    tail = per_rep.crossJoin(F.broadcast(obs)).agg(
        F.first("n_a").alias("n_a"),
        F.first("n_b").alias("n_b"),
        F.first("diff_obs").alias("diff_obs"),
        F.sum(
            (F.abs(diff_b) >= F.abs(F.col("diff_obs"))).cast("long")
        ).alias("n_extreme"),
    )
    return tail.select(
        "n_a",
        "n_b",
        "diff_obs",
        "n_extreme",
        F.round(
            (F.lit(1) + F.col("n_extreme")) / F.lit(float(n_perm + 1)), 6
        ).alias("p_two_sided"),
    )


def mutual_information(
    df: DataFrame,
    pairs: Sequence[tuple[str | Column, str | Column, str, str]],
) -> DataFrame:
    """Exact mutual information + normalized MI between categorical
    column pairs — the model-free dependence screen that catches what
    chi-square's linear-in-deviation statistic and WoE's binary-target
    framing miss (MI is the KL divergence between the joint and the
    product of marginals; NMI = MI / sqrt(H(X)·H(Y)) is the
    scale-free [0, 1] version used for feature ranking and target-
    leakage detection: an NMI near 1 between a feature and the label
    is a leak, not a discovery).

    ``pairs`` is a list of ``(x_expr, y_expr, x_name, y_name)`` —
    expressions (or column names) with display names, so callers
    screen derived buckets without materializing them. Natural-log MI
    (nats). NULL is a category (SQL GROUP BY semantics). Degenerate
    marginals (H = 0, a constant column) define NMI = 0.0.

    Returns one row per pair: ``(x_col, y_col, n, h_x, h_y, mi, nmi)``
    all 6dp.

    Scale shape, per pair: ONE corpus hash aggregate to the joint
    (x, y) count table — bounded by the category-combination space —
    then marginals via window sums OVER THE JOINT TABLE (dimension-
    sized, never the corpus) and a single-row rollup. Pairs run as
    branches of one unioned plan sharing the scan. Entropy and MI
    sums run over the joint table only; nothing is collected.
    """
    if not pairs:
        raise ValueError("pairs must be non-empty")
    outs = []
    for x_expr, y_expr, x_name, y_name in pairs:
        xc = F.col(x_expr) if isinstance(x_expr, str) else x_expr
        yc = F.col(y_expr) if isinstance(y_expr, str) else y_expr
        joint = df.groupBy(
            xc.alias("_x"), yc.alias("_y")
        ).agg(F.count(F.lit(1)).alias("c"))
        wx = Window.partitionBy("_x")
        wy = Window.partitionBy("_y")
        wall = Window.partitionBy()
        m = joint.select(
            "c",
            F.sum("c").over(wx).alias("cx"),
            F.sum("c").over(wy).alias("cy"),
            F.sum("c").over(wall).alias("n"),
            # entropy terms must count each marginal cell ONCE:
            # attribute the x-cell's term to the first y row in the
            # x partition (any deterministic single row works)
            (F.row_number().over(wx.orderBy("_y")) == 1).alias(
                "x_first"
            ),
            (F.row_number().over(wy.orderBy("_x")) == 1).alias(
                "y_first"
            ),
        )
        c = F.col("c").cast("double")
        cx = F.col("cx").cast("double")
        cy = F.col("cy").cast("double")
        n = F.col("n").cast("double")
        mi_term = (c / n) * F.log(c * n / (cx * cy))
        hx_term = F.when(
            F.col("x_first"), -(cx / n) * F.log(cx / n)
        ).otherwise(F.lit(0.0))
        hy_term = F.when(
            F.col("y_first"), -(cy / n) * F.log(cy / n)
        ).otherwise(F.lit(0.0))
        agg = m.agg(
            F.lit(x_name).alias("x_col"),
            F.lit(y_name).alias("y_col"),
            F.max("n").cast("long").alias("n"),
            F.sum(hx_term).alias("_hx"),
            F.sum(hy_term).alias("_hy"),
            F.sum(mi_term).alias("_mi"),
        )
        outs.append(
            agg.select(
                "x_col",
                "y_col",
                "n",
                F.round("_hx", 6).alias("h_x"),
                F.round("_hy", 6).alias("h_y"),
                F.round("_mi", 6).alias("mi"),
                F.round(
                    F.when(
                        (F.col("_hx") > 0) & (F.col("_hy") > 0),
                        F.col("_mi")
                        / F.sqrt(F.col("_hx") * F.col("_hy")),
                    ).otherwise(F.lit(0.0)),
                    6,
                ).alias("nmi"),
            )
        )
    result = outs[0]
    for o in outs[1:]:
        result = result.unionByName(o)
    return result


def sprt_bernoulli(
    df: DataFrame,
    group_cols: Sequence[str],
    outcome: Column | str,
    order_cols: Sequence[str],
    p0: float,
    p1: float,
    alpha: float = 0.05,
    beta: float = 0.05,
) -> DataFrame:
    """Wald's Sequential Probability Ratio Test (Wald 1945) for
    Bernoulli outcomes, replayed exactly over each group's observation
    order — the "stop the experiment early" complement of the fixed-
    horizon :func:`two_proportion_ztest`: instead of waiting for n, the
    cumulative log-likelihood ratio walks until it crosses
    ``A = ln((1−β)/α)`` (accept H1: p = p1) or ``B = ln(β/(1−α))``
    (accept H0: p = p0).

    Per observation x ∈ {0, 1}: ``llr += x·ln(p1/p0) +
    (1−x)·ln((1−p1)/(1−p0))``. The DECISION is the first boundary
    crossing in ``order_cols`` order (include a unique id as the last
    order column — ties would make "first" engine-dependent); later
    observations never un-decide it (that is the point of the test).
    NULL outcomes are skipped (they carry no trial).

    Returns one row per group: ``n_obs``, ``successes``, ``final_llr``
    (6dp), ``decision`` ('accept_h1' / 'accept_h0' / 'continue'),
    ``n_at_decision`` (1-based observation index of the crossing, NULL
    while 'continue'), ``llr_at_decision`` (6dp, NULL while
    'continue').

    Scale shape: one per-group cumulative-sum window (the same
    entity-keyed shuffle any per-group window pays; group count bounds
    parallelism) followed by one hash aggregate — the crossing search
    is conditional min/first aggregation over the cumulated rows, no
    second pass, no collect.
    """
    if not 0.0 < p0 < 1.0 or not 0.0 < p1 < 1.0 or p0 == p1:
        raise ValueError(
            f"p0, p1 must be distinct probabilities in (0,1), "
            f"got {p0}, {p1}"
        )
    if not 0.0 < alpha < 1.0 or not 0.0 < beta < 1.0:
        raise ValueError("alpha and beta must be in (0, 1)")
    a_bound = _math.log((1.0 - beta) / alpha)
    b_bound = _math.log(beta / (1.0 - alpha))
    w_succ = _math.log(p1 / p0)
    w_fail = _math.log((1.0 - p1) / (1.0 - p0))

    x = (outcome if isinstance(outcome, Column) else F.col(outcome))
    rows = df.select(
        *group_cols,
        *[c for c in order_cols],
        x.cast("int").alias("_x"),
    ).filter(F.col("_x").isNotNull())
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    cum = rows.select(
        *group_cols,
        "_x",
        F.row_number().over(w).alias("_rn"),
        F.sum(
            F.when(F.col("_x") == 1, F.lit(w_succ)).otherwise(
                F.lit(w_fail)
            )
        )
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("_llr"),
    )
    hit_h1 = F.col("_llr") >= F.lit(a_bound)
    hit_h0 = F.col("_llr") <= F.lit(b_bound)
    agg = cum.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum("_x").cast("long").alias("successes"),
        F.max(F.struct("_rn", "_llr"))
        .getField("_llr")
        .alias("_final"),
        F.min(F.when(hit_h1, F.col("_rn"))).alias("_rn1"),
        F.min(F.when(hit_h0, F.col("_rn"))).alias("_rn0"),
        F.min(F.when(hit_h1, F.struct("_rn", "_llr")))
        .getField("_llr")
        .alias("_llr1"),
        F.min(F.when(hit_h0, F.struct("_rn", "_llr")))
        .getField("_llr")
        .alias("_llr0"),
    )
    first_is_h1 = F.col("_rn1").isNotNull() & (
        F.col("_rn0").isNull() | (F.col("_rn1") < F.col("_rn0"))
    )
    first_is_h0 = F.col("_rn0").isNotNull() & (
        F.col("_rn1").isNull() | (F.col("_rn0") <= F.col("_rn1"))
    )
    return agg.select(
        *group_cols,
        "n_obs",
        "successes",
        F.round("_final", 6).alias("final_llr"),
        F.when(first_is_h1, F.lit("accept_h1"))
        .when(first_is_h0, F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
        .alias("decision"),
        F.when(first_is_h1, F.col("_rn1"))
        .when(first_is_h0, F.col("_rn0"))
        .cast("long")
        .alias("n_at_decision"),
        F.round(
            F.when(first_is_h1, F.col("_llr1")).when(
                first_is_h0, F.col("_llr0")
            ),
            6,
        ).alias("llr_at_decision"),
    )


def fdr_adjust(
    df: DataFrame,
    p_col: str,
    alpha: float = 0.05,
) -> DataFrame:
    """Benjamini-Hochberg step-up FDR adjustment (Benjamini &
    Hochberg 1995) over a battery of test results — the multiplicity
    control every screening pass in this package feeds (psi_drift /
    ks_drift / chi2 / z batteries produce one p per feature; testing
    35 features at α=0.05 "discovers" ~2 by luck — BH caps the
    expected FALSE-discovery fraction at α instead).

    ``p_adj_i = min(1, min_{j ≥ i} p_(j) · n / j)`` over the
    ascending-p order; ``reject = p_adj ≤ alpha``. Ties need no
    tie-break: equal p's collapse to the same tail minimum by
    construction, so the result is deterministic under any ordering
    of equal values. NULL p's are excluded from n and ranking (a test
    that produced no p is not a test) and pass through with NULL
    adjusted values.

    Returns the input rows plus ``p_rank``, ``p_adj``, ``reject``.

    Scale shape: the input is a battery of TEST RESULTS — one row per
    hypothesis, thousands at most, produced by upstream aggregations
    that already reduced the corpus. The global rank and the reverse
    running minimum are single-partition windows BY DESIGN on that
    dimension-sized table (the same contract as every report-stage
    operator here); the corpus itself never enters this function.
    """
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    p = F.col(p_col)
    valid = df.filter(p.isNotNull())
    nulls = df.filter(p.isNull())
    w_rank = Window.orderBy(p)
    w_tail = Window.orderBy(F.col("p_rank").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    n = F.count(F.lit(1)).over(Window.partitionBy())
    ranked = valid.select(
        "*",
        F.row_number().over(w_rank).alias("p_rank"),
        n.alias("_n"),
    )
    adjusted = ranked.select(
        "*",
        F.least(
            F.lit(1.0),
            F.min(
                p * F.col("_n") / F.col("p_rank")
            ).over(w_tail),
        ).alias("p_adj"),
    ).drop("_n")
    out = adjusted.select(
        "*", (F.col("p_adj") <= F.lit(float(alpha))).alias("reject")
    )
    # the NULL branch unions unconditionally — when empty it is a
    # no-op plan branch; probing emptiness first (isEmpty) would be an
    # eager action executing the whole upstream battery an extra time
    return out.unionByName(
        nulls.select(
            "*",
            F.lit(None).cast("int").alias("p_rank"),
            F.lit(None).cast("double").alias("p_adj"),
            F.lit(None).cast("boolean").alias("reject"),
        )
    )


def cuped_report(
    df: DataFrame,
    arm_col: str,
    y_col: str,
    x_col: str,
) -> DataFrame:
    """CUPED variance reduction (Deng, Xu, Kohavi & Walker 2013 —
    "Improving the Sensitivity of Online Controlled Experiments"):
    adjust each unit's metric by its pre-experiment covariate,
    ``y' = y − θ·(x − x̄)`` with the POOLED ``θ = cov(x, y)/var(x)``,
    and report per-arm means and variances before/after — the
    standard way to make an A/B readout sharper without more traffic
    (same means in expectation, variance shrunk by the squared
    x-y correlation).

    Input is one row per experiment UNIT (already aggregated —
    build x/y with conditional aggregation so both are always
    defined; rows with a NULL arm, y or x are excluded here).
    Returns one row per arm: ``n``, ``mean_y``, ``mean_cuped``,
    ``var_y``, ``var_cuped`` (population variances),
    ``var_reduction_pct`` (6dp), plus the shared ``theta``.
    Degenerate ``var(x) = 0`` defines θ = 0 (no covariate signal —
    CUPED becomes a no-op, not a division error).

    Scale shape: everything derives from per-arm sufficient statistics
    ``(n, Σy, Σx, Σy², Σx², Σxy)`` — ONE hash aggregate over the unit
    table; the pooled moments re-aggregate the per-arm rows
    (arm-count-sized), θ and x̄ ride back via a single-row broadcast.
    The adjusted variance is expanded algebraically
    (``var(y) − 2θ·cov + θ²·var(x)``), so no second pass over units
    exists.
    """
    u = df.filter(
        F.col(arm_col).isNotNull()
        & F.col(y_col).isNotNull()
        & F.col(x_col).isNotNull()
    ).select(
        F.col(arm_col).alias("arm"),
        F.col(y_col).cast("double").alias("y"),
        F.col(x_col).cast("double").alias("x"),
    )
    per_arm = u.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("sy"),
        F.sum("x").alias("sx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    pooled = per_arm.agg(
        F.sum("n").alias("N"),
        F.sum("sy").alias("SY"),
        F.sum("sx").alias("SX"),
        F.sum("sxx").alias("SXX"),
        F.sum("sxy").alias("SXY"),
    ).select(
        "N",
        (F.col("SX") / F.col("N")).alias("mean_x_g"),
        (
            F.col("SXX") / F.col("N")
            - (F.col("SX") / F.col("N")) * (F.col("SX") / F.col("N"))
        ).alias("var_x_g"),
        (
            F.col("SXY") / F.col("N")
            - (F.col("SX") / F.col("N")) * (F.col("SY") / F.col("N"))
        ).alias("cov_xy_g"),
    ).select(
        "mean_x_g",
        F.when(
            F.col("var_x_g") > 0,
            F.col("cov_xy_g") / F.col("var_x_g"),
        )
        .otherwise(F.lit(0.0))
        .alias("theta"),
    )
    j = per_arm.crossJoin(F.broadcast(pooled))
    mean_y = F.col("sy") / F.col("n")
    mean_x = F.col("sx") / F.col("n")
    var_y = F.col("syy") / F.col("n") - mean_y * mean_y
    var_x = F.col("sxx") / F.col("n") - mean_x * mean_x
    cov = F.col("sxy") / F.col("n") - mean_x * mean_y
    th = F.col("theta")
    var_c = var_y - F.lit(2.0) * th * cov + th * th * var_x
    return j.select(
        "arm",
        F.col("n").cast("long").alias("n"),
        F.round(mean_y, 6).alias("mean_y"),
        F.round(
            mean_y - th * (mean_x - F.col("mean_x_g")), 6
        ).alias("mean_cuped"),
        F.round(var_y, 6).alias("var_y"),
        F.round(var_c, 6).alias("var_cuped"),
        F.round(th, 6).alias("theta"),
        F.round(
            F.when(
                var_y > 0,
                F.lit(100.0) * (F.lit(1.0) - var_c / var_y),
            ),
            6,
        ).alias("var_reduction_pct"),
    )


def _chi2_upper_p(x: Column, k: Column) -> Column:
    """Upper-tail p-value of a chi-square statistic ``x`` on ``k − 1``
    dof: the exact ``2·(1 − Φ(√x))`` at one dof, Wilson-Hilferty's
    ``(x/d)^(1/3) ~ N(1 − 2/(9d), 2/(9d))`` with ``d = k − 1``
    otherwise."""
    from mhm_data_pipelines_spark.functions.stats import normal_cdf

    p_1dof = F.lit(2.0) * (F.lit(1.0) - normal_cdf(F.sqrt(x)))
    wh_z = (
        F.pow(x / (k - 1), F.lit(1.0) / F.lit(3.0))
        - (F.lit(1.0) - F.lit(2.0) / (F.lit(9.0) * (k - 1)))
    ) / F.sqrt(F.lit(2.0) / (F.lit(9.0) * (k - 1)))
    return F.when(k == 2, p_1dof).otherwise(
        F.lit(1.0) - normal_cdf(wh_z)
    )


def srm_check(
    df: DataFrame,
    arm_col: str,
    expected: dict[str, float] | None = None,
) -> DataFrame:
    """Sample-ratio-mismatch guardrail (the chi-square goodness-of-fit
    every experimentation platform runs before reading ANY metric —
    Fabijan et al. 2019 call SRM "the most useful A/B diagnostic"): do
    the observed arm counts match the designed split? A tiny p here
    means assignment, logging, or filtering is broken and the
    experiment readout is garbage regardless of its lift.

    EAGER: unlike the other builders in this module (which stay lazy),
    this one runs Spark jobs at CALL time — one corpus scan
    materializes the arms-sized count table (``localCheckpoint``), and
    small actions on it validate the arm set before the plan is
    returned. A guardrail is read immediately by design; callers
    composing large lazy plans should call it last, or accept the
    scan-at-construction cost.

    ``expected`` maps arm value (as string) → designed share (must sum
    to ~1); omitted, a uniform split over the observed arms is
    assumed. Arms in ``expected`` with zero observed traffic still
    contribute (that is often the whole bug). NULL arms are counted
    and reported separately (``n_null_arm``) but excluded from the
    test — a NULL assignment is its own alarm.

    Returns ONE row: ``n``, ``n_null_arm``, ``dof``, ``chi2`` (6dp),
    ``p_value`` (6dp) — exact ``2·(1−Φ(√χ²))`` at 1 dof, the
    Wilson-Hilferty cube-root normal approximation otherwise (both
    via the engine-portable :func:`..functions.stats.normal_cdf`, so
    a SQL oracle replays the identical tree).

    Scale shape: one hash aggregate to the arm-count table (arms-sized)
    + a single-row rollup; the expected shares ride in as a literal
    lookup. Nothing else touches the data.
    """
    counts = (
        df.groupBy(
            F.col(arm_col).cast("string").alias("arm")
        )
        .agg(F.count(F.lit(1)).alias("c"))
        # arms-sized by design; materialized once so the validation
        # action, the NULL tally and the chi2 rollup all reuse ONE
        # corpus scan instead of re-aggregating per consumer
        .localCheckpoint(eager=True)
    )
    if expected is not None:
        tot_share = sum(expected.values())
        if not 0.999 <= tot_share <= 1.001:
            raise ValueError(
                f"expected shares must sum to 1, got {tot_share}"
            )
        if any(v <= 0 for v in expected.values()):
            raise ValueError("expected shares must be positive")
        if len(expected) < 2:
            # k=1 gives dof=0: chi2 is identically 0 and the
            # Wilson-Hilferty branch divides by (k-1)=0 → NaN p.
            raise ValueError(
                "srm_check needs >= 2 arms in expected; a one-arm "
                f"split has 0 degrees of freedom (got {len(expected)})"
            )
        exp_df = counts.sparkSession.createDataFrame(
            [(str(k), float(v)) for k, v in expected.items()],
            "arm string, share double",
        )
        obs = counts.filter(F.col("arm").isNotNull())
        merged = exp_df.join(obs, "arm", "left").select(
            "arm",
            "share",
            F.coalesce("c", F.lit(0)).alias("c"),
        )
        unexpected = obs.join(exp_df, "arm", "left_anti")
    else:
        obs = counts.filter(F.col("arm").isNotNull())
        n_arms = obs.count()  # arms-sized table; bounded by design
        if n_arms == 0:
            raise ValueError("no non-NULL arms observed")
        if n_arms == 1:
            # Same dof=0 hazard as the explicit-expected branch: a
            # uniform split over ONE observed arm cannot mismatch.
            raise ValueError(
                "srm_check needs >= 2 observed arms under the uniform "
                "split (got 1); pass expected= if arms can be absent"
            )
        merged = obs.select(
            "arm", F.lit(1.0 / n_arms).alias("share"), "c"
        )
        unexpected = obs.limit(0)
    n_unexpected = unexpected.count()
    if n_unexpected:
        rows = [r["arm"] for r in unexpected.limit(5).collect()]
        raise ValueError(
            f"arms observed but absent from expected: {rows}"
        )
    nulls = counts.filter(F.col("arm").isNull()).agg(
        F.coalesce(F.sum("c"), F.lit(0)).alias("n_null_arm")
    )
    with_total = merged.withColumn(
        "N", F.sum("c").over(Window.partitionBy())
    )
    dev = F.col("c") - F.col("share") * F.col("N")
    base = with_total.agg(
        F.sum("c").cast("long").alias("n"),
        F.count(F.lit(1)).alias("k"),
        F.sum(dev * dev / (F.col("share") * F.col("N"))).alias(
            "chi2"
        ),
    )
    k = F.col("k")
    chi2 = F.col("chi2")
    p = _chi2_upper_p(chi2, k)
    return base.crossJoin(F.broadcast(nulls)).select(
        "n",
        F.col("n_null_arm").cast("long").alias("n_null_arm"),
        (k - 1).cast("int").alias("dof"),
        F.round(chi2, 6).alias("chi2"),
        F.round(p, 6).alias("p_value"),
    )


def did_report(
    df: DataFrame,
    arm_col: str,
    period_col: str,
    y_col: str,
    treat_value: str,
    post_value: str,
) -> DataFrame:
    """Classical 2×2 difference-in-differences (Card & Krueger 1994
    shape): ``DiD = (ȳ_T,post − ȳ_T,pre) − (ȳ_C,post − ȳ_C,pre)`` over
    unit-period outcomes, with the independent-samples delta-method
    standard error ``se = sqrt(Σ_cell var_cell / n_cell)`` (sample
    variance, n−1), z = DiD/se, and a two-sided p through the
    engine-portable :func:`..functions.stats.normal_cdf`. The panel
    refinement (clustered SEs for repeated units) is out of scope by
    contract — this is the pre/post cross-section readout, documented
    as such.

    Input is one row per (unit, period) with the unit's outcome;
    ``treat_value`` / ``post_value`` name which arm/period levels are
    "treatment" and "post" (everything else is control/pre — the
    2×2 collapse). Rows with NULL arm/period/y are excluded.

    Returns ONE row: per-cell ``n_/mean_`` for tp/tq/cp/cq
    (t=treat c=control, p=post q=pre), ``did``, ``se``, ``z``,
    ``p_value`` (6dp; NULL when any cell is empty or has n < 2).

    Scale shape: ONE hash aggregate to the four (arm, period)
    sufficient-statistic cells; everything after is arithmetic on a
    4-row frame collapsed to one row by conditional aggregation.
    """
    from mhm_data_pipelines_spark.functions.stats import normal_cdf

    u = df.filter(
        F.col(arm_col).isNotNull()
        & F.col(period_col).isNotNull()
        & F.col(y_col).isNotNull()
    ).select(
        F.when(
            F.col(arm_col).cast("string") == str(treat_value), "t"
        )
        .otherwise("c")
        .alias("a"),
        F.when(
            F.col(period_col).cast("string") == str(post_value), "p"
        )
        .otherwise("q")
        .alias("pp"),
        F.col(y_col).cast("double").alias("y"),
    )
    cells = u.groupBy("a", "pp").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("y").alias("m"),
        F.var_samp("y").alias("v"),
    )
    one = cells.agg(
        *[
            x
            for a in ("t", "c")
            for p in ("p", "q")
            for x in (
                F.coalesce(
                    F.max(
                        F.when(
                            (F.col("a") == a) & (F.col("pp") == p),
                            F.col("n"),
                        )
                    ),
                    F.lit(0),
                )
                .cast("long")
                .alias(f"n_{a}{p}"),
                F.max(
                    F.when(
                        (F.col("a") == a) & (F.col("pp") == p),
                        F.col("m"),
                    )
                ).alias(f"_m_{a}{p}"),
                F.max(
                    F.when(
                        (F.col("a") == a) & (F.col("pp") == p),
                        F.col("v"),
                    )
                ).alias(f"_v_{a}{p}"),
            )
        ]
    )
    did = (
        (F.col("_m_tp") - F.col("_m_tq"))
        - (F.col("_m_cp") - F.col("_m_cq"))
    )
    se = F.sqrt(
        F.col("_v_tp") / F.col("n_tp")
        + F.col("_v_tq") / F.col("n_tq")
        + F.col("_v_cp") / F.col("n_cp")
        + F.col("_v_cq") / F.col("n_cq")
    )
    z = F.when(se > 0, did / se)
    return one.select(
        "n_tp",
        "n_tq",
        "n_cp",
        "n_cq",
        F.round("_m_tp", 6).alias("mean_tp"),
        F.round("_m_tq", 6).alias("mean_tq"),
        F.round("_m_cp", 6).alias("mean_cp"),
        F.round("_m_cq", 6).alias("mean_cq"),
        F.round(did, 6).alias("did"),
        F.round(se, 6).alias("se"),
        F.round(z, 6).alias("z"),
        F.round(
            F.lit(2.0) * (F.lit(1.0) - normal_cdf(F.abs(z))), 6
        ).alias("p_value"),
    )


def bayes_ab(
    df: DataFrame,
    arm_col: str,
    success_col: str,
    control: str,
    prior_alpha: float = 1.0,
    prior_beta: float = 1.0,
) -> DataFrame:
    """Bayesian A/B conversion readout under independent
    Beta–Binomial posteriors: per arm, the Beta(α₀+s, β₀+n−s)
    posterior mean/variance and ``p_beats_control`` — the posterior
    probability the arm's true rate exceeds the control's, via the
    standard normal approximation of the rate DIFFERENCE
    (``Φ((m_a − m_c) / √(v_a + v_c))``; exact Beta quadrature isn't
    expressible as a portable SQL tree, and at experiment-scale n the
    normal approximation is tight — both facts documented here as the
    engine contract). The control row reports NULL.

    ``success_col`` is truthy per row (boolean or 0/1 numeric); NULL
    successes count as failures only if you coalesce upstream — here
    NULL rows are DROPPED (an unlogged outcome is not a failure).
    Arms with zero rows simply don't appear; the control must appear
    or the job fails loudly at execution (every comparison would be
    NULL otherwise).

    Scale shape: ONE hash aggregate to the arms-sized table; the
    control's posterior attaches via a full-table window max (the
    dimension-sized window every report operator here uses) — no
    joins, nothing collected.
    """
    if prior_alpha <= 0 or prior_beta <= 0:
        raise ValueError("priors must be positive")
    a0, b0 = float(prior_alpha), float(prior_beta)
    arms = (
        df.filter(F.col(success_col).isNotNull())
        .groupBy(F.col(arm_col).cast("string").alias("arm"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col(success_col).cast("boolean"), 1).otherwise(0)
            ).cast("long").alias("s"),
        )
    )
    a = F.lit(a0) + F.col("s")
    b = F.lit(b0) + F.col("n") - F.col("s")
    mean = a / (a + b)
    var = a * b / ((a + b) * (a + b) * (a + b + 1))
    post = arms.select(
        "arm", "n", "s", mean.alias("_m"), var.alias("_v")
    )
    w = Window.partitionBy()
    is_ctl = F.col("arm") == control
    m_c = F.max(F.when(is_ctl, F.col("_m"))).over(w)
    v_c = F.max(F.when(is_ctl, F.col("_v"))).over(w)
    from mhm_data_pipelines_spark.functions.stats import normal_cdf

    z = (F.col("_m") - m_c) / F.sqrt(F.col("_v") + v_c)
    # The missing-control guard must sit in the TOP-LEVEL when: buried
    # inside the z arithmetic, divide/multiply codegen short-circuits
    # on its NULL operand and never evaluates the raise_error branch.
    p = (
        F.when(
            m_c.isNull(),
            F.raise_error(
                F.lit(f"bayes_ab: control arm {control!r} has no rows")
            ).cast("double"),
        )
        .when(~is_ctl, normal_cdf(z))
    )
    return post.select(
        "arm",
        "n",
        "s",
        F.round("_m", 6).alias("post_mean"),
        F.round("_v", 9).alias("post_var"),
        F.round(p, 6).alias("p_beats_control"),
    )


def ipw_report(
    df: DataFrame,
    arm_col: str,
    outcome_col: str,
    strata_cols: Sequence[str],
    treat_value,
) -> DataFrame:
    """Inverse-propensity-weighted treatment-effect readout for
    OBSERVATIONAL comparisons (Horvitz-Thompson weighting with the
    Hájek ratio form; Rosenbaum & Rubin 1983 for the propensity
    idea): when assignment was NOT randomized, a raw arm-mean
    difference confounds assignment with the strata that drove it.
    Propensity here is the exact STRATIFIED rate
    ``e(s) = n_treat(s) / n(s)`` over the given strata columns;
    treated rows weight ``1/e(s)``, controls ``1/(1−e(s))``, and

        ``ate = Σ_t y/e / Σ_t 1/e  −  Σ_c y/(1−e) / Σ_c 1/(1−e)``

    Strata with NO overlap (every row treated, or none — the
    positivity violation) cannot be weighted; their rows are DROPPED
    and counted in ``n_no_overlap`` so the violation is visible, not
    silent. NULL outcome/arm/strata rows are dropped.

    Returns ONE row: ``n_used``, ``n_treat``, ``n_control``,
    ``n_no_overlap``, ``n_strata``, ``mu_treat``, ``mu_control``,
    ``ate`` (6dp).

    Scale shape: one hash aggregate to the strata table, one
    co-partitioned join attaching ``e(s)`` back (no broadcast
    assumption — strata can be high-cardinality), one single-row
    aggregate. The propensities are exact integer ratios, so both
    engines weight identical doubles.
    """
    if not strata_cols:
        raise ValueError("strata_cols must be non-empty")
    base = df.filter(
        F.col(outcome_col).isNotNull() & F.col(arm_col).isNotNull()
    )
    for c in strata_cols:
        base = base.filter(F.col(c).isNotNull())
    base = base.select(
        *[F.col(c) for c in strata_cols],
        (F.col(arm_col) == F.lit(treat_value)).alias("_t"),
        F.col(outcome_col).cast("double").alias("_y"),
    )
    strata = base.groupBy(*strata_cols).agg(
        F.count(F.lit(1)).alias("_n_s"),
        F.sum(F.col("_t").cast("int")).alias("_nt_s"),
    )
    joined = base.join(strata, list(strata_cols))
    overlap = (F.col("_nt_s") > 0) & (F.col("_nt_s") < F.col("_n_s"))
    e = F.col("_nt_s").cast("double") / F.col("_n_s").cast("double")
    w = F.when(F.col("_t"), F.lit(1.0) / e).otherwise(
        F.lit(1.0) / (F.lit(1.0) - e)
    )
    agg = joined.agg(
        F.sum(F.when(overlap, 1).otherwise(0)).cast("long").alias("n_used"),
        F.sum(F.when(overlap & F.col("_t"), 1).otherwise(0))
        .cast("long")
        .alias("n_treat"),
        F.sum(F.when(overlap & ~F.col("_t"), 1).otherwise(0))
        .cast("long")
        .alias("n_control"),
        F.sum(F.when(~overlap, 1).otherwise(0))
        .cast("long")
        .alias("n_no_overlap"),
        F.sum(F.when(overlap & F.col("_t"), F.col("_y") * w)).alias("_tyw"),
        F.sum(F.when(overlap & F.col("_t"), w)).alias("_tw"),
        F.sum(F.when(overlap & ~F.col("_t"), F.col("_y") * w)).alias("_cyw"),
        F.sum(F.when(overlap & ~F.col("_t"), w)).alias("_cw"),
    )
    n_strata = strata.agg(
        F.count(F.lit(1)).cast("long").alias("n_strata")
    )
    mu_t = F.col("_tyw") / F.col("_tw")
    mu_c = F.col("_cyw") / F.col("_cw")
    return agg.crossJoin(F.broadcast(n_strata)).select(
        "n_used",
        "n_treat",
        "n_control",
        "n_no_overlap",
        "n_strata",
        F.round(mu_t, 6).alias("mu_treat"),
        F.round(mu_c, 6).alias("mu_control"),
        F.round(mu_t - mu_c, 6).alias("ate"),
    )


def kruskal_wallis(
    df: DataFrame,
    value_col: str,
    group_col: str,
) -> DataFrame:
    """Kruskal-Wallis H test — the k-group extension of
    :func:`mann_whitney_u` (one-way ANOVA on ranks): are the k group
    distributions location-shifted? Rank-based, so heavy tails and
    outliers don't dominate the way they do in :func:`anova_oneway`.

        ``H = 12/(N(N+1)) · Σ_j R_j²/n_j − 3(N+1)``
        ``H_c = H / (1 − Σ(t³−t)/(N³−N))``   (tie correction)

    with fractional (tie-averaged) ranks. p-value: exact
    ``2·(1−Φ(√H_c))`` at 1 dof (k=2), Wilson-Hilferty cube-root
    normal otherwise — the same engine-portable polynomial path as
    :func:`srm_check`, so a SQL oracle reproduces it bit-for-bit.

    Scale shape: ranks come from the per-distinct-value count table
    via the two-phase distributed prefix sum
    (:func:`..budget.running_total` — no global sort, no single-task
    window over data-sized input, same machinery as
    :func:`mann_whitney_u`); per-group rank sums are one equi-join of
    the (value, group) count table against that ranked value table
    plus hash aggregates. NULL values and NULL groups are dropped.

    Returns one row ``(n, k, h, h_corrected, p_value)``; the
    statistics are NULL when every value is tied (zero rank
    variance) or k < 2.
    """
    from mhm_data_pipelines_spark.operators.budget import _tie_avg_ranks

    base = df.filter(
        F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
    ).select(
        F.col(value_col).cast("double").alias("v"),
        F.col(group_col).alias("grp"),
    )
    per_val = base.groupBy("v").agg(F.count(F.lit(1)).alias("t"))
    cum, rank = _tie_avg_ranks(per_val, "v", "t", "cum")
    ranked = cum.select("v", "t", rank.alias("r"))
    per_gv = base.groupBy("grp", "v").agg(
        F.count(F.lit(1)).alias("c")
    )
    per_g = (
        per_gv.join(ranked.select("v", "r"), "v")
        .groupBy("grp")
        .agg(
            F.sum("c").alias("n_j"),
            F.sum(F.col("c") * F.col("r")).alias("r_j"),
        )
    )
    gstat = per_g.agg(
        F.sum("n_j").cast("double").alias("n"),
        F.count(F.lit(1)).alias("k"),
        F.sum(F.col("r_j") * F.col("r_j") / F.col("n_j")).alias("rr"),
    )
    ties = ranked.agg(
        F.sum(
            F.col("t").cast("double") * F.col("t") * F.col("t")
            - F.col("t")
        ).alias("tie_mass")
    )
    n, k = F.col("n"), F.col("k")
    h = (
        F.lit(12.0) / (n * (n + 1)) * F.col("rr")
        - F.lit(3.0) * (n + 1)
    )
    corr = F.lit(1.0) - F.col("tie_mass") / (n * n * n - n)
    h_c = F.when((corr > 0) & (k >= 2), h / corr)
    p = _chi2_upper_p(h_c, k)
    return gstat.crossJoin(F.broadcast(ties)).select(
        F.col("n").cast("long").alias("n"),
        F.col("k").cast("int").alias("k"),
        F.round(h, _DIGITS).alias("h"),
        F.round(h_c, _DIGITS).alias("h_corrected"),
        F.round(p, _DIGITS).alias("p_value"),
    )


def cochran_armitage(
    df: DataFrame,
    outcome_col: str,
    dose_col: str,
) -> DataFrame:
    """Cochran-Armitage trend test: is a binary outcome rate
    monotonically associated with an ORDERED exposure level? The
    dose-response sibling of :func:`two_proportion_ztest` — k ordered
    arms instead of 2, one degree of freedom spent on the linear
    trend instead of k−1 on any difference, so it has far more power
    against ordered alternatives (e.g. document-quality deciles vs
    duplicate rate, app-version order vs crash rate).

    With per-level counts ``n_i``, successes ``s_i``, numeric scores
    ``w_i`` (the dose levels themselves), and pooled rate
    ``p̄ = S/N``:

        ``T = Σ w_i·s_i − p̄·Σ w_i·n_i``
        ``Var = p̄(1−p̄)·(Σ w_i²·n_i − (Σ w_i·n_i)²/N)``
        ``z = T/√Var``,  p = 2·(1−Φ(|z|))

    Scale shape: ONE hash aggregate reduces the data to k rows; the
    statistic is a second aggregate over those k rows. The dose
    column must be numeric (its values are the trend scores); NULL
    outcome or dose rows are dropped; the outcome is coerced via
    ``cast(boolean)`` semantics (nonzero = success).

    Returns one row ``(n, k, rate, z, p_value)`` — z signed (positive
    = rate increases with dose); NULL z/p when the variance is zero
    (single level, or pooled rate 0/1).
    """
    from mhm_data_pipelines_spark.functions.stats import normal_cdf

    base = df.filter(
        F.col(outcome_col).isNotNull() & F.col(dose_col).isNotNull()
    ).select(
        F.col(outcome_col).cast("boolean").cast("long").alias("y"),
        F.col(dose_col).cast("double").alias("w"),
    )
    per_lvl = base.groupBy("w").agg(
        F.count(F.lit(1)).alias("n_i"), F.sum("y").alias("s_i")
    )
    agg = per_lvl.agg(
        F.sum("n_i").cast("double").alias("n"),
        F.count(F.lit(1)).alias("k"),
        F.sum("s_i").cast("double").alias("s"),
        F.sum(F.col("w") * F.col("s_i")).alias("ws"),
        F.sum(F.col("w") * F.col("n_i")).alias("wn"),
        F.sum(F.col("w") * F.col("w") * F.col("n_i")).alias("wwn"),
    )
    pbar = F.col("s") / F.col("n")
    t_stat = F.col("ws") - pbar * F.col("wn")
    var = (
        pbar
        * (F.lit(1.0) - pbar)
        * (F.col("wwn") - F.col("wn") * F.col("wn") / F.col("n"))
    )
    z = F.when(var > 0, t_stat / F.sqrt(var))
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.col("k").cast("int").alias("k"),
        F.round(pbar, _DIGITS).alias("rate"),
        F.round(z, _DIGITS).alias("z"),
        F.round(
            F.lit(2.0) * (F.lit(1.0) - normal_cdf(F.abs(z))),
            _DIGITS,
        ).alias("p_value"),
    )


def mcnemar_test(
    df: DataFrame,
    first_col: str,
    second_col: str,
    continuity: bool = True,
) -> DataFrame:
    """McNemar's test for PAIRED binary outcomes — did the rate
    change between two measurements of the SAME subjects (before vs
    after a model swap, variant A vs B shown to the same user)?
    Where :func:`two_proportion_ztest` assumes independent samples,
    McNemar conditions on the discordant pairs only:

        ``chi2 = (|b − c| − 1)² / (b + c)``   (continuity-corrected;
        ``(b − c)²/(b + c)`` with ``continuity=False``)

    with b = pairs flipping 1→0 and c = pairs flipping 0→1. p-value
    at 1 dof via the engine-portable normal_cdf polynomial.

    Scale shape: ONE aggregate over the paired table — no joins, no
    windows. Rows where either outcome is NULL are dropped; outcomes
    are coerced with ``cast(boolean)`` semantics.

    Returns one row ``(n, b, c, chi2, p_value)``; chi2/p NULL when
    there are no discordant pairs.
    """
    from mhm_data_pipelines_spark.functions.stats import normal_cdf

    y1 = F.col(first_col).cast("boolean")
    y2 = F.col(second_col).cast("boolean")
    base = df.filter(y1.isNotNull() & y2.isNotNull()).select(
        y1.cast("long").alias("a"), y2.cast("long").alias("b")
    )
    agg = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            (F.col("a") == 1).cast("long")
            * (F.col("b") == 0).cast("long")
        ).alias("b10"),
        F.sum(
            (F.col("a") == 0).cast("long")
            * (F.col("b") == 1).cast("long")
        ).alias("c01"),
    )
    disc = F.col("b10") + F.col("c01")
    diff = F.abs(F.col("b10") - F.col("c01"))
    if continuity:
        # clamp at 0 so |b-c|=0 doesn't go negative before squaring
        diff = F.greatest(diff - F.lit(1), F.lit(0))
    chi2 = F.when(disc > 0, diff * diff / disc.cast("double"))
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.col("b10").cast("long").alias("b"),
        F.col("c01").cast("long").alias("c"),
        F.round(chi2, _DIGITS).alias("chi2"),
        F.round(
            F.lit(2.0) * (F.lit(1.0) - normal_cdf(F.sqrt(chi2))),
            _DIGITS,
        ).alias("p_value"),
    )


def friedman_test(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    value_col: str,
) -> DataFrame:
    """Friedman test — the repeated-measures sibling of
    :func:`kruskal_wallis`: k treatments measured on the SAME blocks
    (users, days, sites), ranked WITHIN each block so between-block
    level differences cancel instead of inflating the variance.

    Mid-ranks within block; the tie-robust (Conover) statistic

        ``Q = (k−1)·Σ_j (R_j − n(k+1)/2)² / (Σ_ij r_ij² − nk(k+1)²/4)``

    is chi-square with k−1 dof under H0 — p-value exact at k=2,
    Wilson-Hilferty otherwise (same engine-portable path as
    :func:`srm_check`).

    Contract: one value per (block, treatment) — duplicates are
    collapsed by ``max`` (deterministic; pre-aggregate for other
    semantics). Only COMPLETE blocks (all k treatments present,
    k = distinct treatments in the filtered input) enter the test;
    ``n_blocks`` reports how many survived. NULLs are dropped.

    Scale shape: ranks are a per-block window over exactly k rows
    (range frame + tie-count window — no data-sized partition); the
    statistic is two hash aggregates. Returns one row
    ``(n_blocks, k, q, p_value)`` — NULL statistics when every
    in-block ranking is fully tied (zero denominator) or k < 2.
    """
    base = (
        df.filter(
            F.col(block_col).isNotNull()
            & F.col(treatment_col).isNotNull()
            & F.col(value_col).isNotNull()
        )
        .groupBy(
            F.col(block_col).alias("blk"),
            F.col(treatment_col).alias("trt"),
        )
        .agg(F.max(F.col(value_col).cast("double")).alias("v"))
    )
    k_tot = base.select(
        F.count_distinct("trt").alias("k")
    )
    complete = (
        base.groupBy("blk")
        .agg(F.count(F.lit(1)).alias("_kb"))
        .join(F.broadcast(k_tot), F.col("_kb") == F.col("k"))
        .select("blk")
    )
    kept = base.join(complete, "blk")
    w_le = (
        Window.partitionBy("blk")
        .orderBy("v")
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    w_tie = Window.partitionBy("blk", "v")
    ranked = kept.withColumn(
        "r",
        F.count(F.lit(1)).over(w_le).cast("double")
        - (F.count(F.lit(1)).over(w_tie) - 1) / 2.0,
    )
    per_trt = ranked.groupBy("trt").agg(
        F.sum("r").alias("rj"), F.count(F.lit(1)).alias("nb")
    )
    sq = ranked.agg(
        F.sum(F.col("r") * F.col("r")).alias("rr"),
        F.count(F.lit(1)).alias("n_cells"),
    )
    gstat = per_trt.agg(
        F.count(F.lit(1)).alias("k"),
        F.max("nb").cast("double").alias("n"),
        F.sum(F.col("rj") * F.col("rj")).alias("rjsq"),
        F.sum("rj").alias("rsum"),
    )
    merged = gstat.crossJoin(F.broadcast(sq))
    k = F.col("k")
    n = F.col("n")
    # Σ (R_j − n(k+1)/2)² = Σ R_j² − n²k(k+1)²/4  (since Σ R_j is fixed)
    num = (k - 1) * (
        F.col("rjsq") - n * n * k * (k + 1) * (k + 1) / 4
    )
    den = F.col("rr") - n * k * (k + 1) * (k + 1) / 4
    q = F.when((den > 0) & (k >= 2), num / den)
    p = _chi2_upper_p(q, k)
    return merged.select(
        F.col("n").cast("long").alias("n_blocks"),
        F.col("k").cast("int").alias("k"),
        F.round(q, _DIGITS).alias("q"),
        F.round(p, _DIGITS).alias("p_value"),
    )


def group_sequential_ztest(
    df: DataFrame,
    arm_col: str,
    outcome_col: str,
    order_col: str,
    control,
    treatment,
    looks: int = 4,
    critical_c: float = 2.024,
) -> DataFrame:
    """Group-sequential two-proportion monitoring with an
    O'Brien-Fleming-shaped boundary — the interim-look discipline
    :func:`sprt_bernoulli` provides per-observation, at the
    "K scheduled analyses" granularity real experiments use:
    enrollment is cut into ``looks`` equal waves by ``order_col``
    quantiles, and at each look k the CUMULATIVE pooled two-proportion
    z is compared against ``critical_c·sqrt(K/k)`` (conservative
    early, nominal late — the OBF shape). ``critical_c`` is the
    K-look critical constant from the standard OBF tables (default
    2.024 = K=4 at two-sided α≈0.05; this operator does NOT solve
    the boundary-crossing integral — pass the constant for your K/α).

    Contract: one row per unit, binary outcome (cast-boolean
    semantics), ``order_col`` is the enrollment order. Wave cuts are
    interpolated ``percentile`` quantiles of ``order_col`` (exact,
    engine-portable); units tied exactly on a cut land in the earlier
    wave.

    Scale shape: one quantile aggregate (1-row broadcast), one hash
    aggregate to (look, arm) cells, then windows over the K-row
    table. Returns one row per look: ``(look, n, n_treat, n_ctrl,
    z, boundary, crossed)`` — z NULL when a look's pooled variance
    is degenerate.
    """
    k_looks = int(looks)
    if k_looks < 2:
        raise ValueError(f"looks must be >= 2, got {looks}")
    if critical_c <= 0:
        raise ValueError(f"critical_c must be > 0, got {critical_c}")
    g = F.col(arm_col)
    base = df.filter(
        g.isin([control, treatment])
        & F.col(outcome_col).isNotNull()
        & F.col(order_col).isNotNull()
    ).select(
        F.col(order_col).cast("double").alias("_o"),
        (g == F.lit(treatment)).cast("long").alias("_it"),
        F.col(outcome_col).cast("boolean").cast("long").alias("_y"),
    )
    q_list = [i / k_looks for i in range(1, k_looks)]
    cuts = base.agg(
        *[
            F.expr(f"percentile(_o, {q!r})").alias(f"_c{i}")
            for i, q in enumerate(q_list, start=1)
        ]
    )
    look = F.lit(1)
    for i in range(1, k_looks):
        look = look + (F.col("_o") > F.col(f"_c{i}")).cast("int")
    cells = (
        base.crossJoin(F.broadcast(cuts))
        .select(look.alias("_look"), "_it", "_y")
        .groupBy("_look")
        .agg(
            F.sum("_it").alias("nt"),
            F.sum(F.lit(1) - F.col("_it")).alias("nc"),
            F.sum(F.col("_it") * F.col("_y")).alias("st"),
            F.sum((F.lit(1) - F.col("_it")) * F.col("_y")).alias("sc"),
        )
    )
    # densify to ALL K looks: heavily tied order values can collapse
    # adjacent quantile cuts, leaving a wave empty — the contract is
    # one row per scheduled look, with an empty wave inheriting the
    # prior cumulative state (zero-filled cell), not vanishing.
    look_grid = cuts.select(
        F.explode(
            F.sequence(F.lit(1), F.lit(k_looks))
        ).alias("_look")
    )
    cells = look_grid.join(cells, "_look", "left").select(
        "_look",
        *[
            F.coalesce(F.col(c), F.lit(0)).alias(c)
            for c in ("nt", "nc", "st", "sc")
        ],
    )
    w_cum = (
        Window.partitionBy()
        .orderBy("_look")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = cells.select(
        "_look",
        F.sum("nt").over(w_cum).alias("cnt"),
        F.sum("nc").over(w_cum).alias("cnc"),
        F.sum("st").over(w_cum).alias("cst"),
        F.sum("sc").over(w_cum).alias("csc"),
    )
    pt = F.col("cst") / F.col("cnt")
    pc = F.col("csc") / F.col("cnc")
    pool = (F.col("cst") + F.col("csc")) / (F.col("cnt") + F.col("cnc"))
    var = (
        pool
        * (F.lit(1.0) - pool)
        * (F.lit(1.0) / F.col("cnt") + F.lit(1.0) / F.col("cnc"))
    )
    z = F.when(var > 0, (pt - pc) / F.sqrt(var))
    boundary = F.lit(float(critical_c)) * F.sqrt(
        F.lit(float(k_looks)) / F.col("_look").cast("double")
    )
    return cum.select(
        F.col("_look").cast("int").alias("look"),
        (F.col("cnt") + F.col("cnc")).cast("long").alias("n"),
        F.col("cnt").cast("long").alias("n_treat"),
        F.col("cnc").cast("long").alias("n_ctrl"),
        F.round(z, _DIGITS).alias("z"),
        F.round(boundary, _DIGITS).alias("boundary"),
        F.when(z.isNotNull(), F.abs(z) > boundary).alias("crossed"),
    ).orderBy("look")


def eb_rate_shrinkage(
    df: DataFrame,
    group_col: str,
    outcome_col: str,
) -> DataFrame:
    """Empirical-Bayes (beta-binomial) shrinkage of per-group rates —
    the standard fix for "this item has 1/1 = 100% CTR": fit a Beta
    prior to the OBSERVED spread of group rates by method of moments
    and pull every group toward the grand mean in proportion to its
    evidence:

        ``m = mean(r_i)``, ``v = var_pop(r_i)``,
        ``K = m(1−m)/v − 1``  (prior strength, = α+β),
        ``shrunk_i = (s_i + m·K) / (n_i + K)``

    When the between-group variance carries no signal (v = 0, or
    K ≤ 0 — spread wider than binomial alone allows fitting), the
    prior is undefined and ``shrunk_rate = rate`` with NULL
    ``prior_strength`` — explicit, never a silent division.

    Scale shape: one corpus hash aggregate to (group, n, s); the
    moments are ONE aggregate over the group-sized table broadcast
    back as a single row. Binary outcomes via cast-boolean; NULL
    outcomes dropped.

    Returns one row per group: ``(group, n, s, rate, shrunk_rate,
    prior_strength)``.
    """
    y = F.col(outcome_col).cast("boolean").cast("long")
    per_g = (
        df.filter(
            F.col(group_col).isNotNull() & y.isNotNull()
        )
        .groupBy(F.col(group_col).alias("g"))
        .agg(
            F.count(F.lit(1)).alias("n"), F.sum(y).alias("s")
        )
        .withColumn(
            "rate", F.col("s").cast("double") / F.col("n")
        )
    )
    prior = per_g.agg(
        F.avg("rate").alias("m"),
        F.var_pop("rate").alias("v"),
    )
    k = F.when(
        (F.col("v") > 0)
        & (F.col("m") > 0)
        & (F.col("m") < 1),
        F.col("m") * (F.lit(1.0) - F.col("m")) / F.col("v")
        - F.lit(1.0),
    )
    k = F.when(k > 0, k)
    shrunk = F.when(
        k.isNotNull(),
        (F.col("s") + F.col("m") * k) / (F.col("n") + k),
    ).otherwise(F.col("rate"))
    return per_g.crossJoin(F.broadcast(prior)).select(
        F.col("g").alias(group_col),
        F.col("n").cast("long").alias("n"),
        F.col("s").cast("long").alias("s"),
        F.round("rate", _DIGITS).alias("rate"),
        F.round(shrunk, _DIGITS).alias("shrunk_rate"),
        F.round(k, _DIGITS).alias("prior_strength"),
    )


def qini_curve(
    df: DataFrame,
    score_col: str,
    arm_col: str,
    outcome_col: str,
    control,
    treatment,
    n_bins: int = 10,
) -> DataFrame:
    """Qini curve — the standard evaluation of an UPLIFT score
    (Radcliffe 2007): rank units by the model's score, and at each
    cumulative decile compare the treated group's response against
    the control group's, scaled to the treated volume:

        ``qini_k = S_T(k) − S_C(k) · N_T(k)/N_C(k)``

    against the random-targeting diagonal
    ``random_k = qini_K · N(k)/N``. A score that targets persuadables
    bows above the diagonal; the area between is the Qini
    coefficient (left to the consumer — the per-bin curve is the
    auditable artifact).

    Bins cut at interpolated ``percentile`` quantiles of the score
    (descending deciles: bin 1 = the top scores; ties land in the
    HIGHER bin) — no global sort, the same engine-portable cut
    discipline as :func:`group_sequential_ztest`. Cumulatives are
    windows over the n_bins-row table. Rows outside the two named
    arms or with NULL score/outcome are dropped.

    Returns one row per cumulative bin: ``(bin, n_cum, n_treat_cum,
    n_ctrl_cum, qini, random_line)`` — qini NULL while the
    cumulative control count is zero.
    """
    n_bins = int(n_bins)
    if n_bins < 2:
        raise ValueError(f"n_bins must be >= 2, got {n_bins}")
    g = F.col(arm_col)
    base = df.filter(
        g.isin([control, treatment])
        & F.col(score_col).isNotNull()
        & F.col(outcome_col).isNotNull()
    ).select(
        F.col(score_col).cast("double").alias("_sc"),
        (g == F.lit(treatment)).cast("long").alias("_it"),
        F.col(outcome_col).cast("double").alias("_y"),
    )
    q_list = [1.0 - i / n_bins for i in range(1, n_bins)]
    cuts = base.agg(
        *[
            F.expr(f"percentile(_sc, {q!r})").alias(f"_c{i}")
            for i, q in enumerate(q_list, start=1)
        ]
    )
    b = F.lit(1)
    for i in range(1, n_bins):
        b = b + (F.col("_sc") < F.col(f"_c{i}")).cast("int")
    cells = (
        base.crossJoin(F.broadcast(cuts))
        .select(b.alias("_bin"), "_it", "_y")
        .groupBy("_bin")
        .agg(
            F.sum("_it").alias("nt"),
            F.sum(F.lit(1) - F.col("_it")).alias("nc"),
            F.sum(F.col("_it") * F.col("_y")).alias("st"),
            F.sum((F.lit(1) - F.col("_it")) * F.col("_y")).alias("sc"),
        )
    )
    w_cum = (
        Window.partitionBy()
        .orderBy("_bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy()
    cum = cells.select(
        "_bin",
        F.sum("nt").over(w_cum).alias("cnt"),
        F.sum("nc").over(w_cum).alias("cnc"),
        F.sum("st").over(w_cum).alias("cst"),
        F.sum("sc").over(w_cum).alias("csc"),
        F.sum("nt").over(w_all).alias("tnt"),
        F.sum("nc").over(w_all).alias("tnc"),
        F.sum("st").over(w_all).alias("tst"),
        F.sum("sc").over(w_all).alias("tsc"),
    )
    qini = F.when(
        F.col("cnc") > 0,
        F.col("cst")
        - F.col("csc") * F.col("cnt").cast("double") / F.col("cnc"),
    )
    qini_total = F.when(
        F.col("tnc") > 0,
        F.col("tst")
        - F.col("tsc") * F.col("tnt").cast("double") / F.col("tnc"),
    )
    rand = qini_total * (F.col("cnt") + F.col("cnc")).cast(
        "double"
    ) / (F.col("tnt") + F.col("tnc"))
    return cum.select(
        F.col("_bin").cast("int").alias("bin"),
        (F.col("cnt") + F.col("cnc")).cast("long").alias("n_cum"),
        F.col("cnt").cast("long").alias("n_treat_cum"),
        F.col("cnc").cast("long").alias("n_ctrl_cum"),
        F.round(qini, _DIGITS).alias("qini"),
        F.round(rand, _DIGITS).alias("random_line"),
    ).orderBy("bin")


def wilson_ci(
    df: DataFrame,
    group_col: str,
    outcome_col: str,
    z: float = 1.959964,
) -> DataFrame:
    """Per-group binomial rates with WILSON score intervals — the
    interval every rate dashboard should use instead of the Wald
    ``p ± z√(p(1−p)/n)``, which collapses to zero width at p ∈ {0, 1}
    and goes negative near the edges exactly where small groups live:

        ``center = (p + z²/2n) / (1 + z²/n)``
        ``half   = z·√(p(1−p)/n + z²/4n²) / (1 + z²/n)``

    (Wilson 1927). ``z`` defaults to the two-sided 95% normal
    quantile as an explicit literal — both engines evaluate the same
    closed form, no quantile function involved.

    Scale shape: ONE hash aggregate to (group, n, s); the interval is
    a pure projection. Binary outcomes via cast-boolean; NULL
    outcomes/groups dropped. Returns one row per group:
    ``(group, n, s, rate, ci_low, ci_high)``.
    """
    if z <= 0:
        raise ValueError(f"z must be > 0, got {z}")
    y = F.col(outcome_col).cast("boolean").cast("long")
    per_g = (
        df.filter(F.col(group_col).isNotNull() & y.isNotNull())
        .groupBy(F.col(group_col).alias("g"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum(y).alias("s"))
    )
    zz = F.lit(float(z) * float(z))
    n = F.col("n").cast("double")
    p = F.col("s") / n
    denom = F.lit(1.0) + zz / n
    center = (p + zz / (2 * n)) / denom
    half = (
        F.lit(float(z))
        * F.sqrt(
            p * (F.lit(1.0) - p) / n + zz / (4 * n * n)
        )
        / denom
    )
    return per_g.select(
        F.col("g").alias(group_col),
        F.col("n").cast("long").alias("n"),
        F.col("s").cast("long").alias("s"),
        F.round(p, _DIGITS).alias("rate"),
        F.round(
            F.greatest(center - half, F.lit(0.0)), _DIGITS
        ).alias("ci_low"),
        F.round(
            F.least(center + half, F.lit(1.0)), _DIGITS
        ).alias("ci_high"),
    )


def cliffs_delta(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Cliff's delta — the nonparametric EFFECT SIZE companion of
    :func:`mann_whitney_u`: with U_a counting (a, b) pairs where a
    outranks b (ties as half),

        ``δ = 2·U_a/(n_a·n_b) − 1  ∈ [−1, 1]``

    — the probability a random A value exceeds a random B value,
    minus the reverse. Reported because a p-value says "different",
    never "by how much"; the conventional magnitude labels
    (negligible < .147 ≤ small < .33 ≤ medium < .474 ≤ large,
    Romano et al. 2006) ride along.

    Scale shape: identical to :func:`mann_whitney_u` (the shared
    prefix-sum rank machinery — no pair enumeration; the O(n_a·n_b)
    pair count is computed from rank sums in O(distinct values)).
    Returns one row ``(n_a, n_b, delta, magnitude)``.
    """
    u = mann_whitney_u(
        df, value_col, group_col, group_a, group_b, round_to=9
    )
    delta = (
        F.lit(2.0)
        * F.col("u_a")
        / (F.col("n_a").cast("double") * F.col("n_b"))
        - F.lit(1.0)
    )
    mag = (
        F.when(F.abs(delta) < 0.147, F.lit("negligible"))
        .when(F.abs(delta) < 0.33, F.lit("small"))
        .when(F.abs(delta) < 0.474, F.lit("medium"))
        .otherwise(F.lit("large"))
    )
    return u.select(
        "n_a",
        "n_b",
        F.round(delta, _DIGITS).alias("delta"),
        mag.alias("magnitude"),
    )
