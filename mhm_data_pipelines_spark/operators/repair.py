"""Data repair: principled NULL imputation before training-feature
export.

No reference counterpart (north-star LLM-pipeline extension): the
reference drops incomplete rows (pandas ``dropna`` scattered through
its summary scripts); at corpus scale, dropping a row because ONE
feature is missing wastes the rest of it, and imputing from the
row's GROUP (device type, source, site) beats a global constant
because missingness correlates with the grouping.

Scale shape: fill statistics are ONE aggregation to ``n_groups`` rows
(exact interpolated median via ``percentile`` — reproducible in any
engine — or mean, or deterministic mode), broadcast back and
``coalesce``\\ d in a row-local projection. The corpus is scanned
twice (stats + fill) and never shuffled; pass a precomputed ``stats``
frame to scan once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Decimals of the rounded output columns. The registry oracles round
#: to the same, so the two engines' results hash-match.
_DIGITS = 6

__all__ = [
    "impute_stats",
    "impute_nulls",
    "robust_outlier_stats",
    "winsorize_bounds",
    "winsorize",
    "quantile_normalize",
]

_STRATEGIES = ("median", "mean", "mode")


def impute_stats(
    df: DataFrame,
    strategies: dict[str, str],
    group_col: str | None = None,
) -> DataFrame:
    """Per-group fill values for each ``column -> strategy`` pair:
    ``median`` (exact linear-interpolated — Spark ``percentile`` ↔
    DuckDB ``quantile_cont``), ``mean``, or ``mode`` (most frequent
    non-null value; ties break to the SMALLEST value, deterministic in
    any engine). Returns one row per group with a ``_fill_<col>``
    column per input. ``group_col=None`` computes global fills
    (single row)."""
    bad = {c: s for c, s in strategies.items() if s not in _STRATEGIES}
    if bad or not strategies:
        raise ValueError(
            f"strategies must be non-empty with values in {_STRATEGIES}; "
            f"got {bad or strategies}"
        )
    g = group_col
    if g is None:
        df = df.withColumn("_g", F.lit(0))
        g = "_g"
    aggs = []
    mode_cols = []
    for c, s in strategies.items():
        if s == "median":
            aggs.append(
                F.expr(f"percentile({c}, 0.5)").alias(f"_fill_{c}")
            )
        elif s == "mean":
            aggs.append(F.avg(c).alias(f"_fill_{c}"))
        else:
            mode_cols.append(c)
    out = None
    if aggs:
        out = df.groupBy(F.col(g).alias("_grp")).agg(*aggs)
    for c in mode_cols:
        # mode: count per (group, value), then min(struct(-cnt, value))
        # = largest count, ties to smallest value.
        counts = (
            df.filter(F.col(c).isNotNull())
            .groupBy(F.col(g).alias("_grp"), F.col(c))
            .agg(F.count("*").alias("_n"))
        )
        mode = counts.groupBy("_grp").agg(
            F.min(F.struct((-F.col("_n")).alias("neg"), F.col(c).alias("v")))[
                "v"
            ].alias(f"_fill_{c}")
        )
        out = mode if out is None else out.join(mode, "_grp", "full_outer")
    return out


def impute_nulls(
    df: DataFrame,
    strategies: dict[str, str],
    group_col: str | None = None,
    stats: DataFrame | None = None,
    flag: bool = False,
) -> DataFrame:
    """Fill NULLs in each strategy column from its group's statistic
    (:func:`impute_stats`; pass ``stats`` to reuse a precomputed
    frame and scan the corpus once). Numeric columns keep their input
    type (the fill is cast back). ``flag=True`` adds a boolean
    ``<col>_imputed`` marker per column — training pipelines often
    want missingness itself as a feature. A group whose statistic is
    NULL (all-null group) leaves its rows NULL — imputation never
    invents data."""
    g = group_col
    if g is None:
        df = df.withColumn("_g", F.lit(0))
        g = "_g"
    st = stats if stats is not None else impute_stats(
        df, strategies, group_col=g
    )
    joined = df.join(
        F.broadcast(st), on=F.col(g) == F.col("_grp"), how="left"
    )
    for c in strategies:
        fill = F.col(f"_fill_{c}")
        typ = dict(df.dtypes)[c]
        if flag:
            joined = joined.withColumn(
                f"{c}_imputed", F.col(c).isNull() & fill.isNotNull()
            )
        joined = joined.withColumn(
            c, F.coalesce(F.col(c), fill.cast(typ))
        )
    drop = ["_grp"] + [f"_fill_{c}" for c in strategies]
    if group_col is None:
        drop.append("_g")
    return joined.drop(*drop)


def robust_outlier_stats(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    cutoff: float = 3.5,
) -> DataFrame:
    """Per-group robust outlier report via the modified z-score
    (Iglewicz & Hoaglin 1993): ``z = 0.6745·(x − median) / MAD`` with
    ``MAD = median(|x − median|)`` — location/scale estimates a heavy
    -tailed or already-polluted column can't drag around, unlike the
    mean/stddev z-score in `skew_report`.

    Two exact-percentile passes: (1) per-group median (one hash
    aggregate — Spark's exact interpolated ``percentile``, the same
    definition as DuckDB/ANSI ``quantile_cont``), (2) join the median
    back (AQE-sized: one row per group) and aggregate MAD + the flag
    count in the same pass. Groups with ``MAD = 0`` (over half the
    values identical) report NULL outliers — the statistic is
    undefined there, never a division blow-up.

    Returns ``(group_cols…, n, median, mad, n_outliers)``.
    """
    v = F.col(value_col)
    base = df.filter(v.isNotNull()).select(
        *group_cols, v.cast("double").alias("_x")
    )
    med = base.groupBy(*group_cols).agg(
        F.percentile("_x", F.lit(0.5)).alias("_med")
    )
    joined = base.join(med, group_cols)
    dev = F.abs(F.col("_x") - F.col("_med"))
    stats = joined.groupBy(*group_cols).agg(
        F.count("*").alias("n"),
        F.first("_med").alias("_med"),
        F.percentile(dev, F.lit(0.5)).alias("_mad"),
        # flags need MAD, which this same aggregate is computing — so
        # collect the deviations' flag inputs as a second pass below.
    )
    flagged = (
        joined.join(
            stats.select(*group_cols, "_mad"), group_cols
        )
        .filter(
            (F.col("_mad") > 0)
            & (
                F.lit(0.6745) * dev / F.col("_mad")
                > F.lit(cutoff)
            )
        )
        .groupBy(*group_cols)
        .agg(F.count("*").alias("_nout"))
    )
    return (
        stats.join(flagged, group_cols, "left")
        .select(
            *group_cols,
            F.col("n").cast("long").alias("n"),
            F.round("_med", _DIGITS).alias("median"),
            F.round("_mad", _DIGITS).alias("mad"),
            F.when(
                F.col("_mad") > 0,
                F.coalesce(F.col("_nout"), F.lit(0)),
            ).cast("long").alias("n_outliers"),
        )
    )


def winsorize_bounds(
    df: DataFrame,
    value_col: str,
    keys: list | None = None,
    lower: float = 0.01,
    upper: float = 0.99,
) -> DataFrame:
    """Per-group winsorization bounds: the exact interpolated
    ``lower``/``upper`` percentiles of ``value_col`` (Spark
    ``percentile`` = ANSI quantile_cont — the same cross-engine-exact
    primitive as :func:`robust_outlier_stats`). One hash aggregate to
    ``n_groups`` rows; ``keys=None`` yields a single global row.
    NULL values are excluded (percentile ignores them)."""
    if not 0.0 <= lower < upper <= 1.0:
        raise ValueError(f"need 0 <= lower < upper <= 1, got {lower}/{upper}")
    gb = df.groupBy(*[F.col(k) for k in keys]) if keys else df.groupBy()
    return gb.agg(
        F.percentile(F.col(value_col), F.lit(lower)).alias("lo"),
        F.percentile(F.col(value_col), F.lit(upper)).alias("hi"),
    )


def winsorize(
    df: DataFrame,
    value_col: str,
    keys: list | None = None,
    lower: float = 0.01,
    upper: float = 0.99,
    bounds: DataFrame | None = None,
    flag: bool = False,
) -> DataFrame:
    """Clamp ``value_col`` into its per-group [lower, upper] percentile
    band — the standard heavy-tail repair before mean/stddev-based
    features (outlier REMOVAL loses the row; winsorizing keeps it at
    the boundary). Adds ``{value_col}_w`` (clamped; NULL stays NULL)
    and, with ``flag``, ``{value_col}_clipped`` (-1 low / 0 kept /
    +1 high).

    Scale shape: bounds are a groups-sized aggregate broadcast back
    (AQE picks the broadcast side); the clamp itself is a row-local
    ``least(greatest(...))`` projection — the corpus shuffles zero
    times. Pass a precomputed ``bounds`` frame (same keys) to reuse
    one stats pass across several winsorized exports, mirroring the
    ``impute_nulls(stats=...)`` contract."""
    if bounds is None:
        bounds = winsorize_bounds(df, value_col, keys, lower, upper)
    v = F.col(value_col)
    out_col = f"{value_col}_w"
    if keys:
        joined = df.join(F.broadcast(bounds), on=list(keys), how="left")
    else:
        joined = df.crossJoin(F.broadcast(bounds))
    clamped = F.when(
        v.isNotNull(),
        F.least(F.greatest(v, F.col("lo")), F.col("hi")),
    )
    out = joined.withColumn(out_col, clamped)
    if flag:
        out = out.withColumn(
            f"{value_col}_clipped",
            F.when(v.isNull(), F.lit(None).cast("int"))
            .when(v < F.col("lo"), F.lit(-1))
            .when(v > F.col("hi"), F.lit(1))
            .otherwise(F.lit(0)),
        )
    return out.drop("lo", "hi")


def quantile_normalize(
    df: DataFrame,
    value_col: str,
    group_col: str,
    n_quantiles: int = 101,
) -> DataFrame:
    """Map each group's score distribution onto the GLOBAL distribution
    — the sklearn-QuantileTransformer shape, per group: a row's
    within-group percent_rank p is looked up in an ``n_quantiles``-point
    interpolated grid of global quantiles. After the transform every
    group's scores follow the same (global) distribution, which is the
    precondition for mixing quality scores produced by different
    classifiers/heuristics across sources.

    Scale shape: the grid is ONE global aggregate collected as an
    ``n_quantiles`` literal array (bounded by construction — the
    train_kmeans centroid discipline), so the lookup is a pure
    projection; the only shuffle is the per-group percent_rank window.
    A group is a window partition — groups are assumed to fit a task
    (salt or pre-aggregate a pathologically hot group upstream).

    Exactness contract: percent_rank is an exact rational in both
    engines; the collected quantiles are rounded to 6 decimals (half-up =
    SQL round) so both engines interpolate from identical doubles; the
    grid index is ``least(floor(p·(B−1)), B−2)`` with linear
    interpolation to the next knot. NULL scores pass through as NULL;
    a single-row group gets p = 0 (the global minimum's image).
    Adds ``{value_col}_qnorm``.
    """
    from pyspark.sql import Window

    from mhm_data_pipelines_spark.operators.similarity import (
        _round_half_up,
    )

    if n_quantiles < 2:
        raise ValueError(f"n_quantiles must be >= 2, got {n_quantiles}")
    v = F.col(value_col).cast("double")
    probs = [i / (n_quantiles - 1) for i in range(n_quantiles)]
    grid_row = df.filter(v.isNotNull()).agg(
        F.percentile(v, F.array(*[F.lit(p) for p in probs])).alias("q")
    ).collect()  # ONE row, n_quantiles doubles — metadata-sized
    grid = [float(x) for x in grid_row[0]["q"]]
    grid = [_round_half_up(x, _DIGITS) for x in grid]
    garr = F.array(*[F.lit(x) for x in grid])
    # NULL scores go to their own sub-partition so they can't distort
    # the ranks of real values (they emit NULL regardless)
    w = Window.partitionBy(F.col(group_col), v.isNull()).orderBy(v)
    p = F.percent_rank().over(w)
    b1 = n_quantiles - 1
    idx = F.least(F.floor(p * b1), F.lit(n_quantiles - 2)).cast("int")
    frac = p * b1 - idx
    qn = F.element_at(garr, idx + 1) * (1 - frac) + F.element_at(
        garr, idx + 2
    ) * frac
    return df.withColumn(
        f"{value_col}_qnorm", F.when(v.isNotNull(), qn)
    )
