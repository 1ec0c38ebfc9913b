"""Time-series regularization: calendar gap-fill with forward-fill, and
rolling-window anomaly scores.

Domain completion of the reference's availability reporting: where
``overview.missing_data_report`` only FLAGS absent (participant, day)
cells (process-overview.py's missing-data table), these operators
repair and score the series — the step a downstream model-training or
alerting pipeline actually needs.

Scale design:
* ``gap_fill_daily`` builds the per-key calendar grid from a per-key
  min/max aggregate (150 users → 150 rows → explode; never a cross
  join against a global calendar), joins observations back on the
  (key, day) hash, and forward-fills with ``last(ignorenulls)`` over
  an unbounded-preceding window — two keyed shuffles total, no
  driver-side date arithmetic.
* ``rolling_zscore`` is one window pass (rows-framed, so ties and
  late data behave identically across engines when the order key is
  made unique with the row id).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: Decimals of the rounded output columns. The registry oracles round
#: to the same, so the two engines' results hash-match.
_DIGITS = 6


def gap_fill_daily(
    df: DataFrame,
    ts: str = "ts",
    keys: Sequence[str] = ("user_id",),
    value: str = "value",
    agg: str = "avg",
) -> DataFrame:
    """Regularize to a dense daily series per key: aggregate to one row
    per (key, day), insert every missing calendar day between the key's
    first and last observation, and forward-fill the value.

    Returns (keys..., day, value <filled>, was_gap). Leading values are
    never null (the grid starts at each key's first observed day).
    """
    keys = list(keys)
    day = F.to_date(F.col(ts)).alias("day")
    daily = df.groupBy(*keys, day).agg(
        getattr(F, agg)(F.col(value)).alias("_v")
    )
    grid = (
        daily.groupBy(*keys)
        .agg(F.min("day").alias("_d0"), F.max("day").alias("_d1"))
        .select(
            *keys,
            F.explode(F.sequence("_d0", "_d1")).alias("day"),
        )
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        grid.join(daily, [*keys, "day"], "left")
        .select(
            *keys,
            "day",
            F.last("_v", ignorenulls=True).over(w).alias(value),
            F.col("_v").isNull().alias("was_gap"),
        )
    )


def rolling_zscore(
    df: DataFrame,
    ts: str = "ts",
    key: str = "user_id",
    value: str = "value",
    order_id: str | None = None,
    window: int = 7,
) -> DataFrame:
    """Score each observation against the trailing ``window`` rows of
    its key (mean/stddev_pop of the PRECEDING rows only — the current
    row never normalizes itself). Rows without a full trailing window
    get null z (cold start). ``order_id`` breaks timestamp ties so the
    frame is deterministic under any partitioning."""
    order_cols = [F.col(ts)] + ([F.col(order_id)] if order_id else [])
    w = (
        Window.partitionBy(key)
        .orderBy(*order_cols)
        .rowsBetween(-window, -1)
    )
    mean = F.avg(value).over(w)
    std = F.stddev_pop(value).over(w)
    n = F.count(value).over(w)
    z = F.when(
        (n == window) & (std > 0), (F.col(value) - mean) / std
    )
    return df.withColumn("z", z)


def funnel_progress(
    df: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    within: str | None = None,
) -> DataFrame:
    """Ordered-funnel progress per user (the product-analytics
    windowFunnel): for each user who performed ``steps[0]``, the
    earliest time of each subsequent step that happens STRICTLY AFTER
    the previous step's matched time — reaching step k requires an
    ordered chain, not mere presence of every event type. ``within``
    (an INTERVAL literal, e.g. ``'7 days'``) bounds the whole chain
    relative to the first step. Returns ``(user, t_1..t_n)`` with NULL
    from the first unreached step onward.

    Scale shape: one equi-join + min-aggregate per funnel step, all on
    the user key — Spark reuses the exchange across stages (same key),
    so the corpus shuffles once per step and never more; no windows,
    no per-user event collection.
    """
    if len(steps) < 2:
        raise ValueError("a funnel needs at least 2 steps")
    u, ts, tc = user_col, ts_col, type_col
    out = (
        df.filter(F.col(tc) == steps[0])
        .groupBy(u)
        .agg(F.min(ts).alias("t_1"))
    )
    for i, s in enumerate(steps[1:], start=2):
        ev = df.filter(F.col(tc) == s).select(
            F.col(u).alias("_u"), F.col(ts).alias("_ts")
        )
        cond = (F.col(u) == F.col("_u")) & (
            F.col("_ts") > F.col(f"t_{i-1}")
        )
        if within is not None:
            cond = cond & (
                F.col("_ts") <= F.col("t_1") + F.expr(f"INTERVAL {within}")
            )
        prior = [u] + [f"t_{j}" for j in range(1, i)]
        out = (
            out.join(ev, on=cond, how="left")
            .groupBy(*prior)
            .agg(F.min("_ts").alias(f"t_{i}"))
        )
    return out


def retention_cohorts(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    period: str = "week",
) -> DataFrame:
    """Cohort retention triangle: users grouped by their FIRST-seen
    period, counted as active in each later period offset — the
    engagement readout behind every "week-N retention" chart. Returns
    ``(cohort, offset, n_active)`` where offset 0 is the cohort's own
    period (n_active = cohort size).

    Scale shape: first-seen period is one min-aggregate per user; the
    (user, active-period) pairs are one distinct; their equi-join on
    the user key feeds the final (cohort, offset) count — three hash
    aggregations and one co-partitioned join, no windows.
    """
    if period not in ("week", "month", "day"):
        raise ValueError(f"unsupported period: {period!r}")
    p = F.date_trunc(period, F.col(ts_col))
    first = df.groupBy(user_col).agg(
        F.min(p).alias("cohort")
    )
    active = df.select(F.col(user_col), p.alias("_p")).distinct()
    diff = {
        "day": F.datediff(F.col("_p"), F.col("cohort")),
        "week": F.floor(
            F.datediff(F.col("_p"), F.col("cohort")) / 7
        ),
        "month": F.months_between(F.col("_p"), F.col("cohort")).cast(
            "int"
        ),
    }[period]
    return (
        active.join(first, user_col)
        .select(
            F.col("cohort"),
            diff.cast("int").alias("offset"),
            F.col(user_col),
        )
        .groupBy("cohort", "offset")
        .agg(F.count_distinct(user_col).cast("long").alias("n_active"))
    )


def ewma(
    df: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    order_id: str | None = None,
    value: str = "value",
    alpha: float = 0.25,
) -> DataFrame:
    """Exponentially-weighted moving average per key:
    ``y_1 = x_1; y_t = (1-alpha)*y_{t-1} + alpha*x_t`` — the standard
    recursive (adjust=False) form, written with exactly that operation
    order so any engine replaying the recursion reproduces it bitwise.

    The recursion is inherently sequential WITHIN a key, so the key is
    the unit of parallelism: one shuffle groups each key's rows into a
    single Arrow batch (``applyInPandas``), and independent keys smooth
    concurrently across executors. Use a high-cardinality key
    (user/series id); a 5-value key would serialize the corpus. Rows
    come back with ``rn`` (1-based order index) and ``ewma``.
    """
    import pandas as pd

    order_cols = [ts] + ([order_id] if order_id else [])
    schema = (
        f"{key} {dict(df.dtypes)[key]}, rn long, "
        f"{value} double, ewma double"
    )
    beta = 1.0 - alpha

    def smooth(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_cols, kind="mergesort")
        xs = pdf[value].to_numpy(dtype="float64")
        ys = xs.copy()
        for i in range(1, len(ys)):
            ys[i] = beta * ys[i - 1] + alpha * xs[i]
        return pd.DataFrame(
            {
                key: pdf[key].to_numpy(),
                "rn": range(1, len(ys) + 1),
                value: xs,
                "ewma": ys,
            }
        )

    return df.select(key, *order_cols, value).groupBy(key).applyInPandas(
        smooth, schema=schema
    )


def cusum_summary(
    df: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    order_id: str | None = None,
    value: str = "value",
    k: float = 0.5,
    h: float = 4.0,
) -> DataFrame:
    """Two-sided CUSUM change detection per key with restart-on-alarm:
    standardize each observation against its KEY's mean/stddev_pop
    (one hash agg, joined back — never pandas-side, so the z-scores are
    engine-reproducible), then run
    ``s+ = max(0, carry + z - k)`` / ``s- = max(0, carry - z - k)``
    where an alarm (s > h) resets the carry to 0. Returns one summary
    row per key: n_obs, alarm counts and the max excursion each side.

    Scale shape: two keyed shuffles (stats agg + group-for-recursion);
    the sequential part is per key, parallel across keys, Arrow-batched.
    """
    import pandas as pd

    order_cols = [ts] + ([order_id] if order_id else [])
    stats = df.groupBy(key).agg(
        F.avg(value).alias("_mu"),
        F.stddev_pop(value).alias("_sd"),
    )
    z = F.when(
        F.col("_sd") > 0, (F.col(value) - F.col("_mu")) / F.col("_sd")
    ).otherwise(0.0)
    prepped = (
        df.join(stats, key)
        .select(key, *order_cols, z.alias("_z"))
    )
    schema = (
        f"{key} {dict(df.dtypes)[key]}, n_obs long, "
        "n_alarms_hi long, n_alarms_lo long, "
        "max_s_hi double, max_s_lo double"
    )

    def scan(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_cols, kind="mergesort")
        zs = pdf["_z"].to_numpy(dtype="float64")
        sp = sn = 0.0
        hi = lo = 0
        max_sp = max_sn = 0.0
        for zv in zs:
            sp = max(0.0, (0.0 if sp > h else sp) + zv - k)
            sn = max(0.0, (0.0 if sn > h else sn) - zv - k)
            if sp > h:
                hi += 1
            if sn > h:
                lo += 1
            max_sp = max(max_sp, sp)
            max_sn = max(max_sn, sn)
        return pd.DataFrame(
            {
                key: pdf[key].iloc[:1],
                "n_obs": [len(zs)],
                "n_alarms_hi": [hi],
                "n_alarms_lo": [lo],
                "max_s_hi": [max_sp],
                "max_s_lo": [max_sn],
            }
        )

    return prepped.groupBy(key).applyInPandas(scan, schema=schema)


def ols_trend(
    df: DataFrame,
    keys: Sequence[str],
    x_col,
    y_col: str,
    round_sums: int | None = None,
) -> DataFrame:
    """Per-group ordinary-least-squares trend line — slope, intercept,
    r² of ``y`` over ``x`` — from ONE hash aggregate of sufficient
    statistics (n, Σx, Σy, Σxy, Σx², Σy²). The closed form needs no
    second pass, no window, no sort: the same mergeable-partials shape
    as operators/ivm.py, so trends roll up incrementally too.

    Numerical contract: callers pass ``x_col`` already CENTERED to a
    modest magnitude (e.g. epoch seconds minus a literal epoch —
    raw epoch-seconds squared lose ~6 digits to cancellation in
    nΣx²−(Σx)²). ``round_sums`` (digits) optionally rounds the float
    sums before the closed form so two engines derive from
    bit-identical doubles — the cross-engine hash-parity discipline.

    Zero x-variance (a single distinct x) → NULL slope/intercept/r²;
    zero y-variance → slope 0 with NULL r² (r² is 0/0 there). Null x
    or y rows are excluded (both sums must see the same rows).
    Returns keys + (n, slope, intercept, r2).
    """
    x = (x_col if not isinstance(x_col, str) else F.col(x_col)).cast(
        "double"
    )
    y = F.col(y_col).cast("double")
    base = df.filter(x.isNotNull() & y.isNotNull())
    agg = base.groupBy(*[F.col(k) for k in keys]).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
    )
    if round_sums is not None:
        agg = agg.select(
            *keys,
            "n",
            *[
                F.round(c, round_sums).alias(c)
                for c in ("sx", "sy", "sxy", "sxx", "syy")
            ],
        )
    n = F.col("n").cast("double")
    cov_n = n * F.col("sxy") - F.col("sx") * F.col("sy")  # n²·cov
    varx_n = n * F.col("sxx") - F.col("sx") * F.col("sx")  # n²·var(x)
    vary_n = n * F.col("syy") - F.col("sy") * F.col("sy")  # n²·var(y)
    slope = F.when(varx_n > 0, cov_n / varx_n)
    intercept = F.when(
        varx_n > 0, (F.col("sy") - slope * F.col("sx")) / n
    )
    r2 = F.when(
        (varx_n > 0) & (vary_n > 0), cov_n * cov_n / (varx_n * vary_n)
    )
    return agg.select(
        *keys,
        "n",
        slope.alias("slope"),
        intercept.alias("intercept"),
        r2.alias("r2"),
    )


def acf(
    df: DataFrame,
    keys: Sequence[str],
    order_cols: Sequence[str],
    value_col: str,
    max_lag: int = 5,
    round_sums: int | None = None,
) -> DataFrame:
    """Per-series autocorrelation function: r_lag for lag = 1..max_lag,

        r_l = Σ_t (y_t − ȳ)(y_{t+l} − ȳ)  /  Σ_t (y_t − ȳ)²

    with ȳ and the denominator over the FULL series (the standard ACF
    estimator — one shared normalizer, so r_l is comparable across
    lags). The lag pairing is ``lead(value, l)`` over one
    partitioned-by-key window ordered by ``order_cols`` — all max_lag
    leads come out of a SINGLE window pass (one shuffle on the series
    key, no self-joins), then one hash aggregate per series. Rows with
    NULL value stay in the window frame (a gap breaks the pairs that
    span it — lag counts the positions actually paired).

    ``order_cols`` must be a deterministic total order per key (pass a
    tiebreaker, e.g. ``["ts", "event_id"]``) or lag pairing is
    nondeterministic under shuffle. ``round_sums`` rounds the two
    cross-sums so independent engines derive r from identical doubles
    (the ols_trend convention). Returns keys + (lag, n_pairs, r), with
    r NULL for a zero-variance series.

    Scale: series live whole in their key partition (the usual
    time-series contract; salt long series upstream if one key is a
    hot spot). Work is O(max_lag) columns per row, one shuffle total.
    """
    from pyspark.sql import Window

    if max_lag < 1:
        raise ValueError(f"max_lag must be >= 1, got {max_lag}")
    y = F.col(value_col).cast("double")
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(
        *[F.col(c) for c in order_cols]
    )
    with_leads = df.select(
        *keys,
        y.alias("_y"),
        *[F.lead(y, lag).over(w).alias(f"_y{lag}") for lag in
          range(1, max_lag + 1)],
    )
    stats = with_leads.groupBy(*keys).agg(
        F.count("_y").alias("n"),
        F.sum("_y").alias("s"),
        F.sum(F.col("_y") * F.col("_y")).alias("q"),
        *[
            agg
            for lag in range(1, max_lag + 1)
            for agg in (
                F.count(
                    F.when(
                        F.col("_y").isNotNull()
                        & F.col(f"_y{lag}").isNotNull(),
                        1,
                    )
                ).alias(f"np{lag}"),
                F.sum(F.col("_y") * F.col(f"_y{lag}")).alias(f"sxy{lag}"),
                F.sum(
                    F.when(
                        F.col(f"_y{lag}").isNotNull(), F.col("_y")
                    )
                ).alias(f"sx{lag}"),
                F.sum(
                    F.when(
                        F.col("_y").isNotNull(), F.col(f"_y{lag}")
                    )
                ).alias(f"sy{lag}"),
            )
        ],
    )
    if round_sums is not None:
        float_cols = ["s", "q"] + [
            f"{p}{lag}"
            for lag in range(1, max_lag + 1)
            for p in ("sxy", "sx", "sy")
        ]
        stats = stats.select(
            *keys,
            "n",
            *[F.round(c, round_sums).alias(c) for c in float_cols],
            *[f"np{lag}" for lag in range(1, max_lag + 1)],
        )
    n = F.col("n").cast("double")
    mean = F.col("s") / n
    denom = F.col("q") - n * mean * mean
    lag_structs = F.array(
        *[
            F.struct(
                F.lit(lag).alias("lag"),
                F.col(f"np{lag}").alias("n_pairs"),
                (
                    F.col(f"sxy{lag}")
                    - mean * F.col(f"sx{lag}")
                    - mean * F.col(f"sy{lag}")
                    + F.col(f"np{lag}") * mean * mean
                ).alias("num"),
            )
            for lag in range(1, max_lag + 1)
        ]
    )
    exploded = stats.select(
        *keys,
        denom.alias("_den"),
        F.explode(lag_structs).alias("_l"),
    )
    return exploded.select(
        *keys,
        F.col("_l.lag").alias("lag"),
        F.col("_l.n_pairs").alias("n_pairs"),
        F.when(F.col("_den") > 0, F.col("_l.num") / F.col("_den")).alias(
            "r"
        ),
    )


def ccf(
    df: DataFrame,
    keys: Sequence[str],
    order_cols: Sequence[str],
    x_col: str,
    y_col: str,
    max_lag: int = 5,
    round_sums: int | None = None,
) -> DataFrame:
    """Per-series cross-correlation function between two aligned
    series — for lag = −max_lag..max_lag,

        r_l = Σ_t (x_t − x̄)(y_{t+l} − ȳ)
              / sqrt(Σ(x−x̄)² · Σ(y−ȳ)²)

    with means and the normalizer over each FULL series (the standard
    CCF estimator; positive lag = y FOLLOWS x by l steps, so a peak at
    l>0 reads "x leads y"). The lead/lag lead detection every
    funnel-ish question wants: do purchases trail clicks by two hours?

    Same single-window-pass shape as :func:`acf`: ALL 2·max_lag+1
    shifted copies come from one partitioned window ordered by
    ``order_cols`` (deterministic total order — pass a tiebreaker),
    then one hash aggregate per series. Rows where either side of a
    pair is NULL drop from that lag's numerator sums; the normalizer
    uses all non-null values of each series. ``round_sums`` = the
    ols_trend cross-engine convention. Returns keys +
    (lag, n_pairs, r); r NULL when either series has zero variance.

    Scale: feed PRE-AGGREGATED series (e.g. hourly rollups) — the
    frame is then bounded by the time range, so even an unkeyed global
    window is metadata-sized; raw-event CCF should roll up first.
    """
    from pyspark.sql import Window

    if max_lag < 1:
        raise ValueError(f"max_lag must be >= 1, got {max_lag}")
    lags = list(range(-max_lag, max_lag + 1))
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(
        *[F.col(c) for c in order_cols]
    )

    def shifted(lag: int):
        return F.lead(y, lag).over(w) if lag >= 0 else F.lag(
            y, -lag
        ).over(w)

    def tag(lag: int) -> str:
        return f"m{-lag}" if lag < 0 else f"p{lag}"

    with_shifts = df.select(
        *keys,
        x.alias("_x"),
        y.alias("_y"),
        *[shifted(lag).alias(f"_s{tag(lag)}") for lag in lags],
    )
    stats = with_shifts.groupBy(*keys).agg(
        F.count("_x").alias("nx"),
        F.sum("_x").alias("sx"),
        F.sum(F.col("_x") * F.col("_x")).alias("qx"),
        F.count("_y").alias("ny"),
        F.sum("_y").alias("sy"),
        F.sum(F.col("_y") * F.col("_y")).alias("qy"),
        *[
            agg
            for lag in lags
            for agg in (
                F.count(
                    F.when(
                        F.col("_x").isNotNull()
                        & F.col(f"_s{tag(lag)}").isNotNull(),
                        1,
                    )
                ).alias(f"np_{tag(lag)}"),
                F.sum(F.col("_x") * F.col(f"_s{tag(lag)}")).alias(
                    f"sxy_{tag(lag)}"
                ),
                F.sum(
                    F.when(
                        F.col(f"_s{tag(lag)}").isNotNull(), F.col("_x")
                    )
                ).alias(f"sa_{tag(lag)}"),
                F.sum(
                    F.when(
                        F.col("_x").isNotNull(), F.col(f"_s{tag(lag)}")
                    )
                ).alias(f"sb_{tag(lag)}"),
            )
        ],
    )
    if round_sums is not None:
        float_cols = ["sx", "qx", "sy", "qy"] + [
            f"{p}_{tag(lag)}" for lag in lags for p in ("sxy", "sa", "sb")
        ]
        stats = stats.select(
            *keys,
            "nx",
            "ny",
            *[F.round(c, round_sums).alias(c) for c in float_cols],
            *[f"np_{tag(lag)}" for lag in lags],
        )
    nx = F.col("nx").cast("double")
    ny = F.col("ny").cast("double")
    mx = F.col("sx") / nx
    my = F.col("sy") / ny
    den = F.sqrt(
        (F.col("qx") - nx * mx * mx) * (F.col("qy") - ny * my * my)
    )
    lag_structs = F.array(
        *[
            F.struct(
                F.lit(lag).alias("lag"),
                F.col(f"np_{tag(lag)}").alias("n_pairs"),
                (
                    F.col(f"sxy_{tag(lag)}")
                    - my * F.col(f"sa_{tag(lag)}")
                    - mx * F.col(f"sb_{tag(lag)}")
                    + F.col(f"np_{tag(lag)}") * mx * my
                ).alias("num"),
            )
            for lag in lags
        ]
    )
    exploded = stats.select(
        *keys, den.alias("_den"), F.explode(lag_structs).alias("_l")
    )
    return exploded.select(
        *keys,
        F.col("_l.lag").alias("lag"),
        F.col("_l.n_pairs").alias("n_pairs"),
        F.when(F.col("_den") > 0, F.col("_l.num") / F.col("_den")).alias(
            "r"
        ),
    )


def linear_fit(
    df: DataFrame,
    keys: Sequence[str],
    x_cols: Sequence[str],
    y_col: str,
    round_sums: int | None = None,
) -> DataFrame:
    """Per-group multivariate OLS — fit ``y = b0 + b1·x1 + ... + bd·xd``
    for up to d=3 features from ONE hash aggregate of normal-equation
    sufficient statistics (XᵀX and Xᵀy with an intercept column), then
    solve the (d+1)×(d+1) system IN-PLAN via Cramer's rule — explicit
    determinant arithmetic over the (rounded) sums, so an independent
    SQL engine replays the identical closed form and the whole fit
    stays one aggregate + one projection (zero extra shuffles, no
    driver solve, no iteration).

    This is the score-blending fit every quality pipeline wants
    ("weight these 3 heuristics to predict the gold label") at the
    d where Cramer is exact and cheap; larger d belongs to the
    gradient path (selection.quality_classifier) or the PCA-style
    collect-and-eigensolve. Singular systems (det ≈ 0, e.g. collinear
    or constant features) yield NULL betas by contract. Rows with any
    NULL among x/y drop (the sums must see identical rows).

    Numerical contract mirrors :func:`ols_trend`: pre-center/scale
    features of wild magnitude; ``round_sums`` (round-half-up = SQL
    round) makes both engines derive from bit-identical doubles.
    Returns keys + (n, b0, b1..bd, det).
    """
    d = len(x_cols)
    if not 1 <= d <= 3:
        raise ValueError(f"linear_fit supports 1..3 features, got {d}")
    y = F.col(y_col).cast("double")
    xs = [F.lit(1.0)] + [F.col(c).cast("double") for c in x_cols]
    cond = y.isNotNull()
    for c in x_cols:
        cond = cond & F.col(c).cast("double").isNotNull()
    base = df.filter(cond)
    m = d + 1
    aggs = [F.count(F.lit(1)).alias("n")]
    for i in range(m):
        for j in range(i, m):
            aggs.append(F.sum(xs[i] * xs[j]).alias(f"a{i}{j}"))
        aggs.append(F.sum(xs[i] * y).alias(f"b{i}"))
    stats = base.groupBy(*[F.col(k) for k in keys]).agg(*aggs)
    if round_sums is not None:
        float_cols = [
            f"a{i}{j}" for i in range(m) for j in range(i, m)
        ] + [f"b{i}" for i in range(m)]
        stats = stats.select(
            *keys,
            "n",
            *[F.round(c, round_sums).alias(c) for c in float_cols],
        )

    def a(i: int, j: int):
        i, j = min(i, j), max(i, j)
        return F.col(f"a{i}{j}")

    def det3(c0, c1, c2):
        """Determinant of a 3x3 given as three column-index triples or
        literal column lists [(row0), (row1), (row2)] laid out by
        columns c0/c1/c2 — each c is a list of 3 Column expressions."""
        return (
            c0[0] * (c1[1] * c2[2] - c1[2] * c2[1])
            - c1[0] * (c0[1] * c2[2] - c0[2] * c2[1])
            + c2[0] * (c0[1] * c1[2] - c0[2] * c1[1])
        )

    def det(cols):
        """Determinant of an m×m matrix given as m column-vectors
        (each a list of m Column expressions), m in 1..4, by cofactor
        expansion along the first column-vector."""
        n_ = len(cols)
        if n_ == 1:
            return cols[0][0]
        if n_ == 2:
            return cols[0][0] * cols[1][1] - cols[1][0] * cols[0][1]
        if n_ == 3:
            return det3(cols[0], cols[1], cols[2])
        total = None
        for r in range(n_):
            minor = [
                [c[k] for k in range(n_) if k != r] for c in cols[1:]
            ]
            term = cols[0][r] * det(minor)
            if r % 2 == 1:
                term = -term
            total = term if total is None else total + term
        return total

    ata = [[a(i, j) for i in range(m)] for j in range(m)]  # column-major
    aty = [F.col(f"b{i}") for i in range(m)]
    det_a = det(ata)
    out_cols = [*keys, F.col("n"), det_a.alias("det")]
    eps = F.lit(1e-12)
    for j in range(m):
        replaced = [aty if k == j else ata[k] for k in range(m)]
        beta = F.when(F.abs(det_a) > eps, det(replaced) / det_a)
        out_cols.append(beta.alias(f"b{j}"))
    res = stats.select(*out_cols)
    return res.select(
        *keys, "n", *[f"b{j}" for j in range(m)], "det"
    )


def transition_matrix(
    df: DataFrame,
    entity_col: str,
    order_cols: Sequence[str],
    state_col: str,
    keys: Sequence[str] = (),
) -> DataFrame:
    """First-order Markov transition matrix over per-entity event
    sequences: P(next_state | state) with exact integer counts — the
    behavioral fingerprint behind session modeling, anomaly detection
    ("this user's click→purchase rate collapsed"), and synthetic
    sequence generation.

    One lead window partitioned by entity (ordered by ``order_cols`` —
    pass a tiebreaker for a deterministic total order), then one hash
    aggregate on (keys, state, next_state); row probabilities divide by
    the per-state total via a window SUM over the states-sized
    aggregate — the corpus shuffles once for the lead window and once
    for the count aggregate, nothing else. Sequence-final events (lead
    NULL) drop, and a NULL state BREAKS the chain — the events on
    either side of it do not pair (the lead runs before the NULL
    filter). Returns keys + (state, next_state, n, p) where p sums to
    1 per (keys, state).
    """
    from pyspark.sql import Window

    st = F.col(state_col)
    w = Window.partitionBy(
        *[F.col(k) for k in keys], F.col(entity_col)
    ).orderBy(*[F.col(c) for c in order_cols])
    pairs = df.select(
        *keys,
        st.alias("state"),
        F.lead(st).over(w).alias("next_state"),
    ).filter(F.col("state").isNotNull() & F.col("next_state").isNotNull())
    counts = pairs.groupBy(*keys, "state", "next_state").agg(
        F.count(F.lit(1)).alias("n")
    )
    per_state = Window.partitionBy(*[F.col(k) for k in keys], "state")
    return counts.select(
        *keys,
        "state",
        "next_state",
        "n",
        F.round(
            F.col("n").cast("double")
            / F.sum("n").over(per_state).cast("double"),
            _DIGITS,
        ).alias("p"),
    )


def rfm_scores(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    value_col: str,
    n_tiles: int = 3,
) -> DataFrame:
    """RFM (recency / frequency / monetary) segmentation: per entity,
    days since last event, event count, and value total, each cut into
    ``n_tiles`` equal-population scores (``n_tiles`` = best) — the
    classic behavioral segmentation for retention targeting and the
    canonical input to churn models.

    Scale shape: ONE hash aggregate collapses the corpus to the
    entity-sized table; the reference timestamp is a single-row
    broadcast (max ts); the three ntile windows then run over the
    AGGREGATED table — dimension-sized by construction, never the
    corpus. Ordering ties break on the entity id, so tile assignment
    is a deterministic total order any engine replays. Entities with
    NULL ts never aggregate (filtered); NULL values count toward
    frequency but not monetary. Returns (entity, r_days, f, m,
    r_score, f_score, m_score) with scores in 1..n_tiles, n_tiles =
    most recent / most frequent / highest value.
    """
    from pyspark.sql import Window

    if n_tiles < 2:
        raise ValueError(f"n_tiles must be >= 2, got {n_tiles}")
    e = F.col(entity_col)
    base = df.filter(F.col(ts_col).isNotNull())
    per_user = base.groupBy(e.alias("entity")).agg(
        F.max(F.unix_micros(F.col(ts_col))).alias("last_us"),
        F.count(F.lit(1)).alias("f"),
        F.round(F.sum(F.col(value_col).cast("double")), _DIGITS).alias(
            "m"
        ),
    )
    ref = base.agg(
        F.max(F.unix_micros(F.col(ts_col))).alias("ref_us")
    )
    joined = per_user.crossJoin(F.broadcast(ref)).select(
        "entity",
        F.round(
            (F.col("ref_us") - F.col("last_us"))
            / F.lit(86400000000.0),
            _DIGITS,
        ).alias("r_days"),
        "f",
        F.coalesce("m", F.lit(0.0)).alias("m"),
    )
    by_recency = Window.orderBy(F.col("r_days"), F.col("entity"))
    by_freq = Window.orderBy(F.col("f").desc(), F.col("entity"))
    by_money = Window.orderBy(F.col("m").desc(), F.col("entity"))
    k = n_tiles + 1
    return joined.select(
        "entity",
        "r_days",
        "f",
        "m",
        (F.lit(k) - F.ntile(n_tiles).over(by_recency)).alias("r_score"),
        (F.lit(k) - F.ntile(n_tiles).over(by_freq)).alias("f_score"),
        (F.lit(k) - F.ntile(n_tiles).over(by_money)).alias("m_score"),
    )


def robust_trend(
    df: DataFrame,
    keys: Sequence[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-series Theil-Sen slope + Mann-Kendall trend test — the
    robust complement to :func:`ols_trend`: the Sen slope is the exact
    median of all pairwise slopes (up to 29% contaminated points can't
    move it), and MK's S = Σ sign(y_j − y_i) over time-ordered pairs
    gives a distribution-free monotone-trend z (tie-corrected
    variance, ±1 continuity correction).

    Both statistics come from ONE within-key self-join over the series
    (pairs with x_i < x_j — x must be distinct per key, e.g. a day
    index) plus a tie-count aggregate for Var(S):

        Var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)] / 18

    over y-tie group sizes t. Designed for PRE-AGGREGATED series (the
    :func:`ccf` contract): the pair space is O(m²) of the ROLLUP
    length, within-key, never the raw corpus — a 3-year daily series
    is ~600k pairs, trivially partition-local. Feed rounded y values
    (the round-sum-before-divide rollup discipline) so two engines
    derive identical slopes. NULL x/y rows drop. Returns keys +
    (n, n_pairs, sen_slope, mk_s, mk_z); z is NULL when Var(S) ≤ 0
    (all values tied) and sen_slope NULL when the series has < 2
    points.
    """
    keys = list(keys)
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    base = df.filter(x.isNotNull() & y.isNotNull()).select(
        *keys, x.alias("_x"), y.alias("_y")
    )
    a = base
    b = base
    for k in keys + ["_x", "_y"]:
        b = b.withColumnRenamed(k, f"{k}__b")
    cond = F.col("_x") < F.col("_x__b")
    for k in keys:
        cond = (F.col(k) == F.col(f"{k}__b")) & cond
    pairs = a.join(b, cond).select(
        *keys,
        (
            (F.col("_y__b") - F.col("_y"))
            / (F.col("_x__b") - F.col("_x"))
        ).alias("_slope"),
        F.signum(F.col("_y__b") - F.col("_y")).alias("_sgn"),
    )
    gbp = pairs.groupBy(*keys) if keys else pairs.groupBy()
    pair_stats = gbp.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.percentile(F.col("_slope"), F.lit(0.5)).alias("sen_slope"),
        F.sum("_sgn").cast("long").alias("mk_s"),
    )
    gbn = base.groupBy(*keys) if keys else base.groupBy()
    counts = gbn.agg(F.count(F.lit(1)).alias("n"))
    ties = base.groupBy(*keys, "_y").agg(F.count(F.lit(1)).alias("_t"))
    gbt = ties.groupBy(*keys) if keys else ties.groupBy()
    t = F.col("_t").cast("double")
    tie_sum = gbt.agg(
        F.sum(t * (t - 1) * (2 * t + 5)).alias("_tie_term")
    )
    if keys:
        merged = counts.join(pair_stats, keys, "left").join(
            F.broadcast(tie_sum), keys, "left"
        )
    else:
        merged = counts.crossJoin(pair_stats).crossJoin(
            F.broadcast(tie_sum)
        )
    n = F.col("n").cast("double")
    var_s = (
        n * (n - 1) * (2 * n + 5) - F.col("_tie_term")
    ) / F.lit(18.0)
    s = F.col("mk_s").cast("double")
    z = F.when(
        var_s > 0,
        F.when(s > 0, (s - 1) / F.sqrt(var_s))
        .when(s < 0, (s + 1) / F.sqrt(var_s))
        .otherwise(F.lit(0.0)),
    )
    return merged.select(
        *keys,
        "n",
        F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
        "sen_slope",
        F.coalesce("mk_s", F.lit(0)).alias("mk_s"),
        z.alias("mk_z"),
    )


def sequential_patterns(
    df: DataFrame,
    entity_col: str,
    order_cols: Sequence[str],
    state_col: str,
    k: int = 3,
) -> DataFrame:
    """Frequent sequential patterns of length ``k``: every run of
    ``k`` CONSECUTIVE states per entity (ordered by ``order_cols``),
    with occurrence count, distinct-entity count, and support =
    entities exhibiting the pattern / all entities. The contiguous
    special case of PrefixSpan-style mining (general gapped
    subsequences explode combinatorially; consecutive runs answer the
    funnel/journey question pipelines actually ask) — and the order-k
    extension of :func:`transition_matrix`'s bigram counts.

    Returns ``(pattern, n_occurrences, n_entities, support)`` where
    ``pattern`` is the ``>``-joined state string. Windows partition by
    the entity, so no cross-entity runs; runs containing a NULL state
    or truncated by the series end are dropped (every emitted pattern
    has exactly k real states).

    Scale shape: ONE window pass builds the k−1 leads (same
    partition/order for all of them — one sort, k−1 frame reads), one
    hash aggregate per pattern, and a 1-row entity-total broadcast for
    the support ratio. Nothing scales with k but the projection width.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    w = Window.partitionBy(entity_col).orderBy(*order_cols)
    cols = [F.col(state_col)] + [
        F.lead(state_col, i).over(w) for i in range(1, k)
    ]
    state_names = [f"_s{i}" for i in range(k)]
    seqs = df.select(
        F.col(entity_col).alias("entity"),
        *[c.alias(n) for c, n in zip(cols, state_names)],
    )
    for n in state_names:  # complete runs only (NULL/truncated drop)
        seqs = seqs.filter(F.col(n).isNotNull())
    total = df.agg(
        F.countDistinct(entity_col).alias("n_total_entities")
    )
    # Aggregate on the state TUPLE, render the display string after —
    # grouping on the joined string would merge distinct sequences
    # whose state values themselves contain the separator.
    return (
        seqs.groupBy(*state_names)
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("entity").alias("n_entities"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            F.concat_ws(">", *state_names).alias("pattern"),
            "n_occurrences",
            "n_entities",
            F.round(
                F.col("n_entities") / F.col("n_total_entities"), 6
            ).alias("support"),
        )
    )


def seasonal_decompose(
    df: DataFrame,
    group_cols: Sequence[str],
    day_col: str = "day",
    value_col: str = "value",
    period: int = 7,
    half_window: int | None = None,
) -> DataFrame:
    """Classical additive seasonal decomposition of a daily series —
    ``value = trend + seasonal + residual`` — per group, with a
    weekly (``period=7``) cycle by default: the standard first look at
    wearable/sensor phenotyping data (weekday/weekend activity
    rhythm), and the detrending step CUSUM/anomaly scoring should run
    AFTER so level shifts aren't masked by seasonality.

    Method (classical decomposition, the moving-average variant of
    statsmodels ``seasonal_decompose``; STL's non-iterative
    ancestor):

    * ``trend`` — centered moving average over a CALENDAR range of
      ±``half_window`` days (default ``period // 2``), computed with a
      range-framed window on the day index so data gaps shrink the
      neighborhood instead of dragging in far-away days (a rows frame
      would); edges use the partial window (documented divergence
      from statsmodels' edge NaNs — partial means keep every day
      scoreable).
    * ``seasonal`` — the mean DETRENDED value per (group, day-of-cycle
      position), re-centered so the seasonal components sum to zero
      over the cycle (pure relabeling of level between trend and
      seasonal otherwise).
    * ``residual = value − trend − seasonal``.

    Cross-engine discipline: trend is rounded 6dp BEFORE detrending,
    the seasonal mean 6dp before re-centering, the centered seasonal
    and residual 6dp again — every derived quantity computes from
    already-rounded inputs, so engines that disagree in the last ulp
    of a float sum still agree on every output cell.

    Scale shape: one shuffle on the group key feeds the trend window;
    the seasonal step is a (group, pos) hash aggregate joined back on
    the same key (broadcast-sized right side: groups × period rows);
    no collect, no cross join. Day-of-cycle position is
    ``datediff(day, epoch) % period`` — calendar-stable, engine-
    portable, and independent of each group's start date.
    """
    if period < 2:
        raise ValueError(f"period must be >= 2, got {period}")
    hw = period // 2 if half_window is None else half_window
    gc = [F.col(c) for c in group_cols]
    d = F.to_date(F.col(day_col))
    base = df.select(
        *group_cols,
        d.alias("day"),
        F.datediff(d, F.lit("1970-01-01").cast("date")).alias("_di"),
        F.col(value_col).cast("double").alias("_v"),
    ).filter(F.col("day").isNotNull() & F.col("_v").isNotNull())

    wt = (
        Window.partitionBy(*gc)
        .orderBy("_di")
        .rangeBetween(-hw, hw)
    )
    detr = base.withColumn(
        "trend", F.round(F.avg("_v").over(wt), 6)
    ).withColumn("_detr", F.col("_v") - F.col("trend"))

    pos = (F.col("_di") % period).alias("_pos")
    seas = (
        detr.select(*group_cols, pos, "_detr")
        .groupBy(*group_cols, "_pos")
        .agg(F.round(F.avg("_detr"), 6).alias("_s_raw"))
    )
    seas = seas.withColumn(
        "seasonal",
        F.round(
            F.col("_s_raw")
            - F.avg("_s_raw").over(Window.partitionBy(*gc)),
            6,
        ),
    ).select(*group_cols, "_pos", "seasonal")

    out = (
        detr.withColumn("_pos", F.col("_di") % period)
        .join(F.broadcast(seas), [*group_cols, "_pos"])
        .select(
            *group_cols,
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.round("_v", 6).alias("value"),
            "trend",
            "seasonal",
            F.round(
                F.col("_v") - F.col("trend") - F.col("seasonal"), 6
            ).alias("residual"),
        )
    )
    return out


def holt_trend(
    df: DataFrame,
    entity_col: str,
    order_col: str,
    value_col: str,
    alpha: float = 0.5,
    beta: float = 0.3,
) -> DataFrame:
    """Holt's linear-trend double exponential smoothing (Holt 1957)
    per entity — the trend-aware big sibling of :func:`ewma`: a level
    AND a slope, each exponentially updated, giving a one-step
    forecast ``level + trend`` that tracks drifting series the flat
    EWMA lags behind.

    Recurrence (anchored at the first two points — the standard
    classical init): ``s_1 = x_1``, ``b_1 = x_2 − x_1`` (``b_1 = 0``
    for singleton series), then for t ≥ 2::

        s_t = α·x_t + (1−α)·(s_{t−1} + b_{t−1})
        b_t = β·(s_t − s_{t−1}) + (1−β)·b_{t−1}

    NULL values are dropped before ordering (they carry no signal and
    every engine agrees on that contract). Returns one row per entity:
    ``(entity, n_points, level, trend, forecast_1)`` — the final
    state and ``level + trend``, all 6dp.

    Why a Pandas UDF: the two recursions are COUPLED — unlike the
    plain EWMA (which unrolls to a closed-form power sum a window
    expression computes), ``s_t`` needs ``b_{t−1}`` and vice versa, so
    no fixed-size composition of built-in window frames expresses it.
    Shape: ONE hash aggregate packs each entity's series time-ordered
    (``groupBy(entity).agg(array_sort(collect_list(struct(ord, y))))``
    — the same shuffle any per-entity window would pay), then the
    O(n) recursion runs over the packed arrays BATCHED through
    ``mapInPandas`` — thousands of entities per Arrow batch, instead
    of one Python call per group (``applyInPandas`` pays per-GROUP
    pandas overhead; measured 3.5 s vs 0.6 s on 1.5k tiny groups at
    sf0.1 — see the inline note at the ``packed =`` step). State
    never crosses entities; series length is bounded per entity (a
    time dimension), so the packed array is small by construction.
    The float expression tree is written IDENTICALLY here and in the
    SQL oracle's recursive CTE (b_t inlines the s_t expression), so
    results agree to the bit before the output rounding, not merely
    to tolerance.
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    if not 0.0 < beta <= 1.0:
        raise ValueError(f"beta must be in (0, 1], got {beta}")
    a = float(alpha)
    g = float(beta)
    import pandas as pd

    out_schema = (
        f"{entity_col} string, n_points long, level double, "
        "trend double, forecast_1 double"
    )

    def run(batches):
        for pdf in batches:
            ents, ns, levels, trends, fcs = [], [], [], [], []
            for ent, xs_list in zip(pdf[entity_col], pdf["_ys"]):
                xs = [float(x) for x in xs_list]
                s = xs[0]
                b = xs[1] - xs[0] if len(xs) > 1 else 0.0
                for t in range(1, len(xs)):
                    s_new = a * xs[t] + (1.0 - a) * (s + b)
                    b = g * (s_new - s) + (1.0 - g) * b
                    s = s_new
                ents.append(ent)
                ns.append(len(xs))
                levels.append(s)
                trends.append(b)
                fcs.append(s + b)
            yield pd.DataFrame(
                {
                    entity_col: ents,
                    "n_points": ns,
                    "level": levels,
                    "trend": trends,
                    "forecast_1": fcs,
                }
            )

    clean = df.filter(
        F.col(value_col).isNotNull() & F.col(entity_col).isNotNull()
    ).select(
        F.col(entity_col).cast("string").alias(entity_col),
        F.col(order_col).alias("_ord"),
        F.col(value_col).cast("double").alias("_y"),
    )
    # ONE hash aggregate packs each entity's series time-ordered
    # (array_sort on (order, value) structs — lexicographic by the
    # order field first), then the recursion runs BATCHED: thousands
    # of entities per Arrow batch through mapInPandas, instead of one
    # Python call per entity (applyInPandas pays per-GROUP pandas
    # overhead — measured 3.5 s for 1.5k tiny groups at sf0.1; this
    # shape is 0.6 s). Series length is bounded per entity (a time
    # dimension), so the packed array is small by construction.
    packed = clean.groupBy(entity_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_ord", "_y"))),
            lambda s: s.getField("_y"),
        ).alias("_ys")
    )
    raw = packed.mapInPandas(run, out_schema)
    # HALF_UP rounding happens ENGINE-side (F.round), not in the UDF:
    # Python's round() is banker's and would diverge from the SQL
    # oracle's round() exactly on decimal-tie boundaries.
    return raw.select(
        entity_col,
        "n_points",
        F.round("level", 6).alias("level"),
        F.round("trend", 6).alias("trend"),
        F.round("forecast_1", 6).alias("forecast_1"),
    )


def lag_features(
    df: DataFrame,
    entity_col: str,
    date_col: str,
    value_col: str,
    lags: Sequence[int] = (1, 7),
    window_days: int = 7,
) -> DataFrame:
    """Forecasting-ready supervised feature table from a per-entity
    daily series — the standard "turn a time series into training
    rows" transform (one row per observed day, features strictly from
    the PAST, target = the day's value, zero leakage by construction).

    Calendar-aware, not row-aware: every lag and window is keyed on
    the actual date ordinal via RANGE frames, so a gap in the series
    yields NULL lags (the truth) instead of silently reaching further
    back the way ROW-frame ``lag()`` would. Emitted per row:
    ``lag_<k>`` for each k in ``lags`` (the value exactly k days
    before), ``rsum_<w>``/``rmean_<w>``/``rcount_<w>`` (sum, mean and count over the
    ``window_days`` days strictly before today), and ``dow``
    (ISO day-of-week 1–7, Monday=1 — the one calendar feature every
    daily model wants).

    Scale shape: ONE entity-keyed shuffle serves every feature — all
    frames share the same (entity, ordinal) window ordering, so
    Catalyst computes them in a single Window node over a single
    Exchange; no self-joins, no per-lag scans. The series should
    already be daily-aggregated (one row per entity-day); duplicate
    days would make RANGE frames sum duplicates into means — aggregate
    first (the same contract as gap_fill_daily).
    """
    if not lags:
        raise ValueError("lags must be non-empty")
    if any(k < 1 for k in lags):
        raise ValueError(f"lags must all be >= 1, got {list(lags)}")
    if window_days < 1:
        raise ValueError(
            f"window_days must be >= 1, got {window_days}"
        )
    ord_ = F.datediff(F.col(date_col), F.lit("1970-01-01"))
    base = df.withColumn("_ord", ord_)
    w = Window.partitionBy(entity_col).orderBy("_ord")
    feats = [
        F.max(value_col)
        .over(w.rangeBetween(-int(k), -int(k)))
        .alias(f"lag_{k}")
        for k in lags
    ]
    roll = w.rangeBetween(-int(window_days), -1)
    feats.append(
        F.sum(value_col).over(roll).alias(f"rsum_{window_days}")
    )
    feats.append(
        F.avg(value_col).over(roll).alias(f"rmean_{window_days}")
    )
    feats.append(
        F.count(value_col).over(roll).alias(f"rcount_{window_days}")
    )
    return base.select(
        entity_col,
        F.col(date_col),
        F.dayofweek(date_col).alias("_dow_sun1"),
        F.col(value_col),
        *feats,
    ).select(
        entity_col,
        date_col,
        # ISO Monday=1 from Spark's Sunday=1 convention
        (
            F.when(F.col("_dow_sun1") == 1, F.lit(7)).otherwise(
                F.col("_dow_sun1") - 1
            )
        ).alias("dow"),
        value_col,
        *[f"lag_{k}" for k in lags],
        f"rsum_{window_days}",
        f"rmean_{window_days}",
        f"rcount_{window_days}",
    )


def reach_curve(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Daily active / new / returning / cumulative-reach counts — the
    growth chart behind every DAU dashboard, exact (no HLL): per
    observed day, ``dau`` (distinct users active), ``new_users``
    (users whose FIRST-ever activity is that day), ``returning``
    (dau − new), and ``cumulative_users`` (distinct users seen up to
    and including the day — computed as the running sum of new_users,
    which equals the distinct-union size exactly because a user is new
    on precisely one day).

    Days with zero activity don't appear (this is an activity report,
    not a calendar grid — compose with ``gap_fill_daily`` when a dense
    axis is needed). Returns ``(day, dau, new_users, returning,
    cumulative_users)`` ordered by day.

    Scale shape: one distinct to (user, day) pairs, one min-aggregate
    to per-user first days (both user-keyed hash shuffles), two
    day-keyed counts, and a running sum over the DAY-sized table (a
    deliberate single-partition window over one row per day — the
    dimension-sized report stage, never the corpus).
    """
    day = F.to_date(F.col(ts_col)).alias("day")
    pairs = df.select(F.col(user_col).alias("u"), day).distinct()
    dau = pairs.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    news = (
        pairs.groupBy("u")
        .agg(F.min("day").alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("new_users"))
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        dau.join(news, "day", "left")
        .select(
            "day",
            "dau",
            F.coalesce("new_users", F.lit(0)).alias("new_users"),
        )
        .select(
            "day",
            F.col("dau").cast("long").alias("dau"),
            F.col("new_users").cast("long").alias("new_users"),
            (F.col("dau") - F.col("new_users"))
            .cast("long")
            .alias("returning"),
            F.sum("new_users").over(w).cast("long").alias(
                "cumulative_users"
            ),
        )
        .orderBy("day")
    )


def session_entry_paths(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    gap_minutes: float = 30.0,
    depth: int = 5,
    top_k: int = 20,
) -> DataFrame:
    """Top session entry paths — "how do sessions start?": sessionize
    each user's stream by inactivity gap (> ``gap_minutes`` starts a
    new session, the same boundary semantics as the sessionization
    gate key), take each session's first ``depth`` event types in
    ``(ts, id)`` order, and count identical prefixes.

    Grouping happens on the STEP TUPLE, never on a separator-joined
    string (an event type containing the separator must not conflate
    paths — the same contract the event_sequences oracle was fixed
    to); the rendered ``path`` ("a>b>c") is display only, derived
    after the count. Sessions shorter than ``depth`` count as their
    full (shorter) prefix. Output: ``(path, steps, n_sessions,
    pct)`` — top_k by (n_sessions desc, path asc); the path string
    tie-break makes the cut deterministic in any engine.

    Scale shape: one user-keyed window pass (lag + running session-id
    sum + in-session rank — one shuffle), one (user, session) hash agg
    pivoting the first ``depth`` steps via conditional max (depth is a
    literal, so this is ``depth`` expressions, not an explode), one
    hash agg on the step tuple, and a top-k sort of the path-count
    table (path-cardinality-sized, bounded by the type-vocabulary^depth
    at worst and in practice by observed behavior).
    """
    if depth < 1:
        raise ValueError(f"depth must be >= 1, got {depth}")
    if top_k < 1:
        raise ValueError(f"top_k must be >= 1, got {top_k}")
    gap_us = int(gap_minutes * 60 * 1_000_000)
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    prev_us = F.lag(F.unix_micros(F.col(ts_col))).over(w)
    new_s = F.when(
        prev_us.isNull()
        | (F.unix_micros(F.col(ts_col)) - prev_us > gap_us),
        F.lit(1),
    ).otherwise(F.lit(0))
    marked = df.select(
        F.col(user_col).alias("_u"),
        F.col(ts_col).alias("_ts"),
        F.col(id_col).alias("_id"),
        F.col(type_col).alias("_t"),
        new_s.alias("_new"),
    )
    w2 = Window.partitionBy("_u").orderBy("_ts", "_id")
    sess = marked.select(
        "_u",
        "_ts",
        "_id",
        "_t",
        F.sum("_new")
        .over(w2.rowsBetween(Window.unboundedPreceding, 0))
        .alias("_sid"),
    )
    w3 = Window.partitionBy("_u", "_sid").orderBy("_ts", "_id")
    ranked = sess.select(
        "_u", "_sid", "_t", F.row_number().over(w3).alias("_rn")
    ).filter(F.col("_rn") <= int(depth))
    steps = [
        F.max(F.when(F.col("_rn") == i, F.col("_t"))).alias(f"s{i}")
        for i in range(1, int(depth) + 1)
    ]
    prefixes = ranked.groupBy("_u", "_sid").agg(*steps)
    step_cols = [f"s{i}" for i in range(1, int(depth) + 1)]
    counted = prefixes.groupBy(*step_cols).agg(
        F.count(F.lit(1)).alias("n_sessions")
    )
    total = counted.agg(F.sum("n_sessions").alias("_tot"))
    rendered = counted.crossJoin(F.broadcast(total)).select(
        F.concat_ws(">", *step_cols).alias("path"),
        sum(
            (F.col(c).isNotNull().cast("int") for c in step_cols),
            F.lit(0),
        ).alias("steps"),
        F.col("n_sessions").cast("long").alias("n_sessions"),
        F.round(F.col("n_sessions") / F.col("_tot"), 6).alias("pct"),
    )
    return rendered.orderBy(
        F.desc("n_sessions"), "path"
    ).limit(int(top_k))


def mann_kendall(
    df: DataFrame,
    entity_col: str,
    order_col: str,
    value_col: str,
) -> DataFrame:
    """Mann-Kendall monotonic-trend test + Sen's slope per entity —
    the nonparametric "is this metric drifting?" readout (Mann 1945,
    Kendall 1975; Sen 1968 for the slope): no linearity or normality
    assumption, robust to outliers, the standard for sparse/dirty
    operational series where OLS (:func:`ols_trend`) over-reacts.

    Statistics over each entity's series ``(t_i, y_i)`` (NULLs
    dropped; ``order_col`` cast to double for slopes):

    * ``s_stat  = Σ_{i<j} sign(y_j − y_i)``
    * ``var_s   = [n(n−1)(2n+5) − Σ_g c_g(c_g−1)(2c_g+5)] / 18`` with
      the standard tie correction over equal-``y`` groups ``c_g``
    * ``z`` via the ±1 continuity correction; ``p_value`` two-sided
      normal (NULL when ``var_s = 0`` — a constant series has no
      testable trend)
    * ``sen_slope`` = median of all pairwise slopes
      ``(y_j − y_i)/(t_j − t_i)`` (pairs with equal ``t`` skipped)

    Scale shape: ONE hash aggregate packs each entity's series
    time-ordered (the :func:`holt_trend` groupBy + array_sort +
    ``mapInPandas`` idiom — thousands of entities per Arrow batch);
    the O(n²) pair sweep runs in numpy on the packed array, bounded
    per entity because a per-entity series is time-dimension-sized.
    z / p are engine-side expressions over the UDF's exact-integer
    ``s_stat`` and tie counts, so the float tree matches a SQL twin.
    """
    import numpy as np
    import pandas as pd

    out_schema = (
        f"{entity_col} string, n_points long, s_stat long, "
        "var_s double, sen_slope double"
    )

    def run(batches):
        for pdf in batches:
            ents, ns, ss, vs, slopes = [], [], [], [], []
            for ent, pairs in zip(pdf[entity_col], pdf["_pk"]):
                t = np.asarray([p["_t"] for p in pairs], dtype=np.float64)
                y = np.asarray([p["_y"] for p in pairs], dtype=np.float64)
                n = y.size
                dy = np.sign(y[None, :] - y[:, None])
                iu = np.triu_indices(n, k=1)
                s = float(dy[iu].sum())
                _, counts = np.unique(y, return_counts=True)
                corr = float(
                    (counts * (counts - 1) * (2 * counts + 5)).sum()
                )
                var_s = (n * (n - 1) * (2 * n + 5) - corr) / 18.0
                dt = t[None, :] - t[:, None]
                num = y[None, :] - y[:, None]
                valid = dt[iu] != 0
                slope = (
                    float(np.median(num[iu][valid] / dt[iu][valid]))
                    if valid.any()
                    else None
                )
                ents.append(ent)
                ns.append(n)
                ss.append(int(s))
                vs.append(var_s)
                slopes.append(slope)
            yield pd.DataFrame(
                {
                    entity_col: ents,
                    "n_points": ns,
                    "s_stat": ss,
                    "var_s": vs,
                    "sen_slope": slopes,
                }
            )

    clean = df.filter(
        F.col(value_col).isNotNull()
        & F.col(order_col).isNotNull()
        & F.col(entity_col).isNotNull()
    ).select(
        F.col(entity_col).cast("string").alias(entity_col),
        F.col(order_col).cast("double").alias("_t"),
        F.col(value_col).cast("double").alias("_y"),
    )
    packed = clean.groupBy(entity_col).agg(
        F.array_sort(F.collect_list(F.struct("_t", "_y"))).alias("_pk")
    )
    raw = packed.mapInPandas(run, out_schema)
    from mhm_data_pipelines_spark.functions.stats import normal_cdf

    s = F.col("s_stat").cast("double")
    rt = F.sqrt("var_s")
    z = (
        F.when(F.col("var_s") <= 0, F.lit(None).cast("double"))
        .when(s > 0, (s - 1) / rt)
        .when(s < 0, (s + 1) / rt)
        .otherwise(F.lit(0.0))
    )
    return raw.select(
        entity_col,
        "n_points",
        "s_stat",
        F.round("var_s", 6).alias("var_s"),
        F.round(z, 6).alias("z"),
        F.round(
            F.lit(2.0) * (F.lit(1.0) - normal_cdf(F.abs(z))), 6
        ).alias("p_value"),
        F.round("sen_slope", 6).alias("sen_slope"),
    )


def downsample_lttb(
    df: DataFrame,
    entity_col: str,
    order_col: str,
    value_col: str,
    n_buckets: int = 100,
    id_col: str | None = None,
) -> DataFrame:
    """Visual downsampling per entity to ~``n_buckets`` points via the
    largest-triangle family (Steinarsson 2013 LTTB), in the
    FIXED-ANCHOR variant: both triangle anchors are the NEIGHBOR
    BUCKETS' mean points rather than the previously-selected point.
    Classic LTTB threads the selection sequentially bucket-to-bucket —
    inherently serial per series; anchoring on bucket means keeps the
    shape-preserving behavior (the point that subtends the largest
    area against its neighborhood survives) while every bucket decides
    INDEPENDENTLY — one window + one join, no recursion, so a million
    series downsample in parallel. (This is LTTB's own "three buckets"
    with the standard mean-anchor simplification some dashboards ship
    as LTOB/LTTB-hybrid; documented here as the engine contract.)

    Rules: first and last points always survive; interior points split
    into ``n_buckets − 2`` equal-count buckets; per bucket the point
    maximizing ``|(tp − tn)·(y − yp) − (tp − t)·(yn − yp)|`` survives
    (p/n = prev/next bucket mean points, means and areas rounded 6dp
    so the argmax grid is engine-identical; area ties break on the
    earlier point). Series with ≤ ``n_buckets`` points pass through
    whole. NULL order/value rows are dropped. ``id_col`` breaks
    order-key ties deterministically.

    Scale shape: ONE shuffle partitions by entity; the rank window,
    the (entity, bucket) mean aggregate, the prev/next mean joins and
    the per-bucket argmax window all reuse entity-hash partitioning.
    Keep ``order_col`` values magnitude-sane (epoch seconds, not
    micros): bucket means sum them, and integer-exact double sums are
    what make the 6dp grid engine-portable.
    """
    if n_buckets < 3:
        raise ValueError(f"n_buckets must be >= 3, got {n_buckets}")
    e, nb = entity_col, n_buckets
    order_cols = [F.asc("_t")] + ([F.asc(id_col)] if id_col else [])
    base = df.filter(
        F.col(order_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        F.col(e),
        *([F.col(id_col)] if id_col else []),
        F.col(order_col).cast("double").alias("_t"),
        F.col(value_col).cast("double").alias("_y"),
    )
    w = Window.partitionBy(e)
    wo = Window.partitionBy(e).orderBy(*order_cols)
    rn = F.row_number().over(wo)
    n = F.count(F.lit(1)).over(w)
    ranked = base.select(
        e, "_t", "_y", rn.alias("_rn"), n.alias("_n")
    )
    # Small series become all-singleton buckets: the uniform
    # keep-first/keep-last/argmax-per-bucket logic then keeps every
    # row — no per-entity branching, one code path.
    nb_eff = F.when(F.col("_n") <= nb, F.col("_n")).otherwise(F.lit(nb))
    bucket = (
        F.when(F.col("_rn") == 1, F.lit(0))
        .when(F.col("_rn") == F.col("_n"), nb_eff - 1)
        .when(F.col("_n") <= nb, F.col("_rn") - 1)
        .otherwise(
            1
            + F.floor(
                (F.col("_rn") - 2) * (nb - 2) / (F.col("_n") - 2)
            )
        )
    ).cast("long")
    bucketed = ranked.select(
        e, "_t", "_y", "_rn",
        nb_eff.alias("_nbe"),
        bucket.alias("_b"),
    )
    means = bucketed.groupBy(e, "_b").agg(
        F.round(F.avg("_t"), 6).alias("_mt"),
        F.round(F.avg("_y"), 6).alias("_my"),
    )
    prev = means.select(
        F.col(e).alias("_pe"), (F.col("_b") + 1).alias("_pb"),
        F.col("_mt").alias("_tp"), F.col("_my").alias("_yp"),
    )
    nxt = means.select(
        F.col(e).alias("_ne"), (F.col("_b") - 1).alias("_nb"),
        F.col("_mt").alias("_tn"), F.col("_my").alias("_yn"),
    )
    joined = bucketed.join(
        prev,
        (F.col(e) == F.col("_pe")) & (F.col("_b") == F.col("_pb")),
        "left",
    ).join(
        nxt,
        (F.col(e) == F.col("_ne")) & (F.col("_b") == F.col("_nb")),
        "left",
    )
    area = F.round(
        F.abs(
            (F.col("_tp") - F.col("_tn")) * (F.col("_y") - F.col("_yp"))
            - (F.col("_tp") - F.col("_t")) * (F.col("_yn") - F.col("_yp"))
        ),
        6,
    )
    wb = Window.partitionBy(e, "_b").orderBy(
        F.desc_nulls_last("_area"), F.asc("_rn")
    )
    scored = joined.select(
        e, "_t", "_y", "_rn", "_nbe", "_b", area.alias("_area")
    ).withColumn("_keep_rank", F.row_number().over(wb))
    kept = scored.filter(
        (F.col("_b") == 0)
        | (F.col("_b") == F.col("_nbe") - 1)
        | (F.col("_keep_rank") == 1)
    )
    return kept.select(
        F.col(e),
        F.col("_t").alias(order_col),
        F.col("_y").alias(value_col),
        F.col("_b").alias("bucket"),
    )


def holt_winters(
    df: DataFrame,
    entity_col: str,
    order_col: str,
    value_col: str,
    period: int = 7,
    alpha: float = 0.4,
    beta: float = 0.2,
    gamma: float = 0.3,
) -> DataFrame:
    """Additive Holt-Winters triple exponential smoothing per entity —
    :func:`holt_trend` plus a seasonal component of length ``period``
    (Winters 1960): the standard forecaster for daily series with a
    weekly shape.

    Classical init over the first two seasons (entities with fewer
    than ``2*period`` points are OMITTED — there is nothing to
    initialize the seasonal profile from):
    ``L = mean(x_1..x_m)``, ``B = (mean(x_{m+1}..x_{2m}) − L) / m``,
    ``S_i = x_i − L``; then for t > m::

        L_t = α·(x_t − S_{t−m}) + (1−α)·(L_{t−1} + B_{t−1})
        B_t = β·(L_t − L_{t−1}) + (1−β)·B_{t−1}
        S_t = γ·(x_t − L_t) + (1−γ)·S_{t−m}

    Returns one row per qualifying entity: ``(entity, n_points,
    level, trend, seasonal_next, forecast_1 = level + trend +
    seasonal_next)``, 6dp.

    Same scale/portability shape as :func:`holt_trend`: ONE hash
    aggregate packs each series time-ordered, the coupled recursion
    runs batched through ``mapInPandas`` (thousands of entities per
    Arrow batch), and every float expression — including the init
    means as PLAIN SEQUENTIAL folds, not numpy pairwise sums — is
    written in the exact operation order a SQL recursive-CTE twin
    replays, so agreement is bitwise before the output rounding.
    """
    if period < 2:
        raise ValueError(f"period must be >= 2, got {period}")
    for name, v in (("alpha", alpha), ("beta", beta), ("gamma", gamma)):
        if not 0.0 < v <= 1.0:
            raise ValueError(f"{name} must be in (0, 1], got {v}")
    m, a, b, g = int(period), float(alpha), float(beta), float(gamma)
    import pandas as pd

    out_schema = (
        f"{entity_col} string, n_points long, level double, "
        "trend double, seasonal_next double, forecast_1 double"
    )

    def run(batches):
        for pdf in batches:
            ents, ns, ls, bs, sn, fc = [], [], [], [], [], []
            for ent, xs_list in zip(pdf[entity_col], pdf["_ys"]):
                xs = [float(x) for x in xs_list]
                if len(xs) < 2 * m:
                    continue
                lvl = sum(xs[:m]) / m
                trd = (sum(xs[m:2 * m]) / m - sum(xs[:m]) / m) / m
                seas = [x - lvl for x in xs[:m]]
                for t in range(m, len(xs)):
                    x = xs[t]
                    s_old = seas[0]
                    lvl_new = a * (x - s_old) + (1.0 - a) * (lvl + trd)
                    trd = b * (lvl_new - lvl) + (1.0 - b) * trd
                    seas = seas[1:] + [
                        g * (x - lvl_new) + (1.0 - g) * s_old
                    ]
                    lvl = lvl_new
                ents.append(ent)
                ns.append(len(xs))
                ls.append(lvl)
                bs.append(trd)
                sn.append(seas[0])
                fc.append(lvl + trd + seas[0])
            yield pd.DataFrame(
                {
                    entity_col: ents,
                    "n_points": ns,
                    "level": ls,
                    "trend": bs,
                    "seasonal_next": sn,
                    "forecast_1": fc,
                }
            )

    clean = df.filter(
        F.col(value_col).isNotNull() & F.col(entity_col).isNotNull()
    ).select(
        F.col(entity_col).cast("string").alias(entity_col),
        F.col(order_col).alias("_ord"),
        F.col(value_col).cast("double").alias("_y"),
    )
    packed = clean.groupBy(entity_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_ord", "_y"))),
            lambda s: s.getField("_y"),
        ).alias("_ys")
    )
    raw = packed.mapInPandas(run, out_schema)
    return raw.select(
        entity_col,
        "n_points",
        F.round("level", 6).alias("level"),
        F.round("trend", 6).alias("trend"),
        F.round("seasonal_next", 6).alias("seasonal_next"),
        F.round("forecast_1", 6).alias("forecast_1"),
    )


def single_changepoint(
    df: DataFrame,
    entity_col: str,
    order_col: str,
    value_col: str,
    min_seg: int = 2,
) -> DataFrame:
    """Best single level-shift changepoint per entity — the first
    split of binary segmentation (Scott & Knott 1974; the inner step
    of PELT-style detectors): the split position ``k`` minimizing
    ``SSE(1..k) + SSE(k+1..n)``, reported with the no-split SSE and
    the variance-explained reduction, so a caller can threshold
    "is there a shift at all?" before trusting ``k``.

    Pure window algebra — NO per-entity recursion: with prefix sums
    ``c1 = Σy``, ``c2 = Σy²`` (ordered by ``order_col``; ties broken
    by value order), every candidate split's cost is
    ``(c2 − c1²/k) + ((T2−c2) − (T1−c1)²/(n−k))``. Costs are rounded
    6dp before the argmin (prefix sums fold in the SAME ascending
    order in any engine, so the grid is engine-identical); ties break
    on the earlier split. Splits leaving a segment shorter than
    ``min_seg`` are not candidates; entities with fewer than
    ``2·min_seg`` points are omitted.

    Returns ``(entity, n_points, split_k, split_order, sse_split,
    sse_total, reduction_pct)`` — ``split_k`` is the LAST index of the
    left segment, ``split_order`` the order value beginning the right
    segment.

    Scale shape: ONE shuffle partitions by entity; the prefix-sum
    window, the candidate filter and the argmin window all reuse it.
    """
    if min_seg < 1:
        raise ValueError(f"min_seg must be >= 1, got {min_seg}")
    e = entity_col
    base = df.filter(
        F.col(value_col).isNotNull()
        & F.col(order_col).isNotNull()
        & F.col(entity_col).isNotNull()
    ).select(
        F.col(e).cast("string").alias(e),
        F.col(order_col).cast("double").alias("_t"),
        F.col(value_col).cast("double").alias("_y"),
    )
    wo = Window.partitionBy(e).orderBy("_t", "_y")
    cum = wo.rowsBetween(Window.unboundedPreceding, 0)
    scored = base.select(
        e,
        "_t",
        F.row_number().over(wo).alias("_k"),
        F.count(F.lit(1)).over(Window.partitionBy(e)).alias("_n"),
        F.sum("_y").over(cum).alias("_c1"),
        F.sum(F.col("_y") * F.col("_y")).over(cum).alias("_c2"),
        F.sum("_y").over(Window.partitionBy(e)).alias("_T1"),
        F.sum(F.col("_y") * F.col("_y"))
        .over(Window.partitionBy(e))
        .alias("_T2"),
        F.lead("_t").over(wo).alias("_t_next"),
    )
    k = F.col("_k").cast("double")
    nk = (F.col("_n") - F.col("_k")).cast("double")
    cost = F.round(
        (F.col("_c2") - F.col("_c1") * F.col("_c1") / k)
        + (
            (F.col("_T2") - F.col("_c2"))
            - (F.col("_T1") - F.col("_c1"))
            * (F.col("_T1") - F.col("_c1"))
            / nk
        ),
        6,
    )
    cands = scored.filter(
        (F.col("_n") >= 2 * min_seg)
        & (F.col("_k") >= min_seg)
        & (F.col("_k") <= F.col("_n") - min_seg)
    ).withColumn("_cost", cost)
    wbest = Window.partitionBy(e).orderBy(F.asc("_cost"), F.asc("_k"))
    best = cands.withColumn("_rn", F.row_number().over(wbest)).filter(
        F.col("_rn") == 1
    )
    sse_total = F.round(
        F.col("_T2")
        - F.col("_T1") * F.col("_T1") / F.col("_n").cast("double"),
        6,
    )
    return best.select(
        F.col(e),
        F.col("_n").alias("n_points"),
        F.col("_k").alias("split_k"),
        F.col("_t_next").alias("split_order"),
        F.col("_cost").alias("sse_split"),
        sse_total.alias("sse_total"),
        F.round(
            F.when(
                F.col("_T2") - F.col("_T1") * F.col("_T1")
                / F.col("_n").cast("double") > 0,
                F.lit(100.0)
                * (
                    F.lit(1.0)
                    - F.col("_cost")
                    / (
                        F.col("_T2")
                        - F.col("_T1") * F.col("_T1")
                        / F.col("_n").cast("double")
                    )
                ),
            ),
            6,
        ).alias("reduction_pct"),
    )


def funnel_latencies(
    df: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    within: str | None = None,
) -> DataFrame:
    """Step-transition latency readout over :func:`funnel_progress` —
    the "how long between steps" companion of the reached-count
    funnel: for every consecutive step pair, how many users converted
    and the median / p90 / mean seconds the transition took.

    Scale shape: funnel_progress's per-user (t_1..t_k) frame (one
    keyed shuffle per step) unpivots the k−1 transition latencies via
    ``stack`` — a zero-shuffle projection — and ONE hash aggregate
    computes every step's count, exact interpolated percentiles
    (``percentile``, = quantile_cont) and mean. Latencies are exact
    integer micros divided by 1e6, so both engines aggregate
    identical doubles.

    Returns one row per transition: ``(step_from, step_to,
    n_converted, p50_s, p90_s, mean_s)``, ordered by funnel position.
    """
    prog = funnel_progress(
        df,
        steps,
        user_col=user_col,
        ts_col=ts_col,
        type_col=type_col,
        within=within,
    )
    pairs = []
    for i in range(1, len(steps)):
        lat = (
            F.unix_micros(F.col(f"t_{i + 1}"))
            - F.unix_micros(F.col(f"t_{i}"))
        ).cast("double") / F.lit(1e6)
        pairs.append(
            F.struct(
                F.lit(i).alias("pos"),
                F.lit(steps[i - 1]).alias("step_from"),
                F.lit(steps[i]).alias("step_to"),
                lat.alias("lat_s"),
            )
        )
    long = prog.select(
        F.explode(F.array(*pairs)).alias("tr")
    ).select("tr.pos", "tr.step_from", "tr.step_to", "tr.lat_s")
    return (
        long.filter(F.col("lat_s").isNotNull())
        .groupBy("pos", "step_from", "step_to")
        .agg(
            F.count(F.lit(1)).alias("n_converted"),
            F.round(
                F.expr("percentile(lat_s, 0.5)"), _DIGITS
            ).alias("p50_s"),
            F.round(
                F.expr("percentile(lat_s, 0.9)"), _DIGITS
            ).alias("p90_s"),
            F.round(F.avg("lat_s"), _DIGITS).alias("mean_s"),
        )
        .orderBy("pos")
        .drop("pos")
    )


def fixed_effects_fit(
    df: DataFrame,
    y_col: str,
    x_col: str,
    entity_col: str,
) -> DataFrame:
    """Bivariate fixed-effects (within) regression — the panel-data
    workhorse: regress y on x with one intercept PER ENTITY absorbed,
    so any time-invariant entity-level confounder cancels and beta is
    identified from WITHIN-entity variation only:

        ``beta = Σ_i Σ_t (x−x̄_i)(y−ȳ_i) / Σ_i Σ_t (x−x̄_i)²``

    computed by the demeaning algebra (no demeaned rows are ever
    materialized): ``S_w = Σxy − Σ_i (Σx_i·Σy_i / n_i)`` per moment.

    Scale shape: ONE per-entity hash aggregate (six sums) → one
    final aggregate over the entity-sized table. NULL y/x rows are
    dropped; entities with a single row contribute nothing to the
    within moments (their deviation is zero), which the algebra
    handles without special-casing.

    Returns one row ``(n, n_entities, beta, r2_within)`` — NULL beta
    when x has no within-entity variance.
    """
    base = df.filter(
        F.col(y_col).isNotNull() & F.col(x_col).isNotNull()
    ).select(
        F.col(entity_col).alias("_e"),
        F.col(y_col).cast("double").alias("_y"),
        F.col(x_col).cast("double").alias("_x"),
    )
    per_e = base.groupBy("_e").agg(
        F.count(F.lit(1)).alias("n_i"),
        F.sum("_x").alias("sx"),
        F.sum("_y").alias("sy"),
        F.sum(F.col("_x") * F.col("_y")).alias("sxy"),
        F.sum(F.col("_x") * F.col("_x")).alias("sxx"),
        F.sum(F.col("_y") * F.col("_y")).alias("syy"),
    )
    agg = per_e.agg(
        F.sum("n_i").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_entities"),
        (
            F.sum("sxy")
            - F.sum(F.col("sx") * F.col("sy") / F.col("n_i"))
        ).alias("swxy"),
        (
            F.sum("sxx")
            - F.sum(F.col("sx") * F.col("sx") / F.col("n_i"))
        ).alias("swxx"),
        (
            F.sum("syy")
            - F.sum(F.col("sy") * F.col("sy") / F.col("n_i"))
        ).alias("swyy"),
    )
    beta = F.when(F.col("swxx") > 0, F.col("swxy") / F.col("swxx"))
    r2 = F.when(
        (F.col("swxx") > 0) & (F.col("swyy") > 0),
        F.col("swxy")
        * F.col("swxy")
        / (F.col("swxx") * F.col("swyy")),
    )
    return agg.select(
        "n",
        "n_entities",
        F.round(beta, _DIGITS).alias("beta"),
        F.round(r2, _DIGITS).alias("r2_within"),
    )


def holt_backtest(
    df: DataFrame,
    entity_col: str,
    order_col: str,
    value_col: str,
    train_frac: float = 0.8,
    alpha: float = 0.5,
    beta: float = 0.3,
) -> DataFrame:
    """Rolling-origin backtest of :func:`holt_trend` — does the
    smoother actually FORECAST this data? Per entity: the first
    ``floor(train_frac·n)`` points (in ``order_col`` order) train the
    (level, trend) state; every held-out point at horizon h is scored
    against the linear forecast ``level + h·trend``; MAE and RMSE
    summarize.

    Evaluation discipline: the split is an ORDERED prefix (never a
    random split — that leaks the future into training), the trained
    state is the 6dp-rounded output of :func:`holt_trend` (round-
    before-derive, so an external engine replaying the recursion
    scores identical forecasts), and entities with fewer than 2 train
    or 1 test points are EXCLUDED (reported by omission — a forecast
    eval over an unforecastable series is noise, not signal).

    Scale shape: one per-entity rank window splits train/test,
    :func:`holt_trend` reduces the train slice (one keyed Arrow-batch
    pass), and the test join is entity-keyed; error rollup is one
    hash aggregate. Returns one row per evaluated entity:
    ``(entity, n_train, n_test, mae, rmse)``.
    """
    if not 0.0 < train_frac < 1.0:
        raise ValueError(
            f"train_frac must be in (0, 1), got {train_frac}"
        )
    base = df.filter(F.col(value_col).isNotNull()).select(
        F.col(entity_col).alias("_e"),
        F.col(order_col).alias("_o"),
        F.col(value_col).cast("double").alias("_v"),
    )
    w = Window.partitionBy("_e").orderBy("_o")
    w_n = Window.partitionBy("_e")
    ranked = base.withColumn(
        "_rn", F.row_number().over(w)
    ).withColumn(
        "_k",
        F.floor(F.count(F.lit(1)).over(w_n) * F.lit(float(train_frac)))
        .cast("long"),
    )
    train = ranked.filter(
        (F.col("_rn") <= F.col("_k")) & (F.col("_k") >= 2)
    )
    state = holt_trend(
        train, "_e", "_o", "_v", alpha=alpha, beta=beta
    ).select(
        F.col("_e"),
        F.col("n_points").alias("n_train"),
        "level",
        "trend",
    )
    test = ranked.filter(
        (F.col("_rn") > F.col("_k")) & (F.col("_k") >= 2)
    ).select(
        "_e", (F.col("_rn") - F.col("_k")).alias("_h"), "_v"
    )
    err = F.col("_v") - (
        F.col("level") + F.col("_h").cast("double") * F.col("trend")
    )
    # per-point errors round to 6dp and aggregate as DECIMAL: exact,
    # ORDER-INDEPENDENT sums, so engines that hash-aggregate in
    # different orders cannot disagree in the last rounded digit
    # (a double sum flipped a 6dp boundary on real data).
    ae = F.round(F.abs(err), 6).cast("decimal(28,6)")
    se = F.round(err * err, 6).cast("decimal(28,6)")
    return (
        test.join(state, "_e")
        .groupBy("_e")
        .agg(
            F.max("n_train").cast("long").alias("n_train"),
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.round(
                F.sum(ae).cast("double") / F.count(F.lit(1)),
                _DIGITS,
            ).alias("mae"),
            F.round(
                F.sqrt(
                    F.sum(se).cast("double") / F.count(F.lit(1))
                ),
                _DIGITS,
            ).alias("rmse"),
        )
        .select(
            F.col("_e").alias(entity_col),
            "n_train",
            "n_test",
            "mae",
            "rmse",
        )
        .orderBy(entity_col)
    )
