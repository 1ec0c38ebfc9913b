"""Table profiling: per-column statistics in ONE pass + one value scan.

The reference computes ad-hoc per-metric stats blocks
(``mhm-data-pipelines/process-overview.py:207-226``); this operator is
the engine-level generalization — the "summarize every column" utility
(dbt-profiler / DuckDB ``SUMMARIZE`` shape) a data-quality workflow
runs before trusting a 100 TB drop.

Scale design:

* The scalar stats (rows, nulls, distinct, min, max) for ALL columns
  come from ONE aggregate pass — map-side combined, no per-column scan
  fan-out — then unpivot driver-free via ``stack``.
* Top-k frequent values explode to ``(column, value)`` rows (one scan)
  → one hash-agg → per-column window top-k. Cardinality after the agg
  is Σ distinct(col) — prune wide/high-cardinality columns with the
  ``columns`` arg.
* Values render as strings so heterogeneous columns share one output
  schema (profiling output is for humans/monitors, not joins).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: Decimals of the rounded output columns. The registry oracles round
#: to the same, so the two engines' results hash-match.
_DIGITS = 6


def profile_table(
    df: DataFrame,
    columns: list[str] | None = None,
    top_k: int = 3,
) -> DataFrame:
    """One row per profiled column: ``(column, dtype, n_rows, n_nulls,
    n_distinct, min_value, max_value, top_values)`` where
    ``top_values`` is ``"v1:n1, v2:n2, ..."`` (count desc, value asc;
    NULLs excluded)."""
    if columns is not None and not columns:
        raise ValueError("profile_table: empty columns list")
    cols = columns if columns is not None else df.columns
    dtypes = dict(df.dtypes)
    missing = [c for c in cols if c not in dtypes]
    if missing:
        raise ValueError(f"profile_table: unknown columns {missing}")

    def value_expr(c: str):
        """Comparable STRING form per type so complex columns profile
        instead of crashing min/max's ordering check: nested types via
        canonical JSON, binary via hex, atomics via plain cast."""
        col, t = F.col(f"`{c}`"), dtypes[c]
        if t.startswith(("struct", "map", "array")):
            return F.to_json(col)
        if t == "binary":
            return F.hex(col)
        return col.cast("string")

    aggs = [F.count(F.lit(1)).alias("_rows")]
    for i, c in enumerate(cols):
        col, v = F.col(f"`{c}`"), value_expr(c)
        # min/max on the NATIVE type when orderable (numeric min, not
        # lexicographic), on the string form otherwise.
        mm = v if dtypes[c].startswith(("struct", "map", "array")) else col
        aggs += [
            F.sum(col.isNull().cast("long")).alias(f"_nulls_{i}"),
            F.count_distinct(v).alias(f"_nd_{i}"),
            F.min(mm).cast("string").alias(f"_min_{i}"),
            F.max(mm).cast("string").alias(f"_max_{i}"),
        ]
    stats = df.agg(*aggs)
    # stack(n, label1, v1a, v1b, ..., label2, ...) unpivots the single
    # stats row to long form without touching the driver. Labels are
    # quoted SQL literals and the stat columns positional aliases, so
    # arbitrary source column names (spaces, quotes, dots) are safe.
    parts = []
    for i, c in enumerate(cols):
        label = c.replace("\\", "\\\\").replace("'", "\\'")
        parts += [
            f"'{label}'",
            f"_nulls_{i}",
            f"_nd_{i}",
            f"_min_{i}",
            f"_max_{i}",
        ]
    long = stats.select(
        "_rows",
        F.expr(
            f"stack({len(cols)}, {', '.join(parts)}) AS "
            "(column, n_nulls, n_distinct, min_value, max_value)"
        ),
    )

    vals = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        value_expr(c).alias("value"),
                    )
                    for c in cols
                ]
            )
        ).alias("cv")
    ).select("cv.column", "cv.value").filter(F.col("value").isNotNull())
    w = Window.partitionBy("column").orderBy(F.desc("n"), "value")
    top = (
        vals.groupBy("column", "value")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= top_k)
        .groupBy("column")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("_rk", "value", "n")
                        )
                    ),
                    lambda s: F.concat_ws(
                        ":", s["value"], s["n"].cast("string")
                    ),
                ),
                ", ",
            ).alias("top_values")
        )
    )

    dtype_map = F.create_map(
        *[x for c in cols for x in (F.lit(c), F.lit(dtypes[c]))]
    )
    return (
        long.join(top, "column", "left")
        .select(
            "column",
            dtype_map[F.col("column")].alias("dtype"),
            F.col("_rows").alias("n_rows"),
            "n_nulls",
            "n_distinct",
            "min_value",
            "max_value",
            F.coalesce("top_values", F.lit("")).alias("top_values"),
        )
    )


def profile_drift(
    old: DataFrame,
    new: DataFrame,
    columns: list[str] | None = None,
    top_k: int = 3,
) -> DataFrame:
    """Data-drift report between two snapshots of a table: profiles
    both sides with :func:`profile_table` and emits, per column, the
    row/null/distinct movements plus changed-flags for min, max, and
    the top-``top_k`` frequent-value string — the monitoring readout a
    pipeline publishes when a new crawl/export lands, catching schema
    abuse (null floods, cardinality explosions, range shifts) before
    training jobs consume the data. Returns ``(col_name, n_rows_old,
    n_rows_new, null_frac_old, null_frac_new, n_distinct_old,
    n_distinct_new, min_changed, max_changed, top_values_changed)``.

    Changed-flags compare each engine's OWN string rendering of the
    two sides (null-safe), so a genuine change is detected identically
    everywhere while engine-specific number formatting cancels out.
    Scale shape: two profile passes (each one aggregate scan + one
    top-k explode pass) joined on the column name — a ≤ n_columns-row
    join; nothing new scales with the table.
    """
    fields = [
        "n_rows",
        "n_nulls",
        "n_distinct",
        "min_value",
        "max_value",
        "top_values",
    ]
    po = profile_table(old, columns, top_k).select(
        "column", *[F.col(f).alias(f"{f}_old") for f in fields]
    )
    pn = profile_table(new, columns, top_k).select(
        "column", *[F.col(f).alias(f"{f}_new") for f in fields]
    )
    j = po.join(pn, "column")
    return j.select(
        F.col("column").alias("col_name"),
        F.col("n_rows_old").cast("long").alias("n_rows_old"),
        F.col("n_rows_new").cast("long").alias("n_rows_new"),
        F.round(F.col("n_nulls_old") / F.col("n_rows_old"), 6).alias(
            "null_frac_old"
        ),
        F.round(F.col("n_nulls_new") / F.col("n_rows_new"), 6).alias(
            "null_frac_new"
        ),
        F.col("n_distinct_old").cast("long").alias("n_distinct_old"),
        F.col("n_distinct_new").cast("long").alias("n_distinct_new"),
        (~F.col("min_value_old").eqNullSafe(F.col("min_value_new"))).alias(
            "min_changed"
        ),
        (~F.col("max_value_old").eqNullSafe(F.col("max_value_new"))).alias(
            "max_changed"
        ),
        (
            ~F.col("top_values_old").eqNullSafe(F.col("top_values_new"))
        ).alias("top_values_changed"),
    ).orderBy("col_name")


def benford_report(
    df: DataFrame,
    int_col: str,
) -> DataFrame:
    """First-digit (Benford) audit of a positive integer column —
    the classic fabricated-/synthetic-data smell test: naturally
    occurring multi-scale counts follow ``P(d) = log10(1 + 1/d)``;
    uniform or hand-made values don't. Emits the observed digit
    distribution against the Benford expectation with per-digit
    chi-square terms (Σ = the test statistic).

    First digits come from the INTEGER's decimal string — exact in
    every engine, no log10-of-double boundary hazards at powers of
    ten. Non-positive values are excluded (no leading significant
    digit). One hash aggregate into ≤9 groups + a broadcast single-row
    total; digits never observed still emit a row (expected > 0, so
    they contribute ``n·p_d`` to the statistic).

    Returns ``(digit, n, observed_p, expected_p, chi2_term)``.
    """
    import math

    d = F.substring(F.col(int_col).cast("long").cast("string"), 1, 1)
    base = df.filter(
        F.col(int_col).isNotNull() & (F.col(int_col) > 0)
    ).select(d.cast("int").alias("digit"))
    counts = base.groupBy("digit").agg(F.count("*").alias("n"))
    digits = df.sparkSession.range(1, 10).select(
        F.col("id").cast("int").alias("digit")
    )
    full = digits.join(counts, "digit", "left").select(
        "digit", F.coalesce(F.col("n"), F.lit(0)).alias("n")
    )
    total = full.agg(F.sum("n").cast("double").alias("_N"))
    exp_map = F.create_map(
        *[x for dd in range(1, 10)
          for x in (F.lit(dd), F.lit(math.log10(1.0 + 1.0 / dd)))]
    )
    p = exp_map[F.col("digit")]
    obs = F.col("n") / F.col("_N")
    chi2 = (F.col("n") - F.col("_N") * p) ** 2 / (F.col("_N") * p)
    return (
        full.crossJoin(F.broadcast(total))  # single-row corpus total
        .select(
            "digit",
            F.col("n").cast("long").alias("n"),
            F.round(obs, _DIGITS).alias("observed_p"),
            F.round(p, _DIGITS).alias("expected_p"),
            F.round(chi2, _DIGITS).alias("chi2_term"),
        )
        .orderBy("digit")
    )


def concentration_report(
    df: DataFrame,
    group_col: str,
    weight_col: str | None = None,
) -> DataFrame:
    """Concentration of a corpus over groups (sources, domains,
    languages) — the "is one source dominating the mix?" audit:

    * ``hhi`` — Herfindahl-Hirschman index ``Σ s_i²`` of the group
      shares (1/n_groups = perfectly even, 1 = single source);
    * ``gini`` — Gini coefficient of the group weights (0 = even,
      →1 = concentrated), via the sorted-share formula
      ``G = 2·Σ i·x_(i) / (n·Σx) − (n+1)/n``.

    Scale shape: ONE hash aggregate reduces the corpus to a
    groups-sized table; the rank window for the Gini runs over that
    metadata-sized table only (n_groups rows — domains/languages/
    sources, never corpus rows). Returns one row
    ``(n_groups, total, hhi, gini)``.
    """
    from pyspark.sql import Window

    w = (
        F.col(weight_col).cast("double")
        if weight_col
        else F.lit(1.0)
    )
    base = df.filter(F.col(group_col).isNotNull())
    if weight_col:
        # NULL weights are non-observations, not zeros — and a group
        # whose weights are ALL NULL would otherwise put a NULL share
        # into the rank/sums and NULL the whole report.
        base = base.filter(F.col(weight_col).isNotNull())
    groups = base.groupBy(group_col).agg(F.sum(w).alias("x"))
    # metadata-sized single-partition window: one row per GROUP.
    rk = F.row_number().over(
        Window.orderBy(F.col("x"), F.col(group_col))
    )
    ranked = groups.select("x", rk.alias("i"))
    agg = ranked.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x").alias("t"),
        F.sum(F.col("i") * F.col("x")).alias("ix"),
        F.sum(F.col("x") * F.col("x")).alias("xx"),
    )
    gini = (
        2.0 * F.col("ix") / (F.col("n") * F.col("t"))
        - (F.col("n") + 1) / F.col("n")
    )
    hhi = F.col("xx") / (F.col("t") * F.col("t"))
    return agg.select(
        F.col("n").cast("long").alias("n_groups"),
        F.round("t", _DIGITS).alias("total"),
        F.round(hhi, _DIGITS).alias("hhi"),
        F.round(gini, _DIGITS).alias("gini"),
    )


def fd_report(
    df: DataFrame,
    dependencies: Sequence[tuple[Sequence[str] | str, str]],
) -> DataFrame:
    """Approximate functional-dependency check (the g3 error of
    Kivinen & Mannila 1995, the measure TANE-family FD discovery
    ranks by): for each declared candidate ``determinant → dependent``,
    how far the table is from satisfying it.

    Per dependency, one row: ``determinant`` (comma-joined column
    list), ``dependent``, ``n_rows``, ``n_groups`` (distinct
    determinant values), ``clean_groups`` (groups whose rows all agree
    on the dependent), ``violating_rows`` (the g3 numerator: the
    minimum number of rows to delete so the FD holds exactly — n minus
    the per-group majority-value count), ``g3_error``
    (violating_rows / n_rows, 6dp) and ``holds`` (exact FD).

    NULL semantics are SQL ``GROUP BY`` semantics on BOTH sides: a
    NULL determinant is an equivalence class like any other, and a
    NULL dependent is a value (two NULLs agree). This matches every
    engine's grouping behavior, so an external oracle replays it
    verbatim.

    Scale shape, per dependency: one hash aggregate on
    (determinant, dependent) — map-side combined, cardinality bounded
    by the value-combination space, never a sort — then a hash
    aggregate on the determinant, then a single-row rollup. The
    declared dependencies run as independent branches of ONE unioned
    plan (they share the scan when the source is cached). Nothing is
    collected; no joins back to the corpus. Discovery across ALL
    column pairs is deliberately out of scope — a 100-column table has
    9900 directed pairs; callers enumerate the candidates they care
    about (profile_table's distinct counts are the usual pruner:
    determinants with distinct ≈ n_rows or dependents with distinct 1
    are trivial).
    """
    if not dependencies:
        raise ValueError("dependencies must be non-empty")
    outs = []
    for det, dep in dependencies:
        det_cols = [det] if isinstance(det, str) else list(det)
        if not det_cols:
            raise ValueError("determinant column list must be non-empty")
        if dep in det_cols:
            raise ValueError(
                f"dependent {dep!r} cannot appear in its determinant"
            )
        pair_counts = df.groupBy(
            *[F.col(c) for c in det_cols], F.col(dep)
        ).agg(F.count(F.lit(1)).alias("c"))
        per_group = pair_counts.groupBy(*det_cols).agg(
            F.sum("c").alias("gn"),
            F.max("c").alias("keep"),
            F.count(F.lit(1)).alias("n_dep_values"),
        )
        outs.append(
            per_group.agg(
                F.lit(",".join(det_cols)).alias("determinant"),
                F.lit(dep).alias("dependent"),
                F.sum("gn").cast("long").alias("n_rows"),
                F.count(F.lit(1)).alias("n_groups"),
                F.count(
                    F.when(F.col("n_dep_values") == 1, F.lit(1))
                ).alias("clean_groups"),
                (F.sum("gn") - F.sum("keep"))
                .cast("long")
                .alias("violating_rows"),
                F.round(
                    (F.sum("gn") - F.sum("keep")) / F.sum("gn"), 6
                ).alias("g3_error"),
                (F.sum("gn") == F.sum("keep")).alias("holds"),
            )
        )
    result = outs[0]
    for o in outs[1:]:
        result = result.unionByName(o)
    return result


def pareto_report(
    df: DataFrame,
    group_col: str,
    weight_col: str | None = None,
    thresholds: Sequence[float] = (0.5, 0.8, 0.9),
) -> DataFrame:
    """Pareto / ABC concentration curve over groups — the "how many
    users produce 80% of the events?" readout that complements
    :func:`concentration_report`'s scalar HHI/Gini with the actual
    curve coordinates an on-call person quotes.

    Per threshold t: ``n_groups_t`` = the MINIMUM number of top-weight
    groups whose cumulative share reaches t (ties on weight broken by
    the group key, so the count is deterministic in any engine), and
    ``share_of_groups_t`` = that count over all groups (6dp). One
    extra row per call (threshold = NULL sentinel 1.0 at rank 1)
    would be redundant — top-1 share is readable from the t=0.5 row
    only by accident, so ``top1_share`` is its own column on every
    row instead.

    Scale shape: ONE hash aggregate reduces the corpus to the
    group-weight table; the cumulative share is a window over THAT
    (group-count-sized — the same deliberate dimension-sized window
    as every report-stage operator here); thresholds evaluate as
    conditional min-aggregates over the cumulated rows. The corpus is
    scanned once; nothing is collected.
    """
    if not thresholds:
        raise ValueError("thresholds must be non-empty")
    ts = [float(t) for t in thresholds]
    if any(not 0.0 < t <= 1.0 for t in ts):
        raise ValueError(
            f"thresholds must be in (0, 1], got {list(thresholds)}"
        )
    w = (
        F.count(F.lit(1))
        if weight_col is None
        else F.sum(F.col(weight_col).cast("double"))
    )
    gw = df.groupBy(F.col(group_col).alias("g")).agg(w.alias("wt"))
    win = Window.orderBy(F.desc("wt"), "g")
    cum = gw.select(
        "wt",
        F.row_number().over(win).alias("rk"),
        F.sum("wt")
        .over(win.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cw"),
        F.sum("wt").over(Window.partitionBy()).alias("tot"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("ng"),
    )
    share = F.col("cw") / F.col("tot")
    aggs = [
        F.max("ng").alias("n_groups"),
        F.round(F.max("tot").cast("double"), 6).alias("total_weight"),
        F.round(
            F.max(F.when(F.col("rk") == 1, F.col("wt"))) / F.max("tot"),
            6,
        ).alias("top1_share"),
    ]
    for t in ts:
        pct = str(int(round(t * 100)))
        aggs.append(
            F.min(F.when(share >= F.lit(t), F.col("rk")))
            .cast("long")
            .alias(f"n_to_{pct}")
        )
    out = cum.agg(*aggs)
    for t in ts:
        pct = str(int(round(t * 100)))
        out = out.withColumn(
            f"pct_groups_to_{pct}",
            F.round(F.col(f"n_to_{pct}") / F.col("n_groups"), 6),
        )
    return out


def weighted_percentiles(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    qs: Sequence[float] = (0.5, 0.9, 0.99),
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Exact weighted percentiles — the lower weighted quantile
    ``min{ v : cumW(v) ≥ q·W }`` per group, the estimator you need
    when each row carries a mass (token counts per document, bytes
    per file, duration per session) and "the p99 document by TOKENS"
    is not "the p99 row".

    Scale shape: one hash aggregate to the per-(group, value) weight
    table; the cumulative weight is a window per group over that
    DISTINCT-value table (grouped calls partition by the group key;
    for ungrouped corpus-wide calls over a huge continuous value
    domain, pre-bucket values or use the two-phase prefix sum in
    ``budget.running_total`` — documented trade); one conditional
    min-aggregate per requested q.

    Returns one row per group: ``group_cols + total_weight +
    p<q*100> columns`` (e.g. ``p50, p90, p99``). NULL values/weights
    and non-positive weights are dropped.
    """
    if not qs:
        raise ValueError("qs must be non-empty")
    if any(not 0.0 < q <= 1.0 for q in qs):
        raise ValueError(f"every q must be in (0, 1], got {qs}")
    g = list(group_cols)
    base = df.filter(
        F.col(value_col).isNotNull()
        & F.col(weight_col).isNotNull()
        & (F.col(weight_col) > 0)
    ).select(
        *[F.col(c) for c in g],
        F.col(value_col).cast("double").alias("_v"),
        F.col(weight_col).cast("double").alias("_w"),
    )
    wv = base.groupBy(*g, F.col("_v")).agg(F.sum("_w").alias("_wv"))
    w_cum = (
        Window.partitionBy(*g)
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_tot = Window.partitionBy(*g)
    cum = wv.withColumn("_cum", F.sum("_wv").over(w_cum)).withColumn(
        "_tot", F.sum("_wv").over(w_tot)
    )

    def name(q: float) -> str:
        pct = q * 100
        return f"p{pct:g}".replace(".", "_")

    aggs = [
        F.round(F.sum(F.col("_wv")), _DIGITS).alias("total_weight")
    ] + [
        F.min(
            F.when(
                F.col("_cum") >= F.lit(float(q)) * F.col("_tot"),
                F.col("_v"),
            )
        ).alias(name(q))
        for q in qs
    ]
    return cum.groupBy(*g).agg(*aggs)
