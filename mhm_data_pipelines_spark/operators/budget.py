"""Globally-ordered running totals and token-budget corpus selection.

No reference counterpart (north-star LLM-pipeline extension per
BASELINE.json). The motivating op: "take the best documents until the
token budget is spent" — a cumulative sum over a GLOBAL ordering, which
a naive ``Window.orderBy`` (no partition key) executes on a single task
and therefore cannot scale.

Scale design — a two-phase distributed prefix sum over DETERMINISTIC
range buckets:

1. Range boundaries are computed ONCE, driver-side, from a value-hash
   sample of the ordering key (column-pruned scan), and embedded as
   LITERALS. Each row's bucket id ``_pid`` is then a pure function of
   its key values — every job that evaluates the frame assigns
   identical buckets, so nothing needs to be checkpointed or persisted
   to keep the two phases consistent. (``repartitionByRange`` instead
   re-samples boundaries per job with partition-dependent seeds: its
   split is only safe to consume across jobs after materializing the
   frame — a full-corpus checkpoint at 100 TB. Literal boundaries make
   the split re-executable for free.)
2. A window partitioned by ``_pid`` computes the within-bucket running
   sum — fully parallel.
3. Per-bucket totals (one row per bucket — metadata-sized) come to the
   driver, turn into exclusive prefix offsets, and broadcast-join back.

Every bucket works independently; driver traffic is the boundary sample
plus ``O(num_partitions)`` total rows. At 100 TB this is the difference
between a plan that finishes and one that funnels the corpus through
one task (or rewrites it to checkpoint storage).
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


#: Public ordering spec: a column name, a bare Column (ascending), an
#: ``(column, ascending)`` pair, or — classic-PySpark only — an
#: ``F.desc(...)``-style SortOrder Column (unwrapped via JVM internals).
OrderSpec = "Column | str | tuple[Column | str, bool]"


def _split_sort_order(spark, order_by: list) -> list[tuple[Column, bool]]:
    """(bare expression, ascending?) per ordering entry.

    ``(col, asc)`` tuples are the portable spelling (works under Spark
    Connect, no JVM access). A raw ``F.desc(...)`` Column is still
    accepted on classic PySpark by unwrapping the SortOrder node; when
    that private API is unavailable (Connect), a clear error tells the
    caller to pass the tuple form instead."""
    out: list[tuple[Column, bool]] = []
    for c in order_by:
        if isinstance(c, tuple):
            e, asc = c
            out.append((F.col(e) if isinstance(e, str) else e, bool(asc)))
            continue
        if isinstance(c, str):
            out.append((F.col(c), True))
            continue
        # Spark Connect column: unwrap its SortOrder expression node
        # (duck-typed — no connect import needed; `_expr` only exists
        # on Connect Columns). (col, asc) tuples remain the documented
        # portable spelling; this keeps bare F.desc(...) working there.
        cexpr = getattr(c, "_expr", None)
        if cexpr is not None and type(cexpr).__name__ == "SortOrder":
            out.append((type(c)(cexpr._child), bool(cexpr._ascending)))
            continue
        try:
            node = c._jc.node()
        except AttributeError as exc:  # neither classic nor unwrappable
            raise TypeError(
                "Cannot unwrap a SortOrder Column without JVM access "
                "(Spark Connect). Pass (column, ascending) pairs in "
                "order_by instead of F.desc(...)/F.asc(...)."
            ) from exc
        if node.getClass().getSimpleName() == "SortOrder":
            bare = Column(
                spark._jvm.org.apache.spark.sql.Column(node.child())
            )
            asc = "Descending" not in node.sortDirection().toString()
            out.append((bare, asc))
        else:
            out.append((c, True))
    return out


def _sample_boundaries(
    df: DataFrame,
    pairs: list[tuple[Column, bool]],
    parts: int,
    per_part: int,
) -> list[tuple]:
    """parts-1 range cut points from a deterministic value-hash sample
    of the ordering key. The sample predicate hashes the KEY VALUES
    (``xxhash64``), not row positions, so it selects the same rows on
    any execution and any input partitioning."""
    if parts <= 1:
        return []
    keys = df.select(
        *[e.alias(f"_k{i}") for i, (e, _) in enumerate(pairs)]
    ).dropna()
    target = parts * per_part
    # Uniform sample in ONE job with no pre-count: the `target` rows with
    # the smallest key-hash values (TakeOrdered — parallel per-partition
    # top-K, driver merges K rows). Hash of VALUES, so the same rows win
    # on any execution/partitioning; bounded driver traffic by
    # construction.
    kcols = [f"_k{i}" for i in range(len(pairs))]
    rows = [
        tuple(r)[:-1]
        for r in keys.withColumn("_h", F.xxhash64(*kcols))
        .orderBy("_h")
        .limit(target)
        .collect()
    ]
    if not rows:
        return []

    def cmp(a: tuple, b: tuple) -> int:
        for i, (_, asc) in enumerate(pairs):
            if a[i] == b[i]:
                continue
            lt = a[i] < b[i]
            return (-1 if lt else 1) if asc else (1 if lt else -1)
        return 0

    rows.sort(key=functools.cmp_to_key(cmp))
    return [rows[(j * len(rows)) // parts] for j in range(1, parts)]


def _sql_lit(v) -> str:
    """Render a sampled boundary value as a Spark SQL literal with exact
    round-trip (floats go through repr + CAST so no precision is lost)."""
    import datetime
    import decimal

    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return f"{v}L"
    if isinstance(v, decimal.Decimal):
        # Plain (non-scientific) decimal literal: Spark parses it as an
        # exact DECIMAL of the literal's own precision/scale, which
        # then compares exactly against the decimal ordering key.
        return format(v, "f")
    if isinstance(v, float):
        return f"CAST('{v!r}' AS DOUBLE)"
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(v, datetime.datetime):
        return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
    if isinstance(v, datetime.date):
        return f"DATE '{v.isoformat()}'"
    raise TypeError(
        f"unsupported boundary key type {type(v).__name__}; cast the "
        "ordering key to int/float/str/date/timestamp first"
    )


def _bucket_sql(
    key_names: list[str],
    dirs: list[bool],
    boundaries: list[tuple],
) -> str:
    """Bucket id = how many boundaries this row sorts strictly AFTER
    (lexicographic compare honoring per-column direction) — a pure
    row-value expression, identical on every execution. Rows equal to a
    boundary key land in the lower bucket.

    Emitted as ONE generated SQL string for ``F.expr``: building it from
    Column operators costs ~16 py4j driver round-trips per boundary on
    classic PySpark — at 1000 partitions that is ~16k blocking JVM calls
    of pure plan-construction latency before any job starts. A single
    expr() parse is one round-trip regardless of partition count."""
    terms = []
    for b in boundaries:
        disjuncts = []
        prefix_eq: list[str] = []
        for name, asc, bv in zip(key_names, dirs, b):
            lit = _sql_lit(bv)
            cmp_ = f"{name} > {lit}" if asc else f"{name} < {lit}"
            disjuncts.append(" AND ".join([*prefix_eq, cmp_]))
            prefix_eq.append(f"{name} = {lit}")
        cond = " OR ".join(f"({d})" for d in disjuncts)
        terms.append(f"(CASE WHEN {cond} THEN 1 ELSE 0 END)")
    return " + ".join(terms) if terms else "0"


def running_total(
    df: DataFrame,
    order_by: list,
    value_col: str,
    out_col: str = "running_total",
    num_partitions: int | None = None,
) -> DataFrame:
    """``out_col`` = inclusive cumulative sum of ``value_col`` over the
    global ``order_by`` ordering, computed with the literal-boundary
    distributed prefix sum above (no single-task window and no
    materialization). ``order_by`` MUST be a total order
    (include a unique tiebreaker) with NON-NULL keys — null keys have
    no defined range bucket (boundary comparisons are null-poisoned);
    coalesce them to a sentinel first.

    The plan is pure lineage: the boundary-sample, per-bucket-totals
    and window jobs each re-derive buckets from literal boundaries,
    nothing is pinned to executor storage, and executor loss costs
    recompute instead of query failure. When the input embeds
    expensive derivations (tokenization, Pandas UDFs), pass it through
    ``localCheckpoint(eager=False)`` first so those jobs evaluate it
    once."""
    spark = df.sparkSession
    pairs = _split_sort_order(spark, order_by)
    sort_cols = [
        (e if asc else e.desc()) for e, asc in pairs
    ]
    from mhm_data_pipelines_spark.session import default_parallelism

    parts = num_partitions or default_parallelism(spark)
    boundaries = _sample_boundaries(df, pairs, parts, 64)
    # Stage the (possibly computed) keys under reserved names so the
    # generated bucket SQL can reference them by name; dropped below.
    key_names = [f"_rt_k{i}" for i in range(len(pairs))]
    staged = df.withColumns(
        {n: e for n, (e, _) in zip(key_names, pairs)}
    )
    tagged = staged.withColumn(
        "_pid",
        F.expr(
            _bucket_sql(key_names, [a for _, a in pairs], boundaries)
        ).cast("int"),
    ).drop(*key_names)
    w = (
        Window.partitionBy("_pid")
        .orderBy(*sort_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = tagged.withColumn("_local_cum", F.sum(value_col).over(w))
    # Exclusive prefix offsets per bucket, computed IN-PLAN: the
    # per-bucket totals are one row per bucket (metadata-sized by
    # construction), so the unpartitioned window over them is a
    # single-task sort of num_partitions rows — not a scale hazard —
    # and the broadcast join appends the offset without any driver
    # collect/createDataFrame round-trip. _pid depends only on row
    # values + literal bounds, so the totals subtree re-derives the
    # same buckets as the window subtree on every execution.
    woff = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    off_df = (
        tagged.groupBy("_pid")
        .agg(F.sum(value_col).alias("_tot"))
        .select(
            "_pid",
            F.coalesce(F.sum("_tot").over(woff), F.lit(0))
            .cast("long")
            .alias("_offset"),
        )
    )
    return (
        local.join(F.broadcast(off_df), "_pid")
        .withColumn(out_col, (F.col("_offset") + F.col("_local_cum")).cast("long"))
        .drop("_pid", "_local_cum", "_offset")
    )


def _tie_avg_ranks(
    counts: DataFrame, val_col: str, count_col: str, cum_col: str
) -> tuple[DataFrame, Column]:
    """Fractional ranks from a per-value count table: ``counts`` gains
    ``cum_col``, the :func:`running_total` of ``count_col`` in
    ascending ``val_col`` order, and the returned Column is the rank
    of each value's rows. Ties at a value span positions
    ``cum − c + 1 .. cum``, so their average rank is
    ``cum − c/2 + 0.5`` — an integer or a half, exact in doubles. The
    raw rows are never globally sorted."""
    cum = running_total(
        counts, order_by=[(val_col, True)], value_col=count_col,
        out_col=cum_col,
    )
    rank = (
        F.col(cum_col).cast("double")
        - F.col(count_col).cast("double") / 2
        + F.lit(0.5)
    )
    return cum, rank


def select_to_budget(
    df: DataFrame,
    budget: int,
    order_by: list,
    value_col: str,
    keep_running: bool = True,
) -> DataFrame:
    """Greedy budgeted selection: walk ``df`` in ``order_by`` order and
    keep rows while the cumulative ``value_col`` stays ≤ ``budget`` —
    the "best docs until the token budget is spent" primitive. A row
    whose value would cross the budget is dropped, as is everything
    after it (inclusive-sum semantics, matching SQL's
    ``SUM(...) OVER (... ROWS UNBOUNDED PRECEDING) <= budget``);
    see :func:`running_total` for when to checkpoint ``df`` first."""
    out = running_total(df, order_by, value_col)
    out = out.filter(F.col("running_total") <= budget)
    return out if keep_running else out.drop("running_total")
