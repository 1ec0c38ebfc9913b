"""Data-overview pipelines: per-group stats table, availability matrix,
missing-data report.

Reference: ``mhm-data-pipelines/process-overview.py`` (stats per
site/participant/metric with device split, partial accumulators merged at
``:168-194,301-324``) and ``data_collection.py`` (participant × date
availability pivot at ``:64-73``; README "missing or incomplete data",
``/root/reference/README.md:69-71``).

The reference merges per-file partial stats dicts in the driver; Spark's
hash aggregate does the identical partial→final merge inside the shuffle,
so each pipeline here is one job with a single agg shuffle — the shape
that survives 100 TB. Device split (A11) is just an extra grouping column
rather than a per-file re-group.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mhm_data_pipelines_spark.functions.stats import distinct_days

#: Case-insensitive device-column sniff order (process-overview.py:129-135).
DEVICE_COLUMN_CANDIDATES = ("device", "devicename", "device_name")


def _find_device_col(df: DataFrame) -> str | None:
    lower = {c.lower(): c for c in df.columns}
    for cand in DEVICE_COLUMN_CANDIDATES:
        if cand in lower:
            return lower[cand]
    return None


def overview_stats(
    df: DataFrame,
    ts: Column | str = "ts",
    group_cols: list[str] = ("site", "participant_id", "metric"),
    split_by_device: bool = False,
) -> DataFrame:
    """Stats table: ``row_count, start_date, end_date, day_count`` per
    group, ordered by the group key (process-overview.py:207-226; output
    shape FIXTURES.md §7).

    ``split_by_device=True`` renames the metric ``metric/device`` when a
    device column exists (process-overview.py:129-150).
    """
    t = F.col(ts) if isinstance(ts, str) else ts
    group_cols = list(group_cols)
    if split_by_device:
        dev = _find_device_col(df)
        if dev and "metric" in group_cols:
            df = df.withColumn(
                "metric",
                F.when(
                    F.col(dev).isNotNull(),
                    F.concat_ws("/", F.col("metric"), F.col(dev)),
                ).otherwise(F.col("metric")),
            )
    return (
        df.filter(t.isNotNull())
        .groupBy(*group_cols)
        .agg(
            F.count("*").alias("row_count"),
            F.min(F.to_date(t)).alias("start_date"),
            F.max(F.to_date(t)).alias("end_date"),
            distinct_days(t).alias("day_count"),
        )
        .orderBy(*group_cols)
    )


def availability_long(
    df: DataFrame,
    ts: Column | str = "ts",
    id_col: str = "participant_id",
    metric_col: str = "metric",
) -> DataFrame:
    """Long-form availability: one row per (id, metric, date) with the
    row count that day (data_collection.py:113-122)."""
    t = F.col(ts) if isinstance(ts, str) else ts
    return (
        df.filter(t.isNotNull())
        .groupBy(F.col(id_col), F.col(metric_col), F.to_date(t).alias("date"))
        .agg(F.count("*").alias("n"))
    )


def availability_matrix(
    df: DataFrame,
    ts: Column | str = "ts",
    id_col: str = "participant_id",
    pivot_col: str = "date",
    pivot_values: list | None = None,
) -> DataFrame:
    """Participant × date count matrix, 0-filled —
    ``pivot_table(aggfunc='count', fill_value=0)`` parity
    (data_collection.py:65).

    Supplying ``pivot_values`` (e.g. from a prior distinct over the
    catalog) avoids the extra pass Spark otherwise runs to discover pivot
    columns — at 100 TB always supply it.
    """
    t = F.col(ts) if isinstance(ts, str) else ts
    base = df.filter(t.isNotNull()).withColumn(
        "date", F.to_date(t).cast("string")
    )
    piv = base.groupBy(id_col).pivot(pivot_col, pivot_values)
    return piv.count().na.fill(0)


def missing_data_report(
    present: DataFrame,
    expected: DataFrame,
    keys: list[str] = ("participant_id", "metric"),
) -> DataFrame:
    """"Missing or incomplete data" = expected (participant × metric)
    minus present — the README's report (``/root/reference/README.md:69-71``)
    as a left-anti join (J3). ``expected`` is typically the cross join of
    the participant and metric dimension tables — both tiny → broadcast.
    """
    keys = list(keys)
    return expected.join(
        present.select(*keys).distinct(), on=keys, how="left_anti"
    )
