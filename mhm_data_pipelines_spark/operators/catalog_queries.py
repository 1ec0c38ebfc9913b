"""Catalog query parity: every ``summary.py`` / ``main.py`` subcommand as
a small DataFrame aggregate over the catalog table (sources.catalog).

Reference commands (``mhm-data-pipelines/summary.py:333-402`` argparse
subcommands; dict-dispatch twin ``main.py:97-106,309-330``):

* ``generate_summary_report`` — per (user, measurement): file count,
  date range, shard stats (``summary.py:229-248``, date range ``:71-78``)
* file counts per batch timestamp (``summary.py:56-63``, A9)
* distinct measurements across users (``summary.py:168-186``, A10/O2)
* ``view_schema`` — schema document lookup (``summary.py:300-312``)

Each was a driver loop over the pickled object graph; here each is one
partial+final aggregate over the catalog DataFrame — at 100 TB the
catalog is itself a partitioned parquet table and these stay interactive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def summary_report(catalog: DataFrame) -> DataFrame:
    """Per (user, measurement): files, date range, distinct days, shard
    count — generate_summary_report parity (summary.py:229-248)."""
    return (
        catalog.filter(~F.col("is_schema"))
        .groupBy("user_id", "measurement")
        .agg(
            F.count("*").alias("n_files"),
            F.min("date").alias("first_date"),
            F.max("date").alias("last_date"),
            # size(collect_set): bounded by calendar days, one shuffle.
            F.size(F.collect_set("date")).cast("long").alias("n_days"),
            F.count(F.col("shard_index")).alias("n_sharded_files"),
            F.sum("size").alias("total_bytes"),
        )
        .orderBy("user_id", "measurement")
    )


def files_per_batch(catalog: DataFrame) -> DataFrame:
    """Shards per (date, time) batch key (A9, summary.py:56-63)."""
    return (
        catalog.filter(~F.col("is_schema"))
        .groupBy("date", "time")
        .agg(F.count("*").alias("n_files"))
    )


def measurements_across_users(catalog: DataFrame) -> DataFrame:
    """Sorted distinct measurement list + per-measurement user coverage
    (A10/O2, summary.py:168-186)."""
    return (
        catalog.filter(~F.col("is_schema"))
        .groupBy("measurement")
        .agg(F.count_distinct("user_id").alias("n_users"))
        .orderBy("measurement")
    )


def user_overview(catalog: DataFrame) -> DataFrame:
    """Per-user rollup: measurements available, files, span —
    the ``list_users``/overview commands (main.py:155-173)."""
    return (
        catalog.filter(~F.col("is_schema"))
        .groupBy("user_id")
        .agg(
            F.sort_array(F.collect_set("measurement")).alias("measurements"),
            F.count("*").alias("n_files"),
            F.min("date").alias("first_date"),
            F.max("date").alias("last_date"),
        )
        .orderBy("user_id")
    )


def schema_paths(catalog: DataFrame) -> DataFrame:
    """Schema-document lookup table (view_schema, summary.py:300-312)."""
    return catalog.filter(F.col("is_schema")).select(
        "user_id", "measurement", F.col("path").alias("schema_path")
    )
