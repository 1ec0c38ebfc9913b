"""Compaction: the merge-data pipeline (§3.1) as one declarative job, and
the scale cornerstone of the whole engine.

Reference: ``mhm-data-pipelines/merge-data.py`` — os.walk grouping files
by (site, participant, metric) (``:119-155``), per-group sequential
pandas concat + csv.gz/parquet write (``:54-100``), skip-if-exists
incremental semantics (``:68-70``) with ``--update`` override
(``:109,164``); monthly batch grouping per README (``merge-data``
description, ``/root/reference/README.md:64-66``; filename-month key
``:33-44``).

Spark design: one pass — read every matching file, derive the dimension
columns from paths (sources.lake), rebalance on the partition columns and
write ``PARTITIONED BY (site, participant_id, metric)`` parquet, one file
per partition. The partition columns are the source layout's dimensions
in ``sources.lake.LAYOUTS`` minus ``top_level`` (a flat lake has no
``site``); this module defines no positions or partition lists of its
own. Grouping is the write partitioning (no driver loop); "merge" is the
multi-file read itself. The output is the *compacted lake*: real partition columns means
every downstream include/exclude (P4) becomes partition pruning, and the
thousands-of-tiny-gzip problem (§4.2) disappears after one pass.

Idempotency: ``mode='ignore'`` ≈ skip-if-exists; dynamic partition
overwrite ≈ ``--update`` per group without clobbering other groups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mhm_data_pipelines_spark.sources.lake import (
    _partition_columns,
    read_lake_unified,
)


def compact_lake(
    spark: SparkSession,
    raw_root: str,
    out_path: str,
    layout: str = "raw",
    include: list[str] | None = None,
    exclude: list[str] | None = None,
    update: bool = False,
    monthly: bool = False,
) -> None:
    """Rewrite the raw csv.gz lake as a partitioned parquet table.

    ``update=False`` → ``mode='ignore'`` (skip if output exists,
    merge-data.py:68-70); ``update=True`` → dynamic partition overwrite
    (only partitions present in this batch are rewritten — the per-group
    re-merge of ``--update``). ``monthly=True`` adds the filename-month
    as a fourth partition column (W3 batch bucketing). Rows are
    rebalanced on the partition columns before the write, so each
    partition directory is written by one task and gets one file (more
    only where AQE splits a skewed partition; small ones are coalesced
    into shared tasks)."""
    df = read_lake_unified(
        spark, raw_root, layout=layout, include=include, exclude=exclude
    )
    partitions = _partition_columns(layout)
    if monthly:
        df = df.withColumn(
            "batch_month", F.date_format("file_timestamp", "yyyy-MM")
        )
        partitions.append("batch_month")
    writer = df.hint("rebalance", *partitions).write.format("parquet")
    if update:
        writer = writer.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        )
    else:
        writer = writer.mode("ignore")
    writer.partitionBy(*partitions).save(out_path)


def read_compacted(spark: SparkSession, path: str) -> DataFrame:
    """Read the compacted lake; site/participant/metric predicates now
    prune partitions before any IO (verify with
    ``df.filter(...).explain()`` → PartitionFilters)."""
    return spark.read.parquet(path)
