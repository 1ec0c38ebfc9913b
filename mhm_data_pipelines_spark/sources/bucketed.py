"""Bucketed tables: pre-shuffled storage for co-located joins.

At 100 TB the dominant cost of a fact⋈fact join (orders⋈lineitem,
events⋈events-as-of) is the shuffle of both sides. Hash-bucketing both
tables on the join key at WRITE time moves that shuffle into the
one-time ingest: every subsequent join on the bucket key is planned
with ZERO Exchange on either side (SortMergeJoin over pre-bucketed
scans), and point filters on the bucket column prune to a single
bucket file per partition (``SelectedBucketsCount`` in the scan).

This is the Spark-native equivalent of the reference's per-participant
directory layout (``mhm-data-pipelines/merge-data.py:122-141`` groups
work by the path's participant segment so each group's files co-reside)
— re-expressed as catalog bucketing so the optimizer, not the script,
exploits the co-location.

Rules of use at scale:
* bucket count ≈ target parallelism at the biggest consumer (a divisor
  relationship lets AQE coalesce); both join sides MUST have the same
  count for shuffle-free planning.
* one file per bucket per write: we ``repartition(n, key)`` first so a
  1000-task writer doesn't emit 1000 small files per bucket.
* ``sortBy`` the bucket key so the join's per-bucket sort is a no-op
  for already-sorted runs.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_bucketed(
    df: DataFrame,
    table: str,
    keys: Sequence[str],
    n_buckets: int,
    sort: Sequence[str] | None = None,
    mode: str = "overwrite",
    fmt: str = "parquet",
) -> None:
    """Save ``df`` as a bucketed catalog table (``saveAsTable`` — plain
    path writes cannot carry bucket metadata). Repartitions by the
    bucket keys first so each bucket lands in exactly one file."""
    sort = list(sort) if sort else list(keys)
    (
        df.repartition(n_buckets, *[F.col(k) for k in keys])
        .write.format(fmt)
        .mode(mode)
        .bucketBy(n_buckets, *keys)
        .sortBy(*sort)
        .saveAsTable(table)
    )


def bucketed_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    on: Sequence[str],
    how: str = "inner",
) -> DataFrame:
    """Join two same-bucket-count tables on (a prefix of) their bucket
    keys. The plan this produces is the point: no Exchange on either
    side (assert via ``assert_no_shuffle``). Hinted to merge-join —
    at 100 TB neither fact side broadcasts, and the hint keeps the
    small-SF test plan identical to the at-scale plan."""
    return (
        spark.table(left_table)
        .hint("merge")
        .join(spark.table(right_table).hint("merge"), list(on), how)
    )


def assert_no_shuffle(df: DataFrame) -> str:
    """Raise if the physical plan contains a shuffle Exchange (broadcast
    exchanges are fine — they're the cheap side). Returns the plan text
    for logging or plan evidence.

    Plan text comes from the public ``df.explain()`` (stdout-captured)
    so this works on classic AND Spark Connect sessions — the previous
    ``_jdf.queryExecution()`` path was py4j-only."""
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="simple")
    plan = buf.getvalue()
    for line in plan.splitlines():
        stripped = line.strip().lstrip("+-:* ")
        if stripped.startswith("Exchange"):
            raise AssertionError(f"shuffle Exchange in plan:\n{plan}")
    return plan
