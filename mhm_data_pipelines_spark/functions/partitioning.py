"""Input-parallelism guard for compute-heavy map stages.

Spark sizes scan parallelism by BYTES (``spark.sql.files.maxPartitionBytes``),
not by downstream compute cost. A small file carrying an expensive
per-row pipeline (interpreted higher-order functions over token arrays,
n-gram explodes, signature hashing) therefore reads as one partition and
runs single-threaded while the rest of the cluster idles. At 100 TB the
scan naturally yields thousands of partitions and this helper is a
no-op; at benchmark/test scale it is the difference between one core
and all of them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread_small_input(df: DataFrame) -> DataFrame:
    """Repartition ``df`` up to the cluster's ``defaultParallelism``
    when the scan produced fewer —
    a round-robin shuffle of the raw rows, paid once, so the expensive
    map stage that follows uses every core. No-op when the input is
    already at least that wide (the at-scale case)."""
    try:
        sc = df.sparkSession.sparkContext
        target = sc.defaultParallelism
        narrow = df.rdd.getNumPartitions() < target
    except Exception:
        # Spark Connect: no SparkContext / RDD introspection. Skip the
        # widening (AQE + maxPartitionBytes govern scan width there);
        # callers that must widen pass an explicit repartition.
        return df
    return df.repartition(target) if narrow else df
