"""Incremental view maintenance (IVM) for group-by rollup tables.

The reference maintains its global stats incrementally — re-writing
summary outputs after each directory batch rather than re-scanning the
corpus (mdp/process-overview.py:276-332, partial re-writes; the
skip-if-exists merge contract at mdp/merge-data.py:68-70). This module
is that pattern made scale-correct: a standing **summary table of
mergeable partials** — per group: ``n`` (rows), ``nn`` (non-null
values), ``s1`` (Σx), ``s2`` (Σx²), ``mn``, ``mx``, and optionally an
HLL sketch of a distinct key — maintained under arrival batches at cost
O(|batch| + |touched groups|), never O(|corpus|).

Why these five numbers: every statistic the overview/summary pipelines
publish (count, mean, stddev_pop, min, max — SURVEY §2.4 A3-A7) is a
*projection* of (n, nn, s1, s2, mn, mx), and the partials form a
commutative monoid — merge = re-aggregate with (sum, sum, sum, sum,
min, max). So "update the view" is: aggregate the BATCH to partials
(one hash agg over new data only), union with the standing partials,
re-aggregate. Distinct counts don't merge exactly, so the distinct
column is maintained as a DataSketches HLL (register-max union is
lossless w.r.t. the sketch: merging partials yields bit-identical
registers to sketching the whole — see operators/sketches.py).

100 TB layout: the summary table is hash-bucketed on the group key
(``pmod(xxhash64(keys), n_buckets)`` — the same stable-hash membership
discipline as operators/sampling.py) and partitioned by that bucket on
disk. An increment:

1. aggregates the batch to partials (the only pass over new data);
2. collects the ≤ ``n_buckets`` touched bucket ids (bounded driver
   metadata, never rows);
3. reads ONLY the touched bucket partitions of the standing table
   (partition pruning — untouched groups are never deserialized);
4. merges and rewrites ONLY those partitions
   (``sources.io._rewrite_partitions`` — untouched partition files are
   left byte-identical).

So a batch that touches 3 of 256 buckets costs 3 partition rewrites
regardless of total group cardinality. Contract: **append-only**
increments. Retraction is exact for n/nn/s1/s2 (feed negated rows) but
NOT for mn/mx or the sketch — rather than silently corrupt them this
module stays append-only; deletes go through operators/upsert.py's
partition rewrite instead.

Everything here is expression-only (whole-stage codegen); the one
driver round-trip per increment is the touched-bucket id list.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mhm_data_pipelines_spark.sources.io import _rewrite_partitions

BUCKET_COL = "_ivm_bucket"
_PARTIAL_COLS = ("n", "nn", "s1", "s2", "mn", "mx")
_META_NAME = "_ivm_meta.json"


def _bucket_expr(keys: list[str], n_buckets: int) -> F.Column:
    return F.pmod(F.xxhash64(*keys), F.lit(n_buckets)).cast("int")


def aggregate_partials(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    distinct_col: str | None = None,
) -> DataFrame:
    """One hash aggregate: rows → per-group mergeable partials."""
    v = F.col(value_col).cast("double")
    aggs = [
        F.count("*").alias("n"),
        F.count(v).alias("nn"),
        F.sum(v).alias("s1"),
        F.sum(v * v).alias("s2"),
        F.min(v).alias("mn"),
        F.max(v).alias("mx"),
    ]
    if distinct_col is not None:
        aggs.append(F.hll_sketch_agg(distinct_col).alias("sketch"))
    return df.groupBy(*[F.col(k) for k in keys]).agg(*aggs)


def merge_partials(
    partials: DataFrame,
    keys: list[str],
    has_sketch: bool = False,
) -> DataFrame:
    """Monoid merge: re-aggregate a union of partial frames. Sums add,
    counts add, min/min, max/max, sketches union (register max)."""
    aggs = [
        F.sum("n").alias("n"),
        F.sum("nn").alias("nn"),
        F.sum("s1").alias("s1"),
        F.sum("s2").alias("s2"),
        F.min("mn").alias("mn"),
        F.max("mx").alias("mx"),
    ]
    if has_sketch:
        aggs.append(F.hll_union_agg("sketch").alias("sketch"))
    return partials.groupBy(*[F.col(k) for k in keys]).agg(*aggs)


def finalize_rollup(summary: DataFrame) -> DataFrame:
    """Project the published statistics out of the partials. The
    stddev uses the population form (np.std ddof=0 parity, SURVEY
    §2.4 A6) guarded against negative float residue."""
    nn = F.col("nn")
    mean = F.when(nn > 0, F.col("s1") / nn)
    var = F.when(
        nn > 0, F.greatest(F.col("s2") / nn - mean * mean, F.lit(0.0))
    )
    out = (
        summary.withColumn("mean", mean)
        .withColumn("stddev_pop", F.sqrt(var))
        .drop("s2")
    )
    if "sketch" in summary.columns:
        out = out.withColumn(
            "distinct_estimate", F.hll_sketch_estimate("sketch")
        ).drop("sketch")
    return out


def _meta_path(path: str) -> str:
    return os.path.join(path, _META_NAME)


def _write_meta(path: str, meta: dict) -> None:
    os.makedirs(path, exist_ok=True)
    with open(_meta_path(path), "w") as f:
        json.dump(meta, f)


def _read_meta(path: str) -> dict:
    with open(_meta_path(path)) as f:
        return json.load(f)


def init_rollup_table(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    keys: list[str],
    value_col: str,
    distinct_col: str | None = None,
    n_buckets: int = 64,
) -> None:
    """Create the standing summary table from the first batch."""
    partials = aggregate_partials(df, keys, value_col, distinct_col)
    partials = partials.withColumn(BUCKET_COL, _bucket_expr(keys, n_buckets))
    (
        partials.write.mode("overwrite")
        .partitionBy(BUCKET_COL)
        .parquet(path)
    )
    # After the write: mode("overwrite") clears the directory first.
    # Increments replace only bucket dirs, so the meta file survives.
    _write_meta(
        path,
        {
            "keys": list(keys),
            "value_col": value_col,
            "distinct_col": distinct_col,
            "n_buckets": n_buckets,
        },
    )


def apply_increment(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    keys: list[str],
    value_col: str,
    distinct_col: str | None = None,
) -> list[int]:
    """Fold one arrival batch into the standing table; returns the
    touched bucket ids (≤ n_buckets — the only driver round-trip).
    Only those partitions are read and rewritten."""
    meta = _read_meta(path)
    if (
        meta["keys"] != list(keys)
        or meta["value_col"] != value_col
        or meta["distinct_col"] != distinct_col
    ):
        raise ValueError(
            f"increment spec {keys}/{value_col}/{distinct_col} does not "
            f"match the table's {meta['keys']}/{meta['value_col']}/"
            f"{meta['distinct_col']}"
        )
    n_buckets = meta["n_buckets"]
    has_sketch = distinct_col is not None

    batch_partials = aggregate_partials(
        batch, keys, value_col, distinct_col
    ).withColumn(BUCKET_COL, _bucket_expr(keys, n_buckets))
    batch_partials = batch_partials.localCheckpoint(eager=True)
    touched = sorted(
        r[0]
        for r in batch_partials.select(BUCKET_COL).distinct().collect()
    )
    if not touched:
        return []

    existing = spark.read.parquet(path).filter(
        F.col(BUCKET_COL).isin(touched)
    )
    merged = merge_partials(
        existing.unionByName(batch_partials), [*keys, BUCKET_COL], has_sketch
    )
    _rewrite_partitions(
        merged, path, BUCKET_COL, [f"{BUCKET_COL}={b}" for b in touched]
    )
    return touched


def read_rollup(
    spark: SparkSession, path: str, finalize: bool = True
) -> DataFrame:
    """The maintained view. With ``finalize`` the partials are
    projected to (n, nn, s1, mn, mx, mean, stddev_pop[,
    distinct_estimate]); without it the raw mergeable partials are
    returned for further rollup (e.g. a coarser tier, exactly as
    operators/rollup_ts.py does for time buckets)."""
    summary = spark.read.parquet(path).drop(BUCKET_COL)
    return finalize_rollup(summary) if finalize else summary
