"""Incremental ingest as Structured Streaming.

The reference's ingest pattern is micro-batch shaped without being
streaming: new ``YYYYMMDD_HHMM[_i].csv.gz`` files arrive per metric and
merges are incremental/idempotent — skip-if-output-exists
(``mhm-data-pipelines/merge-data.py:68-70``), resumable listing pages
(``download_data.py:96-104``), partial global-stats rewrites per
directory (``process-overview.py:276-332``). SURVEY §2.9 maps this to
the Structured Streaming file source: checkpointed exactly-once over
"new files per trigger", with ``Trigger.AvailableNow`` giving the
batch-job ergonomics the reference scripts have (run, drain, exit).

Watermarking + windowed/session aggregation are new capabilities beyond
the reference (its late-data policy was "coerce to null and drop", P3).

Scale notes: ``maxFilesPerTrigger`` bounds micro-batch size; the file
index checkpoint replaces skip-if-exists bookkeeping; the per-epoch
partial sinks (``sources.io._batch_sink``; ``sources.io`` states the
idempotency rule) reproduce the per-directory partial-stats emission
without ever re-reading old data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.types import StructType

from mhm_data_pipelines_spark.sources.io import (
    _batch_sink,
    _rewrite_partitions,
)
from mhm_data_pipelines_spark.sources.lake import _CSV_OPTIONS, _with_dimensions


def stream_lake(
    spark: SparkSession,
    root: str,
    schema: StructType | str,
    layout: str = "raw",
    fmt: str = "csv",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming twin of sources.lake.read_lake: new files under the
    glob become micro-batch rows, with the same path-derived dimension
    columns (positions from ``sources.lake.LAYOUTS``, the only place
    they are defined). Streaming file sources require an explicit schema
    (per metric — stream one metric subtree per query, or the compacted
    parquet lake for the unified stream)."""
    root = root.rstrip("/")
    reader = (
        spark.readStream.format(fmt)
        .schema(schema)
        .option("recursiveFileLookup", "true")
    )
    if fmt == "csv":
        reader = reader.options(**_CSV_OPTIONS)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return _with_dimensions(reader.load(root), root, layout)


def windowed_counts(
    stream: DataFrame,
    ts: str = "ts",
    keys: tuple[str, ...] = ("participant_id", "metric"),
    window: str = "1 day",
    watermark: str = "2 days",
) -> DataFrame:
    """Tumbling-window counts with late-data bound: the streaming version
    of the daily availability aggregate (W2/A5). Rows later than the
    watermark are dropped — an explicit policy where the reference had
    only null-coercion."""
    return (
        stream.withWatermark(ts, watermark)
        .groupBy(F.window(F.col(ts), window).alias("win"), *keys)
        .agg(F.count("*").alias("n"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            *keys,
            "n",
        )
    )


def sessionized_counts(
    stream: DataFrame,
    ts: str = "ts",
    key: str = "participant_id",
    gap: str = "30 minutes",
    watermark: str = "2 days",
) -> DataFrame:
    """Session windows (gap-based) per participant — the streaming twin
    of the batch sessionization query (benchmarks.registry)."""
    return (
        stream.withWatermark(ts, watermark)
        .groupBy(F.session_window(F.col(ts), gap).alias("win"), F.col(key))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            key,
            "n_events",
        )
    )


def incremental_overview(
    stream: DataFrame,
    out_path: str,
    checkpoint: str,
    ts: str = "ts",
    keys: tuple[str, ...] = ("site", "participant_id", "metric"),
) -> DataStreamWriter:
    """Per-epoch partial-stats emission: each micro-batch writes its
    partial (count/min/max/day-set) aggregate; readers merge partials
    with one more groupBy (:func:`merge_partial_overview`) — exactly the
    reference's accumulate-then-merge contract
    (process-overview.py:168-194,301-324) but checkpointed and
    restart-safe."""
    return _batch_sink(
        stream,
        out_path,
        checkpoint,
        lambda batch: batch.filter(F.col(ts).isNotNull())
        .groupBy(*keys)
        .agg(
            F.count("*").alias("row_count"),
            F.min(F.to_date(ts)).alias("start_date"),
            F.max(F.to_date(ts)).alias("end_date"),
            F.collect_set(F.to_date(ts)).alias("day_set"),
        ),
    )


def merge_partial_overview(partials: DataFrame) -> DataFrame:
    """Final merge of the partial stats written by incremental_overview —
    must equal a single-pass overview_stats over all data (tested)."""
    keys = ["site", "participant_id", "metric"]
    return (
        partials.groupBy(*keys)
        .agg(
            F.sum("row_count").alias("row_count"),
            F.min("start_date").alias("start_date"),
            F.max("end_date").alias("end_date"),
            F.size(
                F.array_distinct(F.flatten(F.collect_list("day_set")))
            ).cast("long").alias("day_count"),
        )
        .orderBy(*keys)
    )


def sketch_stream(
    stream: DataFrame,
    sketch_path: str,
    checkpoint: str,
    bucket_cols: tuple[str, ...],
    key: str,
) -> DataStreamWriter:
    """Per-epoch maintenance of a mergeable DISTINCT-COUNT sketch
    table (``operators.sketches``): each micro-batch writes its own
    per-bucket HLL sketches; readers merge across batches with one
    ``hll_union_agg`` (:func:`read_sketch_table`). Distinct counting
    over a stream WITHOUT keeping member sets in the state store —
    per-batch state is one KB-sized sketch per touched bucket, and the
    merge is exact sketch semantics, not approximate bookkeeping.
    """
    from mhm_data_pipelines_spark.operators.sketches import sketch_distinct

    return _batch_sink(
        stream,
        sketch_path,
        checkpoint,
        lambda batch: sketch_distinct(batch, list(bucket_cols), key),
    )


def read_sketch_table(
    spark, sketch_path: str, bucket_cols: tuple[str, ...]
) -> DataFrame:
    """Current per-bucket sketches from a :func:`sketch_stream` table:
    one union-merge across the per-batch partitions. The result feeds
    :func:`~mhm_data_pipelines_spark.operators.sketches.rollup_sketches`
    / ``estimate`` exactly like a batch-built sketch table."""
    from mhm_data_pipelines_spark.operators.sketches import rollup_sketches

    return rollup_sketches(
        spark.read.parquet(sketch_path), list(bucket_cols)
    )


def manifest_stream(
    stream: DataFrame,
    manifest_path: str,
    checkpoint: str,
    columns: list[str],
    n_buckets: int = 64,
) -> DataStreamWriter:
    """Per-epoch maintenance of a content manifest
    (``operators.diff.content_manifest``) over a stream: each
    micro-batch writes its per-bucket partial (count, commutative XOR
    signature, min/max hash). Readers merge with
    :func:`read_manifest_table`; because XOR/sum/min/max are associative
    and commutative, the streamed manifest is BYTE-EQUAL to the batch
    manifest of the same rows, whatever the arrival order — the
    reproducibility audit works mid-ingest.
    """
    from mhm_data_pipelines_spark.operators.diff import content_manifest

    return _batch_sink(
        stream,
        manifest_path,
        checkpoint,
        lambda batch: content_manifest(batch, columns, n_buckets),
    )


def read_manifest_table(spark, manifest_path: str) -> DataFrame:
    """Current manifest from a :func:`manifest_stream` table: one
    merge across the per-batch partials (exact — see
    ``operators.diff.merge_manifests``)."""
    from mhm_data_pipelines_spark.operators.diff import merge_manifests

    return merge_manifests(spark.read.parquet(manifest_path))


def enrich_stream(
    stream: DataFrame,
    dim: DataFrame,
    on: list[str],
    group_cols: list[str],
    value_col: str,
    out_path: str,
    checkpoint: str,
) -> DataStreamWriter:
    """Stream-static dimension enrichment with mergeable per-batch
    aggregate partials: each micro-batch joins the (broadcast) static
    dimension and writes its per-group ``(n, sum)`` partial. Count/sum
    are associative and commutative, so :func:`read_enriched_table`'s
    merge equals the batch join + aggregate of the same rows regardless
    of arrival order or micro-batch boundaries.

    The dim is joined per micro-batch (not as a stream-static plan
    node), so a dim refresh between epochs is picked up — the
    "slowly-changing dimension, latest snapshot per batch" semantics
    production enrichment jobs want.
    """
    return _batch_sink(
        stream,
        out_path,
        checkpoint,
        lambda batch: batch.join(F.broadcast(dim), on)
        .groupBy(*group_cols)
        .agg(F.count("*").alias("n"), F.sum(value_col).alias("s")),
    )


def read_enriched_table(
    spark, out_path: str, group_cols: list[str]
) -> DataFrame:
    """Merged view of an :func:`enrich_stream` table: one sum-merge
    across per-batch partials."""
    return (
        spark.read.parquet(out_path)
        .groupBy(*group_cols)
        .agg(F.sum("n").alias("n"), F.sum("s").alias("s"))
    )


def validate_stream(
    stream: DataFrame,
    rules: list[dict],
    out_path: str,
    checkpoint: str,
    refs: dict | None = None,
) -> DataStreamWriter:
    """Streaming data-contract enforcement: every micro-batch runs the
    declarative constraint suite (:func:`~..operators.validate.
    validate_constraints`) and writes its per-rule violation counts as
    its epoch's partial. Violation/total counts are
    associative-commutative sums, so
    :func:`read_validation_table`'s merge equals the batch suite over
    the union of all arrived rows, whatever the micro-batch boundaries.

    Only per-row-decidable rules are accepted (row-local kinds +
    ``ref_integrity`` against a static reference). ``unique`` is
    rejected: a duplicate spanning two micro-batches is invisible to
    per-batch counts — uniqueness of a stream needs the standing-table
    check (dedup_stream / the batch suite over the sink), and a
    silently-wrong count is worse than no count.
    """
    from mhm_data_pipelines_spark.operators.validate import (
        validate_constraints,
    )

    for r in rules:
        if r.get("kind") == "unique":
            raise ValueError(
                "'unique' is not per-batch mergeable (cross-batch "
                "duplicates are invisible); validate uniqueness on the "
                "sink table instead"
            )

    return _batch_sink(
        stream,
        out_path,
        checkpoint,
        lambda batch: validate_constraints(batch, rules, refs).select(
            "rule", "kind", "violations", "total"
        ),
    )


def read_validation_table(spark, out_path: str) -> DataFrame:
    """Merged view of a :func:`validate_stream` report: per-rule count
    sums across the per-batch partials, with the pass verdict derived
    from the MERGED counts."""
    return (
        spark.read.parquet(out_path)
        .groupBy("rule", "kind")
        .agg(
            F.sum("violations").alias("violations"),
            F.sum("total").alias("total"),
        )
        .select(
            "rule",
            "kind",
            "violations",
            "total",
            (F.col("violations") == 0).alias("passed"),
        )
    )


def topk_stream(
    stream: DataFrame,
    out_path: str,
    checkpoint: str,
    group_cols: tuple[str, ...],
    item_col: str,
) -> DataStreamWriter:
    """Per-epoch maintenance of a streaming TOP-K table: each
    micro-batch writes only its OWN (group, item) count partials —
    counts are mergeable, so the reader's sum-then-rank
    (:func:`read_topk_table`) equals a batch top-k over everything
    that has arrived, whatever the epoch boundaries. Streaming rank
    state without a state store: per-batch state is the batch's own
    aggregate, and complete-mode ranking (which Spark would otherwise
    require for a streaming ORDER BY/LIMIT) is deferred to read time
    where it runs over the compact partial table, not the stream.
    """
    return _batch_sink(
        stream,
        out_path,
        checkpoint,
        lambda batch: batch.groupBy(*group_cols, item_col).agg(
            F.count(F.lit(1)).alias("n")
        ),
    )


def read_topk_table(
    spark,
    out_path: str,
    group_cols: tuple[str, ...],
    item_col: str,
    k: int = 10,
) -> DataFrame:
    """Current top-k per group from a :func:`topk_stream` table: one
    sum-merge across the per-batch partials, then a group-bounded
    row_number (count desc, item asc — a deterministic total order).
    Returns ``(group…, item, n, rank)``."""
    from pyspark.sql import Window

    merged = (
        spark.read.parquet(out_path)
        .groupBy(*group_cols, item_col)
        .agg(F.sum("n").cast("long").alias("n"))
    )
    w = Window.partitionBy(*group_cols).orderBy(
        F.col("n").desc(), F.col(item_col).asc()
    )
    return merged.withColumn(
        "rank", F.row_number().over(w)
    ).filter(F.col("rank") <= k)


def cdc_stream(
    changes: DataFrame,
    base: DataFrame,
    snapshot_dir: str,
    key_cols: list[str],
    checkpoint_dir: str,
    seq_col: str = "seq",
    op_col: str = "op",
    n_buckets: int = 16,
):
    """Maintain a parquet snapshot under a STREAMING changelog — the
    Structured-Streaming face of :func:`..operators.cdc.cdc_apply`
    (MERGE-INTO without a table format). ``base`` seeds the snapshot;
    each micro-batch folds in via foreachBatch. Returns the started
    query (``availableNow`` trigger — run, drain, exit; call
    ``awaitTermination()``).

    Scale design — the snapshot is NEVER rewritten whole: it is stored
    hash-bucketed on the key (``_bucket`` partition column, the
    ``operators.ivm`` bucket hash), each batch only READS the buckets
    its keys hash into (partition pruning on the filter) and only
    REWRITES those buckets (``sources.io._rewrite_partitions``; a bucket
    whose last key was deleted is left as an empty dir). A 100 TB
    snapshot under a 1 GB batch touches batch-sized data, not the
    table. Within-batch conflicts resolve by cdc_apply's latest-seq
    rule; ACROSS batches, arrival order applies batch-by-batch — the
    standard CDC stream contract (per-key seq must not regress across
    batches; within a batch any order is fine).

    The base write also seeds a reserved zero-row ``_bucket=-1``
    partition (bucket ids are ``pmod(...) >= 0``, so no batch touches
    it): the snapshot stays schema-readable when every key is deleted.
    One deliberate driver action per batch: the touched-bucket list
    (≤ ``n_buckets`` rows).
    """
    from mhm_data_pipelines_spark.operators.cdc import cdc_apply
    from mhm_data_pipelines_spark.operators.ivm import _bucket_expr

    bucket = _bucket_expr(key_cols, n_buckets).alias("_bucket")
    base_cols = list(base.columns)
    (
        base.select(*base_cols, bucket)
        .write.partitionBy("_bucket")
        .mode("overwrite")
        .parquet(snapshot_dir)
    )
    base.limit(0).write.parquet(f"{snapshot_dir}/_bucket=-1")

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        touched = sorted(
            r["_bucket"]
            for r in batch_df.select(bucket).distinct().collect()
        )  # bounded by n_buckets
        if not touched:
            return
        current = (
            batch_df.sparkSession.read.parquet(snapshot_dir)
            .filter(F.col("_bucket").isin(touched))
            .select(*base_cols)
        )
        merged = cdc_apply(current, batch_df, key_cols, seq_col, op_col)
        _rewrite_partitions(
            merged.select(*base_cols, bucket),
            snapshot_dir,
            "_bucket",
            [f"_bucket={t}" for t in touched],
        )

    return (
        changes.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_cdc_snapshot(spark: SparkSession, snapshot_dir: str) -> DataFrame:
    """Current state maintained by :func:`cdc_stream` (bucket column
    dropped)."""
    return spark.read.parquet(snapshot_dir).drop("_bucket")
