"""Format IO helpers: drift-tolerant union, partitioned sinks, idempotent
write modes.

Reference sinks (SURVEY §2.1): gzipped CSV (S7,
``collect_data_metadata.py:103-106``), parquet (S8, ``:107-110``), nested
JSON documents (S9, ``extract_patient_summary.py:430-435``), per-site
fan-out + combined file (S11, ``process-overview.py:196-249``), pickle
catalog cache (S10 → parquet checkpoint, see sources.catalog).

Schema drift: the reference's ``pd.concat(ignore_index=True)``
outer-aligns columns and NaN-fills (``collect_data_metadata.py:97``,
``merge-data.py:90``) → ``unionByName(allowMissingColumns=True)``.

Incremental writes: the reference skips a merge whose output exists
(``merge-data.py:68-70``) and rewrites partial stats one directory at a
time (``process-overview.py:276-332``). Every incremental write in the
engine commits through one of two helpers here, and both follow one
rule: **a write replaces whole directories it owns, so running it again
converges instead of adding twice.**

* :func:`_batch_sink` — a streaming micro-batch owns
  ``<out>/batch_id=N`` and overwrites it, so an epoch replayed after a
  crash between its write and its checkpoint commit replaces its own
  partial; readers merge partials and see ``batch_id`` as a column.
* :func:`_rewrite_partitions` — a read-modify-write of a partitioned
  table writes the new partitions to a sibling temp dir, then
  :func:`_swap_partitions` renames them in one directory at a time, so
  a crash before the swap leaves the table untouched and a re-run
  converges.
"""

from __future__ import annotations

import uuid
from collections.abc import Callable, Iterable
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql.streaming import DataStreamWriter


def union_with_drift(dfs: list[DataFrame]) -> DataFrame:
    """Union frames whose schemas drifted across files/batches; missing
    columns become NULL (pd.concat outer-align parity)."""
    if not dfs:
        raise ValueError("union_with_drift: empty input")
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs
    )


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    gzip_csv: bool = True,
    compression: str | None = None,
) -> None:
    """Partitioned table sink. ``mode='ignore'`` reproduces the
    reference's skip-if-output-exists incremental semantics
    (merge-data.py:68-70); ``'overwrite'`` its ``--update`` flag
    (merge-data.py:109,164).

    ``fmt`` is any Spark data source: parquet (default), csv
    (header + gzip per the reference), json, orc — ORC ships in
    vanilla Spark and is the columnar alternative when downstream
    readers are Hive/Trino-first. ``compression`` overrides the
    format's default codec (e.g. ``"zstd"`` for parquet/orc — ~25-30%
    smaller than snappy at similar scan speed, the right default for
    100 TB cold data; scan-heavy hot tables may prefer snappy)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if fmt == "csv":
        writer = writer.option("header", "true")
        if gzip_csv and compression is None:
            compression = "gzip"
    if compression:
        writer = writer.option("compression", compression)
    writer.format(fmt).save(path)


def read_jsonl(
    spark,
    path: str,
    schema=None,
    quarantine_col: str = "_corrupt_record",
) -> DataFrame:
    """JSONL (one JSON document per line) ingestion with corrupt-record
    QUARANTINE — the dump format most raw text corpora arrive in.

    With ``schema`` (a StructType or DDL string — ALWAYS pass one in
    production: schema inference is an extra full scan of 100 TB), the
    reader runs PERMISSIVE: malformed lines land whole in
    ``quarantine_col`` with every data column null, so one pass splits
    the feed into clean rows (``quarantine_col IS NULL``) and a
    quarantine stream to persist for triage — corrupt data is NEVER
    silently dropped (vs DROPMALFORMED) and never kills the job (vs
    FAILFAST). Gzipped inputs decode automatically by extension; note
    .gz is not splittable — one task per file, so shard uploads.

    Returns the raw frame INCLUDING the quarantine column; use
    :func:`split_quarantine` for the (clean, quarantined) pair.
    """
    reader = spark.read
    if schema is not None:
        from pyspark.sql.types import StringType, StructField, StructType

        if isinstance(schema, str):
            schema = StructType.fromDDL(schema)
        # Fresh StructType: StructType.add MUTATES in place, so reusing
        # the caller's schema object across two read_jsonl calls would
        # accumulate duplicate quarantine columns (and corrupt the
        # caller's constant).
        schema = StructType(
            list(schema.fields)
            + [StructField(quarantine_col, StringType(), True)]
        )
        reader = reader.schema(schema)
    return reader.option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", quarantine_col
    ).json(path)


def split_quarantine(
    df: DataFrame, quarantine_col: str = "_corrupt_record"
) -> tuple[DataFrame, DataFrame]:
    """(clean rows without the quarantine column, quarantined raw
    lines) from a :func:`read_jsonl` frame.

    Spark refuses queries whose referenced columns are ONLY the
    internal corrupt-record column
    (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN) — the
    quarantine side trips this, and Spark's documented remedy is to
    materialize the raw frame first, so this helper ``persist()``s the
    frame YOU PASS IN (persist returns self) — both outputs share the
    one scan, and you release the cache by calling ``unpersist()`` on
    that same frame once both outputs are consumed. At 100 TB don't
    hold the raw feed in memory: land it to parquet once
    (``write_table(df, staging)``) and split the re-read — same two
    frames, storage-backed."""
    from pyspark.sql import functions as F

    # A schemaless read_jsonl over a fully-clean file never infers the
    # corrupt-record column (Spark only adds it when malformed lines
    # exist) — synthesize an all-null one so the split still works and
    # the quarantine side is simply empty (ADVICE r4). No persist in
    # this branch: the QUERY_ONLY_CORRUPT_RECORD_COLUMN restriction
    # doesn't apply to a plain literal column, and the caller could not
    # release a cache on a frame it never saw.
    if quarantine_col not in df.columns:
        df = df.withColumn(quarantine_col, F.lit(None).cast("string"))
    else:
        df.persist()
    clean = df.filter(F.col(quarantine_col).isNull()).drop(quarantine_col)
    bad = df.filter(F.col(quarantine_col).isNotNull()).select(
        F.col(quarantine_col).alias("raw_line")
    )
    return clean, bad


def _write_epoch(df: DataFrame, out_path: str, batch_id: int) -> None:
    """Overwrite micro-batch ``batch_id``'s own directory of ``out_path``."""
    df.write.mode("overwrite").parquet(f"{out_path}/batch_id={batch_id}")


def _batch_sink(
    stream: DataFrame,
    out_path: str,
    checkpoint: str,
    partial: Callable[[DataFrame], DataFrame],
) -> DataStreamWriter:
    """The unstarted writer of a per-epoch partial table: each
    micro-batch overwrites ``out_path/batch_id=N`` with
    ``partial(batch)`` (the idempotency rule in the module docstring)."""
    return (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(
            lambda batch, batch_id: _write_epoch(
                partial(batch), out_path, batch_id
            )
        )
    )


def _rewrite_partitions(
    df: DataFrame,
    base_path: str,
    partition_col: str,
    retire: Iterable[str],
    keep_empty: bool = True,
) -> None:
    """Replace partitions of the parquet table at ``base_path`` with
    ``df`` (partitioned by ``partition_col``): write it to a sibling
    temp dir (never inside ``base_path``: a reader listing the table
    mid-rewrite must not see half-written files), then commit with
    :func:`_swap_partitions`."""
    tmp_path = f"{base_path}__rewrite_tmp_{uuid.uuid4().hex}"
    df.write.partitionBy(partition_col).parquet(tmp_path)
    _swap_partitions(df.sparkSession, base_path, tmp_path, retire, keep_empty)


def _swap_partitions(
    spark,
    base_path: str,
    tmp_path: str,
    retire: Iterable[str],
    keep_empty: bool = True,
) -> None:
    """The one commit step of every partition rewrite. Each dir named in
    ``retire`` (``col=value``, Spark's escaped spelling) is moved out of
    ``base_path`` into the temp dir, and the temp dir's partition dir of
    that name, listed rather than rebuilt from values, is renamed into
    its place; with ``keep_empty`` a retired name the write produced no
    output for becomes an empty dir (the partition lost all its rows),
    otherwise it simply goes. Names without output are handled first,
    and temp partition dirs not named in ``retire`` are published too.
    The temp dir, holding the retired data, is deleted only after every
    rename has succeeded.

    Failure windows: a crash before the swap leaves ``base_path``
    untouched and an orphaned ``<base>__rewrite_tmp_*`` dir (safe to
    delete: Spark never lists sibling paths). A crash mid-swap tears no
    partition (directory rename is atomic on HDFS/POSIX): swapped
    partitions show the new version, the rest the old, and the one
    between its two renames is absent until re-run; its old data sits
    in the temp dir's ``_retired_<name>`` and its new data in
    ``<name>``. Partition-atomic, not table-atomic. On object stores
    without atomic rename (plain S3) rename degrades to copy+delete per
    partition: correct, with a wider window; a table-atomic commit there
    needs a transactional format (Delta/Iceberg).

    Needs Hadoop-FS renames through py4j, so a Spark Connect session is
    refused here, before anything moves. Separated from the write as
    the crash-injection seam for tests."""
    from mhm_data_pipelines_spark.session import supports_jvm_access

    if not supports_jvm_access(spark):
        raise RuntimeError(
            "partition swap needs Hadoop-FS atomic renames (py4j): "
            "genuinely JVM-bound; run the rewrite on a classic session."
        )
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    fs = hpath(base_path).getFileSystem(spark._jsc.hadoopConfiguration())
    written = [
        s.getPath().getName()
        for s in fs.listStatus(hpath(tmp_path))
        if s.isDirectory() and "=" in s.getPath().getName()
    ]  # partition dirs only: skips the _SUCCESS marker
    for name in [n for n in retire if n not in written] + written:
        dst = hpath(f"{base_path}/{name}")
        if fs.exists(dst) and not fs.rename(
            dst, hpath(f"{tmp_path}/_retired_{name}")
        ):
            raise IOError(f"partition swap: could not retire {dst}")
        if name in written:
            if not fs.rename(hpath(f"{tmp_path}/{name}"), dst):
                raise IOError(f"partition swap: could not publish {name}")
        elif keep_empty:
            fs.mkdirs(dst)
    fs.delete(hpath(tmp_path), True)
