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
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame


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
