"""Lake reader: the path contract, glob scan and dimension extraction.

The reference's primary "table" is a directory hierarchy

    <root>/<top-level>/<SITE>/<PARTICIPANT_ID>/<METRIC>/.../YYYYMMDD_HHMM[_i].csv.gz

with three dimensions in the *path* and the batch timestamp in the
*filename* (``mhm-data-pipelines/collect_data_metadata.py:17-63``; merged
layout ``<root>/<SITE>/<PID>/<METRIC>/<METRIC>.csv.gz`` at
``extract_patient_summary.py:158-169``). Scripts re-walk the tree with
``os.walk`` per run (S1) and parse each path in Python (S2), and each
script re-derives the positions itself.

Here ``LAYOUTS`` is the only place those positions are defined. The
dimension columns (of the lake scans, the catalog and the streaming
source), the per-metric glob depth of ``read_lake_unified`` and the
compacted lake's partition columns (``operators.compact``, the CLI
``overview``) all derive from it.

Spark-native design:

* one declarative ``spark.read`` over a glob (``recursiveFileLookup``)
  replaces the walk — listing is distributed and cached by the FileIndex;
* the deterministic hidden column ``_metadata.file_path`` (not
  ``input_file_name()``), percent-decoded and split into segments once
  per row, feeds one projection that materializes ``site,
  participant_id, metric, filename, file_timestamp, shard_index`` as
  ordinary columns, and include/exclude predicates (P4/P5) on the same
  path become Catalyst filters — evaluated before any data-column work,
  and convertible to real partition pruning once the compaction job
  (operators.compact) rewrites the lake as a table ``PARTITIONED BY
  (site, participant_id, metric)``;
* ``read_lake_unified`` takes each metric's header from one file the
  catalog names, so its scans run with an explicit schema and Spark never
  lists a metric's files a second time to infer one.

Gzip CSVs are non-splittable: one task per file is correct at the
reference's file sizes, and the compaction pass is the scale answer for
everything downstream (SURVEY §4.2).

A tiny-file lake makes per-file costs the scan's cost. Spark opens two
univocity parsers per CSV file, one for the rows and one that checks the
header, and each allocates its input buffer up front: 1 Mi chars by
default, a 2 MiB array that the JVM's G1 collector places outside the
young generation (it fills half a 4 MiB heap region) and frees only in
a marking cycle. Every CSV reader here takes ``_CSV_OPTIONS``, whose
64 Ki-char buffer makes that a 128 KiB short-lived allocation for files
of a few KB; a longer line or field is still read whole, the buffer is
only refilled more often.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from mhm_data_pipelines_spark.functions.timeutils import (
    filename_shard_index,
    filename_timestamp,
)

#: The lake path contract: each layout's dimension directories, in order,
#: after the lake root; the file name follows the last one.
#:
#: * raw    — collect_data_metadata.py:21
#: * merged — extract_patient_summary.py:158-169
#: * flat   — data_collection.py:86-92, S3 key shape summary.py:125-128
LAYOUTS = {
    "raw": ("top_level", "site", "participant_id", "metric"),
    "merged": ("site", "participant_id", "metric"),
    "flat": ("participant_id", "metric"),
}


#: Options of every CSV read of the lake: a header line, and univocity's
#: per-parser input buffer at 64 Ki chars instead of 1 Mi (see above).
_CSV_OPTIONS = {"header": "true", "inputBufferSize": str(64 * 1024)}


def _layout(layout: str) -> tuple[str, ...]:
    try:
        return LAYOUTS[layout]
    except KeyError:
        raise ValueError(f"unknown lake layout: {layout!r}") from None


def _partition_columns(layout: str) -> list[str]:
    """The compacted lake's partition columns: the layout's dimensions
    without ``top_level``, which names the export, not the data (the flat
    S3-key layout has no site segment — summary.py:125-128)."""
    return [d for d in _layout(layout) if d != "top_level"]


def _root_depth(root: str) -> int:
    """Path segments of the lake root itself, after any URI scheme —
    dimensions are positional *after* the root (the reference computes
    ``os.path.relpath(file_path, input_dir)`` first,
    collect_data_metadata.py:24-25)."""
    return len([s for s in root.split("://")[-1].split("/") if s])


def _file_path() -> Column:
    """The scanned file's path, percent-decoded. ``_metadata.file_path``
    (like ``input_file_name()``) is a URI, so a directory ``P#1`` reads
    ``P%231``; ``+`` is escaped first because ``url_decode`` alone would
    turn a literal ``+`` into a space."""
    return F.url_decode(
        F.regexp_replace(F.col("_metadata.file_path"), r"\+", "%2B")
    )


def _path_parts(path: Column) -> Column:
    # Normalized relative path segments; strips any URI scheme prefix
    # (file:/, s3a://bucket) so positional parsing sees only the tree.
    no_scheme = F.regexp_replace(path, r"^[a-zA-Z0-9]+:/+", "")
    return F.split(no_scheme, "/")


def path_dimensions(
    lake_root_depth: int,
    layout: str = "raw",
    path: Column | None = None,
) -> dict[str, Column]:
    """Column expressions deriving the lake dimensions from the file path.

    ``lake_root_depth`` is the number of path segments of the lake root
    itself; the dimensions of ``LAYOUTS[layout]`` follow it in order, then
    ``filename`` and the batch ``file_timestamp``/``shard_index`` parsed
    from it. ``path`` defaults to the scanned file's decoded
    ``_metadata.file_path``.
    """
    parts = _path_parts(_file_path() if path is None else path)
    return _dimensions(parts, lake_root_depth, layout)


def _dimensions(parts: Column, lake_root_depth: int, layout: str) -> dict[str, Column]:
    dims = {
        name: F.element_at(parts, lake_root_depth + i)
        for i, name in enumerate(_layout(layout), start=1)
    }
    filename = F.element_at(parts, -1)
    dims["filename"] = filename
    dims["file_timestamp"] = filename_timestamp(filename)
    dims["shard_index"] = filename_shard_index(filename)
    return dims


def _with_dimensions(df: DataFrame, root: str, layout: str) -> DataFrame:
    """``df`` (a file scan under the lake ``root``) plus the ``layout``'s
    dimension columns. The decoded path is split once into a helper
    column that every dimension reads; Catalyst keeps that projection
    apart instead of inlining the split into each dimension."""
    parts = "__path_parts"
    df = df.withColumn(parts, _path_parts(_file_path()))
    dims = _dimensions(F.col(parts), _root_depth(root), layout)
    return df.withColumns(dims).drop(parts)


def include_exclude_predicate(
    path: Column,
    include: list[str] | None = None,
    exclude: list[str] | None = None,
    substring: bool = False,
) -> Column:
    """The reference's two include/exclude semantics, kept distinct
    (SURVEY §7 watch-list #4):

    * exact path-part membership (P4, ``process-overview.py:16-33``):
      keep iff any segment ∈ include AND no segment ∈ exclude;
    * substring containment (P5, ``extract_patient_summary.py:171-176``):
      include token is a *substring* of any segment.

    Evaluated on the path column so Catalyst applies it before data-column
    work; after compaction the same predicate on site/participant columns
    is partition pruning.
    """
    parts = _path_parts(path)
    pred = F.lit(True)
    if include:
        inc = F.array([F.lit(t) for t in include])
        if substring:
            pred = pred & F.exists(
                parts,
                lambda seg: F.exists(inc, lambda tok: seg.contains(tok)),
            )
        else:
            pred = pred & F.arrays_overlap(parts, inc)
    if exclude:
        exc = F.array([F.lit(t) for t in exclude])
        pred = pred & ~F.arrays_overlap(parts, exc)
    return pred


def _scan(
    spark: SparkSession,
    path: str,
    root: str,
    layout: str,
    include: list[str] | None,
    exclude: list[str] | None,
    include_substring: bool,
    fmt: str = "csv",
    schema: StructType | str | None = None,
    glob: str | None = None,
    **options: str,
) -> DataFrame:
    """The one lake scan behind ``read_lake`` and ``read_lake_unified``:
    a recursive read of ``path`` (the lake ``root`` or a glob under it)
    that skips corrupt files, keeps only files that pass the
    include/exclude filter and adds the ``layout``'s dimension columns in
    one projection. A CSV read without ``schema`` infers one. ``options``
    are extra reader options."""
    reader = (
        spark.read.option("recursiveFileLookup", "true")
        .option("ignoreCorruptFiles", "true")
        .options(**options)
    )
    if fmt == "csv":
        reader = reader.options(**_CSV_OPTIONS)
        if schema is None:
            reader = reader.option("inferSchema", "true")
    if schema is not None:
        reader = reader.schema(schema)
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.format(fmt).load(path)
    if include or exclude:
        df = df.filter(
            include_exclude_predicate(
                _file_path(), include, exclude, substring=include_substring
            )
        )
    return _with_dimensions(df, root, layout)


def read_lake(
    spark: SparkSession,
    root: str,
    layout: str = "raw",
    fmt: str = "csv",
    schema: StructType | str | None = None,
    include: list[str] | None = None,
    exclude: list[str] | None = None,
    include_substring: bool = False,
    glob: str | None = None,
    corrupt_record_col: str | None = None,
) -> DataFrame:
    """Read the whole lake (or an include/exclude-pruned slice) as one
    DataFrame with dimension columns materialized.

    Equivalent reference flow: os.walk + parse_file_path + per-file
    pd.read_csv + literal annotation (merge-data.py:54-100) — here a
    single declarative scan; corrupt files are skipped at file
    granularity like the reference's try/except
    (collect_data_metadata.py:92-93) via ``ignoreCorruptFiles``.

    Row-level malformation (ragged CSV lines, bad quoting) follows
    PERMISSIVE mode; pass ``corrupt_record_col`` (requires an explicit
    ``schema`` including that string column) to capture the raw text of
    each bad row for quarantine instead of silent nulls — the
    row-granular upgrade of the reference's file-granular skip.
    """
    options = {}
    if corrupt_record_col:
        if schema is None:
            raise ValueError(
                "corrupt_record_col requires an explicit schema "
                "containing that string column"
            )
        options["mode"] = "PERMISSIVE"
        options["columnNameOfCorruptRecord"] = corrupt_record_col
    root = root.rstrip("/")
    return _scan(
        spark, root, root, layout, include, exclude, include_substring,
        fmt=fmt, schema=schema, glob=glob, **options,
    )


def read_lake_unified(
    spark: SparkSession,
    root: str,
    layout: str = "raw",
    include: list[str] | None = None,
    exclude: list[str] | None = None,
    include_substring: bool = False,
    schemas: dict[str, StructType | str] | None = None,
    glob: str = "*.csv.gz",
) -> DataFrame:
    """Read a *heterogeneous* lake (different header per metric) into one
    drift-tolerant DataFrame.

    A single ``spark.read.csv`` over mixed-schema files misaligns columns
    (one inferred schema for all); the reference avoids this by reading
    per metric (merge-data.py:54-100). Here: the catalog listing
    (``sources.catalog.build_catalog``) names the metrics, then one read
    per metric — with its own header / registry schema — is drift-unioned
    via ``unionByName``.

    Without a registry schema, data columns are STRING: CSV is typeless
    in the reference (``pd.read_csv`` inference per file) and every
    downstream extraction try_casts explicitly, so reading without
    inference keeps null-on-error semantics identical while making the
    union well-typed. A metric's columns are the header of its largest
    file (ties: the greatest path), applied by position to every file of
    the metric; a file with fewer columns reads NULL in the rest. At
    100 TB, pass ``schemas`` (per-metric StructType, seedable from the
    reference's S3 JSON schema docs) and point this at the compacted
    parquet lake instead of raw gzip CSVs.

    Scale contract: nothing file-sized reaches the driver. The one
    distributed catalog job reduces the listing to one row per metric
    (its name and its sample file: a lake has dozens of metrics
    regardless of file count); each metric then costs one 1-task header
    read of that file and ONE glob-scoped declarative read
    (``root/*/…/<metric>`` + ``pathGlobFilter``) with an explicit schema,
    whose file enumeration stays inside Spark's FileIndex. Driver memory
    and job count scale with metric count, never with files.
    """
    import fnmatch
    import re

    from mhm_data_pipelines_spark.sources.catalog import build_catalog
    from mhm_data_pipelines_spark.sources.io import union_with_drift

    root = root.rstrip("/")
    listing = build_catalog(spark, root, layout=layout)
    if include or exclude:
        listing = listing.filter(
            include_exclude_predicate(
                F.col("path"), include, exclude, substring=include_substring
            )
        )
    # The filename glob is applied distributed (fnmatch → anchored regex)
    # so metrics whose directories hold only non-matching files don't
    # produce empty reads. fnmatch.translate anchors only the END
    # ((?s:...)\Z); rlike is a substring search, so a glob like
    # "data_*.csv" would also SUFFIX-match "mydata_x.csv" at listing time
    # while the per-metric scan's pathGlobFilter full-matches — selecting
    # a metric whose scan then matches zero files. Prepend ^ so
    # listing-time and scan-time filename semantics agree.
    metric_rows = (
        listing.filter(F.col("filename").rlike("^" + fnmatch.translate(glob)))
        .filter(F.col("measurement").isNotNull())
        .groupBy("measurement")
        .agg(F.max(F.struct("size", "path"))["path"].alias("sample"))
        .collect()  # one row per metric: bounded, metadata-sized
    )
    # Metric name → one glob path selecting exactly its subtree.
    wild = "/".join(["*"] * _layout(layout).index("metric"))
    glob_chars = r"[*?\[\]{}\\]"

    parts = []
    for metric, sample in sorted(metric_rows):
        if re.search(glob_chars, metric):  # glob metachar ≠ literal dir
            raise ValueError(
                f"metric directory name {metric!r} contains glob "
                "metacharacters; read it via read_lake(glob=...) instead"
            )
        schema = (schemas or {}).get(metric)
        if schema is None:
            # All-STRING columns named by the sample's header; the path
            # is escaped because Spark reads a load path as a glob.
            schema = (
                spark.read.options(**_CSV_OPTIONS)
                .csv(re.sub(f"({glob_chars})", r"\\\1", sample))
                .schema
            )
        # The glob selects the whole metric subtree; the scan re-applies
        # the file-level include/exclude, which may drop specific
        # sites/participants within it.
        parts.append(_scan(
            spark, f"{root}/{wild}/{metric}", root, layout,
            include, exclude, include_substring, schema=schema, glob=glob,
        ))
    if not parts:
        raise ValueError(f"read_lake_unified: no files matched under {root}")
    return union_with_drift(parts)
