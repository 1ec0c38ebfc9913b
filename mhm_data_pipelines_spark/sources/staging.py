"""S5 — distributed object staging (bulk download escape hatch).

Reference: ``mhm-data-pipelines/download_data.py:83-145`` —
``download_s3_objects`` lists a bucket prefix page-by-page, filters keys
with the include/exclude path-part rule (``:63-69``), mirrors each
object under ``output_dir/<bucket>/<key>`` creating directories as it
goes (``:115-124``), skips objects that already exist locally unless
``skip_file_check`` (``:110-113``), and downloads with a 5-thread pool
(``:127-139``), logging (not raising) per-object errors (``:71-80``).

The engine's primary answer to S5 is *don't*: executors read the object
store in place (``s3a://`` URIs straight into ``spark.read``), so bulk
download is obsolete by design (README §scale). This module is the
documented escape hatch for the one real user story that remains —
egress-restricted or repeatedly-rescanned buckets where a staged local
(or cross-bucket) mirror pays for itself.

Spark-first shape: the *listing* is the same distributed FileIndex scan
the catalog uses (no driver pagination loop), the include/exclude filter
is a Catalyst predicate on path parts (identical semantics to
``should_exclude_key``), and the *copy* fans out over executors via
``mapInPandas`` — each task mirrors its slice of files and emits one
status row per file. Nothing file-sized touches the driver; parallelism
is task count, not a 5-thread pool. Errors are captured per file in the
result frame (the reference logs and continues; here the caller filters
``action = 'error'``).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mhm_data_pipelines_spark.sources.catalog import build_catalog
from mhm_data_pipelines_spark.sources.lake import include_exclude_predicate

#: Result schema: one row per listed object that passed the filters.
STAGING_STATUS_SCHEMA = (
    "src_path string, rel_key string, dest_path string, "
    "action string, error string, bytes long"
)

_SCHEME_RE = re.compile(r"^([a-zA-Z0-9]+):/+")


def _strip_scheme(path: str) -> str:
    return _SCHEME_RE.sub("", path)


def _to_local(path: str) -> str:
    """file:/x/y → /x/y; bare paths pass through; remote schemes raise."""
    m = _SCHEME_RE.match(path)
    if m is None:
        return path
    scheme = m.group(1)
    if scheme == "file":
        return "/" + _SCHEME_RE.sub("", path)
    raise ValueError(f"not a local path: {path}")


def _copy_one(src: str, dest: str) -> int:
    """Copy one object src → local dest; returns bytes copied.

    Local/file sources use a buffered OS copy. ``s3://``/``s3a://``
    sources go through boto3 when available (the container this engine
    ships in has no boto3 — the import is soft and the error lands in
    the status row, mirroring the reference's log-and-continue)."""
    import os
    import shutil

    os.makedirs(os.path.dirname(dest), exist_ok=True)
    m = _SCHEME_RE.match(src)
    scheme = m.group(1) if m else "file"
    if scheme == "file" or m is None:
        local_src = _to_local(src)
        shutil.copyfile(local_src, dest)
        return os.path.getsize(dest)
    if scheme in ("s3", "s3a", "s3n"):
        try:
            import boto3  # soft import: not bundled in this container
        except ImportError as exc:  # pragma: no cover - env-dependent
            raise RuntimeError(
                "staging from s3 requires boto3 on the executors"
            ) from exc
        rest = _strip_scheme(src)
        bucket, _, key = rest.partition("/")
        boto3.client("s3").download_file(bucket, key, dest)
        return os.path.getsize(dest)
    raise ValueError(f"unsupported source scheme {scheme!r} for {src}")


def stage_objects(
    spark: SparkSession,
    src_root: str,
    dest_dir: str,
    include: list[str] | None = None,
    exclude: list[str] | None = None,
    skip_file_check: bool = False,
    num_tasks: int | None = None,
) -> DataFrame:
    """Mirror every object under ``src_root`` to ``dest_dir/<rel_key>``,
    distributed. Returns the per-file status frame (lazy — nothing is
    copied until an action runs on it; ``.count()`` / write to execute).

    Parity with ``download_s3_objects`` (download_data.py:83-145):

    * ``include``/``exclude`` — exact path-part membership, exclude wins
      (``should_exclude_key`` :63-69);
    * ``rel_key`` — the object key relative to ``src_root`` (the
      reference keys off the bucket root; a prefix-scoped mirror is the
      same files one directory shallower);
    * skip-if-exists unless ``skip_file_check`` (:110-113): existing
      dest files report ``action='skipped'`` without opening the source;
    * per-file errors are captured, not raised (:71-80) —
      ``action='error'`` + message.

    Scale notes: the listing is the catalog's (``build_catalog``), a
    distributed ``binaryFile`` FileIndex scan; copies are spread
    round-robin over ``num_tasks`` (default ``defaultParallelism``)
    tasks via a hash repartition, so wall-clock
    scales with executors, not a driver thread pool. Very large single
    objects still copy on one task each — at 100 TB stage with more,
    smaller tasks rather than multipart-splitting one object."""
    src_root = src_root.rstrip("/")
    dest_dir = dest_dir.rstrip("/")
    listing = build_catalog(spark, src_root).select(
        "path", F.col("size").alias("src_bytes")
    )
    if include or exclude:
        listing = listing.filter(
            include_exclude_predicate(F.col("path"), include, exclude)
        )
    # Listing paths come back scheme-qualified (file:/x, s3a://b/k) even
    # for bare local roots — compare both sides scheme-stripped and
    # slash-normalized so the prefix strip always fires.
    root_rel = _strip_scheme(src_root).lstrip("/")
    rel = F.regexp_replace(
        F.regexp_replace(
            F.col("path"), r"^[a-zA-Z0-9]+:/+|^/+", ""
        ),
        "^" + re.escape(root_rel) + "/",
        "",
    )
    plan = listing.select(
        F.col("path").alias("src_path"),
        rel.alias("rel_key"),
        F.concat(F.lit(dest_dir + "/"), rel).alias("dest_path"),
        "src_bytes",
    )
    from mhm_data_pipelines_spark.session import default_parallelism

    n = num_tasks or default_parallelism(spark)
    plan = plan.repartition(n, "src_path")

    def copy_partition(batches):
        import os

        import pandas as pd

        for pdf in batches:
            out = {k: [] for k in (
                "src_path", "rel_key", "dest_path", "action", "error",
                "bytes",
            )}
            for row in pdf.itertuples(index=False):
                action, err, nbytes = "copied", None, None
                try:
                    # isfile (not exists): a directory squatting on the
                    # dest path is not a valid staged object — fall
                    # through to the copy, which reports it as an error.
                    if not skip_file_check and os.path.isfile(row.dest_path):
                        action = "skipped"
                        nbytes = os.path.getsize(row.dest_path)
                    else:
                        nbytes = _copy_one(row.src_path, row.dest_path)
                except Exception as exc:  # noqa: BLE001 - parity :71-80
                    action, err = "error", f"{type(exc).__name__}: {exc}"
                out["src_path"].append(row.src_path)
                out["rel_key"].append(row.rel_key)
                out["dest_path"].append(row.dest_path)
                out["action"].append(action)
                out["error"].append(err)
                out["bytes"].append(nbytes)
            yield pd.DataFrame(out)

    return plan.mapInPandas(copy_partition, STAGING_STATUS_SCHEMA)
