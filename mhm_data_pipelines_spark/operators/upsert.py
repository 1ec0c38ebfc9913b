"""Latest-wins merge (CDC/upsert compaction) without a table format.

The reference's ingest is append-only with skip-if-exists file
semantics (merge-data.py:68-70) — it has no record-level upsert. At
100 TB with at-least-once delivery, re-sent batches and corrected
records need MERGE semantics. Delta/Iceberg provide this as a table
operation; this module provides the engine-level equivalent over plain
parquet: deterministic latest-version-wins resolution, then a
partition-scoped rewrite.

Scale notes: resolution is ONE hash aggregate on the merge keys
(``max_by`` of the whole row struct — no window sort, no join); the
rewrite targets only partitions that received updates (committed by
``sources.io._rewrite_partitions``), so a 10k-partition table with
updates in 3 partitions rewrites 3.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mhm_data_pipelines_spark.sources.io import _rewrite_partitions


def latest_wins(
    df: DataFrame,
    keys: Sequence[str],
    version: str,
) -> DataFrame:
    """One row per key: the highest-``version`` row (ties resolved by
    the full row struct ordering, so the result is deterministic even
    with duplicate versions). A single hash aggregate — map-side
    partial ``max_by`` combines before the shuffle."""
    keys = list(keys)
    payload = [c for c in df.columns if c not in keys]
    row = F.struct(F.col(version), *[F.col(c) for c in payload if c != version])
    agg = df.groupBy(*keys).agg(F.max_by(row, row).alias("_r"))
    return agg.select(
        *keys, *[F.col(f"_r.{c}") for c in [version] + [p for p in payload if p != version]]
    ).select(*df.columns)


def merge_upsert(
    base: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    version: str,
) -> DataFrame:
    """MERGE: rows of ``base`` overwritten by higher-version ``updates``
    rows on the same key; new keys inserted; base rows without updates
    pass through untouched. Equivalent to Delta's
    ``MERGE WHEN MATCHED AND s.v > t.v THEN UPDATE WHEN NOT MATCHED
    THEN INSERT`` — realized as union + latest-wins, one shuffle."""
    return latest_wins(
        base.unionByName(updates, allowMissingColumns=False), keys, version
    )


def _isin_with_null(col: str, values) -> F.Column:
    """``col IN values`` that also matches NULL when ``values`` contains
    None — plain ``isin`` evaluates NULL-vs-NULL to NULL and silently
    drops those rows, which for a partition-rewrite means silently
    skipping the ``__HIVE_DEFAULT_PARTITION__`` directory."""
    non_null = [v for v in values if v is not None]
    cond = F.col(col).isin(non_null) if non_null else F.lit(False)
    if any(v is None for v in values):
        cond = cond | F.col(col).isNull()
    return cond


def _touched_partition_strings(df: DataFrame, partition_col: str) -> dict:
    """Distinct partition values of ``df`` mapped to their writer-exact
    string rendering, collected in ONE bounded pass (one row per
    partition). The rendering comes from Spark's own
    ``Cast(partition_col AS string)`` — NOT Python ``str()``, which
    diverges from Cast for timestamps with trailing-zero fractional
    seconds (``...123000`` vs Spark's ``...123``) and doubles in
    scientific notation (``1e+20`` vs ``1.0E20``); a diverging name
    would publish a wrongly-named empty dir and let the real partition
    (with the data that was supposed to be retired) survive the swap."""
    rows = (
        df.select(
            F.col(partition_col).alias("v"),
            F.col(partition_col).cast("string").alias("s"),
        )
        .distinct()
        .collect()  # bounded: one row per touched partition
    )
    return {r["v"]: r["s"] for r in rows}


def _partition_dir_names(spark, partition_col: str, rendered) -> list[str]:
    """Map Cast-rendered partition value strings (from
    :func:`_touched_partition_strings`) to the exact directory names
    Spark's writer produces, using Spark's own escaping
    (``ExternalCatalogUtils``): special chars become ``%XX`` and
    NULL/empty becomes ``__HIVE_DEFAULT_PARTITION__``. Building names
    with a raw f-string instead would retire a bogus unescaped dir and
    leave the real one alive."""
    utils = (
        spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    )
    return [
        utils.getPartitionPathString(partition_col, s) for s in rendered
    ]


def write_upsert_partitioned(
    base_path: str,
    updates: DataFrame,
    keys: Sequence[str],
    version: str,
    partition_col: str,
) -> None:
    """Apply updates to a partitioned parquet table rewriting ONLY the
    touched partitions. The read is partition-pruned to the touched
    partition values, so cost scales with the update footprint, not the
    table.

    "Touched" covers BOTH sides of a partition move: the partitions the
    updates land in AND the partitions where the updated keys currently
    live (discovered by a broadcast semi-join on the merge keys, column-
    pruned to ``keys + partition_col``). Without the second set, an
    update that changes a key's ``partition_col`` would leave the stale
    base row alive in the old partition — two rows for one merge key,
    which Delta MERGE would never produce. A partition whose only rows
    moved away is left as an empty dir.

    The commit and its crash windows are
    ``sources.io._swap_partitions``'s: partition-atomic, not
    table-atomic, and a re-run converges."""
    spark = updates.sparkSession
    touched = _touched_partition_strings(updates, partition_col)
    table = spark.read.parquet(base_path)
    upd_keys = updates.select(*keys).distinct()
    touched.update(
        _touched_partition_strings(
            table.join(F.broadcast(upd_keys), list(keys), "left_semi"),
            partition_col,
        )
    )
    vals = sorted(touched, key=lambda v: (v is None, str(v)))
    base = table.filter(_isin_with_null(partition_col, vals))
    _rewrite_partitions(
        merge_upsert(base, updates, keys, version),
        base_path,
        partition_col,
        _partition_dir_names(
            spark, partition_col, [touched[v] for v in vals]
        ),
    )


def scd2_history(
    changes: DataFrame,
    keys: Sequence[str],
    version: str,
    end_col: str = "valid_to",
    current_col: str = "is_current",
) -> DataFrame:
    """Slowly-Changing-Dimension Type 2 history from a change stream:
    each ``(keys, version)`` change row becomes a validity interval —
    ``valid_to`` = the NEXT change's version for the same key (NULL on
    the open, current row) plus an ``is_current`` flag. The standard
    warehouse shape for "what did this dimension row say at time T?"
    (a point-in-time lookup is then one BETWEEN predicate, or an
    as-of join via ``operators.temporal``).

    Exact duplicates per (keys, version) are an upstream contract
    violation (two versions of the truth at one instant); resolve with
    :func:`latest_wins` first. Scale shape: one window per key
    (``lead`` over the version order) — partitioned by the dimension
    key, so it scales with rows-per-key, never a global sort.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(version)
    nxt = F.lead(version).over(w)
    return changes.withColumn(end_col, nxt).withColumn(
        current_col, F.col(end_col).isNull()
    )


def erase_subjects(
    base_path: str,
    subjects: DataFrame,
    key: str,
    partition_col: str,
) -> dict:
    """Right-to-erasure (GDPR art. 17) over a partitioned parquet
    table: physically rewrite ONLY the partitions containing the
    subjects' rows, dropping every row whose ``key`` appears in
    ``subjects`` — an anti-join, not an overwrite of the table.

    Scale shape: the subject list broadcasts into (1) a semi-join that
    discovers touched partitions (partition-pruned to nothing if the
    subjects don't exist) and (2) the anti-join inside each rewritten
    partition; untouched partitions are never read past their
    footer/stats. The rewrite commits like
    :func:`write_upsert_partitioned`. Returns
    ``{"partitions_rewritten": n, "rows_erased": n}`` — the audit record
    an erasure job must emit.
    """
    spark = subjects.sparkSession
    subj = subjects.select(key).distinct()
    table = spark.read.parquet(base_path)
    touched = _touched_partition_strings(
        table.join(F.broadcast(subj), key, "left_semi"), partition_col
    )
    if not touched:
        return {"partitions_rewritten": 0, "rows_erased": 0}
    vals = sorted(touched, key=lambda v: (v is None, str(v)))
    # NULL partition values land in __HIVE_DEFAULT_PARTITION__ and MUST
    # be rewritten like any other — _isin_with_null matches them where a
    # plain isin would silently skip the erasure.
    scoped = spark.read.parquet(base_path).filter(
        _isin_with_null(partition_col, vals)
    )
    # rows_erased = the semi-join match count, directly — the old
    # shape counted the touched partitions once for `before` and
    # re-ran the whole anti-join for `after` just to subtract them.
    erased = int(
        scoped.join(F.broadcast(subj), key, "left_semi").count()
    )
    # Partitions that lost ALL rows are left as empty dirs (erasure must
    # not silently keep a partition). Dir names use Spark's own
    # partition-path escaping; a raw f-string would retire a bogus dir
    # for values needing %XX escapes and the real dir — with the
    # subject's data — would survive the "successful" erasure.
    _rewrite_partitions(
        scoped.join(F.broadcast(subj), key, "left_anti"),
        base_path,
        partition_col,
        _partition_dir_names(
            spark, partition_col, [touched[v] for v in vals]
        ),
    )
    return {
        "partitions_rewritten": len(vals),
        "rows_erased": erased,
    }
