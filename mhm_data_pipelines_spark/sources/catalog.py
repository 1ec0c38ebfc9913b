"""Metadata catalog: one row per lake object, queryable with the engine.

Replaces the reference's hand-rolled object graph ``S3Bucket → {user_id:
User} → {measurement: Measurement} → [DataFile]`` built from a paginated
``list_objects_v2`` and pickled to ``summary_data.pkl``
(``mhm-data-pipelines/summary.py:14-150,266-298``; untyped duplicate
``main.py:8-153``). Catalog "queries" there are driver loops over the
graph (date ranges ``summary.py:71-78``, file counts per batch
``:56-63``, distinct measurements ``:168-186``).

Here the catalog IS a DataFrame — every reference subcommand becomes a
small aggregate query (see ``operators.catalog_queries``), the pickle
cache becomes a parquet checkpoint, and at 100 TB the listing itself is
distributed (binaryFile/FileIndex listing, or a boto3 inventory read) and
the catalog is just another partitioned table.

The catalog is also the engine's one lake lister: ``read_lake_unified``
takes its metric names from it and ``stage_objects`` its file list. Path
positions come from ``sources.lake.LAYOUTS`` through ``path_dimensions``;
nothing here defines its own.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mhm_data_pipelines_spark.sources.lake import _root_depth, path_dimensions


def build_catalog(
    spark: SparkSession,
    root: str,
    layout: str = "flat",
    cache_path: str | None = None,
    refresh: bool = False,
) -> DataFrame:
    """List every object under ``root`` → catalog DataFrame.

    Columns (FIXTURES.md §6): ``path, user_id, measurement, filename,
    date, time, shard_index, is_schema, size``. ``user_id`` is the
    participant and ``measurement`` the metric, at the positions
    ``sources.lake.LAYOUTS`` gives for ``layout``.

    Uses the ``binaryFile`` source purely as a distributed *lister*
    (``pathGlobFilter`` none, content column dropped immediately — Spark
    prunes the content read since only metadata columns are selected).
    ``cache_path`` parquet-checkpoints the catalog (pickle-cache parity,
    summary.py:266-298) — idempotent, refreshable with ``refresh=True``.
    """
    if cache_path and not refresh:
        try:
            return spark.read.parquet(cache_path)
        except Exception:
            pass  # cache miss → list

    root = root.rstrip("/")
    listing = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .load(root)
        .select("path", "length", "modificationTime")
    )
    dims = path_dimensions(_root_depth(root), layout=layout, path=F.col("path"))
    filename = dims["filename"]
    # Filename grammar YYYYMMDD_HHMM[_i] (summary.py:24-47): date + HHMM
    # time + optional shard; unparseable → NULLs, row kept (main.py:38-41).
    catalog = listing.select(
        F.col("path"),
        dims["participant_id"].alias("user_id"),
        dims["metric"].alias("measurement"),
        filename.alias("filename"),
        F.try_to_date(
            F.nullif(F.regexp_extract(filename, r"^(\d{8})_\d{4}", 1), F.lit("")),
            "yyyyMMdd",
        ).alias("date"),
        F.nullif(
            F.regexp_extract(filename, r"^\d{8}_(\d{4})", 1), F.lit("")
        ).alias("time"),
        dims["shard_index"].alias("shard_index"),
        filename.endswith(".json").alias("is_schema"),
        F.col("length").alias("size"),
        F.col("modificationTime").alias("modification_time"),
    )

    if cache_path:
        catalog.write.mode("overwrite").parquet(cache_path)
        return spark.read.parquet(cache_path)
    return catalog


def _doc_type_map():
    """JSON-doc type name → Spark type (JSON-Schema names + Avro-ish
    primitive names; unknown types degrade to string, matching the
    engine's "CSV is typeless, extraction try_casts" contract)."""
    from pyspark.sql import types as T

    return {
        "string": T.StringType(),
        "number": T.DoubleType(),
        "double": T.DoubleType(),
        "float": T.FloatType(),
        "integer": T.LongType(),
        "int": T.IntegerType(),
        "long": T.LongType(),
        "boolean": T.BooleanType(),
        "timestamp": T.TimestampType(),
        "date": T.DateType(),
    }


def parse_schema_doc(text: str):
    """Parse a per-measurement JSON schema document into a
    ``StructType``.

    The reference stores these docs next to the data
    (``mhm-data-pipelines/summary.py:133-144``), fetches them as opaque
    strings (``:152-166``) and only ever prints them
    (``view_schema``, ``:300-312``) — it never *uses* them. Here they
    become real reader schemas. Two shapes are accepted:

    * JSON-Schema-ish: ``{"type": "object", "properties":
      {"col": {"type": "number"}, ...}}``
    * Avro-ish field list: ``{"fields": [{"name": "col",
      "type": "double"}, ...]}``

    Unknown field types map to string. Returns ``None`` for docs with
    neither shape (e.g. the reference's empty-download fallback ``""``).
    """
    import json

    from pyspark.sql.types import StringType, StructType

    try:
        doc = json.loads(text)
    except (ValueError, TypeError):
        return None
    if not isinstance(doc, dict):
        return None
    if isinstance(doc.get("properties"), dict):
        items = [
            (name, (spec or {}).get("type", "string"))
            for name, spec in doc["properties"].items()
        ]
    elif isinstance(doc.get("fields"), list):
        items = [
            (f.get("name"), f.get("type", "string"))
            for f in doc["fields"]
            if isinstance(f, dict) and f.get("name")
        ]
    else:
        return None
    if not items:
        return None
    type_map = _doc_type_map()
    schema = StructType()
    for name, typ in items:
        schema.add(name, type_map.get(str(typ).lower(), StringType()), True)
    return schema


def load_schema_docs(spark: SparkSession, catalog: DataFrame):
    """Read every schema document the catalog knows about →
    ``{measurement: StructType}``, ready to feed
    ``read_lake_unified(schemas=...)`` / ``read_lake(schema=...)``.

    Doc content is fetched with the distributed ``binaryFile`` source;
    only the parsed results come to the driver — schema docs are one
    per measurement (metadata-sized by construction, like the
    reference's ``self.schemas`` dict, summary.py:101,138-144), so this
    never scales with data volume. First doc per measurement wins,
    matching the reference's skip-if-present behavior."""
    docs = (
        catalog.filter(F.col("is_schema"))
        .select("measurement", "path")
        .collect()
    )
    out = {}
    for row in docs:
        if row.measurement in out:
            continue
        content = (
            spark.read.format("binaryFile")
            .load(row.path)
            .select("content")
            .first()
        )
        parsed = parse_schema_doc(
            bytes(content["content"]).decode("utf-8", errors="replace")
        )
        if parsed is not None:
            out[row.measurement] = parsed
    return out


def schema_drift(expected, actual) -> dict[str, list[str]]:
    """Drift between a schema-doc ``StructType`` and the schema actually
    read from data: columns the doc promises but the data lacks
    (``missing``), data columns the doc doesn't know (``extra``), and
    same-name columns whose types disagree (``type_mismatch``,
    rendered ``name: doc_type != data_type``)."""
    exp = {f.name: f.dataType.simpleString() for f in expected.fields}
    act = {f.name: f.dataType.simpleString() for f in actual.fields}
    return {
        "missing": sorted(set(exp) - set(act)),
        "extra": sorted(set(act) - set(exp)),
        "type_mismatch": sorted(
            f"{n}: {exp[n]} != {act[n]}"
            for n in set(exp) & set(act)
            if exp[n] != act[n]
        ),
    }


def attach_schemas(catalog: DataFrame) -> DataFrame:
    """Associate each data file with its measurement's schema document —
    the reference's key-adjacency association (summary.py:133-144) as a
    broadcast left join (J2): the schema listing is tiny by construction.
    """
    data = catalog.filter(~F.col("is_schema"))
    schemas = (
        catalog.filter(F.col("is_schema"))
        .select(
            F.col("user_id").alias("s_user_id"),
            F.col("measurement").alias("s_measurement"),
            F.col("path").alias("schema_path"),
        )
    )
    return data.join(
        F.broadcast(schemas),
        (data["user_id"] == schemas["s_user_id"])
        & (data["measurement"] == schemas["s_measurement"]),
        "left",
    ).drop("s_user_id", "s_measurement")
