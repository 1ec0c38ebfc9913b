"""Compaction pipeline (merge-data parity) + catalog query commands
(summary.py parity)."""

from __future__ import annotations

from pyspark.sql import functions as F

from mhm_data_pipelines_spark.operators.catalog_queries import (
    files_per_batch,
    measurements_across_users,
    schema_paths,
    summary_report,
    user_overview,
)
from mhm_data_pipelines_spark.operators.compact import (
    compact_lake,
    read_compacted,
)
from mhm_data_pipelines_spark.sources.catalog import attach_schemas, build_catalog
from mhm_data_pipelines_spark.sources.lake import read_lake_unified


def test_compact_roundtrip_and_pruning(spark, lake_root, tmp_path):
    out = str(tmp_path / "compacted")
    compact_lake(spark, lake_root, out)
    df = read_compacted(spark, out)
    raw = read_lake_unified(spark, lake_root, layout="raw")
    # Same row count, dimensions preserved as partition columns.
    assert df.count() == raw.count()
    assert {"site", "participant_id", "metric"} <= set(df.columns)
    # Partition pruning: a site predicate must land in PartitionFilters,
    # not a post-scan Filter.
    plan = (
        df.filter(F.col("site") == "LON")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters: [" in plan
    assert "isnotnull(site" in plan


def test_compact_idempotent_then_update(spark, lake_root, tmp_path):
    out = str(tmp_path / "compacted2")
    compact_lake(spark, lake_root, out)
    n1 = read_compacted(spark, out).count()
    # mode('ignore'): second run is a no-op (skip-if-exists parity).
    compact_lake(spark, lake_root, out)
    assert read_compacted(spark, out).count() == n1
    # update=True: dynamic overwrite keeps the same logical content.
    compact_lake(spark, lake_root, out, update=True)
    assert read_compacted(spark, out).count() == n1


def test_compact_monthly_partitioning(spark, lake_root, tmp_path):
    out = str(tmp_path / "compacted3")
    compact_lake(spark, lake_root, out, monthly=True)
    df = read_compacted(spark, out)
    months = {r.batch_month for r in df.select("batch_month").distinct().collect()}
    # Filename months 2024-12 / 2025-01; unparseable filename → null bucket.
    assert "2024-12" in months and "2025-01" in months


def test_catalog_commands(spark, lake_root):
    cat = build_catalog(spark, lake_root, layout="raw")
    batches = files_per_batch(cat).collect()
    by_batch = {(str(r.date), r.time): r.n_files for r in batches}
    # 20241228_1200 exists for both participants (2 files).
    assert by_batch[("2024-12-28", "1200")] == 2

    meas = measurements_across_users(cat)
    assert meas.count() >= 1


def test_catalog_flat_layout_commands(spark, tmp_path):
    """Proper flat-layout lake (user/measurement/file) for command parity."""
    import gzip

    root = tmp_path / "s3lake"
    for user, meas, fname in [
        ("u1", "steps", "20240101_0900.csv.gz"),
        ("u1", "steps", "20240102_0900.csv.gz"),
        ("u1", "steps", "20240102_0900_1.csv.gz"),
        ("u1", "hr", "20240101_0900.csv.gz"),
        ("u2", "steps", "20240103_0900.csv.gz"),
    ]:
        p = root / user / meas / fname
        p.parent.mkdir(parents=True, exist_ok=True)
        with gzip.open(p, "wt") as f:
            f.write("a,b\n1,2\n")
    (root / "u1" / "steps" / "schema.json").parent.mkdir(exist_ok=True, parents=True)
    (root / "u1" / "steps" / "schema.json").write_text('{"type": "object"}')

    cat = build_catalog(spark, str(root))
    rep = {(r.user_id, r.measurement): r for r in summary_report(cat).collect()}
    assert rep[("u1", "steps")].n_files == 3
    assert rep[("u1", "steps")].n_sharded_files == 1
    assert rep[("u1", "steps")].n_days == 2
    assert str(rep[("u1", "steps")].first_date) == "2024-01-01"

    users = {r.user_id: r for r in user_overview(cat).collect()}
    assert users["u1"].measurements == ["hr", "steps"]

    schemas = schema_paths(cat).collect()
    assert len(schemas) == 1 and schemas[0].measurement == "steps"

    joined = attach_schemas(cat)
    with_schema = joined.filter(F.col("schema_path").isNotNull())
    assert with_schema.count() == 3  # all u1/steps data files


def test_schema_doc_to_structtype_roundtrip(spark, tmp_path):
    """S6 completion: JSON schema docs parse into StructTypes that drive
    the typed lake read; drift between doc and data is reported."""
    import gzip
    import json

    from pyspark.sql.types import DoubleType, LongType, StringType

    from mhm_data_pipelines_spark.sources.catalog import (
        load_schema_docs,
        parse_schema_doc,
        schema_drift,
    )
    from mhm_data_pipelines_spark.sources.lake import read_lake

    root = tmp_path / "typedlake"
    p = root / "u1" / "steps"
    p.mkdir(parents=True)
    with gzip.open(p / "20240101_0900.csv.gz", "wt") as f:
        f.write("ts,steps,device\n1000.5,200,pixel\n2000.5,300,galaxy\n")
    # JSON-Schema shape for steps; field-list shape for hr.
    (p / "schema.json").write_text(json.dumps({
        "type": "object",
        "properties": {
            "ts": {"type": "number"},
            "steps": {"type": "integer"},
            "device": {"type": "string"},
        },
    }))
    p2 = root / "u1" / "hr"
    p2.mkdir(parents=True)
    with gzip.open(p2 / "20240101_0900.csv.gz", "wt") as f:
        f.write("ts,bpm\n1000.5,61.5\n")
    (p2 / "schema.json").write_text(json.dumps({
        "fields": [
            {"name": "ts", "type": "double"},
            {"name": "bpm", "type": "float"},
        ]
    }))

    cat = build_catalog(spark, str(root))
    schemas = load_schema_docs(spark, cat)
    assert set(schemas) == {"steps", "hr"}
    steps_schema = schemas["steps"]
    assert [f.dataType for f in steps_schema.fields] == [
        DoubleType(), LongType(), StringType()
    ]

    # The parsed schema drives a typed read: no inference, real types.
    df = read_lake(
        spark, str(root), layout="flat", schema=steps_schema,
        glob="*.csv.gz", include=["steps"],
    )
    row = df.orderBy("ts").first()
    assert row.ts == 1000.5 and row.steps == 200

    # Drift: doc promises a column the data lacks; data has an extra one;
    # a shared column disagrees on type.
    doc = parse_schema_doc(json.dumps({
        "properties": {
            "ts": {"type": "string"},
            "steps": {"type": "integer"},
            "hrv": {"type": "number"},
        }
    }))
    d = schema_drift(doc, steps_schema)
    assert d["missing"] == ["hrv"]
    assert d["extra"] == ["device"]
    assert d["type_mismatch"] == ["ts: string != double"]

    # Reference fallback: empty / unparseable docs are skipped, not fatal.
    assert parse_schema_doc("") is None
    assert parse_schema_doc('{"type": "object"}') is None


def test_compact_writes_one_file_per_partition(spark, tmp_path):
    """Groups whose files span several scan tasks still get exactly one
    parquet file per partition directory."""
    import gzip
    import os

    root = tmp_path / "spread"
    for site in ("LON", "NYC"):
        d = root / "top" / site / "P1" / "steps"
        d.mkdir(parents=True)
        for day in range(1, 9):
            with gzip.open(d / f"202401{day:02d}_0900.csv.gz", "wt") as f:
                f.write("ts,v\n" + "".join(f"{day * 100 + i},{i}\n" for i in range(20)))
    raw = read_lake_unified(spark, str(root), layout="raw")
    assert raw.rdd.getNumPartitions() > 2  # the groups span several tasks

    out = str(tmp_path / "spread_compacted")
    compact_lake(spark, str(root), out)
    per_dir = {
        os.path.relpath(d, out): sum(n.endswith(".parquet") for n in names)
        for d, _, names in os.walk(out)
        if any(n.endswith(".parquet") for n in names)
    }
    assert per_dir == {
        os.path.join(f"site={s}", "participant_id=P1", "metric=steps"): 1
        for s in ("LON", "NYC")
    }
    assert read_compacted(spark, out).count() == 2 * 8 * 20
