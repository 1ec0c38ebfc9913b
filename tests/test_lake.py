"""Lake reader: path-dimension extraction, include/exclude semantics,
drift-tolerant union, catalog build."""

from __future__ import annotations

from pyspark.sql import functions as F

from mhm_data_pipelines_spark.sources.catalog import build_catalog
from mhm_data_pipelines_spark.sources.io import union_with_drift
from mhm_data_pipelines_spark.sources.lake import (
    include_exclude_predicate,
    read_lake,
)


def test_read_lake_dimensions(spark, lake_root):
    df = read_lake(spark, lake_root, layout="raw", glob="*.csv.gz")
    dims = (
        df.select("site", "participant_id", "metric")
        .distinct()
        .collect()
    )
    triples = {(r.site, r.participant_id, r.metric) for r in dims}
    assert ("LON", "ABC-123-XYZ", "android_health_connect_typed_data") in triples
    assert ("MAN", "DEF-456-UVW", "android_health_connect_typed_data") in triples
    assert ("LON", "ABC-123-XYZ", "questionnaire_response") in triples


def test_file_timestamp_and_shard(spark, lake_root):
    df = read_lake(spark, lake_root, layout="raw", glob="*.csv.gz")
    shard = df.filter(F.col("shard_index").isNotNull()).select(
        "filename", "shard_index"
    ).distinct().collect()
    assert {(r.filename, r.shard_index) for r in shard} == {
        ("20250102_1200_1.csv.gz", 1)
    }
    # Malformed filename rows are kept, with null file_timestamp.
    bad = df.filter(F.col("filename") == "notadate.csv.gz")
    assert bad.count() == 1
    assert bad.first().file_timestamp is None


def test_include_exclude_exact_vs_substring(spark, lake_root):
    df = read_lake(spark, lake_root, layout="raw", glob="*.csv.gz")
    # P4 exact path-part: "LON" matches; "LO" must NOT.
    exact = df.filter(
        include_exclude_predicate(F.input_file_name(), include=["LON"])
    )
    assert exact.select("site").distinct().collect()[0].site == "LON"
    none = df.filter(
        include_exclude_predicate(F.input_file_name(), include=["LO"])
    )
    assert none.count() == 0
    # P5 substring: "LO" DOES match LON.
    sub = df.filter(
        include_exclude_predicate(F.input_file_name(), include=["LO"], substring=True)
    )
    assert sub.select("site").distinct().collect()[0].site == "LON"
    # Exclude always wins.
    excl = df.filter(
        include_exclude_predicate(
            F.input_file_name(), include=["LON"], exclude=["device_app_log"]
        )
    )
    assert excl.filter(F.col("metric") == "device_app_log").count() == 0


def test_union_with_drift(spark):
    a = spark.createDataFrame([(1, "x")], "id int, a string")
    b = spark.createDataFrame([(2, 3.5)], "id int, b double")
    out = union_with_drift([a, b]).orderBy("id").collect()
    assert out[0].a == "x" and out[0].b is None
    assert out[1].a is None and out[1].b == 3.5


def test_read_lake_unified_many_metrics(spark, tmp_path):
    """Heterogeneous lake: N metrics with distinct headers → one
    drift-unioned frame, per-metric columns aligned (never misread under
    another metric's header), include/exclude still file-granular."""
    import gzip

    from mhm_data_pipelines_spark.sources.lake import read_lake_unified

    root = tmp_path / "unilake"
    n_metrics = 12
    for site in ("LON", "MAN"):
        for m in range(n_metrics):
            p = root / "top" / site / f"P{m:02d}" / f"metric_{m:02d}"
            p.mkdir(parents=True)
            with gzip.open(p / "20241228_1200.csv.gz", "wt") as f:
                f.write(f"ts,col_{m:02d}\n")  # header unique per metric
                f.write(f"1000,{m}\n")
                f.write(f"2000,{m + 100}\n")
    df = read_lake_unified(spark, str(root), layout="raw")
    # Every metric's unique column survives the union; rows land under
    # their own metric only.
    assert {f"col_{m:02d}" for m in range(n_metrics)} <= set(df.columns)
    assert df.count() == 2 * n_metrics * 2
    one = df.filter(F.col("metric") == "metric_03")
    assert one.count() == 4
    vals = {r["col_03"] for r in one.select("col_03").collect()}
    assert vals == {"3", "103"}
    # Other metrics' columns are null on this metric's rows.
    assert one.filter(F.col("col_04").isNotNull()).count() == 0

    # include/exclude is file-granular (site-level), not just metric-level.
    lon = read_lake_unified(spark, str(root), layout="raw", include=["LON"])
    assert lon.count() == n_metrics * 2
    assert lon.select("site").distinct().collect()[0].site == "LON"
    # a metric excluded entirely never reads (its column vanishes too)
    ex = read_lake_unified(spark, str(root), layout="raw", exclude=["metric_05"])
    assert "col_05" not in ex.columns


def test_build_catalog(spark, lake_root):
    cat = build_catalog(spark, lake_root)
    rows = cat.collect()
    assert all(r.filename.endswith(".csv.gz") for r in rows)
    dated = [r for r in rows if r.filename == "20250102_1200_1.csv.gz"]
    assert dated and str(dated[0].date) == "2025-01-02"
    assert dated[0].time == "1200" and dated[0].shard_index == 1
    bad = [r for r in rows if r.filename == "notadate.csv.gz"]
    assert bad and bad[0].date is None


def test_catalog_cache_roundtrip(spark, lake_root, tmp_path):
    cache = str(tmp_path / "catalog.parquet")
    c1 = build_catalog(spark, lake_root, cache_path=cache)
    n = c1.count()
    # Second call hits the parquet checkpoint (pickle-cache parity).
    c2 = build_catalog(spark, lake_root, cache_path=cache)
    assert c2.count() == n


def test_corrupt_record_quarantine(spark, tmp_path):
    """Row-level malformation: bad rows land whole in the quarantine
    column (PERMISSIVE + columnNameOfCorruptRecord), good rows parse."""
    import gzip

    p = tmp_path / "qlake" / "top" / "LON" / "P1" / "steps" / "20241228_1200.csv.gz"
    p.parent.mkdir(parents=True)
    with gzip.open(p, "wt") as f:
        f.write("a,b\n1,2\nnot_an_int,5\n3,4\n")

    df = read_lake(
        spark,
        str(tmp_path / "qlake"),
        layout="raw",
        schema="a int, b int, _bad string",
        corrupt_record_col="_bad",
        glob="*.csv.gz",
    ).cache()  # corrupt-record column requires no post-filter re-parse race
    good = df.filter(F.col("_bad").isNull()).select("a", "b").collect()
    bad = df.filter(F.col("_bad").isNotNull()).select("_bad").collect()
    assert sorted((r.a, r.b) for r in good) == [(1, 2), (3, 4)]
    assert [r._bad for r in bad] == ["not_an_int,5"]
    df.unpersist()


def test_corrupt_record_requires_schema(spark, tmp_path):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="explicit schema"):
        read_lake(
            spark, str(tmp_path), layout="raw", corrupt_record_col="_bad"
        )


def test_write_table_format_roundtrips(spark, tmp_path):
    """S7/S8 generality: the sink round-trips parquet, ORC, JSON-lines,
    and gzip CSV with values intact (CSV/JSON read back with an explicit
    schema — no inference surprises)."""
    from mhm_data_pipelines_spark.sources.io import write_table

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", -2.25), (3, None, 0.0)],
        "id bigint, s string, v double",
    )
    want = sorted(map(tuple, df.collect()))
    for fmt in ["parquet", "orc", "json", "csv"]:
        out = str(tmp_path / fmt)
        write_table(df, out, fmt=fmt)
        reader = spark.read
        if fmt in ("csv", "json"):
            reader = reader.schema("id bigint, s string, v double")
        if fmt == "csv":
            reader = reader.option("header", "true")
        got = sorted(map(tuple, reader.format(fmt).load(out).collect()))
        assert got == want, fmt


def test_read_lake_unified_glob_listing_full_match(spark, tmp_path):
    """Listing-time filename matching must FULL-match like the scan-time
    pathGlobFilter: a metric whose files only suffix-match the glob
    (prefix differs) must not be selected into an empty, failing read."""
    import gzip

    from mhm_data_pipelines_spark.sources.lake import read_lake_unified

    root = tmp_path / "globlake"
    good = root / "top" / "LON" / "P00" / "metric_good"
    good.mkdir(parents=True)
    with gzip.open(good / "data_20240101.csv.gz", "wt") as f:
        f.write("ts,v\n1000,1\n")
    bad = root / "top" / "LON" / "P01" / "metric_bad"
    bad.mkdir(parents=True)
    # suffix-matches "data_*.csv.gz" but does not full-match it
    with gzip.open(bad / "olddata_20240101.csv.gz", "wt") as f:
        f.write("ts,v\n1000,2\n")
    df = read_lake_unified(
        spark, str(root), layout="raw", glob="data_*.csv.gz"
    )
    mets = {r.metric for r in df.select("metric").distinct().collect()}
    assert mets == {"metric_good"}
    assert df.count() == 1


def test_write_table_zstd_compression(spark, tmp_path):
    """compression override reaches the files (zstd parquet — the cold-
    data codec for 100 TB archives) and reads back intact."""
    import glob as globmod

    from mhm_data_pipelines_spark.sources.io import write_table

    df = spark.createDataFrame([(i, f"s{i}") for i in range(100)], "id long, s string")
    out = str(tmp_path / "zstd_tbl")
    write_table(df, out, compression="zstd")
    files = globmod.glob(f"{out}/*.parquet")
    assert files and all(".zstd." in f for f in files)
    assert spark.read.parquet(out).count() == 100


def _write_gz(path, lines: list[str]) -> None:
    import gzip

    path.parent.mkdir(parents=True, exist_ok=True)
    with gzip.open(path, "wt") as f:
        f.write("\n".join(lines) + "\n")


def _run_counted(spark, group: str, action) -> tuple[int, int]:
    """(jobs, tasks run) of ``action``, read from the status tracker
    under the job group ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    # Per-job task counts: a job's skipped stages are the first records
    # the status store evicts past ``spark.ui.retainedStages``, so
    # reading them stage by stage fails late in a long session.
    store = sc._jsc.sc().statusStore()
    tasks = sum(store.job(j).numCompletedTasks() for j in jobs)
    return len(jobs), tasks


def test_read_lake_unified_decodes_path_dimensions(spark, tmp_path):
    """Directory and file names that a URI escapes (space, ``#``, ``%``),
    a literal ``+`` and glob characters read back as written, and the
    lake scan, the compacted partitions and the catalog agree on them."""
    from mhm_data_pipelines_spark.operators.compact import compact_lake, read_compacted
    from mhm_data_pipelines_spark.sources.lake import read_lake_unified

    root = tmp_path / "enc"
    # The larger file, whose header the metric's schema is read from.
    _write_gz(root / "top" / "L ON" / "P#1" / "m x" / "a b+c[1].csv.gz",
              ["ts,v", *[f"{i},{i}" for i in range(20)]])
    _write_gz(root / "top" / "NYC" / "P%2" / "m x" / "20240101_0900.csv.gz", ["ts,v", "3,4"])
    want = {("L ON", "P#1", "m x", "a b+c[1].csv.gz"), ("NYC", "P%2", "m x", "20240101_0900.csv.gz")}

    df = read_lake_unified(spark, str(root), layout="raw")
    got = {tuple(r) for r in df.select("site", "participant_id", "metric", "filename").collect()}
    assert got == want

    out = str(tmp_path / "enc_compacted")
    compact_lake(spark, str(root), out, layout="raw")
    parts = read_compacted(spark, out).select("site", "participant_id", "metric").collect()
    assert {tuple(r) for r in parts} == {w[:3] for w in want}

    cat = build_catalog(spark, str(root), layout="raw").collect()
    assert {(r.user_id, r.measurement, r.filename) for r in cat} == {w[1:] for w in want}


def test_read_lake_unified_takes_header_of_largest_file(spark, tmp_path):
    """A metric whose files carry different headers reads under the
    header of its largest file, whatever the path order; its columns
    apply by position to every file of the metric."""
    from mhm_data_pipelines_spark.sources.lake import read_lake_unified

    root = tmp_path / "drift"
    d = root / "top" / "LON" / "P1" / "hr"
    _write_gz(d / "20240101_0900.csv.gz", ["ts,big,extra", *[f"{i},{i},x" for i in range(50)]])
    _write_gz(d / "20240102_0900.csv.gz", ["ts,small", "1000,7"])
    df = read_lake_unified(spark, str(root), layout="raw")
    assert [c for c in df.columns if c in ("ts", "big", "extra", "small")] == ["ts", "big", "extra"]
    small = df.filter(F.col("filename") == "20240102_0900.csv.gz").first()
    assert (small.ts, small.big, small.extra) == ("1000", "7", None)


def test_read_lake_unified_build_jobs_scale_with_metrics(spark, tmp_path):
    """Building the scan lists the lake once (the catalog) and reads one
    header per metric: at most 2 + n_metrics jobs, and fewer tasks than
    files, however many files a metric holds."""
    from mhm_data_pipelines_spark.sources.lake import read_lake_unified

    root = tmp_path / "many"
    metrics, files = ("hr", "steps"), 40
    for m in metrics:
        for i in range(files):
            _write_gz(root / "top" / "LON" / "P1" / m / f"202401{i % 28 + 1:02d}_{i:04d}.csv.gz",
                      ["ts,v", f"{i},{i}"])
    jobs, tasks = _run_counted(
        spark, "test-read-lake-unified-build",
        lambda: read_lake_unified(spark, str(root), layout="raw"),
    )
    assert 1 <= jobs <= 2 + len(metrics)
    assert tasks < len(metrics) * files


def _csv_buffer_sizes(df) -> list[str | None]:
    """The ``inputBufferSize`` option of each CSV file relation (batch or
    streaming) in ``df``'s analyzed plan."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    sizes = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        kind = leaf.getClass().getSimpleName()
        if kind == "LogicalRelation":
            rel = leaf.relation()
            if rel.fileFormat().getClass().getSimpleName() != "CSVFileFormat":
                continue
            opts = rel.options()
        elif kind == "StreamingRelation":
            opts = leaf.dataSource().options()
        else:
            continue
        size = opts.get("inputBufferSize")
        sizes.append(size.get() if size.isDefined() else None)
    return sizes


def test_lake_csv_reads_carry_the_shared_buffer_size(spark, tmp_path, monkeypatch):
    """Every CSV relation the lake readers build, including the header
    read of ``read_lake_unified``, sizes univocity's input buffer from
    ``_CSV_OPTIONS`` instead of its 1 Mi-char default."""
    from pyspark.sql.readwriter import DataFrameReader

    from mhm_data_pipelines_spark.sources.lake import _CSV_OPTIONS, read_lake_unified
    from mhm_data_pipelines_spark.streaming.ingest import stream_lake

    want = _CSV_OPTIONS["inputBufferSize"]
    root = tmp_path / "buf"
    for m in ("hr", "steps"):
        _write_gz(root / "top" / "LON" / "P1" / m / "20240101_0900.csv.gz", ["ts,v", "1,2"])

    built = []
    for name in ("load", "csv"):
        def record(self, *args, _read=getattr(DataFrameReader, name), **kwargs):
            df = _read(self, *args, **kwargs)
            built.append(df)
            return df
        monkeypatch.setattr(DataFrameReader, name, record)
    read_lake_unified(spark, str(root), layout="raw")
    unified = [s for df in built for s in _csv_buffer_sizes(df)]
    # Per metric: one header read and one data read.
    assert unified == [want] * 4

    assert _csv_buffer_sizes(read_lake(spark, str(root), glob="*.csv.gz")) == [want]
    stream = stream_lake(spark, str(root), "ts string, v string")
    assert _csv_buffer_sizes(stream) == [want]


def test_lake_reads_lines_longer_than_the_parser_buffer(spark, tmp_path):
    """A field and a header line each longer than the input buffer read
    back whole through ``read_lake`` and ``read_lake_unified``."""
    from mhm_data_pipelines_spark.sources.lake import _CSV_OPTIONS, read_lake_unified

    buf = int(_CSV_OPTIONS["inputBufferSize"])
    field = "".join(chr(ord("a") + i % 26) for i in range(200_000))
    long_col = "c" + "_" * (buf + 1000)
    cases = {
        "field": (["ts,note", f"1,{field}", "2,short"], ["ts", "note"],
                  {("1", field), ("2", "short")}),
        "header": ([f"ts,{long_col}", "3,x"], ["ts", long_col], {("3", "x")}),
    }
    for name, (lines, cols, rows) in cases.items():
        root = tmp_path / name
        _write_gz(root / "top" / "LON" / "P1" / "m" / "20240101_0900.csv.gz", lines)
        for df in (read_lake(spark, str(root), glob="*.csv.gz"),
                   read_lake_unified(spark, str(root), layout="raw")):
            got = df.select(*[F.col(f"`{c}`").cast("string") for c in cols]).collect()
            assert {tuple(r) for r in got} == rows, name
