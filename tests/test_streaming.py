"""Structured Streaming: file-source ingest, windowed/session aggregation,
incremental partial-stats emission ≡ single-pass (the reference's
accumulate-then-merge contract)."""

from __future__ import annotations

import gzip

import pytest
from pyspark.sql import functions as F

from mhm_data_pipelines_spark.operators.overview import overview_stats
from mhm_data_pipelines_spark.operators.sketches import estimate
from mhm_data_pipelines_spark.streaming import ingest
from mhm_data_pipelines_spark.streaming.ingest import (
    incremental_overview,
    merge_partial_overview,
    sessionized_counts,
    stream_lake,
    windowed_counts,
)
from mhm_data_pipelines_spark.streaming.stateful import neardup_stream

SCHEMA = "`value.time` string, `value.key` string, `value.intVal` string"
DEC = 1735387200.0  # 2024-12-28 12:00 UTC
DAY = 86400.0


def _write(root, site, pid, metric, fname, rows):
    p = root / "top" / site / pid / metric / fname
    p.parent.mkdir(parents=True, exist_ok=True)
    with gzip.open(p, "wt") as f:
        f.write("value.time,value.key,value.intVal\n")
        for r in rows:
            f.write(",".join(str(x) for x in r) + "\n")


def _run_available_now(writer):
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination(120)


def test_stream_lake_micro_batches(spark, tmp_path):
    root = tmp_path / "streamlake"
    _write(root, "LON", "P1", "steps", "20241228_1200.csv.gz",
           [(DEC + i * 3600, "Steps", 100 + i) for i in range(4)])
    _write(root, "LON", "P1", "steps", "20241229_1200.csv.gz",
           [(DEC + DAY + i * 3600, "Steps", 200 + i) for i in range(2)])

    stream = stream_lake(spark, str(root), SCHEMA, layout="raw")
    assert stream.isStreaming
    enriched = stream.withColumn(
        "ts", F.timestamp_seconds(F.col("`value.time`").cast("double"))
    )
    # Complete-mode memory sink: append mode would hold the final windows
    # open waiting for the watermark, which never advances past end-of-
    # stream in a drained availableNow run.
    w = windowed_counts(enriched, window="1 day", watermark="2 days")
    _run_available_now(
        w.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
    )
    got = {
        (str(r.window_start), r.participant_id, r.metric): r.n
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    assert got[("2024-12-28 00:00:00", "P1", "steps")] == 4
    assert got[("2024-12-29 00:00:00", "P1", "steps")] == 2


def test_session_windows(spark, tmp_path):
    root = tmp_path / "sesslake"
    # Two bursts 2 hours apart → 2 sessions with a 30-minute gap window.
    rows = [(DEC + i * 60, "Steps", i) for i in range(3)]
    rows += [(DEC + 7200 + i * 60, "Steps", i) for i in range(2)]
    _write(root, "LON", "P1", "steps", "20241228_1200.csv.gz", rows)
    stream = stream_lake(spark, str(root), SCHEMA, layout="raw")
    enriched = stream.withColumn(
        "ts", F.timestamp_seconds(F.col("`value.time`").cast("double"))
    )
    s = sessionized_counts(enriched, gap="30 minutes")
    _run_available_now(
        s.writeStream.format("memory")
        .queryName("sess_counts")
        .outputMode("complete")
    )
    sessions = spark.sql(
        "SELECT * FROM sess_counts ORDER BY session_start"
    ).collect()
    assert [r.n_events for r in sessions] == [3, 2]


def test_incremental_overview_equals_single_pass(spark, tmp_path):
    """foreachBatch partials merged == one-shot overview_stats (SURVEY
    §5.4 property, streaming edition)."""
    root = tmp_path / "inclake"
    _write(root, "LON", "P1", "steps", "20241228_1200.csv.gz",
           [(DEC + i * 3600, "Steps", i) for i in range(5)])
    _write(root, "MAN", "P2", "steps", "20241229_1200.csv.gz",
           [(DEC + DAY + i * 7200, "Steps", i) for i in range(3)])

    stream = stream_lake(
        spark, str(root), SCHEMA, layout="raw", max_files_per_trigger=1
    ).withColumn("ts", F.timestamp_seconds(F.col("`value.time`").cast("double")))
    partial_path = str(tmp_path / "partials")
    _run_available_now(
        incremental_overview(stream, partial_path, str(tmp_path / "ck3"))
    )
    partials = spark.read.parquet(partial_path)
    # maxFilesPerTrigger=1 → one partial batch per file.
    assert partials.select("batch_id").distinct().count() == 2
    merged = merge_partial_overview(partials).collect()

    from mhm_data_pipelines_spark.sources.lake import read_lake_unified

    whole = overview_stats(
        read_lake_unified(spark, str(root), layout="raw").withColumn(
            "ts", F.timestamp_seconds(F.col("`value.time`").cast("double"))
        )
    ).collect()
    as_tuples = lambda rows: {
        (r.site, r.participant_id, r.metric, r.row_count,
         str(r.start_date), str(r.end_date), r.day_count)
        for r in rows
    }
    assert as_tuples(merged) == as_tuples(whole)


def test_validate_stream_rejects_unique_and_merges(spark, tmp_path):
    """'unique' is rejected up front (cross-batch duplicates are
    invisible to per-batch counts); the merged per-batch reports equal
    the batch suite over the union of rows regardless of micro-batch
    boundaries."""
    import pytest
    from pyspark.sql import functions as F

    from mhm_data_pipelines_spark.operators.validate import (
        validate_constraints,
    )
    from mhm_data_pipelines_spark.streaming.ingest import (
        read_validation_table,
        validate_stream,
    )

    rows = [(i, float(i - 2)) for i in range(10)]  # two negatives
    df = spark.createDataFrame(rows, "id long, v double")
    src = str(tmp_path / "src")
    df.filter(F.col("id") < 5).coalesce(1).write.parquet(f"{src}/b0")
    df.filter(F.col("id") >= 5).coalesce(1).write.parquet(f"{src}/b1")
    rules = [
        {"name": "v_nn", "kind": "not_null", "col": "v"},
        {"name": "v_range", "kind": "range", "col": "v", "min": 0.0},
    ]
    with pytest.raises(ValueError, match="unique"):
        validate_stream(
            spark.readStream.schema("id long, v double").parquet(src),
            rules + [{"name": "u", "kind": "unique", "cols": ["id"]}],
            out_path=str(tmp_path / "rep"),
            checkpoint=str(tmp_path / "ck"),
        )
    stream = (
        spark.readStream.schema("id long, v double")
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        validate_stream(
            stream, rules,
            out_path=str(tmp_path / "rep"),
            checkpoint=str(tmp_path / "ck"),
        )
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    merged = {
        r["rule"]: r
        for r in read_validation_table(
            spark, str(tmp_path / "rep")
        ).collect()
    }
    want = {
        r["rule"]: r for r in validate_constraints(df, rules).collect()
    }
    assert set(merged) == set(want)
    for k in want:
        assert merged[k]["violations"] == want[k]["violations"]
        assert merged[k]["total"] == want[k]["total"]
        assert merged[k]["passed"] == want[k]["passed"]
    assert merged["v_range"]["violations"] == 2


def test_topk_stream_merge_equals_batch_topk(spark, tmp_path):
    """Per-batch count partials merge to the batch top-k whatever the
    micro-batch boundaries; ranks use the deterministic (n desc, item
    asc) total order."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from mhm_data_pipelines_spark.streaming.ingest import (
        read_topk_table,
        topk_stream,
    )

    rows = [(i, f"g{i % 2}", i % 5) for i in range(100)]
    df = spark.createDataFrame(rows, "id long, g string, item long")
    src = tmp_path / "src"
    df.filter(F.col("id") % 2 == 0).coalesce(1).write.parquet(
        str(src / "b0")
    )
    df.filter(F.col("id") % 2 == 1).coalesce(1).write.parquet(
        str(src / "b1")
    )
    stream = (
        spark.readStream.schema("id long, g string, item long")
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    q = (
        topk_stream(
            stream,
            out_path=str(tmp_path / "topk"),
            checkpoint=str(tmp_path / "ck"),
            group_cols=("g",),
            item_col="item",
        )
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    # two batch_id partitions written (one per file)
    import glob

    assert len(glob.glob(str(tmp_path / "topk" / "batch_id=*"))) == 2
    got = {
        (r["g"], r["item"]): (r["n"], r["rank"])
        for r in read_topk_table(
            spark, str(tmp_path / "topk"), ("g",), "item", k=3
        ).collect()
    }
    w = Window.partitionBy("g").orderBy(
        F.col("n").desc(), F.col("item").asc()
    )
    want = {
        (r["g"], r["item"]): (r["n"], r["rank"])
        for r in df.groupBy("g", "item")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .collect()
    }
    assert got == want


def test_cdc_stream_two_batches_and_bucket_emptying(spark, tmp_path):
    """Streaming CDC maintenance: two micro-batches (two source files)
    apply sequentially; a delete that empties an entire hash bucket
    must not leave stale rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mhm_data_pipelines_spark.operators.cdc import cdc_apply
    from mhm_data_pipelines_spark.streaming.ingest import (
        cdc_stream,
        read_cdc_snapshot,
    )

    base_rows = [(k, f"s{k}", float(k) * 10) for k in range(1, 9)]
    base = spark.createDataFrame(
        base_rows, "k long, status string, total double"
    )

    ch_dir = tmp_path / "changes"
    ch_dir.mkdir()
    sch = pa.schema(
        [
            ("k", pa.int64()),
            ("status", pa.string()),
            ("total", pa.float64()),
            ("seq", pa.int64()),
            ("op", pa.string()),
        ]
    )

    def _file(name, rows):
        cols = list(zip(*rows)) if rows else [[]] * 5
        pq.write_table(
            pa.table(
                {f.name: list(c) for f, c in zip(sch, cols)}, schema=sch
            ),
            str(ch_dir / name),
        )

    # batch 1: update k=1, insert k=100, delete k=2
    _file("b1.parquet", [
        (1, "u1", 11.0, 1, "U"),
        (100, "new", 5.0, 1, "I"),
        (2, None, None, 1, "D"),
    ])
    # batch 2: delete the k=1 it updated, update k=100 again
    _file("b2.parquet", [
        (1, None, None, 2, "D"),
        (100, "new2", 6.0, 2, "U"),
    ])

    changes = (
        spark.readStream.schema(
            "k long, status string, total double, seq long, op string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(ch_dir))
    )
    snap = str(tmp_path / "snapshot")
    q = cdc_stream(
        changes, base, snap, ["k"],
        checkpoint_dir=str(tmp_path / "ckpt"), n_buckets=4,
    )
    q.awaitTermination(180)

    got = {
        r["k"]: (r["status"], r["total"])
        for r in read_cdc_snapshot(spark, snap).collect()
    }
    # sequential batch replay with the batch operator as the reference
    ch1 = spark.createDataFrame(
        [(1, "u1", 11.0, 1, "U"), (100, "new", 5.0, 1, "I"),
         (2, None, None, 1, "D")],
        "k long, status string, total double, seq long, op string",
    )
    ch2 = spark.createDataFrame(
        [(1, None, None, 2, "D"), (100, "new2", 6.0, 2, "U")],
        "k long, status string, total double, seq long, op string",
    )
    want_df = cdc_apply(cdc_apply(base, ch1, ["k"]), ch2, ["k"])
    want = {
        r["k"]: (r["status"], r["total"]) for r in want_df.collect()
    }
    assert got == want
    assert 1 not in got and 2 not in got and got[100] == ("new2", 6.0)


def test_cdc_stream_single_key_bucket_fully_deleted(spark, tmp_path):
    """n_buckets=1 forces every key into one bucket; deleting ALL keys
    must leave an empty snapshot: the emptied bucket is an empty dir,
    and the reserved zero-row ``_bucket=-1`` partition keeps reads
    schema-valid (zero rows)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mhm_data_pipelines_spark.streaming.ingest import (
        cdc_stream,
        read_cdc_snapshot,
    )

    base = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)],
        "k long, status string, total double",
    )
    ch_dir = tmp_path / "ch"
    ch_dir.mkdir()
    sch = "k long, status string, total double, seq long, op string"
    spark.createDataFrame(
        [(1, None, None, 1, "D"), (2, None, None, 1, "D")], sch
    ).coalesce(1).write.parquet(str(ch_dir / "b1"))
    changes = spark.readStream.schema(sch).option(
        "recursiveFileLookup", "true"
    ).parquet(str(ch_dir))
    snap = str(tmp_path / "snap")
    q = cdc_stream(
        changes, base, snap, ["k"],
        checkpoint_dir=str(tmp_path / "ck"), n_buckets=1,
    )
    q.awaitTermination(180)
    assert read_cdc_snapshot(spark, snap).count() == 0
    assert not [
        f for f in os.listdir(f"{snap}/_bucket=0") if f.endswith(".parquet")
    ]


def test_drain_timeout_stops_stream_and_names_key():
    """A drain that outlives its timeout must not hand back a partial
    sink: the stream is stopped and the error names the key."""
    import pytest

    from mhm_data_pipelines_spark.benchmarks.registry import _await_drain

    class StuckQuery:
        stopped = False

        def awaitTermination(self, timeout):
            return False

        def stop(self):
            self.stopped = True

    q = StuckQuery()
    with pytest.raises(TimeoutError, match="stream_cdc"):
        _await_drain(q, "stream_cdc")
    assert q.stopped


def _replay_source(spark, root):
    """Two one-file micro-batches covering every column the partial
    sinks read; doc 5 is a near-copy of doc 1 (a cross-batch near-dup)."""
    import os
    import time
    from datetime import datetime

    base = (
        "the quick brown fox jumps over the lazy dog and keeps on "
        "running through the quiet field"
    )
    texts = {
        1: base,
        5: base.replace("quick", "swift"),
        **{i: f"unrelated document {i} about engines and gears"
           for i in (2, 3, 4, 6, 7, 8)},
    }
    schema = (
        "doc_id long, site string, participant_id string, metric string, "
        "ts timestamp, item long, v double, text string"
    )
    rows = [
        (
            i,
            ("LON", "NYC")[i % 2],
            f"P{i % 3}",
            "steps",
            datetime(2024, 12, 28 + i % 3, i),
            i % 4,
            float(i - 3),
            texts[i],
        )
        for i in range(1, 9)
    ]
    src = f"{root}/src"
    df = spark.createDataFrame(rows, schema)
    df.filter(F.col("doc_id") <= 4).coalesce(1).write.parquet(f"{src}/b0")
    df.filter(F.col("doc_id") > 4).coalesce(1).write.parquet(f"{src}/b1")
    old = time.time() - 3600  # b0 must form micro-batch 0
    for d, _, files in os.walk(f"{src}/b0"):
        for fn in files:
            os.utime(os.path.join(d, fn), (old, old))
    return (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )


_RULES = [{"name": "v_range", "kind": "range", "col": "v", "min": 0.0}]

#: sink → (writer of (stream, out, checkpoint), merged read of (spark, out))
REPLAY_CASES = {
    "incremental_overview": (
        ingest.incremental_overview,
        lambda sp, out: merge_partial_overview(sp.read.parquet(out)),
    ),
    "sketch_stream": (
        lambda st, out, ck: ingest.sketch_stream(
            st, out, ck, ("site",), "participant_id"
        ),
        lambda sp, out: estimate(ingest.read_sketch_table(sp, out, ("site",))),
    ),
    "manifest_stream": (
        lambda st, out, ck: ingest.manifest_stream(
            st, out, ck, ["doc_id", "text"], n_buckets=4
        ),
        ingest.read_manifest_table,
    ),
    "enrich_stream": (
        lambda st, out, ck: ingest.enrich_stream(
            st,
            st.sparkSession.createDataFrame(
                [("LON", "UK"), ("NYC", "US")], "site string, country string"
            ),
            ["site"], ["country"], "v", out, ck,
        ),
        lambda sp, out: ingest.read_enriched_table(sp, out, ["country"]),
    ),
    "validate_stream": (
        lambda st, out, ck: ingest.validate_stream(st, _RULES, out, ck),
        ingest.read_validation_table,
    ),
    "topk_stream": (
        lambda st, out, ck: ingest.topk_stream(st, out, ck, ("site",), "item"),
        lambda sp, out: ingest.read_topk_table(
            sp, out, ("site",), "item", k=3
        ),
    ),
    "neardup_stream": (
        lambda st, out, ck: neardup_stream(
            st, f"{out}_index", ck, out, threshold=0.5
        ),
        lambda sp, out: sp.read.parquet(out).drop("batch_id"),
    ),
}


@pytest.mark.parametrize("sink", sorted(REPLAY_CASES))
def test_partial_sink_replay_leaves_merged_read_unchanged(
    spark, tmp_path, sink
):
    """Exactly-once under replay: Spark re-runs an epoch whose output
    was written but whose checkpoint commit was lost. Drain two
    micro-batches, delete the last commit, restart — the re-run epoch
    must replace its own output, so the merged read is unchanged."""
    import os

    make_writer, read = REPLAY_CASES[sink]
    stream = _replay_source(spark, str(tmp_path))
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")

    def drain():
        q = make_writer(stream, out, ck).trigger(availableNow=True).start()
        assert q.awaitTermination(300)

    def merged():
        return sorted(tuple(map(str, r)) for r in read(spark, out).collect())

    drain()
    first = merged()
    assert first
    assert sorted(os.listdir(f"{ck}/commits"))[-1] == "1"  # two epochs
    for name in ("1", ".1.crc"):
        if os.path.exists(f"{ck}/commits/{name}"):
            os.remove(f"{ck}/commits/{name}")
    drain()
    assert os.path.exists(f"{ck}/commits/1")  # epoch 1 ran again
    assert merged() == first
