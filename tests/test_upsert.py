"""Latest-wins merge: version resolution, tie determinism, pass-through
of untouched rows, and partition-scoped rewrite on disk."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from mhm_data_pipelines_spark.operators.upsert import (
    latest_wins,
    merge_upsert,
    write_upsert_partitioned,
)

SCHEMA = "k bigint, v bigint, payload string, pt string"


def test_latest_wins_and_ties(spark):
    df = spark.createDataFrame(
        [
            (1, 1, "old", "a"),
            (1, 3, "new", "a"),
            (1, 2, "mid", "a"),
            (2, 5, "zz", "b"),
            (2, 5, "aa", "b"),  # duplicate version: struct order breaks tie
        ],
        SCHEMA,
    )
    got = {r.k: (r.v, r.payload) for r in latest_wins(df, ["k"], "v").collect()}
    assert got[1] == (3, "new")
    assert got[2] == (5, "zz")  # max struct: (5,'zz') > (5,'aa')


def test_merge_upsert_semantics(spark):
    base = spark.createDataFrame(
        [(1, 1, "one", "a"), (2, 1, "two", "a"), (3, 1, "three", "b")], SCHEMA
    )
    updates = spark.createDataFrame(
        [
            (2, 2, "two-v2", "a"),   # overwrite
            (2, 0, "stale", "a"),    # stale update loses to base? no — loses to v2
            (4, 1, "four", "b"),     # insert
        ],
        SCHEMA,
    )
    got = {r.k: (r.v, r.payload) for r in merge_upsert(base, updates, ["k"], "v").collect()}
    assert got == {
        1: (1, "one"),
        2: (2, "two-v2"),
        3: (1, "three"),
        4: (1, "four"),
    }


def test_partitioned_rewrite_touches_only_updated_partitions(spark, tmp_path):
    base_path = str(tmp_path / "tbl")
    spark.createDataFrame(
        [(1, 1, "one", "a"), (2, 1, "two", "a"), (3, 1, "three", "b"), (5, 1, "five", "c")],
        SCHEMA,
    ).write.partitionBy("pt").parquet(base_path)
    import os

    mtime_b = max(
        os.path.getmtime(os.path.join(r, f))
        for r, _, fs in os.walk(base_path) for f in fs if "pt=b" in r
    )
    updates = spark.createDataFrame([(2, 9, "two-v9", "a")], SCHEMA)
    write_upsert_partitioned(base_path, updates, ["k"], "v", "pt")

    after = spark.read.parquet(base_path)
    got = {r.k: (r.v, r.payload) for r in after.collect()}
    assert got == {
        1: (1, "one"), 2: (9, "two-v9"), 3: (1, "three"), 5: (1, "five")
    }
    # untouched partition files not rewritten
    mtime_b_after = max(
        os.path.getmtime(os.path.join(r, f))
        for r, _, fs in os.walk(base_path) for f in fs if "pt=b" in r
    )
    assert mtime_b_after == mtime_b


def _upsert_case(spark, root):
    base = f"{root}/tbl"
    spark.createDataFrame(
        [(1, 1, "one", "a"), (2, 1, "two", "a"), (3, 1, "three", "b")],
        SCHEMA,
    ).write.partitionBy("pt").parquet(base)
    updates = spark.createDataFrame([(2, 9, "two-v9", "a")], SCHEMA)

    def state():
        return {
            r.k: (r.v, r.payload) for r in spark.read.parquet(base).collect()
        }

    def run():
        write_upsert_partitioned(base, updates, ["k"], "v", "pt")

    return state, run, {1: (1, "one"), 2: (9, "two-v9"), 3: (1, "three")}


def _erase_case(spark, root):
    from mhm_data_pipelines_spark.operators.upsert import erase_subjects

    base = f"{root}/tbl"
    spark.createDataFrame(
        [(u, f"p{u % 2}", float(u)) for u in range(6)],
        "user_id long, part string, v double",
    ).write.partitionBy("part").parquet(base)
    subjects = spark.createDataFrame([(2,), (3,)], "user_id long")

    def state():
        return {
            (r.user_id, r.part) for r in spark.read.parquet(base).collect()
        }

    def run():
        erase_subjects(base, subjects, "user_id", "part")

    return state, run, {(0, "p0"), (1, "p1"), (4, "p0"), (5, "p1")}


def _ivm_case(spark, root):
    from mhm_data_pipelines_spark.operators.ivm import (
        apply_increment,
        init_rollup_table,
        read_rollup,
    )

    path = f"{root}/roll"
    rows = [(i % 3, float(i)) for i in range(12)]
    init_rollup_table(
        spark, path, spark.createDataFrame(rows[:6], "g long, v double"),
        ["g"], "v", n_buckets=4,
    )
    batch = spark.createDataFrame(rows[6:], "g long, v double")

    def state():
        return {
            r.g: (r.n, r.s1) for r in read_rollup(spark, path).collect()
        }

    def run():
        apply_increment(spark, path, batch, ["g"], "v")

    want = {}
    for g, v in rows:
        n, s1 = want.get(g, (0, 0.0))
        want[g] = (n + 1, s1 + v)
    return state, run, want


def _index_compaction_case(spark, root):
    from mhm_data_pipelines_spark.operators.dedup import minhash_signatures
    from mhm_data_pipelines_spark.streaming.stateful import (
        compact_signature_index,
    )

    index = f"{root}/sigidx"
    docs = spark.createDataFrame(
        [(i, f"document number {i} with shared words") for i in range(6)],
        "doc_id long, text string",
    )
    for b in range(3):
        minhash_signatures(
            docs.filter(F.col("doc_id") % 3 == b), num_hashes=8
        ).write.parquet(f"{index}/batch_id={b}")

    def state():
        rows = spark.read.parquet(index).collect()
        return (
            {(r.doc_id, tuple(r.signature)) for r in rows},
            {r.batch_id for r in rows},
        )

    def run():
        compact_signature_index(spark, index, target_files=2)

    return state, run, (state()[0], {-1})


@pytest.mark.parametrize(
    "case",
    [_upsert_case, _erase_case, _ivm_case, _index_compaction_case],
    ids=[
        "write_upsert_partitioned",
        "erase_subjects",
        "ivm_apply_increment",
        "compact_signature_index",
    ],
)
def test_crash_between_write_and_swap_leaves_base_intact(
    spark, tmp_path, monkeypatch, case
):
    """Commit-protocol crash injection for every partition rewrite: die
    after the temp-dir write but before any partition swap — the table
    must read as before, with only an orphaned temp dir left, and a
    retry must converge."""
    import mhm_data_pipelines_spark.sources.io as sio

    state, run, want = case(spark, str(tmp_path))
    before = state()

    def boom(*a, **k):
        raise RuntimeError("injected crash before swap")

    monkeypatch.setattr(sio, "_swap_partitions", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        run()
    assert state() == before  # base untouched
    # written-but-unpublished rewrite survives for cleanup
    assert [d for d in os.listdir(tmp_path) if "__rewrite_tmp_" in d]

    monkeypatch.undo()
    run()
    assert state() == want


def test_partitioned_rewrite_restores_overwrite_mode(spark, tmp_path):
    """The session-global partitionOverwriteMode must come back to its
    prior value (upsert sets 'dynamic' only for its own write)."""
    base_path = str(tmp_path / "tbl2")
    spark.createDataFrame([(1, 1, "one", "a")], SCHEMA).write.partitionBy(
        "pt"
    ).parquet(base_path)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        updates = spark.createDataFrame([(1, 2, "one-v2", "a")], SCHEMA)
        write_upsert_partitioned(base_path, updates, ["k"], "v", "pt")
        assert (
            spark.conf.get("spark.sql.sources.partitionOverwriteMode")
            == "static"
        )
        got = {r.k: (r.v, r.payload) for r in spark.read.parquet(base_path).collect()}
        assert got == {1: (2, "one-v2")}
    finally:
        spark.conf.unset("spark.sql.sources.partitionOverwriteMode")


# ----------------------------------------------------------------- SCD2
from mhm_data_pipelines_spark.operators.upsert import (
    erase_subjects,
    scd2_history,
)


def test_scd2_intervals_and_current_flag(spark):
    rows = [
        ("k1", 1, "a"), ("k1", 3, "b"), ("k1", 7, "c"),
        ("k2", 2, "x"),
    ]
    df = spark.createDataFrame(rows, "k string, v int, payload string")
    out = {(r["k"], r["v"]): (r["valid_to"], r["is_current"])
           for r in scd2_history(df, ["k"], "v").collect()}
    assert out == {
        ("k1", 1): (3, False),
        ("k1", 3): (7, False),
        ("k1", 7): (None, True),
        ("k2", 2): (None, True),
    }


def test_erase_subjects_rewrites_only_touched(spark, tmp_path):
    base = str(tmp_path / "tbl")
    rows = [(u, f"p{u % 3}", float(u)) for u in range(30)]
    df = spark.createDataFrame(rows, "user_id long, part string, v double")
    df.write.partitionBy("part").parquet(base)
    subjects = spark.createDataFrame([(3,), (6,), (999,)], "user_id long")
    # users 3 and 6 both live in part p0; 999 doesn't exist
    res = erase_subjects(base, subjects, "user_id", "part")
    assert res == {"partitions_rewritten": 1, "rows_erased": 2}
    back = spark.read.parquet(base)
    ids = {r["user_id"] for r in back.collect()}
    assert 3 not in ids and 6 not in ids and len(ids) == 28
    # untouched partitions intact
    assert back.filter(F.col("part") == "p1").count() == 10


def test_upsert_retires_stale_row_on_partition_move(spark, tmp_path):
    """An update that changes a key's partition_col must retire the
    stale base row in the OLD partition — one row per merge key after
    the merge, like Delta MERGE (ADVICE r5: upsert.py:94)."""
    base_path = str(tmp_path / "tbl_move")
    spark.createDataFrame(
        [(1, 1, "one", "a"), (2, 1, "two", "a"), (3, 1, "three", "b")],
        SCHEMA,
    ).write.partitionBy("pt").parquet(base_path)
    # key 3 moves from pt=b to pt=c; pt=b becomes empty
    updates = spark.createDataFrame([(3, 2, "three-v2", "c")], SCHEMA)
    write_upsert_partitioned(base_path, updates, ["k"], "v", "pt")
    rows = spark.read.parquet(base_path).collect()
    got = {r.k: (r.v, r.payload, r.pt) for r in rows}
    assert got == {
        1: (1, "one", "a"),
        2: (1, "two", "a"),
        3: (2, "three-v2", "c"),
    }
    assert len(rows) == 3  # no duplicate for the moved key


def test_upsert_null_partition_value(spark, tmp_path):
    """NULL partition values (__HIVE_DEFAULT_PARTITION__) must be
    merged like any other partition, not silently skipped by isin."""
    base_path = str(tmp_path / "tbl_null")
    spark.createDataFrame(
        [(1, 1, "one", None), (2, 1, "two", "a")], SCHEMA
    ).write.partitionBy("pt").parquet(base_path)
    updates = spark.createDataFrame([(1, 2, "one-v2", None)], SCHEMA)
    write_upsert_partitioned(base_path, updates, ["k"], "v", "pt")
    got = {r.k: (r.v, r.payload, r.pt) for r in spark.read.parquet(base_path).collect()}
    assert got == {1: (2, "one-v2", None), 2: (1, "two", "a")}


def test_erase_subjects_escaped_and_null_partitions(spark, tmp_path):
    """Partition values needing %XX path escaping, and NULL partition
    values, must be fully rewritten — publishing a raw-f-string dir
    would leave the subject's data alive (ADVICE r5: upsert.py:231)."""
    import os

    base = str(tmp_path / "tbl_esc")
    rows = [
        (1, "a:b/c%", 1.0),
        (2, "a:b/c%", 2.0),
        (3, None, 3.0),
        (4, "plain", 4.0),
    ]
    spark.createDataFrame(
        rows, "user_id long, part string, v double"
    ).write.partitionBy("part").parquet(base)
    # erase the ONLY escaped-partition subject 1+2 and the NULL-part 3:
    # both partitions end up empty → explicit empty-dir publish path
    subjects = spark.createDataFrame([(1,), (2,), (3,)], "user_id long")
    res = erase_subjects(base, subjects, "user_id", "part")
    assert res == {"partitions_rewritten": 2, "rows_erased": 3}
    back = spark.read.parquet(base)
    assert {r["user_id"] for r in back.collect()} == {4}
    dirs = {d for d in os.listdir(base) if d.startswith("part=")}
    # the escaped dir was retired (now empty), no bogus unescaped twin
    assert "part=a:b/c%" not in dirs
    for d in dirs:
        full = os.path.join(base, d)
        files = [f for f in os.listdir(full) if f.endswith(".parquet")]
        if d != "part=plain":
            assert files == [], f"stale data survived in {d}"


def test_erase_subjects_timestamp_partition_cast_rendering(spark, tmp_path):
    """Timestamp partition values with trailing-zero fractional seconds
    render differently under Python str() ('...123000') vs Spark's
    Cast ('...123'); dir names must use the Cast rendering or the
    emptied partition survives the swap with the subject's data
    (ADVICE r6: _partition_value_str)."""
    import os
    from datetime import datetime

    base = str(tmp_path / "tbl_ts")
    rows = [
        (1, datetime(2024, 1, 2, 3, 4, 5, 123000), 1.0),
        (2, datetime(2030, 6, 7, 8, 9, 10), 2.0),
    ]
    spark.createDataFrame(
        rows, "user_id long, ts timestamp, v double"
    ).write.partitionBy("ts").parquet(base)
    res = erase_subjects(
        base, spark.createDataFrame([(1,)], "user_id long"), "user_id", "ts"
    )
    assert res == {"partitions_rewritten": 1, "rows_erased": 1}
    assert {r["user_id"] for r in spark.read.parquet(base).collect()} == {2}
    dirs = [d for d in os.listdir(base) if d.startswith("ts=")]
    # no bogus str()-named twin; the real Cast-named dir was emptied
    assert not any("123000" in d for d in dirs), dirs
    (emptied,) = [d for d in dirs if ".123" in d]
    files = [f for f in os.listdir(os.path.join(base, emptied))
             if f.endswith(".parquet")]
    assert files == [], f"stale subject data survived in {emptied}"


def test_erase_subjects_double_partition_cast_rendering(spark, tmp_path):
    """Double partition values in scientific notation: str(1e20) is
    '1e+20' but Spark's Cast renders '1.0E20' — same failure class as
    the timestamp case (ADVICE r6)."""
    import os

    base = str(tmp_path / "tbl_dbl")
    rows = [(1, 1e20, "a"), (2, 0.5, "b")]
    spark.createDataFrame(
        rows, "user_id long, bucket double, payload string"
    ).write.partitionBy("bucket").parquet(base)
    res = erase_subjects(
        base, spark.createDataFrame([(1,)], "user_id long"),
        "user_id", "bucket",
    )
    assert res == {"partitions_rewritten": 1, "rows_erased": 1}
    assert {r["user_id"] for r in spark.read.parquet(base).collect()} == {2}
    dirs = [d for d in os.listdir(base) if d.startswith("bucket=")]
    assert not any("1e+20" in d for d in dirs), dirs
    (emptied,) = [d for d in dirs if "E20" in d]
    files = [f for f in os.listdir(os.path.join(base, emptied))
             if f.endswith(".parquet")]
    assert files == [], f"stale subject data survived in {emptied}"


def test_erase_subjects_noop_and_full_partition(spark, tmp_path):
    base = str(tmp_path / "tbl2")
    rows = [(1, "a", 1.0), (2, "b", 2.0)]
    spark.createDataFrame(rows, "user_id long, part string, v double")\
        .write.partitionBy("part").parquet(base)
    # no matching subjects -> zero work
    none = spark.createDataFrame([(42,)], "user_id long")
    assert erase_subjects(base, none, "user_id", "part") == {
        "partitions_rewritten": 0, "rows_erased": 0}
    # erasing the only row of a partition leaves that partition EMPTY
    one = spark.createDataFrame([(1,)], "user_id long")
    res = erase_subjects(base, one, "user_id", "part")
    assert res == {"partitions_rewritten": 1, "rows_erased": 1}
    back = spark.read.parquet(base)
    assert {r["user_id"] for r in back.collect()} == {2}
