"""Registry of every SURVEY.md §2 operator as a (Spark query, DuckDB
oracle SQL) pair over the driver's synthetic tables
(``/root/testdata/sf*/``). This backs ``__spark_entry__.py`` and
``bench.py``.

Mapping of the phenotyping domain onto the synthetic star schema:
``events`` plays the sensor stream (user_id ≈ participant, event_type ≈
metric, ts, value); ``documents``/``embeddings`` back the training-data
extensions; the TPC-H tables exercise the join/sort/window pass-through
surface that the reference lacks but the engine exposes (SURVEY §2.3/2.6).

Cross-engine hash-match conventions (BASELINE.md caveats):
* every computed column aliased identically on both sides;
* float aggregates rounded on BOTH sides — 2dp for large sums, 4dp for
  means/ratios (fp accumulation order differs between engines);
* ``stddev_pop`` (np.std ddof=0 parity), exact interpolated ``median``;
* no bare ``sum(int)`` in oracles (DuckDB yields HUGEINT → cast BIGINT).

Adding a key takes three things, side by side in its family's section:
a ``q_<key>(spark, sf_dir)`` function, its oracle SQL (by convention
``SQL_<KEY>``), and one ``query(q_<key>, SQL_<KEY>)`` line below the
later of the two (``bench=True`` to time it in bench.py). ``query``
fills QUERIES, ORACLES and BENCH_QUERIES; the only other key list is
GATE_PRIORITY, the driver's frozen 50-key ordering.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mhm_data_pipelines_spark.functions.stats import stats_agg_exprs
from mhm_data_pipelines_spark.functions.text import (
    STOPWORDS,
    char_ngrams,
    fingerprint,
    lang_id,
    punct_ratio,
    quality_score,
    stopword_ratio,
    tokens,
)
from mhm_data_pipelines_spark.functions.timeutils import iso_week_key
from mhm_data_pipelines_spark.operators.dedup import (
    MINHASH_MD5_P,
    dedup_exact,
    exact_duplicates,
    embedding_near_duplicates,
    minhash_lsh_candidates,
    minhash_near_duplicates,
    minhash_signatures,
    simhash,
    simhash_duplicates,
    simhash_near_duplicates,
)
from mhm_data_pipelines_spark.operators.overview import (
    missing_data_report,
    overview_stats,
)
from mhm_data_pipelines_spark.operators.similarity import (
    brute_force_topk,
    ivf_topk,
    label_centroids,
    label_centroids_long,
    lsh_topk,
)

QuerySpec = Callable[[SparkSession, str], DataFrame]

#: Key -> query builder, in declaration order.
QUERIES: dict[str, QuerySpec] = {}
#: Key -> DuckDB oracle SQL.
ORACLES: dict[str, str] = {}
#: Headline queries timed by bench.py at sf0.1, in declaration order.
BENCH_QUERIES: list[str] = []


def query(fn: QuerySpec, oracle: str, *, bench: bool = False) -> None:
    """Register ``fn`` under its name minus ``q_`` with its DuckDB
    oracle SQL; ``bench=True`` also puts the key in BENCH_QUERIES."""
    key = fn.__name__.removeprefix("q_")
    if key in QUERIES:
        raise ValueError(f"query {key!r} is already registered")
    QUERIES[key] = fn
    ORACLES[key] = oracle
    if bench:
        BENCH_QUERIES.append(key)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


#: Per-SESSION memo of analyzed table DataFrames. The synthetic tables
#: are immutable per round, but every ``spark.read.parquet`` re-lists
#: the path and re-reads footers for schema — repeated for EVERY table
#: reference in every query construction (tpch_q8 touches 7 tables;
#: ~10 s of the 42-query bench was this). Memoizing the analyzed plan
#: (not data — nothing is persisted) removes the repeat I/O. Keyed by
#: the SparkSession OBJECT (weakly — entries die with their session):
#: ``spark.newSession()`` siblings share an applicationId but must not
#: share plans or session state, so the session itself is the only
#: correct key. Call ``load_table_cache_clear()`` if the files under a
#: cached path are rewritten mid-session.
import weakref

_TABLE_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def load_table_cache_clear() -> None:
    _TABLE_CACHE.clear()


#: Resources created by query BUILDERS that outlive the build (persisted
#: frames playing the role of a stored table, mkdtemp scratch roots for
#: sink/stream gates). Builders register them here; harnesses call
#: :func:`release_query_resources` once the returned DataFrame is fully
#: consumed. This replaces the old blanket ``spark.catalog.clearCache()``
#: in bench.py (ADVICE r4: the leaks spanned ever more queries) with a
#: deterministic, scoped release. atexit cleans any scratch left behind
#: by harnesses that never call it (e.g. the driver's one-shot gate).
_LIVE_FRAMES: list[DataFrame] = []
_SCRATCH_ROOTS: list[str] = []
_LIVE_TABLES: list = []  # (weakref to session, table name)


def _track_table(spark, table: str) -> str:
    """Register a builder-created catalog table for later DROP."""
    _LIVE_TABLES.append((weakref.ref(spark), table))
    return table


def _track(df: DataFrame) -> DataFrame:
    """Register a builder-persisted frame for later release."""
    _LIVE_FRAMES.append(df)
    return df


def _scratch(prefix: str) -> str:
    """mkdtemp that release_query_resources / atexit will delete."""
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    _SCRATCH_ROOTS.append(d)
    return d


def release_query_resources() -> None:
    """Unpersist tracked frames and delete scratch dirs. Call only
    AFTER the DataFrames returned by the query builders are fully
    consumed — their lazy plans read from these resources."""
    import shutil

    for df in _LIVE_FRAMES:
        try:
            df.unpersist()
        except Exception:
            pass
    _LIVE_FRAMES.clear()
    for d in _SCRATCH_ROOTS:
        shutil.rmtree(d, ignore_errors=True)
    _SCRATCH_ROOTS.clear()
    for ref, table in _LIVE_TABLES:
        spark = ref()
        if spark is not None:
            try:
                spark.sql(f"DROP TABLE IF EXISTS {table}")
            except Exception:
                pass
    _LIVE_TABLES.clear()


import atexit

atexit.register(release_query_resources)


def _await_drain(q, key: str) -> None:
    """Wait for an availableNow stream to drain. On timeout stop it and
    raise, because its sink would hold a partial result."""
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError(f"{key}: availableNow drain exceeded 300 s")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic table. ``events.ts`` has shipped as both
    TIMESTAMP(NANOS) — which Spark reads as LongType nanos under the
    ``nanosAsLong`` conf and we convert to a µs timestamp (lossless, the
    data carries no sub-µs component) — and as a native µs timestamp,
    which needs no conversion. Detect by the read schema, not the sf."""
    # Set the conf on THIS session even on a cache hit, so ad-hoc
    # parquet reads beside the memoized plans see the same behavior.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    per_session = _TABLE_CACHE.setdefault(spark, {})
    key = (sf_dir, name)
    got = per_session.get(key)
    if got is not None:
        return got
    df = _normalize_ts(spark.read.parquet(f"{sf_dir}/{name}.parquet"))
    per_session[key] = df
    return df


def _normalize_ts(df: DataFrame) -> DataFrame:
    """Normalize a ``ts`` column to session-TZ TIMESTAMP: nanos-as-long
    files get a µs conversion; TIMESTAMP_NTZ files get an epoch-identity
    cast (session TZ is pinned UTC) — watermarks and ``unix_micros``
    require the LTZ type."""
    for field in df.schema.fields:
        if field.name != "ts":
            continue
        t = field.dataType.simpleString()
        if t == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif t == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# --------------------------------------------------------------------------
# Reference surface: overview / availability / time keys (SURVEY §2.4-2.5)
# --------------------------------------------------------------------------

def q_overview_stats(spark, sf_dir):
    """A3/A4/A5/O1: per-(participant, metric) row count, date range,
    distinct-day count — process-overview.py:207-226 on the events table."""
    out = overview_stats(
        _t(spark, sf_dir, "events"), ts="ts", group_cols=["user_id", "event_type"]
    )
    # DATE columns as ISO strings: engines disagree on date↔timestamp
    # representation after pandas conversion; strings hash identically.
    return out.withColumn(
        "start_date", F.col("start_date").cast("string")
    ).withColumn("end_date", F.col("end_date").cast("string"))


SQL_OVERVIEW_STATS = """
SELECT user_id, event_type,
       count(*) AS row_count,
       strftime(min(CAST(ts AS DATE)), '%Y-%m-%d') AS start_date,
       strftime(max(CAST(ts AS DATE)), '%Y-%m-%d') AS end_date,
       count(DISTINCT CAST(ts AS DATE)) AS day_count
FROM events GROUP BY user_id, event_type
"""
query(q_overview_stats, SQL_OVERVIEW_STATS, bench=True)


def q_feature_stats(spark, sf_dir):
    """A6: the stats block (count/mean/exact-median/stddev_pop/min/max) —
    extract_patient_summary.py:114-118 semantics per metric."""
    df = _t(spark, sf_dir, "events")
    total, mean, median, std, mn, mx = stats_agg_exprs("value")
    return df.groupBy("event_type").agg(
        total,
        F.round(mean, 4).alias("mean"),
        F.round(median, 4).alias("median"),
        F.round(std, 4).alias("std_dev"),
        mn.alias("min_value"),
        mx.alias("max_value"),
    )


SQL_FEATURE_STATS = """
SELECT event_type,
       count(value) AS total_entries,
       round(avg(value), 4) AS mean,
       round(median(value), 4) AS median,
       round(stddev_pop(value), 4) AS std_dev,
       min(value) AS min_value,
       max(value) AS max_value
FROM events GROUP BY event_type
"""
query(q_feature_stats, SQL_FEATURE_STATS, bench=True)


def q_monthly_activity(spark, sf_dir):
    """W1 monthly time keys + A3 counts + sum per (participant, period)."""
    df = _t(spark, sf_dir, "events")
    return df.groupBy(
        "user_id", F.date_format("ts", "yyyy-MM").alias("time_key")
    ).agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


SQL_MONTHLY_ACTIVITY = """
SELECT user_id, strftime(ts, '%Y-%m') AS time_key,
       count(*) AS n, round(sum(value), 2) AS sum_value
FROM events GROUP BY user_id, strftime(ts, '%Y-%m')
"""
query(q_monthly_activity, SQL_MONTHLY_ACTIVITY, bench=True)


def q_iso_week_activity(spark, sf_dir):
    """W1 ISO week keys (watch-list #1: ISO week-year across boundaries)."""
    df = _t(spark, sf_dir, "events")
    return df.groupBy(iso_week_key("ts").alias("week_key")).agg(
        F.count("*").alias("n"),
        F.count_distinct("user_id").alias("n_users"),
    )


SQL_ISO_WEEK_ACTIVITY = """
SELECT printf('%d-W%02d', isoyear(ts), weekofyear(ts)) AS week_key,
       count(*) AS n, count(DISTINCT user_id) AS n_users
FROM events GROUP BY 1
"""
query(q_iso_week_activity, SQL_ISO_WEEK_ACTIVITY)


def q_daily_availability(spark, sf_dir):
    """W2/A13 long form: rows per (participant, date) —
    data_collection.py:113-122."""
    df = _t(spark, sf_dir, "events")
    return df.groupBy(
        "user_id", F.date_format("ts", "yyyy-MM-dd").alias("date")
    ).agg(F.count("*").alias("n"))


SQL_DAILY_AVAILABILITY = """
SELECT user_id, strftime(ts, '%Y-%m-%d') AS date, count(*) AS n
FROM events GROUP BY user_id, strftime(ts, '%Y-%m-%d')
"""
query(q_daily_availability, SQL_DAILY_AVAILABILITY)


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_availability_pivot(spark, sf_dir):
    """A13 pivot: participant × metric count matrix, 0-filled
    (data_collection.py:65). Pivot values supplied → single pass."""
    df = _t(spark, sf_dir, "events")
    return (
        df.groupBy("user_id").pivot("event_type", EVENT_TYPES).count().na.fill(0)
    )


SQL_AVAILABILITY_PIVOT = """
SELECT user_id,
       count(*) FILTER (WHERE event_type = 'click') AS click,
       count(*) FILTER (WHERE event_type = 'error') AS error,
       count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
       count(*) FILTER (WHERE event_type = 'signup') AS signup,
       count(*) FILTER (WHERE event_type = 'view') AS view
FROM events GROUP BY user_id
"""
query(q_availability_pivot, SQL_AVAILABILITY_PIVOT, bench=True)


def q_missing_data(spark, sf_dir):
    """J3 anti-join: expected (participant × metric) minus pairs with
    enough data ("missing or incomplete", README.md:69-71)."""
    df = _t(spark, sf_dir, "events")
    present = (
        df.groupBy("user_id", "event_type")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 5)
        .drop("n")
    )
    expected = df.select("user_id").distinct().crossJoin(
        df.select("event_type").distinct()
    )
    return missing_data_report(present, expected, keys=["user_id", "event_type"])


SQL_MISSING_DATA = """
WITH present AS (
  SELECT user_id, event_type FROM events
  GROUP BY user_id, event_type HAVING count(*) >= 5
), expected AS (
  SELECT u.user_id, t.event_type
  FROM (SELECT DISTINCT user_id FROM events) u
  CROSS JOIN (SELECT DISTINCT event_type FROM events) t
)
SELECT e.user_id, e.event_type FROM expected e
WHERE NOT EXISTS (
  SELECT 1 FROM present p
  WHERE p.user_id = e.user_id AND p.event_type = e.event_type
)
"""
query(q_missing_data, SQL_MISSING_DATA)


def q_device_split(spark, sf_dir):
    """A11 device split: metric renamed metric/device
    (process-overview.py:129-150); device derived from the JSON props."""
    df = _t(spark, sf_dir, "events")
    device = (F.get_json_object("props", "$.k").cast("int") % 3).cast("string")
    return df.groupBy(
        F.concat_ws("/", F.col("event_type"), device).alias("metric_device")
    ).agg(F.count("*").alias("n"))


SQL_DEVICE_SPLIT = """
SELECT event_type || '/' || CAST(CAST(props->>'$.k' AS INTEGER) % 3 AS VARCHAR)
         AS metric_device,
       count(*) AS n
FROM events GROUP BY 1
"""
query(q_device_split, SQL_DEVICE_SPLIT)


def q_value_histogram(spark, sf_dir):
    """A8 value-frequency histogram (bucketed) —
    extract_patient_summary.py:344-374 shape."""
    df = _t(spark, sf_dir, "events")
    return df.groupBy(
        "event_type", F.floor(F.col("value") / 50).alias("bucket")
    ).agg(F.count("*").alias("n"))


SQL_VALUE_HISTOGRAM = """
SELECT event_type, CAST(floor(value / 50) AS BIGINT) AS bucket, count(*) AS n
FROM events GROUP BY event_type, CAST(floor(value / 50) AS BIGINT)
"""
query(q_value_histogram, SQL_VALUE_HISTOGRAM, bench=True)


def q_value_percentiles(spark, sf_dir):
    """Exact interpolated percentiles per metric (Spark ``percentile`` ↔
    DuckDB ``quantile_cont`` — both linear interpolation)."""
    df = _t(spark, sf_dir, "events")
    return df.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
    )


SQL_VALUE_PERCENTILES = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 4) AS p50,
       round(quantile_cont(value, 0.9), 4) AS p90,
       round(quantile_cont(value, 0.99), 4) AS p99
FROM events GROUP BY event_type
"""
query(q_value_percentiles, SQL_VALUE_PERCENTILES)


def q_split_assignment(spark, sf_dir):
    """Deterministic hash-keyed train/val/test split, grouped by source
    (leakage-free: all docs of a source share a split). Uses the md5
    hash family — 60 bits of md5("<source>:<seed>") mod 1e6 — which any
    md5-capable engine reproduces bit-for-bit, so the full per-split
    counts get a value oracle (the xxhash64 family stays the perf
    default; membership stability is covered in tests/test_sampling.py)."""
    from mhm_data_pipelines_spark.operators.sampling import (
        train_val_test_split,
    )

    df = _t(spark, sf_dir, "documents")
    out = train_val_test_split(df, key="source", hash_family="md5")
    return (
        out.groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_distinct("source").alias("n_sources"),
        )
        .orderBy("split")
    )


SQL_SPLIT_ASSIGNMENT = """
WITH b AS (
  SELECT source,
         CAST(('0x' || substr(md5(source || ':42'), 1, 15)) AS BIGINT)
           % 1000000 AS bkt
  FROM documents
), s AS (
  SELECT source,
         CASE WHEN bkt < 800000 THEN 'train'
              WHEN bkt < 900000 THEN 'val'
              ELSE 'test' END AS split
  FROM b
)
SELECT split, count(*) AS n_docs, count(DISTINCT source) AS n_sources
FROM s GROUP BY split ORDER BY split
"""
query(q_split_assignment, SQL_SPLIT_ASSIGNMENT)


def q_summary_assembly(spark, sf_dir):
    """J1: full-outer assembly of two aggregate families per
    (participant, period) with zero-count defaults (watch-list #8)."""
    df = _t(spark, sf_dir, "events")
    month = F.date_format("ts", "yyyy-MM").alias("time_key")
    purchases = (
        df.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", month)
        .agg(F.count("*").alias("p_n"), F.round(F.sum("value"), 2).alias("p_sum"))
    )
    errors = (
        df.filter(F.col("event_type") == "error")
        .groupBy("user_id", month)
        .agg(F.count("*").alias("e_n"))
    )
    joined = purchases.join(errors, ["user_id", "time_key"], "full_outer")
    return joined.na.fill({"p_n": 0, "p_sum": 0.0, "e_n": 0})


SQL_SUMMARY_ASSEMBLY = """
WITH p AS (
  SELECT user_id, strftime(ts, '%Y-%m') AS time_key,
         count(*) AS p_n, round(sum(value), 2) AS p_sum
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
), e AS (
  SELECT user_id, strftime(ts, '%Y-%m') AS time_key, count(*) AS e_n
  FROM events WHERE event_type = 'error' GROUP BY 1, 2
)
SELECT COALESCE(p.user_id, e.user_id) AS user_id,
       COALESCE(p.time_key, e.time_key) AS time_key,
       COALESCE(p_n, 0) AS p_n,
       COALESCE(p_sum, 0.0) AS p_sum,
       COALESCE(e_n, 0) AS e_n
FROM p FULL OUTER JOIN e
  ON p.user_id = e.user_id AND p.time_key = e.time_key
"""
query(q_summary_assembly, SQL_SUMMARY_ASSEMBLY, bench=True)


def q_date_ranges(spark, sf_dir):
    """A4/O3: per-participant observation range + span (main.py:67-74)."""
    df = _t(spark, sf_dir, "events")
    return df.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.datediff(F.to_date(F.max("ts")), F.to_date(F.min("ts"))).alias(
            "span_days"
        ),
    )


SQL_DATE_RANGES = """
SELECT user_id, min(ts) AS first_ts, max(ts) AS last_ts,
       CAST(date_diff('day', CAST(min(ts) AS DATE), CAST(max(ts) AS DATE))
            AS INTEGER) AS span_days
FROM events GROUP BY user_id
"""
query(q_date_ranges, SQL_DATE_RANGES)


def q_distinct_measurements(spark, sf_dir):
    """A10/O2: sorted distinct measurement set per participant
    (summary.py:168-186, main.py:155-173)."""
    df = _t(spark, sf_dir, "events")
    return df.groupBy("user_id").agg(
        F.count_distinct("event_type").alias("n_types"),
        F.array_join(
            F.sort_array(F.collect_set("event_type")), ","
        ).alias("types_csv"),
    )


SQL_DISTINCT_MEASUREMENTS = """
SELECT user_id, count(DISTINCT event_type) AS n_types,
       string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS types_csv
FROM events GROUP BY user_id
"""
query(q_distinct_measurements, SQL_DISTINCT_MEASUREMENTS)


def q_rollup_counts(spark, sf_dir):
    """§2.4 note: per-site + combined 'all sites' convenience as ROLLUP
    (process-overview.py:242-249)."""
    df = _t(spark, sf_dir, "events")
    return df.rollup("event_type").agg(F.count("*").alias("n"))


SQL_ROLLUP_COUNTS = """
SELECT event_type, count(*) AS n FROM events GROUP BY ROLLUP(event_type)
"""
query(q_rollup_counts, SQL_ROLLUP_COUNTS)


def q_tiered_rollup(spark, sf_dir):
    """Hypertable-style tiered rollup (operators.rollup_ts): the DAILY
    tier here is derived from HOURLY partials, never from raw rows —
    the oracle computes daily directly from raw, so the hash match
    proves the partial-merge is lossless."""
    from mhm_data_pipelines_spark.operators.rollup_ts import rollup_tiers

    df = _t(spark, sf_dir, "events")
    tiers = rollup_tiers(
        df, ["1 hour", "1 day"], keys=["user_id"], ts="ts", value="value"
    )
    daily = tiers["1 day"]
    return daily.select(
        "user_id",
        F.col("bucket_start").cast("string").alias("day_start"),
        "n",
        F.round("sum_value", 2).alias("sum_value"),
        "min_value",
        "max_value",
    )


SQL_TIERED_ROLLUP = """
SELECT user_id,
       strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS day_start,
       count(value) AS n,
       round(sum(value), 2) AS sum_value,
       min(value) AS min_value,
       max(value) AS max_value
FROM events GROUP BY user_id, date_trunc('day', ts)
"""
query(q_tiered_rollup, SQL_TIERED_ROLLUP, bench=True)


def q_cube_counts(spark, sf_dir):
    """§2.4 note: all-subtotal convenience as CUBE over (metric, year) —
    one pass produces per-cell, per-metric, per-year, and grand totals."""
    df = _t(spark, sf_dir, "events")
    return df.cube("event_type", F.year("ts").alias("yr")).agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


SQL_CUBE_COUNTS = """
SELECT event_type, CAST(year(ts) AS INTEGER) AS yr, count(*) AS n,
       round(sum(value), 2) AS sum_value
FROM events GROUP BY CUBE(event_type, CAST(year(ts) AS INTEGER))
"""
query(q_cube_counts, SQL_CUBE_COUNTS)


# --------------------------------------------------------------------------
# Join / sort / window pass-through surface (SURVEY §2.3, §2.5-2.7 notes)
# --------------------------------------------------------------------------

def q_tpch_q1(spark, sf_dir):
    """TPC-H Q1-style pricing summary: the canonical scan→agg shape."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


SQL_TPCH_Q1 = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""
query(q_tpch_q1, SQL_TPCH_Q1, bench=True)


def q_tpch_q3(spark, sf_dir):
    """TPC-H Q3-style shipping priority: 3-way join + agg + top-k.
    customer is the small side → explicit broadcast."""
    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01")
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(revenue), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.col("l_orderkey"))
        .limit(10)
    )


SQL_TPCH_Q3 = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""
query(q_tpch_q3, SQL_TPCH_Q3, bench=True)


def q_tpch_q5(spark, sf_dir):
    """TPC-H Q5-style local supplier volume: 6-way join; all dimension
    tables broadcast (region/nation/supplier/customer are tiny at every
    SF — only orders⋈lineitem shuffles)."""
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = _t(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(
            F.broadcast(supp),
            (li["l_suppkey"] == supp["s_suppkey"])
            & (cust["c_nationkey"] == supp["s_nationkey"]),
        )
        .join(F.broadcast(nation), supp["s_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .groupBy("n_name")
        .agg(F.round(F.sum(revenue), 2).alias("revenue"))
    )


SQL_TPCH_Q5 = """
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
"""
query(q_tpch_q5, SQL_TPCH_Q5, bench=True)


def q_tpch_q4(spark, sf_dir):
    """TPC-H Q4-style order priority checking: EXISTS → left-semi join
    (lineitem side is filtered before the shuffle; only o_orderkey +
    priority survive the scan)."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01"))
        & (F.col("o_orderdate") < F.lit("1996-10-01"))
    )
    returned = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    return (
        orders.join(
            returned, orders["o_orderkey"] == returned["l_orderkey"], "left_semi"
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


SQL_TPCH_Q4 = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
"""
query(q_tpch_q4, SQL_TPCH_Q4)


def q_tpch_q6(spark, sf_dir):
    """TPC-H Q6-style forecasting revenue: pure scan→filter→agg; every
    predicate reaches the parquet scan (PushedFilters)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
        & (F.col("l_discount") >= 0.03)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 25)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue"
        )
    )


SQL_TPCH_Q6 = """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 25
"""
query(q_tpch_q6, SQL_TPCH_Q6, bench=True)


def q_tpch_q10(spark, sf_dir):
    """TPC-H Q10-style returned-item reporting: fact⋈fact shuffle join +
    broadcast dims + top-20."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-04-01"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.round(F.sum(revenue), 1).alias("revenue"))
        .orderBy(F.desc("revenue"), F.col("c_custkey"))
        .limit(20)
    )


SQL_TPCH_Q10 = """
SELECT c_custkey, c_name, c_acctbal, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 1) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""
query(q_tpch_q10, SQL_TPCH_Q10, bench=True)


def q_tpch_q12(spark, sf_dir):
    """TPC-H Q12-style shipmode/priority: conditional aggregation
    (CASE-sum) after an equi-join."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).cast("long").alias(
                "high_line_count"
            ),
            F.sum(F.when(is_high, 0).otherwise(1)).cast("long").alias(
                "low_line_count"
            ),
        )
    )


SQL_TPCH_Q12 = """
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l_linestatus
"""
query(q_tpch_q12, SQL_TPCH_Q12)


def q_tpch_q14(spark, sf_dir):
    """TPC-H Q14-style promo revenue: broadcast join + conditional-sum
    ratio in one aggregate."""
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01"))
        & (F.col("l_shipdate") < F.lit("1996-10-01"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .agg(
            F.round(100.0 * F.sum(promo) / F.sum(rev), 4).alias("promo_revenue")
        )
    )


SQL_TPCH_Q14 = """
SELECT round(100.0 * sum(CASE WHEN p_type LIKE 'PROMO%'
                         THEN l_extendedprice * (1 - l_discount)
                         ELSE 0.0 END)
             / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00'
"""
query(q_tpch_q14, SQL_TPCH_Q14)


def q_tpch_q18(spark, sf_dir):
    """TPC-H Q18-style large-volume customers: aggregate → HAVING-style
    filter → semi-join back to the fact tables."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
        .select("l_orderkey", F.round("sum_qty", 2).alias("total_qty"))
    )
    return (
        big.join(orders, big["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("string").alias("o_orderdate"),
            "o_totalprice",
            "total_qty",
        )
    )


SQL_TPCH_Q18 = """
SELECT c_name, c_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate,
       o_totalprice, round(sum_qty, 2) AS total_qty
FROM (
  SELECT l_orderkey, sum(l_quantity) AS sum_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150
)
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""
query(q_tpch_q18, SQL_TPCH_Q18, bench=True)


# The synthetic schema carries no partsupp table and no
# l_shipmode/commitdate/receiptdate, p_container, c_phone columns, so the
# remaining TPC-H shapes are adapted to the columns that exist — the PLAN
# SHAPE (scalar subqueries, correlated aggregates, exists/not-exists,
# outer-join distributions) is what each query exercises, not the spec
# constants.


def q_tpch_q2(spark, sf_dir):
    """TPC-H Q2-style best-supplier-per-part (adapted: the part↔supplier
    link is lineitem, the minimized cost is replaced by maximized
    supplier account balance — no partsupp table). Per-part argmax as a
    ``max_by`` over a comparison struct (acctbal, suppkey tie-break) —
    one hash aggregate, no window sort; every dimension chain
    broadcasts."""
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_type") == "LARGE") & (F.col("p_size") <= 15)
    )
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(_t(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    # Broadcast-filter BEFORE the distinct: the dedup shuffle then
    # carries only the ~5% of link pairs that touch qualifying parts,
    # not every (partkey, suppkey) in the fact table.
    links = (
        _t(spark, sf_dir, "lineitem")
        .join(
            F.broadcast(part.select("p_partkey")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select("l_partkey", "l_suppkey", "p_partkey")
        .distinct()
    )
    cand = links.join(
        F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey")
    )
    pick = F.struct("s_acctbal", "s_suppkey", "s_name", "n_name")
    return (
        cand.groupBy("p_partkey")
        .agg(F.max_by(pick, pick).alias("_b"))
        .select(
            F.round("_b.s_acctbal", 2).alias("s_acctbal"),
            F.col("_b.s_name").alias("s_name"),
            F.col("_b.n_name").alias("n_name"),
            "p_partkey",
        )
    )


SQL_TPCH_Q2 = """
WITH cand AS (
  SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE p_type = 'LARGE' AND p_size <= 15
),
fl AS (
  SELECT pk, s_suppkey, s_acctbal, s_name, n_name FROM cand
  JOIN supplier ON sk = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
),
best AS (
  SELECT pk, s_suppkey FROM (
    SELECT pk, s_suppkey,
           row_number() OVER (PARTITION BY pk
                              ORDER BY s_acctbal DESC, s_suppkey DESC) AS rn
    FROM fl
  ) WHERE rn = 1
)
SELECT round(f.s_acctbal, 2) AS s_acctbal, f.s_name, f.n_name,
       f.pk AS p_partkey
FROM fl f JOIN best b ON f.pk = b.pk AND f.s_suppkey = b.s_suppkey
"""
query(q_tpch_q2, SQL_TPCH_Q2, bench=True)


def q_tpch_q7(spark, sf_dir):
    """TPC-H Q7-style volume shipping between two nations: both
    nation-resolved dimension chains (supplier, customer) are filtered to
    the nation pair BEFORE the join and broadcast; the only shuffle is
    lineitem⋈orders. Year emitted as string (cross-engine int-width
    parity, same convention as monthly_activity)."""
    nation = _t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    orders = _t(spark, sf_dir, "orders")
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.date_format("l_shipdate", "yyyy").alias("l_year"),
        )
        .agg(F.round(F.sum(volume), 2).alias("revenue"))
    )


SQL_TPCH_Q7 = """
SELECT supp_nation, cust_nation, l_year, round(sum(volume), 2) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         strftime(l_shipdate, '%Y') AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
)
GROUP BY supp_nation, cust_nation, l_year
"""
query(q_tpch_q7, SQL_TPCH_Q7)


def q_tpch_q8(spark, sf_dir):
    """TPC-H Q8-style national market share: conditional-sum ratio per
    year. part/customer-chain/supplier-chain all broadcast (each is a
    fraction of lineitem at every SF); one lineitem⋈orders shuffle."""
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    cust = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    national = F.when(F.col("supp_nation") == "NATION_3", volume).otherwise(0.0)
    return (
        li.join(F.broadcast(part.select("p_partkey")),
                F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.date_format("o_orderdate", "yyyy").alias("o_year"))
        .agg(F.round(F.sum(national) / F.sum(volume), 4).alias("mkt_share"))
    )


SQL_TPCH_Q8 = """
SELECT o_year,
       round(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0.0 END)
             / sum(volume), 4) AS mkt_share
FROM (
  SELECT strftime(o_orderdate, '%Y') AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         n2.n_name AS supp_nation
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'EUROPE' AND p_type = 'STANDARD'
)
GROUP BY o_year
"""
query(q_tpch_q8, SQL_TPCH_Q8, bench=True)


def q_tpch_q9(spark, sf_dir):
    """TPC-H Q9-style product-type profit (adapted: no partsupp table →
    profit is discounted revenue without the supplycost term), grouped by
    supplier nation × order year."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").contains("red"))
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(_t(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part.select("p_partkey")),
                F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(
            "nation", F.date_format("o_orderdate", "yyyy").alias("o_year")
        )
        .agg(F.round(F.sum(amount), 2).alias("sum_profit"))
    )


SQL_TPCH_Q9 = """
SELECT n_name AS nation, strftime(o_orderdate, '%Y') AS o_year,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY n_name, strftime(o_orderdate, '%Y')
"""
query(q_tpch_q9, SQL_TPCH_Q9)


def q_tpch_q11(spark, sf_dir):
    """TPC-H Q11-style important stock (adapted: shipped value from
    lineitem replaces partsupp stock value): parts whose value supplied
    by one nation's suppliers exceeds a fraction of that nation's total
    — the group-share-vs-global-scalar HAVING shape. The scalar total
    re-aggregates the (small) per-part aggregate and broadcasts; the
    per-part relation is computed once and reused (no second scan of
    lineitem)."""
    sn = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_0")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    li = _t(spark, sf_dir, "lineitem")
    pv = (
        li.join(F.broadcast(sn), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(F.col("l_extendedprice") * F.col("l_quantity")).alias("_v"))
        .localCheckpoint()  # reused by the scalar and the filter
    )
    thresh = pv.agg((F.sum("_v") * 0.001).alias("_t"))
    return (
        pv.join(F.broadcast(thresh))
        .filter(F.col("_v") > F.col("_t"))
        .select("l_partkey", F.round("_v", 2).alias("value"))
    )


SQL_TPCH_Q11 = """
WITH sn AS (
  SELECT s_suppkey FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_0'
),
pv AS (
  SELECT l_partkey, sum(l_extendedprice * l_quantity) AS v
  FROM lineitem JOIN sn ON l_suppkey = s_suppkey
  GROUP BY l_partkey
)
SELECT l_partkey, round(v, 2) AS value
FROM pv WHERE v > (SELECT sum(v) * 0.001 FROM pv)
"""
query(q_tpch_q11, SQL_TPCH_Q11)


def q_tpch_q13(spark, sf_dir):
    """TPC-H Q13-style customer order-count distribution: left outer join
    preserving order-less customers, then a second aggregation over the
    first's result (the classic two-level group-by)."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .select("o_custkey", "o_orderkey")
    )
    per_cust = (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
    )


SQL_TPCH_Q13 = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey
                   AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count
"""
query(q_tpch_q13, SQL_TPCH_Q13, bench=True)


def q_tpch_q15(spark, sf_dir):
    """TPC-H Q15-style top supplier: quarterly revenue per supplier, then
    the scalar-max subquery realized as a single-row broadcast joined
    back on equality (no driver-side collect). Revenue rounded BEFORE the
    max-equality compare so both engines resolve the same winner."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    rev = li.groupBy("l_suppkey").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("_mx"))
    supp = _t(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(mx), F.col("total_revenue") == F.col("_mx"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


SQL_TPCH_Q15 = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
"""
query(q_tpch_q15, SQL_TPCH_Q15)


def q_tpch_q16(spark, sf_dir):
    """TPC-H Q16-style part/supplier relationship (adapted: the
    part↔supplier link is lineitem, not partsupp): distinct-supplier
    count per (brand, type, size) with NOT-style exclusion filters."""
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#45")
        & (~F.col("p_type").startswith("PROMO"))
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
    )
    links = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        links.join(
            F.broadcast(part.select("p_partkey", "p_brand", "p_type", "p_size")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


SQL_TPCH_Q16 = """
SELECT p_brand, p_type, p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#45'
  AND p_type NOT LIKE 'PROMO%'
  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
GROUP BY p_brand, p_type, p_size
"""
query(q_tpch_q16, SQL_TPCH_Q16)


def q_tpch_q17(spark, sf_dir):
    """TPC-H Q17-style small-quantity-order revenue: correlated per-part
    average realized as a part-level aggregate broadcast back onto the
    fact rows (the aggregate has one row per qualifying part — always
    broadcastable; no window shuffle over the full fact table).
    p_container doesn't exist → p_type plays the second filter."""
    pf = (
        _t(spark, sf_dir, "part")
        .filter((F.col("p_brand") == "Brand#23") & (F.col("p_type") == "MEDIUM"))
        .select("p_partkey")
    )
    li = _t(spark, sf_dir, "lineitem").join(
        F.broadcast(pf), F.col("l_partkey") == F.col("p_partkey")
    )
    thresh = li.groupBy(F.col("l_partkey").alias("_pk")).agg(
        (0.2 * F.avg("l_quantity")).alias("_qty_thresh")
    )
    return (
        li.join(F.broadcast(thresh), F.col("l_partkey") == F.col("_pk"))
        .filter(F.col("l_quantity") < F.col("_qty_thresh"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


SQL_TPCH_Q17 = """
SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#23' AND p_type = 'MEDIUM'
  AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                    FROM lineitem l2
                    WHERE l2.l_partkey = lineitem.l_partkey)
"""
query(q_tpch_q17, SQL_TPCH_Q17, bench=True)


def q_tpch_q19(spark, sf_dir):
    """TPC-H Q19-style discounted revenue: disjunction of three
    brand/size/quantity predicate bundles evaluated after a broadcast
    join (Catalyst cannot split an OR across the join, but every conjunct
    inside each bundle still prunes via the common join key)."""
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    li = _t(spark, sf_dir, "lineitem")
    bundle = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .filter(bundle)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


SQL_TPCH_Q19 = """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
"""
query(q_tpch_q19, SQL_TPCH_Q19)


def q_tpch_q20(spark, sf_dir):
    """TPC-H Q20-style supplier promotion shortlist (adapted: shipped
    quantity from lineitem replaces partsupp availqty): suppliers whose
    1996 shipped volume of any 'blue' part exceeds a threshold, restricted
    to one nation. The qualifying-supplier set flows into a LEFT SEMI join
    so supplier rows are never duplicated."""
    pf = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").contains("blue"))
        .select("p_partkey")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    qualifying = (
        li.join(F.broadcast(pf), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("_qty"))
        .filter(F.col("_qty") > 45)
        .select("l_suppkey")
    )
    nation = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    return (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"), "left_semi")
        .join(qualifying, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_name", "s_acctbal")
    )


SQL_TPCH_Q20 = """
SELECT s_name, s_acctbal
FROM supplier
WHERE s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_name = 'NATION_3')
  AND s_suppkey IN (
    SELECT l_suppkey
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_name LIKE '%blue%'
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_suppkey, l_partkey
    HAVING sum(l_quantity) > 45
  )
"""
query(q_tpch_q20, SQL_TPCH_Q20)


def q_tpch_q21(spark, sf_dir):
    """TPC-H Q21-style waiting-supplier report (adapted: returnflag 'R'
    on finalized orders plays the late-delivery flag; no receipt/commit
    dates in the schema). EXISTS → LEFT SEMI and NOT EXISTS → LEFT ANTI,
    both as equi-joins on orderkey with the supplier-inequality residual
    — shuffled hash semi/anti joins, never a nested loop."""
    li = _t(spark, sf_dir, "lineitem")
    f_orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    l1 = (
        li.filter(F.col("l_returnflag") == "R")
        .join(f_orders, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
        .select("l_orderkey", "l_suppkey")
    )
    other = li.select(
        F.col("l_orderkey").alias("_ok"), F.col("l_suppkey").alias("_sk"),
        "l_returnflag",
    )
    l1 = l1.join(
        other.select("_ok", "_sk"),
        (F.col("l_orderkey") == F.col("_ok")) & (F.col("l_suppkey") != F.col("_sk")),
        "left_semi",
    )
    l1 = l1.join(
        other.filter(F.col("l_returnflag") == "R").select("_ok", "_sk"),
        (F.col("l_orderkey") == F.col("_ok")) & (F.col("l_suppkey") != F.col("_sk")),
        "left_anti",
    )
    nation = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"), "left_semi")
        .select("s_suppkey", "s_name")
    )
    return (
        l1.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


SQL_TPCH_Q21 = """
SELECT s_name, count(*) AS numwait
FROM lineitem l1
JOIN supplier ON l1.l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_3' AND l1.l_returnflag = 'R'
  AND l1.l_orderkey IN (SELECT o_orderkey FROM orders
                        WHERE o_orderstatus = 'F')
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY s_name
"""
query(q_tpch_q21, SQL_TPCH_Q21, bench=True)


def q_tpch_q22(spark, sf_dir):
    """TPC-H Q22-style global sales opportunity (adapted: nationkey plays
    the phone country code): above-average-balance customers with no
    urgent orders (every synthetic customer has ≥1 order, so the classic
    "no orders at all" form is vacuous here). Scalar average as a
    single-row broadcast; the NOT EXISTS as LEFT ANTI against the
    filtered orders."""
    codes = [3, 8, 13, 18, 23]
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_nationkey").isin(codes))
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("_avg_bal")
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_avg_bal"))
        .join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


SQL_TPCH_Q22 = """
SELECT c_nationkey AS cntrycode, count(*) AS numcust,
       round(sum(c_acctbal), 2) AS totacctbal
FROM customer
WHERE c_nationkey IN (3, 8, 13, 18, 23)
  AND c_acctbal > (SELECT avg(c_acctbal) FROM customer
                   WHERE c_acctbal > 0.0
                     AND c_nationkey IN (3, 8, 13, 18, 23))
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderpriority = '1-URGENT')
GROUP BY c_nationkey
"""
query(q_tpch_q22, SQL_TPCH_Q22)


def q_lineitem_unpivot(spark, sf_dir):
    """A12 wide→long unpivot (the answer-column-family melt,
    extract_patient_summary.py:306-377): measure columns stacked to
    (measure, value) rows then aggregated — F.stack is the CSV-form melt
    path; nested-struct ingestion would use explode instead."""
    li = _t(spark, sf_dir, "lineitem")
    long = li.select(
        "l_orderkey",
        F.expr(
            "stack(3, 'quantity', l_quantity, 'extendedprice', "
            "l_extendedprice, 'discount', l_discount) AS (measure, value)"
        ),
    )
    return long.groupBy("measure").agg(
        F.count("*").alias("n"),
        F.round(F.avg("value"), 4).alias("mean_value"),
        F.round(F.max("value"), 2).alias("max_value"),
    )


SQL_LINEITEM_UNPIVOT = """
WITH long AS (
  SELECT l_orderkey, measure, value
  FROM lineitem
  UNPIVOT (value FOR measure IN (l_quantity AS quantity,
                                 l_extendedprice AS extendedprice,
                                 l_discount AS discount))
)
SELECT measure, count(*) AS n,
       round(avg(value), 4) AS mean_value,
       round(max(value), 2) AS max_value
FROM long GROUP BY measure
"""
query(q_lineitem_unpivot, SQL_LINEITEM_UNPIVOT)


def q_top_orders_per_customer(spark, sf_dir):
    """§2.6 top-k via ranking window: top 3 orders per customer."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


SQL_TOP_ORDERS = """
SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn <= 3
"""
query(q_top_orders_per_customer, SQL_TOP_ORDERS, bench=True)


SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 min


def q_sessionization(spark, sf_dir):
    """Sessionization (gap > 30 min ⇒ new session) via lag + running sum —
    the batch twin of streaming session windows (§2.9 mapping)."""
    df = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    new_s = F.when(gap.isNull() | (gap > SESSION_GAP_US), 1).otherwise(0)
    sessions = df.select(
        "user_id",
        F.sum(new_s)
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("session_id"),
    )
    return sessions.groupBy("user_id").agg(
        F.max("session_id").cast("long").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


SQL_SESSIONIZATION = f"""
WITH g AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS new_s
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), s AS (
  SELECT user_id,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS session_id
  FROM g
)
SELECT user_id, CAST(max(session_id) AS BIGINT) AS n_sessions,
       count(*) AS n_events
FROM s GROUP BY user_id
"""
query(q_sessionization, SQL_SESSIONIZATION, bench=True)


def q_json_extract(spark, sf_dir):
    """F11's read direction: semi-structured extraction from the JSON
    props column (from_json with an explicit schema — schema-on-read
    stays a projection, no Python in the loop), aggregated per type."""
    df = _t(spark, sf_dir, "events")
    k = F.from_json("props", "k int")["k"]
    return (
        df.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n"),
            F.sum("k").cast("long").alias("k_total"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
        )
    )


SQL_JSON_EXTRACT = """
SELECT event_type,
       count(CAST(json_extract(props, '$.k') AS INTEGER)) AS n,
       CAST(sum(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS k_total,
       min(CAST(json_extract(props, '$.k') AS INTEGER)) AS k_min,
       max(CAST(json_extract(props, '$.k') AS INTEGER)) AS k_max
FROM events GROUP BY event_type
"""
query(q_json_extract, SQL_JSON_EXTRACT, bench=True)


def q_salted_agg_parity(spark, sf_dir):
    """Skew-mitigated two-stage aggregation IN the oracle gate: the
    salted path must produce byte-identical results to a plain GROUP BY
    (the oracle) — proving the hot-key machinery is semantically free."""
    from mhm_data_pipelines_spark.operators.skew import salted_agg

    df = _t(spark, sf_dir, "events")
    out = salted_agg(
        df,
        keys=["event_type"],
        aggs={
            "n": ("count", "value"),
            "total": ("sum", "value"),
            "mean": ("avg", "value"),
            "mx": ("max", "value"),
        },
    )
    return out.select(
        "event_type",
        "n",
        F.round("total", 2).alias("total"),
        F.round("mean", 4).alias("mean"),
        "mx",
    )


SQL_SALTED_AGG_PARITY = """
SELECT event_type, count(value) AS n,
       round(sum(value), 2) AS total,
       round(avg(value), 4) AS mean,
       max(value) AS mx
FROM events GROUP BY event_type
"""
query(q_salted_agg_parity, SQL_SALTED_AGG_PARITY)


def q_analytic_windows(spark, sf_dir):
    """Analytic window-function sweep per user ordered by time: lead,
    ntile, percent_rank, cume_dist in one pass (one shuffle on the
    partition key). Ties broken by event_id so frames are
    engine-deterministic."""
    df = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return df.select(
        "user_id",
        "event_id",
        F.lead("event_type").over(w).alias("next_type"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


SQL_ANALYTIC_WINDOWS = """
SELECT user_id, event_id,
       lead(event_type) OVER w AS next_type,
       ntile(4) OVER w AS quartile,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""
query(q_analytic_windows, SQL_ANALYTIC_WINDOWS, bench=True)


def q_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS with grouping_id disambiguation — the
    general form behind the rollup/cube conveniences (A14)."""
    df = _t(spark, sf_dir, "events")
    df.createOrReplaceTempView("_ev_gs")
    return spark.sql(
        """
        SELECT user_id, event_type, count(*) AS n,
               CAST(grouping_id(user_id, event_type) AS INT) AS gid
        FROM _ev_gs
        GROUP BY GROUPING SETS ((user_id, event_type), (user_id), ())
        """
    )


SQL_GROUPING_SETS = """
SELECT user_id, event_type, count(*) AS n,
       CAST(grouping_id(user_id, event_type) AS INT) AS gid
FROM events
GROUP BY GROUPING SETS ((user_id, event_type), (user_id), ())
"""
query(q_grouping_sets, SQL_GROUPING_SETS)


def q_latest_event_state(spark, sf_dir):
    """CDC latest-wins resolution (operators.upsert): current-state
    table from the append-only event log — ONE max_by hash aggregate
    (map-side combining), never a window sort over the full log.
    Tie order (version, event_id, value) mirrored in the oracle's
    ORDER BY so both engines resolve identical winners."""
    from mhm_data_pipelines_spark.operators.upsert import latest_wins

    df = (
        _t(spark, sf_dir, "events")
        .withColumn("ts_us", F.unix_micros("ts"))
        .select("event_id", "user_id", "event_type", "value", "ts_us")
    )
    return latest_wins(df, ["user_id", "event_type"], "ts_us")


SQL_LATEST_EVENT_STATE = """
SELECT event_id, user_id, event_type, value, ts_us
FROM (
  SELECT event_id, user_id, event_type, value, epoch_us(ts) AS ts_us,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY epoch_us(ts) DESC, event_id DESC,
                                     value DESC) AS rn
  FROM events
) WHERE rn = 1
"""
query(q_latest_event_state, SQL_LATEST_EVENT_STATE, bench=True)


def q_rolling_1h(spark, sf_dir):
    """Time-RANGE window frame (not row frame): for each event, count
    and sum of the user's events in the trailing hour — rangeBetween on
    the epoch-seconds order key. The range frame makes the window
    value-based, so duplicate timestamps contribute symmetrically
    (engine-independent, unlike a row frame with ties)."""
    df = _t(spark, sf_dir, "events")
    sec = F.unix_micros("ts") / F.lit(1_000_000.0)
    w = (
        Window.partitionBy("user_id")
        .orderBy(sec.alias("_sec"))
        .rangeBetween(-3600, 0)
    )
    return df.select(
        "user_id",
        "event_id",
        F.count("*").over(w).alias("n_1h"),
        F.round(F.sum("value").over(w), 2).alias("sum_1h"),
    )


SQL_ROLLING_1H = """
SELECT user_id, event_id,
       count(*) OVER w AS n_1h,
       round(sum(value) OVER w, 2) AS sum_1h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) / 1000000.0
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
"""
query(q_rolling_1h, SQL_ROLLING_1H, bench=True)


def q_gap_fill(spark, sf_dir):
    """Calendar regularization: dense per-user daily series with
    forward-filled gaps (operators.timeseries) — the repair step on top
    of the reference's missing-data REPORT. Per-key grid from a min/max
    aggregate (never a global-calendar cross join)."""
    from mhm_data_pipelines_spark.operators.timeseries import gap_fill_daily

    df = _t(spark, sf_dir, "events").filter(F.col("event_type") == "click")
    out = gap_fill_daily(df, keys=["user_id"])
    return out.select(
        "user_id",
        F.col("day").cast("string").alias("day"),
        F.round("value", 4).alias("value"),
        "was_gap",
    )


SQL_GAP_FILL = """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day, avg(value) AS v
  FROM events WHERE event_type = 'click' GROUP BY 1, 2
),
grid AS (
  SELECT user_id,
         CAST(unnest(generate_series(CAST(min(day) AS TIMESTAMP),
                                     CAST(max(day) AS TIMESTAMP),
                                     INTERVAL 1 DAY)) AS DATE) AS day
  FROM daily GROUP BY user_id
),
j AS (
  SELECT g.user_id, g.day, d.v
  FROM grid g LEFT JOIN daily d USING (user_id, day)
)
SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
       round(last_value(v IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY day
                   ROWS UNBOUNDED PRECEDING), 4) AS value,
       v IS NULL AS was_gap
FROM j
"""
query(q_gap_fill, SQL_GAP_FILL, bench=True)


def q_rolling_anomalies(spark, sf_dir):
    """Rolling z-score anomaly detection: each event scored against the
    trailing 7 observations of its user (PRECEDING frame only — no
    self-normalization); |z| > 3 flagged. Tie-broken by event_id so the
    frame is engine-independent."""
    from mhm_data_pipelines_spark.operators.timeseries import rolling_zscore

    df = _t(spark, sf_dir, "events")
    out = rolling_zscore(df, order_id="event_id", window=7)
    return (
        out.filter(F.abs(F.col("z")) > 3)
        .select("user_id", "event_id", F.round("z", 3).alias("z"))
    )


SQL_ROLLING_ANOMALIES = """
WITH z AS (
  SELECT user_id, event_id,
         CASE WHEN count(value) OVER w = 7
                   AND stddev_pop(value) OVER w > 0
              THEN (value - avg(value) OVER w) / stddev_pop(value) OVER w
         END AS z
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
)
SELECT user_id, event_id, round(z, 3) AS z
FROM z WHERE abs(z) > 3
"""
query(q_rolling_anomalies, SQL_ROLLING_ANOMALIES, bench=True)


def q_stateful_sessions_stream(spark, sf_dir):
    """§2.9 custom stateful operator, in the gate end-to-end: the
    applyInPandasWithState sessionizer drained over the events table.
    The watermark is pinned past the data's whole time span so the
    trailing no-data batch fires no event-time timeouts, making the
    output exactly the data-closed sessions — every session except each
    user's last — which IS SQL-expressible, so this streaming operator
    gets a full value-level oracle (production uses a real watermark;
    timeout flush is covered by test_stateful_streaming). Session bounds
    emitted as epoch micros (integer hash parity across engines)."""
    from mhm_data_pipelines_spark.streaming.stateful import stateful_sessions

    stream = _event_stream(spark, sf_dir)
    out = stateful_sessions(stream, gap_minutes=30.0, watermark="36500 days")
    return _drain_to_table(
        out, "_stateful_sessions_gate", "stateful_sessions_stream"
    ).select(
        "user_id",
        F.unix_micros("session_start").alias("start_us"),
        F.unix_micros("session_end").alias("end_us"),
        "n_events",
        F.round("sum_value", 2).alias("sum_value"),
    )


SQL_STATEFUL_SESSIONS = f"""
WITH g AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS new_s
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), s AS (
  SELECT user_id, ts, value,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM g
), agg AS (
  SELECT user_id, sid,
         epoch_us(min(ts)) AS start_us, epoch_us(max(ts)) AS end_us,
         count(*) AS n_events, round(sum(value), 2) AS sum_value
  FROM s GROUP BY user_id, sid
)
SELECT user_id, start_us, end_us, n_events, sum_value
FROM agg
WHERE sid < (SELECT max(sid) FROM agg a2 WHERE a2.user_id = agg.user_id)
"""
query(q_stateful_sessions_stream, SQL_STATEFUL_SESSIONS)


def _event_stream(spark, sf_dir):
    """File-source stream over the events table. FileStreamSource needs a
    directory basePath, so the single table file is selected with a glob
    filter. The stream schema is probed from a metadata-only batch read
    (footer scan, no data job) — the generator has shipped ``ts`` both as
    TIMESTAMP(NANOS) (read as LongType under ``nanosAsLong``) and as a
    native µs timestamp; only the former needs the explicit conversion."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch_schema = (
        spark.read.option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .schema
    )
    st = (
        spark.readStream.schema(batch_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return _normalize_ts(st)


def _drain_to_table(out, name, key):
    """Drain ``out`` into the in-memory table ``name`` and return it."""
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_drain(q, key)
    return out.sparkSession.table(name)


def q_stream_dedup(spark, sf_dir):
    """§2.9 streaming exact dedup in the gate end-to-end: the events
    stream UNIONED WITH ITSELF (every event arrives twice — the
    at-least-once-delivery shape) flows through
    dropDuplicatesWithinWatermark; first arrival wins. The watermark is
    pinned past the data span so nothing expires mid-drain, making the
    result exactly DISTINCT events — the batch twin DuckDB verifies
    value-for-value."""
    from mhm_data_pipelines_spark.streaming.stateful import dedup_stream

    doubled = _event_stream(spark, sf_dir).unionByName(
        _event_stream(spark, sf_dir)
    )
    out = dedup_stream(doubled, keys=("event_id",), watermark="36500 days")
    got = _drain_to_table(
        out.select(
            "event_id",
            "user_id",
            F.unix_micros("ts").alias("ts_us"),
            "event_type",
            "value",
        ),
        "_stream_dedup_gate",
        "stream_dedup",
    )
    return got


SQL_STREAM_DEDUP = """
SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value
FROM events
"""
query(q_stream_dedup, SQL_STREAM_DEDUP)


def q_stream_interval_join(spark, sf_dir):
    """§2.9 stream-stream interval join in the gate: errors within 30
    minutes at-or-after a purchase by the same user
    (streaming.stateful.correlate_streams — both sides watermarked, the
    event-time range bounds buffered state). Watermarks pinned past the
    data span for a data-closed drain; the batch twin is the plain
    interval self-join DuckDB runs."""
    from mhm_data_pipelines_spark.streaming.stateful import correlate_streams

    left = _event_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    right = _event_stream(spark, sf_dir).filter(
        F.col("event_type") == "error"
    )
    out = correlate_streams(
        left, right, max_delay="30 minutes", watermark="36500 days"
    )
    got = _drain_to_table(
        out.select(
            "event_id",
            F.col("r_event_id"),
            F.unix_micros("ts").alias("ts_us"),
            F.unix_micros("r_ts").alias("r_ts_us"),
        ),
        "_stream_ijoin_gate",
        "stream_interval_join",
    )
    return got


SQL_STREAM_INTERVAL_JOIN = """
SELECT p.event_id, e.event_id AS r_event_id,
       epoch_us(p.ts) AS ts_us, epoch_us(e.ts) AS r_ts_us
FROM events p JOIN events e
  ON p.event_type = 'purchase' AND e.event_type = 'error'
 AND p.user_id = e.user_id
 AND epoch_us(e.ts) >= epoch_us(p.ts)
 AND epoch_us(e.ts) <= epoch_us(p.ts) + 1800000000
"""
query(q_stream_interval_join, SQL_STREAM_INTERVAL_JOIN)


def q_event_gaps(spark, sf_dir):
    """§2.5 analytic windows (lag): inter-event gap stats per participant."""
    df = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    gap_sec = (
        F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    ) / 1_000_000.0
    gaps = df.select("user_id", gap_sec.alias("gap_sec")).filter(
        F.col("gap_sec").isNotNull()
    )
    return gaps.groupBy("user_id").agg(
        F.round(F.avg("gap_sec"), 4).alias("avg_gap_sec"),
        F.round(F.max("gap_sec"), 4).alias("max_gap_sec"),
        F.count("*").alias("n_gaps"),
    )


SQL_EVENT_GAPS = """
WITH g AS (
  SELECT user_id,
         (epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)))
           / 1000000.0 AS gap_sec
  FROM events
)
SELECT user_id, round(avg(gap_sec), 4) AS avg_gap_sec,
       round(max(gap_sec), 4) AS max_gap_sec, count(*) AS n_gaps
FROM g WHERE gap_sec IS NOT NULL GROUP BY user_id
"""
query(q_event_gaps, SQL_EVENT_GAPS, bench=True)


def q_asof_join(spark, sf_dir):
    """As-of join (operators.temporal): for each purchase event, the most
    recent prior-or-equal view event of the same user — one union+window
    shuffle, no range-join fan-out. Oracle is DuckDB's native ASOF JOIN."""
    from mhm_data_pipelines_spark.operators.temporal import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "value"
    )
    out = asof_join(purchases, views, on=["user_id"])
    return out.select(
        "user_id",
        "event_id",
        F.unix_micros("asof_ts").alias("asof_us"),
        F.round("asof_value", 4).alias("asof_value"),
    )


SQL_ASOF_JOIN = """
SELECT p.user_id, p.event_id,
       epoch_us(v.ts) AS asof_us,
       round(v.value, 4) AS asof_value
FROM (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id AND p.ts >= v.ts
"""
query(q_asof_join, SQL_ASOF_JOIN, bench=True)


def q_range_join(spark, sf_dir):
    """Point-in-interval range join (operators.temporal): purchases
    within 1 hour after an error event of the same user — bucketed
    equi-join, not a per-key cross product. Oracle is DuckDB's
    inequality join."""
    from mhm_data_pipelines_spark.operators.temporal import range_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("end_ts"),
        F.col("event_id").alias("error_id"),
    )
    out = range_join(purchases, errors, on=["user_id"], bucket="30 minutes")
    return out.select("user_id", "purchase_id", "error_id")


SQL_RANGE_JOIN = """
SELECT p.user_id, p.event_id AS purchase_id, e.event_id AS error_id
FROM (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase') p
JOIN (SELECT user_id, ts, event_id FROM events WHERE event_type = 'error') e
  ON p.user_id = e.user_id
 AND p.ts >= e.ts
 AND p.ts <= e.ts + INTERVAL 1 HOUR
"""
query(q_range_join, SQL_RANGE_JOIN, bench=True)


def q_users_intersect(spark, sf_dir):
    """U set ops: participants present in both activity classes."""
    df = _t(spark, sf_dir, "events")
    purchasers = df.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    erroring = df.filter(F.col("event_type") == "error").select("user_id").distinct()
    return purchasers.intersect(erroring)


def q_users_except(spark, sf_dir):
    """U3 set difference: participants who purchase but never error."""
    df = _t(spark, sf_dir, "events")
    purchasers = df.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    erroring = df.filter(F.col("event_type") == "error").select("user_id").distinct()
    return purchasers.exceptAll(erroring)


SQL_USERS_EXCEPT = """
SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
EXCEPT
SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
"""
query(q_users_except, SQL_USERS_EXCEPT)


SQL_USERS_INTERSECT = """
SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
INTERSECT
SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
"""
query(q_users_intersect, SQL_USERS_INTERSECT)


# --------------------------------------------------------------------------
# Training-data extensions: text analysis / dedup / similarity
# --------------------------------------------------------------------------

_SQL_TOKENS = (
    "list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')"
)
_SQL_TOKENS_LOWER = (
    "list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '')"
)


def q_doc_token_stats(spark, sf_dir):
    """Text analysis: token counting aggregated per language."""
    df = _t(spark, sf_dir, "documents")
    n_tokens = F.size(tokens("text"))
    return df.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg(n_tokens), 4).alias("avg_tokens"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
    )


SQL_DOC_TOKEN_STATS = f"""
SELECT lang, count(*) AS n_docs,
       round(avg(len({_SQL_TOKENS})), 4) AS avg_tokens,
       round(avg(n_chars), 4) AS avg_chars
FROM documents GROUP BY lang
"""
query(q_doc_token_stats, SQL_DOC_TOKEN_STATS, bench=True)


_SQL_STOPLIST = "[" + ", ".join(f"'{s}'" for s in STOPWORDS) + "]"


def q_doc_quality(spark, sf_dir):
    """Text analysis: per-document quality features + composite score."""
    df = _t(spark, sf_dir, "documents")
    return df.select(
        "doc_id",
        F.size(tokens("text")).alias("n_tokens"),
        F.round(stopword_ratio("text"), 4).alias("stop_ratio"),
        F.round(punct_ratio("text"), 4).alias("p_ratio"),
        F.round(quality_score("text"), 2).alias("quality"),
    )


SQL_DOC_QUALITY = f"""
WITH t AS (
  SELECT doc_id, text, {_SQL_TOKENS} AS toks FROM documents
)
SELECT doc_id,
       len(toks) AS n_tokens,
       round(CASE WHEN len(toks) > 0
             THEN len(list_filter(toks, x -> list_contains({_SQL_STOPLIST}, lower(x))))
                  * 1.0 / len(toks)
             ELSE 0.0 END, 4) AS stop_ratio,
       round(CASE WHEN length(text) > 0
             THEN (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                  * 1.0 / length(text)
             ELSE 0.0 END, 4) AS p_ratio,
       round(
         (CASE WHEN len(toks) BETWEEN 10 AND 1000 THEN 0.5 ELSE 0.0 END)
         + (CASE WHEN CASE WHEN len(toks) > 0
                 THEN len(list_filter(toks, x -> list_contains({_SQL_STOPLIST}, lower(x))))
                      * 1.0 / len(toks) ELSE 0.0 END > 0.05
            THEN 0.3 ELSE 0.0 END)
         + (CASE WHEN CASE WHEN length(text) > 0
                 THEN (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                      * 1.0 / length(text) ELSE 0.0 END < 0.2
            THEN 0.2 ELSE 0.0 END), 2) AS quality
FROM t
"""
query(q_doc_quality, SQL_DOC_QUALITY, bench=True)


def q_pii_redaction(spark, sf_dir):
    """Text scrubbing: PII redaction over the documents table. The
    corpus carries no real PII, so the gate plants a deterministic
    contact block per doc (email + phone + IPv4 + SSN derived from
    doc_id) and checks the redaction chain strips every shape — the
    regexes live in the Java∩RE2 subset, so DuckDB applies the SAME
    patterns and the redacted text must match byte-for-byte."""
    from mhm_data_pipelines_spark.functions.text import redact_pii

    df = _t(spark, sf_dir, "documents")
    contact = F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com or +1 (555) 123-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" ip 10.0."), (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 ssn 123-45-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    return df.select(
        "doc_id", redact_pii(contact).alias("redacted")
    ).orderBy("doc_id")


def _sql_pii_redaction() -> str:
    from mhm_data_pipelines_spark.functions.text import PII_PATTERNS

    expr = (
        "text || ' contact user' || doc_id || '@example.com or "
        "+1 (555) 123-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
        " || ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) || "
        "'.7 ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
    )
    for kind, pat in PII_PATTERNS:
        expr = f"regexp_replace({expr}, '{pat}', '[{kind}]', 'g')"
    return f"SELECT doc_id, {expr} AS redacted FROM documents ORDER BY doc_id"


SQL_PII_REDACTION = _sql_pii_redaction()
query(q_pii_redaction, SQL_PII_REDACTION, bench=True)


def q_doc_repetition(spark, sf_dir):
    """Text analysis: Gopher-style repetition signals (duplicate-word
    fraction, top-word share, top-bigram share) — the boilerplate/spam
    filter stage of a corpus pipeline."""
    from mhm_data_pipelines_spark.functions.text import repetition_stats

    df = _t(spark, sf_dir, "documents")
    return repetition_stats(df).orderBy("doc_id")


SQL_DOC_REPETITION = f"""
WITH t AS (
  SELECT doc_id, {_SQL_TOKENS_LOWER} AS toks FROM documents
), wc AS (
  SELECT doc_id, w, count(*) AS c
  FROM (SELECT doc_id, unnest(toks) AS w FROM t)
  GROUP BY 1, 2
), ws AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words, count(*) AS n_distinct
  FROM wc GROUP BY 1
), wtop AS (
  SELECT doc_id, w AS top_word, c AS top_c
  FROM wc
  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, w) = 1
), bc AS (
  SELECT doc_id, b, count(*) AS c
  FROM (
    SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS b
    FROM t, LATERAL unnest(generate_series(1, len(toks) - 1)) AS u(i)
    WHERE len(toks) >= 2
  )
  GROUP BY 1, 2
), bs AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams, max(c) AS top_bc
  FROM bc GROUP BY 1
)
SELECT ws.doc_id, ws.n_words,
       round(1.0 - ws.n_distinct * 1.0 / ws.n_words, 4) AS dup_word_frac,
       wtop.top_word,
       round(wtop.top_c * 1.0 / ws.n_words, 4) AS top_word_frac,
       round(bs.top_bc * 1.0 / bs.n_bigrams, 4) AS top_bigram_frac
FROM ws
JOIN wtop USING (doc_id)
LEFT JOIN bs USING (doc_id)
ORDER BY doc_id
"""
query(q_doc_repetition, SQL_DOC_REPETITION, bench=True)


def q_doc_winnowing(spark, sf_dir):
    """Winnowing fingerprints (MOSS / Schleimer et al. SIGMOD'03): per-
    doc set of k-gram-hash window minima — the substring-robust
    fingerprint for boilerplate/plagiarism overlap. Verified value-level
    against DuckDB rebuilding the identical md5-60bit hash sequence and
    window minima; output is the per-doc fingerprint-set summary
    (count, min, max, modular checksum) so the compared frame stays
    row-per-doc while still pinning every fingerprint value."""
    from mhm_data_pipelines_spark.functions.text import winnow_fingerprints

    df = _t(spark, sf_dir, "documents")
    fp = winnow_fingerprints(df, k=8, window=4)
    ex = fp.select("doc_id", F.explode_outer("fingerprints").alias("fp"))
    return (
        ex.groupBy("doc_id")
        .agg(
            F.count("fp").alias("n_fp"),
            F.min("fp").alias("fp_min"),
            F.max("fp").alias("fp_max"),
            F.sum(F.col("fp") % F.lit(1_000_003)).alias("fp_sum_mod"),
        )
        .orderBy("doc_id")
    )


SQL_DOC_WINNOWING = """
WITH t AS (
  SELECT doc_id, lower(text) AS s FROM documents
), g AS (
  SELECT doc_id, i,
         CAST(('0x' || substr(md5(substr(s, i, 8)), 1, 15)) AS BIGINT) AS h
  FROM t, LATERAL unnest(generate_series(1, len(s) - 7)) AS u(i)
  WHERE len(s) >= 8
), seq AS (
  SELECT doc_id, list(h ORDER BY i) AS hs FROM g GROUP BY doc_id
), wins AS (
  SELECT doc_id, list_min(hs[j:j+3]) AS mh
  FROM seq, LATERAL unnest(generate_series(1, len(hs) - 3)) AS v(j)
), dfp AS (
  SELECT DISTINCT doc_id, mh FROM wins
)
SELECT d.doc_id,
       count(f.mh) AS n_fp,
       min(f.mh) AS fp_min,
       max(f.mh) AS fp_max,
       CAST(sum(f.mh % 1000003) AS BIGINT) AS fp_sum_mod
FROM documents d LEFT JOIN dfp f ON d.doc_id = f.doc_id
GROUP BY 1 ORDER BY 1
"""
query(q_doc_winnowing, SQL_DOC_WINNOWING, bench=True)


def q_winnow_overlap(spark, sf_dir):
    """Substring-overlap candidate pairs: docs sharing ≥ 40 winnowing
    fingerprints AFTER dropping fingerprints present in > 128 docs
    (MOSS's over-common rule — r5 scale fix: common-substring
    fingerprints appear in a fixed FRACTION of docs, so without the df
    cap the pair join grows quadratically with the corpus — measured
    95M candidate pairs at 5k docs → 9.4B at 50k; with df ≤ 128 it is
    10× less at 5k and ~300× less at 50k, scaling near-linearly).
    The synthetic corpus's shared vocabulary puts the pairwise noise
    floor at p99 ≈ 26 shared fingerprints; 40 isolates genuinely
    overlapping documents. Star cap stays above gate-scale bucket
    sizes, so the DuckDB twin (same df filter in SQL) is the exact
    pairwise join."""
    from mhm_data_pipelines_spark.operators.dedup import winnow_overlap_pairs

    df = _t(spark, sf_dir, "documents")
    out = winnow_overlap_pairs(
        df, k=8, window=4, min_shared=40, max_doc_freq=128
    )
    return out.orderBy("id_a", "id_b")


SQL_WINNOW_OVERLAP = """
WITH t AS (
  SELECT doc_id, lower(text) AS s FROM documents
), g AS (
  SELECT doc_id, i,
         CAST(('0x' || substr(md5(substr(s, i, 8)), 1, 15)) AS BIGINT) AS h
  FROM t, LATERAL unnest(generate_series(1, len(s) - 7)) AS u(i)
  WHERE len(s) >= 8
), seq AS (
  SELECT doc_id, list(h ORDER BY i) AS hs FROM g GROUP BY doc_id
), wins AS (
  SELECT doc_id, list_min(hs[j:j+3]) AS mh
  FROM seq, LATERAL unnest(generate_series(1, len(hs) - 3)) AS v(j)
), dfp AS (
  SELECT DISTINCT doc_id, mh FROM wins
), keepfp AS (
  SELECT mh FROM dfp GROUP BY mh HAVING count(*) <= 128
), cold AS (
  SELECT dfp.doc_id, dfp.mh FROM dfp JOIN keepfp USING (mh)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
FROM cold a JOIN cold b ON a.mh = b.mh AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= 40
ORDER BY 1, 2
"""
query(q_winnow_overlap, SQL_WINNOW_OVERLAP)


def q_corpus_composition(spark, sf_dir):
    """Corpus composition report: per-(source, lang) doc counts and
    within-source shares, plus each source's language-distribution
    Shannon entropy — the mix-monitoring readout a corpus pipeline
    publishes alongside its mixing quotas. Entropy rounded so the
    cross-engine ln agrees to the hash."""
    df = _t(spark, sf_dir, "documents")
    cell = df.groupBy("source", "lang").agg(F.count("*").alias("n_docs"))
    w_src = Window.partitionBy("source")
    share = F.col("n_docs") / F.sum("n_docs").over(w_src)
    out = cell.withColumn("share", share)
    ent = F.sum(-F.col("share") * F.log("share")).over(w_src)
    return (
        out.select(
            "source",
            "lang",
            "n_docs",
            F.round("share", 6).alias("share"),
            F.round(ent, 6).alias("source_lang_entropy"),
        )
        .orderBy("source", "lang")
    )


SQL_CORPUS_COMPOSITION = """
WITH cell AS (
  SELECT source, lang, count(*) AS n_docs
  FROM documents GROUP BY 1, 2
), s AS (
  SELECT source, lang, n_docs,
         n_docs * 1.0 / sum(n_docs) OVER (PARTITION BY source) AS share
  FROM cell
)
SELECT source, lang, n_docs,
       round(share, 6) AS share,
       round(sum(-share * ln(share)) OVER (PARTITION BY source), 6)
         AS source_lang_entropy
FROM s
ORDER BY source, lang
"""
query(q_corpus_composition, SQL_CORPUS_COMPOSITION)


def q_paragraph_dedup(spark, sf_dir):
    """Corpus-level paragraph dedup (first occurrence wins, Dolma-style)
    — per-doc paragraph counts + md5 of the reassembled text so the
    whole reconstruction is value-pinned without shipping long strings
    through the compare."""
    from mhm_data_pipelines_spark.operators.dedup import dedup_paragraphs

    df = _t(spark, sf_dir, "documents")
    out = dedup_paragraphs(df)
    return out.select(
        "doc_id",
        F.col("n_paras").cast("long").alias("n_paras"),
        F.col("n_kept").cast("long").alias("n_kept"),
        F.md5("text_dedup").alias("clean_fp"),
    ).orderBy("doc_id")


SQL_PARAGRAPH_DEDUP = r"""
WITH p0 AS (
  SELECT doc_id, i AS pos, parts[i] AS para
  FROM (SELECT doc_id, string_split(text, e'\n\n') AS parts
        FROM documents),
       LATERAL unnest(generate_series(1, len(parts))) AS u(i)
), p AS (
  SELECT doc_id, pos, para FROM p0 WHERE trim(para) <> ''
), k AS (
  SELECT doc_id, pos, para,
         row_number() OVER (
           PARTITION BY md5(trim(regexp_replace(lower(para), '\s+', ' ', 'g')))
           ORDER BY doc_id, pos
         ) AS rn
  FROM p
), kept AS (
  SELECT doc_id, pos, para FROM k WHERE rn = 1
), agg AS (
  SELECT doc_id, count(*) AS n_kept,
         md5(string_agg(para, e'\n\n' ORDER BY pos)) AS clean_fp
  FROM kept GROUP BY 1
), tot AS (
  SELECT doc_id, count(*) AS n_paras FROM p GROUP BY 1
)
SELECT d.doc_id,
       coalesce(t.n_paras, 0) AS n_paras,
       coalesce(a.n_kept, 0) AS n_kept,
       coalesce(a.clean_fp, md5('')) AS clean_fp
FROM documents d
LEFT JOIN tot t ON d.doc_id = t.doc_id
LEFT JOIN agg a ON d.doc_id = a.doc_id
ORDER BY d.doc_id
"""
query(q_paragraph_dedup, SQL_PARAGRAPH_DEDUP, bench=True)


def q_c4_filter_stats(spark, sf_dir):
    """C4-style cleaning diagnostics (Raffel et al. 2020 heuristics):
    per-doc line-rule counts + page flags + keep verdict, entirely as
    Column expressions with a line-identical DuckDB twin."""
    from mhm_data_pipelines_spark.functions.text import c4_line_stats

    df = _t(spark, sf_dir, "documents")
    s = df.select("doc_id", c4_line_stats("text").alias("s"))
    return (
        s.select(
            "doc_id",
            *[
                F.col(f"s.{f}").cast("long").alias(f)
                for f in (
                    "n_lines",
                    "n_kept_lines",
                    "n_nopunct_lines",
                    "n_short_lines",
                )
            ],
            "s.has_lorem",
            "s.has_brace",
            "s.doc_kept",
        )
        .orderBy("doc_id")
    )


SQL_C4_FILTER_STATS = r"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(text, chr(10)), x -> trim(x) <> '') AS ls,
         lower(text) LIKE '%lorem ipsum%' AS has_lorem,
         contains(text, '{') AS has_brace
  FROM documents
), s AS (
  SELECT doc_id, has_lorem, has_brace,
         len(ls) AS n_lines,
         len(list_filter(ls, x ->
             regexp_matches(trim(x), '[.!?]["”'']?$') AND
             len(list_filter(regexp_split_to_array(trim(x), '\s+'),
                             w -> w <> '')) >= 3)) AS n_kept_lines,
         len(list_filter(ls, x ->
             NOT regexp_matches(trim(x), '[.!?]["”'']?$')))
           AS n_nopunct_lines,
         len(list_filter(ls, x ->
             len(list_filter(regexp_split_to_array(trim(x), '\s+'),
                             w -> w <> '')) < 3)) AS n_short_lines
  FROM t
)
SELECT doc_id, n_lines, n_kept_lines, n_nopunct_lines, n_short_lines,
       has_lorem, has_brace,
       (n_kept_lines >= 3 AND NOT has_lorem AND NOT has_brace) AS doc_kept
FROM s ORDER BY doc_id
"""
query(q_c4_filter_stats, SQL_C4_FILTER_STATS, bench=True)


def q_gopher_quality(spark, sf_dir):
    """Gopher-rule quality filter (Rae et al. 2021, Appendix A): per-doc
    rule inputs + per-rule pass flags + the all-rules keep verdict,
    entirely as Column expressions (functions.text.gopher_stats) with a
    rule-identical DuckDB twin."""
    from mhm_data_pipelines_spark.functions.text import gopher_stats

    df = _t(spark, sf_dir, "documents")
    s = df.select("doc_id", gopher_stats("text").alias("s"))
    return (
        s.select(
            "doc_id",
            F.col("s.n_words").cast("long").alias("n_words"),
            "s.mean_word_len",
            "s.symbol_ratio",
            "s.alpha_frac",
            F.col("s.n_stop_hits").cast("long").alias("n_stop_hits"),
            "s.pass_word_count",
            "s.pass_mean_word_len",
            "s.pass_symbol_ratio",
            "s.pass_alpha_words",
            "s.pass_stopwords",
            "s.doc_kept",
        )
        .orderBy("doc_id")
    )


_SQL_GOPHER_STOPS = "[" + ", ".join(
    f"'{s}'"
    for s in ("the", "be", "to", "of", "and", "that", "have", "with")
) + "]"

SQL_GOPHER_QUALITY = f"""
WITH t AS (
  SELECT doc_id, text, {_SQL_TOKENS} AS toks,
         list_filter(string_split(text, chr(10)), x -> trim(x) <> '')
           AS ls
  FROM documents
), s AS (
  SELECT doc_id,
         len(toks) AS n_words,
         coalesce(list_sum(list_transform(toks, x -> len(x))), 0)
           AS total_len,
         (len(string_split(text, '#')) - 1)
         + (len(string_split(text, '...')) - 1)
         + (len(string_split(text, '…')) - 1) AS n_symbols,
         len(list_filter(toks, x -> regexp_matches(x, '[a-zA-Z]')))
           AS n_alpha,
         len(ls) AS n_lines,
         len(list_filter(ls, x ->
             substr(trim(x), 1, 1) IN ('-', '*', '•'))) AS n_bullet,
         len(list_filter(ls, x ->
             trim(x) LIKE '%...' OR trim(x) LIKE '%…'))
           AS n_ell_lines,
         len(list_filter({_SQL_GOPHER_STOPS}::VARCHAR[], s ->
             list_contains(list_transform(toks, x -> lower(x)), s)))
           AS n_stop_hits
  FROM t
), r AS (
  -- Flags compare the UNROUNDED ratios (the Spark struct rounds only
  -- the reported values, not the rule inputs).
  SELECT doc_id, n_words, n_stop_hits,
         CASE WHEN n_words > 0 THEN total_len / n_words
              ELSE 0.0 END AS mean_word_len,
         CASE WHEN n_words > 0 THEN n_symbols / n_words
              ELSE 0.0 END AS symbol_ratio,
         CASE WHEN n_words > 0 THEN n_alpha / n_words
              ELSE 0.0 END AS alpha_frac,
         CASE WHEN n_lines > 0 THEN n_bullet / n_lines
              ELSE 0.0 END AS bullet_frac,
         CASE WHEN n_lines > 0 THEN n_ell_lines / n_lines
              ELSE 0.0 END AS ellipsis_frac
  FROM s
)
SELECT doc_id, n_words,
       round(mean_word_len, 4) AS mean_word_len,
       round(symbol_ratio, 4) AS symbol_ratio,
       round(alpha_frac, 4) AS alpha_frac,
       n_stop_hits,
       (n_words >= 50 AND n_words <= 100000) AS pass_word_count,
       (mean_word_len >= 3 AND mean_word_len <= 10)
         AS pass_mean_word_len,
       (symbol_ratio <= 0.1) AS pass_symbol_ratio,
       (alpha_frac >= 0.8) AS pass_alpha_words,
       (n_stop_hits >= 2) AS pass_stopwords,
       ((n_words >= 50 AND n_words <= 100000)
        AND (mean_word_len >= 3 AND mean_word_len <= 10)
        AND (symbol_ratio <= 0.1)
        AND (bullet_frac < 0.9)
        AND (ellipsis_frac < 0.3)
        AND (alpha_frac >= 0.8)
        AND (n_stop_hits >= 2)) AS doc_kept
FROM r ORDER BY doc_id
"""
query(q_gopher_quality, SQL_GOPHER_QUALITY, bench=True)


def q_dup_spans(spark, sf_dir):
    """Exact duplicated token spans across documents (Lee et al. 2022
    substring-dedup semantics at token-5-gram resolution): maximal
    diagonal runs of ≥ 2 shared 5-grams per doc pair, via hashed-gram
    equi-join + gaps-and-islands consolidation
    (operators.dedup.duplicate_ngram_spans)."""
    from mhm_data_pipelines_spark.operators.dedup import (
        duplicate_ngram_spans,
    )

    df = _t(spark, sf_dir, "documents")
    out = duplicate_ngram_spans(df, k=5, min_run=2, max_gram_df=1000)
    return out.orderBy("doc_a", "doc_b", "start_a", "start_b")


SQL_DUP_SPANS = f"""
WITH t AS (
  SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents
), g0 AS (
  SELECT doc_id, i AS pos,
         array_to_string(toks[i:i + 4], ' ') AS gram
  FROM t, LATERAL unnest(generate_series(1, len(toks) - 4)) AS u(i)
  WHERE len(toks) >= 5
), g AS (
  SELECT doc_id, pos, gram FROM g0
  QUALIFY count(*) OVER (PARTITION BY gram) <= 1000
), m AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.pos AS pa, b.pos AS pb, b.pos - a.pos AS diag
  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
), r AS (
  SELECT doc_a, doc_b, diag, pa, pb,
         pa - row_number() OVER (
           PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS grp
  FROM m
)
SELECT doc_a, doc_b, min(pa) AS start_a, min(pb) AS start_b,
       count(*) AS n_grams, count(*) + 4 AS span_tokens
FROM r
GROUP BY doc_a, doc_b, diag, grp
HAVING count(*) >= 2
ORDER BY doc_a, doc_b, start_a, start_b
"""
query(q_dup_spans, SQL_DUP_SPANS, bench=True)


def q_dup_spans_recall(spark, sf_dir):
    """Substring-dedup RECALL certification (the dup_spans analogue of
    minhash_pr_curve): with the boilerplate cap DISABLED, the k-gram
    diagonal-run method is EXACT Lee et al. 2022 suffix-array
    substring-dedup semantics for spans ≥ k+min_run−1 tokens (a shared
    span of t tokens IS a maximal diagonal run of t−k+1 shared k-grams
    — the bijection; only 64-bit hash collisions, P≈n²/2⁶⁵, separate
    them). So the uncapped run is ground truth, and this query
    MEASURES what the production max_gram_df=1000 cap gives up:
    matched-gram recall (capped gram matches are a strict subset of
    exact ones — precision is 1 by construction), span counts, and how
    many spans survive bitwise identical. One summary row; the
    fan-out-bounding cap's cost is now a number, not a hope.

    Cost ceiling: the uncapped exact side's pair fan-out is quadratic
    in the planted boilerplate gram DF by construction, and the 10×
    data from scripts/gen_sf1.py plants 10× the boilerplate (11.2× wall
    on 10× data in the sf0.1-to-sf1 probe record of commit 518122b).
    That cost is the price of the ground truth, not a plan to
    optimize; the production path it certifies (dup_spans /
    span_dedup, max_gram_df=1000) stays near-linear. Run it at
    sf<=0.1; at sf>=1 certify on a doc sample. Re-measure with the sf1 ``bench.py`` run and
    ``scripts/bench_diff.py BENCH_local.json BENCH_sf1.json
    --threshold 12``."""
    from mhm_data_pipelines_spark.operators.dedup import (
        duplicate_ngram_spans,
    )

    df = _t(spark, sf_dir, "documents")
    span_cols = ["doc_a", "doc_b", "start_a", "start_b", "n_grams"]
    exact = duplicate_ngram_spans(df, k=5, min_run=2, max_gram_df=None)
    capped = duplicate_ngram_spans(df, k=5, min_run=2, max_gram_df=1000)
    e = exact.agg(
        F.count("*").alias("exact_spans"),
        F.sum("n_grams").alias("exact_grams"),
    )
    c = capped.agg(
        F.count("*").alias("capped_spans"),
        F.sum("n_grams").alias("capped_grams"),
    )
    ident = (
        exact.select(*span_cols)
        .join(capped.select(*span_cols), span_cols)
        .agg(F.count("*").alias("identical_spans"))
    )
    return (
        e.crossJoin(F.broadcast(c))
        .crossJoin(F.broadcast(ident))
        .select(
            "exact_spans",
            "capped_spans",
            "identical_spans",
            F.round(
                F.col("capped_grams").cast("double")
                / F.col("exact_grams"),
                4,
            ).alias("gram_recall"),
        )
    )


SQL_DUP_SPANS_RECALL = f"""
WITH t AS (
  SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents
), g0 AS (
  SELECT doc_id, i AS pos,
         array_to_string(toks[i:i + 4], ' ') AS gram
  FROM t, LATERAL unnest(generate_series(1, len(toks) - 4)) AS u(i)
  WHERE len(toks) >= 5
), spans_exact AS (
  SELECT doc_a, doc_b, min(pa) AS start_a, min(pb) AS start_b,
         count(*) AS n_grams
  FROM (
    SELECT doc_a, doc_b, diag, pa, pb,
           pa - row_number() OVER (
             PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS grp
    FROM (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.pos AS pa, b.pos AS pb, b.pos - a.pos AS diag
      FROM g0 a JOIN g0 b ON a.gram = b.gram AND a.doc_id < b.doc_id
    )
  )
  GROUP BY doc_a, doc_b, diag, grp
  HAVING count(*) >= 2
), gc AS (
  SELECT doc_id, pos, gram FROM g0
  QUALIFY count(*) OVER (PARTITION BY gram) <= 1000
), spans_capped AS (
  SELECT doc_a, doc_b, min(pa) AS start_a, min(pb) AS start_b,
         count(*) AS n_grams
  FROM (
    SELECT doc_a, doc_b, diag, pa, pb,
           pa - row_number() OVER (
             PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS grp
    FROM (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.pos AS pa, b.pos AS pb, b.pos - a.pos AS diag
      FROM gc a JOIN gc b ON a.gram = b.gram AND a.doc_id < b.doc_id
    )
  )
  GROUP BY doc_a, doc_b, diag, grp
  HAVING count(*) >= 2
), e AS (
  SELECT count(*) AS exact_spans, sum(n_grams) AS exact_grams
  FROM spans_exact
), c AS (
  SELECT count(*) AS capped_spans, sum(n_grams) AS capped_grams
  FROM spans_capped
), i AS (
  SELECT count(*) AS identical_spans
  FROM spans_exact se JOIN spans_capped sc
    USING (doc_a, doc_b, start_a, start_b, n_grams)
)
SELECT CAST(exact_spans AS BIGINT) AS exact_spans,
       CAST(capped_spans AS BIGINT) AS capped_spans,
       CAST(identical_spans AS BIGINT) AS identical_spans,
       round(CAST(capped_grams AS DOUBLE) / exact_grams, 4)
         AS gram_recall
FROM e, c, i
"""
query(q_dup_spans_recall, SQL_DUP_SPANS_RECALL)


def q_span_dedup(spark, sf_dir):
    """Substring dedup applied (Lee et al. 2022 keep-first): duplicated
    token spans reported by dup_spans are excised from the higher-id
    document; output is the rewritten corpus with removal accounting
    (operators.dedup.dedup_spans_keep_first)."""
    from mhm_data_pipelines_spark.operators.dedup import (
        dedup_spans_keep_first,
    )

    df = _t(spark, sf_dir, "documents")
    out = dedup_spans_keep_first(df, k=5, min_run=2, max_gram_df=1000)
    return out.select(
        "doc_id",
        "clean_text",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_removed_tokens").cast("long").alias("n_removed_tokens"),
    ).orderBy("doc_id")


SQL_SPAN_DEDUP = f"""
WITH t AS (
  SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents
), g0 AS (
  SELECT doc_id, i AS pos,
         array_to_string(toks[i:i + 4], ' ') AS gram
  FROM t, LATERAL unnest(generate_series(1, len(toks) - 4)) AS u(i)
  WHERE len(toks) >= 5
), g AS (
  SELECT doc_id, pos, gram FROM g0
  QUALIFY count(*) OVER (PARTITION BY gram) <= 1000
), m AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.pos AS pa, b.pos AS pb, b.pos - a.pos AS diag
  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
), r AS (
  SELECT doc_a, doc_b, diag, pa, pb,
         pa - row_number() OVER (
           PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS grp
  FROM m
), spans AS (
  SELECT doc_b, min(pb) AS start_b, count(*) + 4 AS span_tokens
  FROM r GROUP BY doc_a, doc_b, diag, grp
  HAVING count(*) >= 2
), cov AS (
  SELECT DISTINCT s.doc_b AS doc_id, u.i AS p
  FROM spans s, LATERAL unnest(
    generate_series(s.start_b, s.start_b + s.span_tokens - 1)) AS u(i)
), pos AS (
  SELECT doc_id, i AS p, toks[i] AS tok
  FROM t, LATERAL unnest(generate_series(1, len(toks))) AS u(i)
), kept AS (
  SELECT p.doc_id, p.p, p.tok
  FROM pos p LEFT JOIN cov c ON p.doc_id = c.doc_id AND p.p = c.p
  WHERE c.p IS NULL
), agg AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS clean_text,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id,
       coalesce(a.clean_text, '') AS clean_text,
       len(t.toks) AS n_tokens,
       len(t.toks) - coalesce(a.n_kept, 0) AS n_removed_tokens
FROM t LEFT JOIN agg a USING (doc_id)
ORDER BY t.doc_id
"""
query(q_span_dedup, SQL_SPAN_DEDUP, bench=True)


def q_dsir_weights(spark, sf_dir):
    """DSIR importance weights (Xie et al. 2023): every raw document
    scored by its summed hashed-ngram log importance ratio against the
    pseudo-target slice (doc_id % 97 == 0) — the classifier-free
    domain-shift selection signal (operators.selection). md5 bucket
    family, so DuckDB rebuilds the identical buckets; counts are exact
    and the smoothed log terms replay float-for-float."""
    from mhm_data_pipelines_spark.operators.selection import (
        dsir_log_weights,
    )

    df = _t(spark, sf_dir, "documents")
    target = df.filter(F.col("doc_id") % 97 == 0)
    raw = df.filter(F.col("doc_id") % 97 != 0)
    out = dsir_log_weights(raw, target, buckets=8192)
    return out.select(
        "doc_id",
        F.col("n_feats").cast("long").alias("n_feats"),
        F.round("log_weight", 4).alias("log_weight"),
    ).orderBy("doc_id")


SQL_DSIR_WEIGHTS = f"""
WITH t AS (
  SELECT doc_id, {_SQL_TOKENS_LOWER} AS toks FROM documents
), f AS (
  SELECT doc_id, toks[i] AS feat
  FROM t, LATERAL unnest(generate_series(1, len(toks))) AS u(i)
  UNION ALL
  SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS feat
  FROM t, LATERAL unnest(generate_series(1, len(toks) - 1)) AS u(i)
  WHERE len(toks) >= 2
), fb AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(feat), 1, 15)) AS BIGINT) % 8192 AS b
  FROM f
), rawf AS (
  SELECT * FROM fb WHERE doc_id % 97 <> 0
), tgtf AS (
  SELECT * FROM fb WHERE doc_id % 97 = 0
), tc AS (SELECT b, count(*) AS tc FROM tgtf GROUP BY b),
rc AS (SELECT b, count(*) AS rc FROM rawf GROUP BY b),
tt AS (SELECT sum(tc) AS t FROM tc),
rt AS (SELECT sum(rc) AS r FROM rc)
SELECT rawf.doc_id, count(*) AS n_feats,
       round(sum(
         ln((coalesce(tc.tc, 0) + 1) / (tt.t + 8192))
         - ln((rc.rc + 1) / (rt.r + 8192))
       ), 4) AS log_weight
FROM rawf LEFT JOIN tc USING (b) JOIN rc USING (b), tt, rt
GROUP BY rawf.doc_id
ORDER BY rawf.doc_id
"""
query(q_dsir_weights, SQL_DSIR_WEIGHTS, bench=True)


def _classifier_seeded_weights(
    buckets: int = 1024, seed: int = 3
) -> list[float]:
    """Fixed-seed data-independent weight vector for the
    quality_classifier gate query — the DuckDB twin regenerates the
    identical floats, so the sigmoid scores are a full value oracle.
    Production weights come from
    operators.selection.train_quality_classifier (unit-tested for
    domain separation)."""
    import random

    rng = random.Random(seed)
    return [rng.gauss(0.0, 0.1) for _ in range(buckets)]


def q_quality_classifier(spark, sf_dir):
    """Hashed-ngram linear quality classifier scoring (the GPT-3/CCNet
    learned-filter shape, operators.selection.classifier_score):
    per-doc logit + sigmoid probability under a seeded weight vector.
    md5 bucket family → bit-identical buckets in DuckDB; the weight
    table is a broadcast join in Spark and a VALUES join in the twin."""
    from mhm_data_pipelines_spark.operators.selection import (
        classifier_score,
    )

    df = _t(spark, sf_dir, "documents")
    out = classifier_score(df, _classifier_seeded_weights())
    return out.select(
        "doc_id",
        F.col("n_feats").cast("long").alias("n_feats"),
        F.round("logit", 4).alias("logit"),
        F.round("prob", 4).alias("prob"),
    ).orderBy("doc_id")


def _quality_classifier_oracle_sql(
    buckets: int = 1024, seed: int = 3
) -> str:
    w = _classifier_seeded_weights(buckets, seed)
    values = ", ".join(f"({i}, {x!r})" for i, x in enumerate(w))
    return f"""
WITH t AS (
  SELECT doc_id, {_SQL_TOKENS_LOWER} AS toks FROM documents
), f AS (
  SELECT doc_id, toks[i] AS feat
  FROM t, LATERAL unnest(generate_series(1, len(toks))) AS u(i)
  UNION ALL
  SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS feat
  FROM t, LATERAL unnest(generate_series(1, len(toks) - 1)) AS u(i)
  WHERE len(toks) >= 2
), fb AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(feat), 1, 15)) AS BIGINT)
           % {buckets} AS b
  FROM f
), wt(b, w) AS (VALUES {values}),
z AS (
  SELECT fb.doc_id, count(*) AS n_feats,
         0.0 + sum(wt.w) AS logit
  FROM fb JOIN wt ON wt.b = fb.b
  GROUP BY fb.doc_id
)
SELECT doc_id, n_feats, round(logit, 4) AS logit,
       round(1.0 / (1.0 + exp(-logit)), 4) AS prob
FROM z ORDER BY doc_id
"""


SQL_QUALITY_CLASSIFIER = _quality_classifier_oracle_sql()
query(q_quality_classifier, SQL_QUALITY_CLASSIFIER, bench=True)


#: Fixed, ordered merge list for the bpe_encode gate query —
#: data-independent so the DuckDB twin replays the identical replace
#: chain. Production merge lists come from functions.text.train_bpe.
_BPE_GATE_MERGES = [
    ("t", "h"),
    ("th", "e"),
    ("a", "n"),
    ("an", "d"),
    ("i", "n"),
    ("o", "n"),
    ("r", "e"),
    ("e", "r"),
]


def q_bpe_encode(spark, sf_dir):
    """BPE tokenizer APPLICATION (Sennrich et al. 2016): encode every
    document under a fixed ordered merge list
    (functions.text.bpe_apply — a literal replace chain per word,
    reproduced verbatim in the oracle). Output pins the full token
    stream per doc: count + md5 of the space-joined tokens."""
    from mhm_data_pipelines_spark.functions.text import bpe_apply

    df = _t(spark, sf_dir, "documents")
    toks = bpe_apply("text", _BPE_GATE_MERGES)
    return (
        df.select(
            "doc_id",
            F.size(toks).cast("long").alias("n_bpe_tokens"),
            F.md5(F.array_join(toks, " ")).alias("bpe_md5"),
        )
        .orderBy("doc_id")
    )


def _bpe_encode_oracle_sql(
    merges: list[tuple[str, str]] = _BPE_GATE_MERGES,
) -> str:
    chain = "trim(regexp_replace(w, '(.)', '\\1 ', 'g'))"
    for a, b in merges:
        chain = f"replace({chain}, '{a} {b}', '{a}{b}')"
    return f"""
WITH t AS (
  SELECT doc_id, {_SQL_TOKENS_LOWER} AS toks FROM documents
), enc AS (
  SELECT doc_id,
         flatten(list_transform(toks, w ->
           string_split({chain}, ' '))) AS bt
  FROM t
)
SELECT doc_id, len(bt) AS n_bpe_tokens,
       md5(array_to_string(bt, ' ')) AS bpe_md5
FROM enc ORDER BY doc_id
"""


SQL_BPE_ENCODE = _bpe_encode_oracle_sql()
query(q_bpe_encode, SQL_BPE_ENCODE, bench=True)


def q_decontamination(spark, sf_dir):
    """Test-set decontamination: training docs sharing word 3-grams with
    the pseudo-eval slice (doc_id % 97 == 0) and how much — the
    C4/GPT-3-style leakage check, as an n-gram equi-join (eval side is
    benchmark-sized; AQE broadcasts it)."""
    from mhm_data_pipelines_spark.operators.decontam import ngram_overlap

    df = _t(spark, sf_dir, "documents")
    eval_df = df.filter(F.col("doc_id") % 97 == 0)
    train = df.filter(F.col("doc_id") % 97 != 0)
    return ngram_overlap(train, eval_df, n=3).orderBy("doc_id")


SQL_DECONTAMINATION = f"""
WITH t AS (
  SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents
), g AS (
  SELECT DISTINCT doc_id,
         toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] AS ng
  FROM t, LATERAL unnest(generate_series(1, len(toks) - 2)) AS u(i)
  WHERE len(toks) >= 3
)
SELECT tr.doc_id,
       count(DISTINCT tr.ng) AS n_shared_ngrams,
       count(DISTINCT ev.doc_id) AS n_eval_docs
FROM (SELECT * FROM g WHERE doc_id % 97 <> 0) tr
JOIN (SELECT * FROM g WHERE doc_id % 97 = 0) ev ON tr.ng = ev.ng
GROUP BY 1
ORDER BY 1
"""
query(q_decontamination, SQL_DECONTAMINATION, bench=True)


def q_source_mix(spark, sf_dir):
    """Corpus mixing: deterministic per-source quotas toward target
    proportions (Dolma/Pile-style), md5 hash-rank membership so DuckDB
    reproduces the selected rows exactly."""
    from mhm_data_pipelines_spark.operators.sampling import mix_sources

    df = _t(spark, sf_dir, "documents")
    out = mix_sources(
        df,
        weights={"src0": 0.5, "src1": 0.3, "src2": 0.2},
        total=30,
        key="doc_id",
        hash_family="md5",
    )
    return out.select("doc_id", "source").orderBy("doc_id")


SQL_SOURCE_MIX = """
WITH q(source, quota) AS (VALUES ('src0', 15), ('src1', 9), ('src2', 6)),
r AS (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY CAST(('0x' || substr(md5(doc_id || ':42'), 1, 15))
                         AS BIGINT) % 1000000,
                    doc_id
         ) AS rk
  FROM documents
  WHERE source IN ('src0', 'src1', 'src2')
)
SELECT doc_id, source
FROM r JOIN q USING (source)
WHERE rk <= quota
ORDER BY doc_id
"""
query(q_source_mix, SQL_SOURCE_MIX)


def q_token_budget_select(spark, sf_dir):
    """Budgeted corpus selection: keep documents in (n_chars DESC,
    doc_id) order while the cumulative token count stays ≤ 5000 — the
    distributed prefix-sum operator (no single-task global window)."""
    from mhm_data_pipelines_spark.operators.budget import select_to_budget
    from mhm_data_pipelines_spark.functions.text import token_count

    # tokenization is the expensive upstream — evaluate it once and
    # share it between the boundary-sample, totals and window jobs
    df = (
        _t(spark, sf_dir, "documents")
        .withColumn("n_tokens", token_count("text").cast("long"))
        .localCheckpoint(eager=False)
    )
    out = select_to_budget(
        df,
        budget=5000,
        order_by=[("n_chars", False), ("doc_id", True)],
        value_col="n_tokens",
    )
    return out.select(
        "doc_id", "n_tokens", "running_total"
    ).orderBy("doc_id")


SQL_TOKEN_BUDGET_SELECT = f"""
WITH t AS (
  SELECT doc_id, n_chars, len({_SQL_TOKENS}) AS n_tokens FROM documents
), r AS (
  SELECT doc_id, n_tokens,
         CAST(sum(n_tokens) OVER (
           ORDER BY n_chars DESC, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS running_total
  FROM t
)
SELECT doc_id, n_tokens, running_total
FROM r WHERE running_total <= 5000
ORDER BY doc_id
"""
query(q_token_budget_select, SQL_TOKEN_BUDGET_SELECT, bench=True)


def q_chunk_documents(spark, sf_dir):
    """Context-window chunking: 20-token chunks with 5-token overlap
    (stride 15) — per-row explode, zero shuffle."""
    from mhm_data_pipelines_spark.operators.packing import chunk_documents

    df = _t(spark, sf_dir, "documents")
    return chunk_documents(df, chunk_tokens=20, overlap=5).orderBy(
        "doc_id", "chunk_id"
    )


SQL_CHUNK_DOCUMENTS = f"""
WITH t AS (
  SELECT doc_id, {_SQL_TOKENS} AS toks, len({_SQL_TOKENS}) AS n
  FROM documents
), c AS (
  SELECT doc_id, toks, u.i AS chunk_id
  FROM t, LATERAL unnest(generate_series(0,
    CASE WHEN n <= 20 THEN 0 ELSE CAST(ceil((n - 20) / 15) AS INT) END
  )) AS u(i)
)
SELECT doc_id, chunk_id,
       len(list_slice(toks, chunk_id * 15 + 1, chunk_id * 15 + 20))
         AS n_tokens,
       array_to_string(
         list_slice(toks, chunk_id * 15 + 1, chunk_id * 15 + 20), ' '
       ) AS chunk_text
FROM c
ORDER BY doc_id, chunk_id
"""
query(q_chunk_documents, SQL_CHUNK_DOCUMENTS, bench=True)


def q_llm_dataset_build(spark, sf_dir):
    """Flagship end-to-end LLM-dataset build, composing the corpus
    operators in their production order: test-set decontamination
    (drop any doc sharing a word 3-gram with the doc_id%97 pseudo-eval
    slice) → quality filter (≥ 0.75, between score lattice points) →
    exact dedup (normalized fingerprint, min-id keeps) → token-budget
    selection (best-first by n_chars DESC under a 3000-token budget,
    distributed prefix sum) → 20/5 context-window chunking. Every stage
    is the distributed form: anti-join on exploded n-grams, pushdown
    scalar filter, (fingerprint,id)-only shuffle, range-partitioned
    prefix sum, zero-shuffle chunk explode."""
    from mhm_data_pipelines_spark.operators.budget import select_to_budget
    from mhm_data_pipelines_spark.operators.decontam import ngram_overlap
    from mhm_data_pipelines_spark.operators.packing import chunk_documents
    from mhm_data_pipelines_spark.functions.text import token_count

    df = _t(spark, sf_dir, "documents")
    eval_df = df.filter(F.col("doc_id") % 97 == 0)
    train = df.filter(F.col("doc_id") % 97 != 0)
    dirty = ngram_overlap(train, eval_df, n=3).select("doc_id")
    clean = train.join(dirty, "doc_id", "left_anti")
    q = clean.filter(quality_score("text") >= 0.75)
    d = dedup_exact(q)
    # the upstream decontam→quality→dedup chain is expensive — evaluate
    # it once and share it across the prefix-sum jobs
    sel = select_to_budget(
        d.withColumn("n_tokens", token_count("text").cast("long"))
        .localCheckpoint(eager=False),
        budget=3000,
        order_by=[("n_chars", False), ("doc_id", True)],
        value_col="n_tokens",
        keep_running=False,
    )
    return chunk_documents(sel, chunk_tokens=20, overlap=5).orderBy(
        "doc_id", "chunk_id"
    )


SQL_LLM_DATASET_BUILD = f"""
WITH t0 AS (
  SELECT doc_id, source, n_chars, text, {_SQL_TOKENS} AS toks
  FROM documents
), g AS (
  SELECT DISTINCT doc_id,
         toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] AS ng
  FROM t0, LATERAL unnest(generate_series(1, len(toks) - 2)) AS u(i)
  WHERE len(toks) >= 3
), dirty AS (
  SELECT DISTINCT tr.doc_id
  FROM (SELECT * FROM g WHERE doc_id % 97 <> 0) tr
  JOIN (SELECT * FROM g WHERE doc_id % 97 = 0) ev ON tr.ng = ev.ng
), q AS (
  SELECT * FROM t0
  WHERE doc_id % 97 <> 0
    AND doc_id NOT IN (SELECT doc_id FROM dirty)
    AND {{qual}} >= 0.75
), d AS (
  SELECT min(doc_id) AS doc_id FROM q
  GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
), sel AS (
  SELECT doc_id, toks, len(toks) AS n
  FROM (
    SELECT q.doc_id, q.toks, q.n_chars,
           CAST(sum(len(q.toks)) OVER (
             ORDER BY q.n_chars DESC, q.doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS rt
    FROM q JOIN d USING (doc_id)
  ) WHERE rt <= 3000
), c AS (
  SELECT doc_id, toks, u.i AS chunk_id
  FROM sel, LATERAL unnest(generate_series(0,
    CASE WHEN n <= 20 THEN 0 ELSE CAST(ceil((n - 20) / 15) AS INT) END
  )) AS u(i)
)
SELECT doc_id, chunk_id,
       len(list_slice(toks, chunk_id * 15 + 1, chunk_id * 15 + 20))
         AS n_tokens,
       array_to_string(
         list_slice(toks, chunk_id * 15 + 1, chunk_id * 15 + 20), ' '
       ) AS chunk_text
FROM c
ORDER BY doc_id, chunk_id
"""



def q_tfidf_top_terms(spark, sf_dir):
    """Text analysis: top-5 TF-IDF terms per document (functions.text).
    Ranking on 6dp-rounded scores so cross-engine ln() ulp differences
    resolve to the deterministic term tie-break."""
    from mhm_data_pipelines_spark.functions.text import tfidf_top_terms

    df = _t(spark, sf_dir, "documents")
    out = tfidf_top_terms(df, k=5, round_scores=6)
    return out.select(
        "doc_id", "term", "tf", F.round("tfidf", 4).alias("tfidf"), "rank"
    )


SQL_TFIDF_TOP_TERMS = f"""
WITH toks AS (
  SELECT doc_id, lower(t.term) AS term
  FROM documents, unnest({_SQL_TOKENS}) AS t(term)
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
), dfreq AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1
), nd AS (
  SELECT count(DISTINCT doc_id) AS n_docs FROM documents
), scored AS (
  SELECT doc_id, term, tf,
         round(tf * ln(n_docs * 1.0 / df), 6) AS tfidf
  FROM tf JOIN dfreq USING (term) CROSS JOIN nd
)
SELECT doc_id, term, tf, round(tfidf, 4) AS tfidf, CAST(rank AS BIGINT) AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, term) AS rank
  FROM scored
) WHERE rank <= 5
"""
query(q_tfidf_top_terms, SQL_TFIDF_TOP_TERMS, bench=True)


def q_doc_lm_score(spark, sf_dir):
    """Unigram-LM quality scoring: each document's mean token
    log-probability under the corpus unigram model (the cheap stand-in
    for perplexity-based data filtering à la CCNet/Gopher). Corpus
    frequencies are one hash aggregate over the exploded tokens; the
    model (vocab-sized) broadcasts back onto the same relation — the
    TF-IDF shuffle shape. MLE needs no smoothing: every scored token is
    in the corpus by construction."""
    df = _t(spark, sf_dir, "documents")
    toks = df.select(
        "doc_id", F.explode(F.transform(tokens("text"), F.lower)).alias("term")
    )
    freq = toks.groupBy("term").agg(F.count("*").alias("c"))
    total = freq.agg(F.sum("c").cast("double").alias("_total"))
    logp = F.log(F.col("c") / F.col("_total"))
    return (
        toks.join(F.broadcast(freq), "term")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg(logp), 4).alias("avg_logp"),
        )
    )


SQL_DOC_LM_SCORE = f"""
WITH toks AS (
  SELECT doc_id, unnest({_SQL_TOKENS_LOWER}) AS term FROM documents
),
freq AS (SELECT term, count(*) AS c FROM toks GROUP BY term),
total AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM freq)
SELECT doc_id, count(*) AS n_tokens,
       round(avg(ln(c / t)), 4) AS avg_logp
FROM toks JOIN freq USING (term), total
GROUP BY doc_id
"""
query(q_doc_lm_score, SQL_DOC_LM_SCORE, bench=True)


def q_vocab_stats(spark, sf_dir):
    """Corpus vocabulary report per source: token volume, vocab size,
    type-token ratio, hapax share (Heaps/Zipf diagnostics that drive
    tokenizer and dedup threshold choices). Two stacked aggregates over
    one exploded relation."""
    df = _t(spark, sf_dir, "documents")
    toks = df.select(
        "source", F.explode(F.transform(tokens("text"), F.lower)).alias("term")
    )
    per_term = toks.groupBy("source", "term").agg(F.count("*").alias("c"))
    return per_term.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count("*").alias("vocab"),
        F.round(F.count("*") / F.sum("c"), 4).alias("type_token_ratio"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long").alias(
            "hapax"
        ),
    )


SQL_VOCAB_STATS = f"""
WITH toks AS (
  SELECT source, unnest({_SQL_TOKENS_LOWER}) AS term FROM documents
),
per_term AS (
  SELECT source, term, count(*) AS c FROM toks GROUP BY source, term
)
SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS vocab,
       round(count(*) * 1.0 / sum(c), 4) AS type_token_ratio,
       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax
FROM per_term GROUP BY source
"""
query(q_vocab_stats, SQL_VOCAB_STATS, bench=True)


def q_top_terms_per_source(spark, sf_dir):
    """Exact heavy hitters: top-10 tokens per source by count (ties →
    term order). Aggregate then per-group rank — the rank input is the
    per-source vocabulary, already ~1000× smaller than the token
    stream."""
    df = _t(spark, sf_dir, "documents")
    toks = df.select(
        "source", F.explode(F.transform(tokens("text"), F.lower)).alias("term")
    )
    counts = toks.groupBy("source", "term").agg(F.count("*").alias("c"))
    w = Window.partitionBy("source").orderBy(F.desc("c"), F.col("term"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
    )


SQL_TOP_TERMS_PER_SOURCE = f"""
WITH toks AS (
  SELECT source, unnest({_SQL_TOKENS_LOWER}) AS term FROM documents
),
counts AS (
  SELECT source, term, count(*) AS c FROM toks GROUP BY source, term
)
SELECT source, term, c, CAST(rank AS INT) AS rank FROM (
  SELECT source, term, c,
         row_number() OVER (PARTITION BY source ORDER BY c DESC, term) AS rank
  FROM counts
) WHERE rank <= 10
"""
query(q_top_terms_per_source, SQL_TOP_TERMS_PER_SOURCE)


def q_embedding_quantize(spark, sf_dir):
    """Int8 embedding quantization (symmetric per-vector scale) as pure
    expressions: scale = 127/max|x|, q = round(x*scale). The 4×
    storage/bandwidth cut for ANN at scale; checked value-exactly
    against the same arithmetic in SQL. Returns per-vector checksums so
    the compare is compact."""
    df = _t(spark, sf_dir, "embeddings")
    absmax = F.array_max(F.transform("embedding", lambda x: F.abs(x)))
    scale = F.lit(127.0) / absmax
    q = F.transform(
        "embedding", lambda x: F.round(x * scale).cast("int")
    )
    return df.select(
        "vec_id",
        F.round(scale, 4).alias("scale"),
        F.aggregate(q, F.lit(0).cast("long"), lambda a, b: a + b).alias(
            "q_sum"
        ),
        F.array_max(q).alias("q_max"),
        F.array_min(q).alias("q_min"),
    )


SQL_EMBEDDING_QUANTIZE = """
WITH s AS (
  SELECT vec_id, embedding,
         127.0 / CAST(list_max(list_transform(embedding, x -> abs(x)))
                      AS DOUBLE) AS scale
  FROM embeddings
),
q AS (
  SELECT vec_id, scale,
         list_transform(embedding, x -> CAST(round(x * scale) AS INTEGER)) AS qv
  FROM s
)
SELECT vec_id, round(scale, 4) AS scale,
       CAST(list_sum(qv) AS BIGINT) AS q_sum,
       list_max(qv) AS q_max, list_min(qv) AS q_min
FROM q
"""
query(q_embedding_quantize, SQL_EMBEDDING_QUANTIZE, bench=True)


def q_zorder_layout(spark, sf_dir):
    """Z-order (Morton) clustering key over (user_id, epoch-micros ts)
    — the data-layout primitive behind `layout.write_zordered`, which
    keeps EVERY interleaved dimension's row-group min/max tight so
    point/range filters on any of them prune scan I/O at 100 TB. The
    key is pure integer arithmetic after one single-row min/max
    aggregate (scalar broadcast): no sort, no UDF, whole plan stays in
    codegen. Full-value oracle: the quantize+interleave bit math is
    reproduced exactly in DuckDB."""
    from mhm_data_pipelines_spark.operators.layout import with_zorder_key

    df = _t(spark, sf_dir, "events").withColumn(
        "ts_us", F.unix_micros("ts")
    )
    out = with_zorder_key(df, ["user_id", "ts_us"], bits=8)
    return out.select("event_id", "zkey").orderBy("event_id")


def _sql_interleave(cols: list[str], bits: int) -> str:
    parts = []
    for k, q in enumerate(cols):
        for j in range(bits):
            parts.append(f"((({q} >> {j}) & 1) << {j * len(cols) + k})")
    return " + ".join(parts)


SQL_ZORDER_LAYOUT = f"""
WITH b AS (
  SELECT min(user_id) AS min_u, max(user_id) AS max_u,
         min(epoch_us(ts)) AS min_t, max(epoch_us(ts)) AS max_t
  FROM events
), q AS (
  SELECT event_id,
         CASE WHEN max_u = min_u THEN 0 ELSE CAST(floor(
           CAST(user_id - min_u AS DOUBLE) * 255.0
           / CAST(max_u - min_u AS DOUBLE)) AS BIGINT) END AS qu,
         CASE WHEN max_t = min_t THEN 0 ELSE CAST(floor(
           CAST(epoch_us(ts) - min_t AS DOUBLE) * 255.0
           / CAST(max_t - min_t AS DOUBLE)) AS BIGINT) END AS qt
  FROM events, b
)
SELECT event_id,
       CAST({_sql_interleave(["qu", "qt"], 8)} AS BIGINT) AS zkey
FROM q ORDER BY event_id
"""
query(q_zorder_layout, SQL_ZORDER_LAYOUT, bench=True)


def q_approx_sketch_bounds(spark, sf_dir):
    """Sketch surface with an invariant oracle: per event type, HLL++
    approx-distinct (rsd 1%) and KLL-style percentile_approx must land
    inside exact error bands computed in the SAME aggregation (approx
    within 5% of exact distinct; approx median inside the exact
    p40–p60 band). At 100 TB the sketches are the mergeable, bounded-
    memory path (no exact-distinct shuffle explosion); the oracle
    pattern (Spark emits the bound-check booleans, DuckDB emits exact
    values + TRUE) makes a non-deterministic-looking estimator fully
    hash-checkable."""
    df = _t(spark, sf_dir, "events")
    agg = df.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.expr("approx_count_distinct(user_id, 0.01)").alias("_hll"),
        F.expr("percentile(value, 0.40D)").alias("_p40"),
        F.expr("percentile(value, 0.60D)").alias("_p60"),
        F.expr("percentile_approx(value, 0.5D, 10000)").alias("_ap50"),
    )
    return agg.select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("_hll") - F.col("exact_users"))
            <= F.col("exact_users") * F.lit(0.05)
        ).alias("hll_within_5pct"),
        (
            (F.col("_ap50") >= F.col("_p40"))
            & (F.col("_ap50") <= F.col("_p60"))
        ).alias("p50_within_band"),
    ).orderBy("event_type")


SQL_APPROX_SKETCH_BOUNDS = """
SELECT event_type, count(DISTINCT user_id) AS exact_users,
       TRUE AS hll_within_5pct, TRUE AS p50_within_band
FROM events GROUP BY event_type ORDER BY event_type
"""
query(q_approx_sketch_bounds, SQL_APPROX_SKETCH_BOUNDS)


def q_dedup_exact_keep(spark, sf_dir):
    """Exact dedup: lowest doc_id kept per normalized-text fingerprint."""
    return dedup_exact(_t(spark, sf_dir, "documents")).select("doc_id")


SQL_DEDUP_EXACT_KEEP = f"""
SELECT min(doc_id) AS doc_id FROM documents
GROUP BY md5(array_to_string({_SQL_TOKENS_LOWER}, ' '))
"""
query(q_dedup_exact_keep, SQL_DEDUP_EXACT_KEEP, bench=True)


def q_dup_groups(spark, sf_dir):
    """Exact-duplicate group report (fingerprint, members, kept id)."""
    return exact_duplicates(_t(spark, sf_dir, "documents")).select(
        "fp", "n_members", "keep_id"
    )


SQL_DUP_GROUPS = f"""
SELECT md5(array_to_string({_SQL_TOKENS_LOWER}, ' ')) AS fp,
       count(*) AS n_members, min(doc_id) AS keep_id
FROM documents
GROUP BY 1 HAVING count(*) > 1
"""
query(q_dup_groups, SQL_DUP_GROUPS, bench=True)


def q_doc_fingerprints(spark, sf_dir):
    """Document fingerprinting: stable 128-bit content id per doc."""
    df = _t(spark, sf_dir, "documents")
    return df.select("doc_id", fingerprint("text").alias("fp"))


SQL_DOC_FINGERPRINTS = f"""
SELECT doc_id, md5(array_to_string({_SQL_TOKENS_LOWER}, ' ')) AS fp
FROM documents
"""
query(q_doc_fingerprints, SQL_DOC_FINGERPRINTS)


def q_unigram_jaccard_pairs(spark, sf_dir):
    """N-gram (token-set) Jaccard near-dup pairs, blocked by source —
    the verification-stage join shape (no cross product)."""
    df = _t(spark, sf_dir, "documents")
    toks = df.select(
        "doc_id",
        "source",
        F.array_distinct(tokens(F.lower(F.col("text")))).alias("toks"),
    )
    a = toks.alias("a")
    b = toks.alias("b")
    inter = F.size(F.array_intersect("a.toks", "b.toks"))
    union = F.size(F.array_union("a.toks", "b.toks"))
    jac = inter.cast("double") / union.cast("double")
    return (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.round(jac, 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.9)
    )


SQL_UNIGRAM_JACCARD = f"""
WITH t AS (
  SELECT doc_id, source, list_distinct({_SQL_TOKENS_LOWER}) AS toks
  FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(len(list_intersect(a.toks, b.toks)) * 1.0
             / len(list_distinct(list_cat(a.toks, b.toks))), 4) AS jaccard
FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
WHERE round(len(list_intersect(a.toks, b.toks)) * 1.0
            / len(list_distinct(list_cat(a.toks, b.toks))), 4) >= 0.9
"""
query(q_unigram_jaccard_pairs, SQL_UNIGRAM_JACCARD)


def q_neardup_clusters(spark, sf_dir):
    """Near-dup cluster resolution: the exact-Jaccard pair graph closed
    under transitivity by ITERATIVE min-label propagation
    (operators.components) — a genuinely iterative distributed algorithm
    that still gets a full value oracle, because DuckDB can close the
    same edge set with a recursive CTE."""
    from mhm_data_pipelines_spark.operators.components import (
        connected_components,
    )

    df = _t(spark, sf_dir, "documents")
    pairs = q_unigram_jaccard_pairs(spark, sf_dir).select("id_a", "id_b")
    comp = connected_components(pairs, nodes=df.select("doc_id"))
    return comp.select(F.col("node").alias("doc_id"), "component")


_SQL_NEARDUP_EDGES = """
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM (SELECT doc_id, source, list_distinct({toks}) AS toks FROM documents) a
  JOIN (SELECT doc_id, source, list_distinct({toks}) AS toks FROM documents) b
    ON a.source = b.source AND a.doc_id < b.doc_id
  WHERE round(len(list_intersect(a.toks, b.toks)) * 1.0
              / len(list_distinct(list_cat(a.toks, b.toks))), 4) >= 0.9
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
comp AS (
  SELECT d.doc_id,
         least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS component
  FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
  GROUP BY d.doc_id
)
"""


def q_neardup_dedup_keep(spark, sf_dir):
    """End-to-end near-dup dedup: one min-id representative survives per
    cluster (dedup_by_components); singletons survive untouched."""
    from mhm_data_pipelines_spark.operators.components import (
        dedup_by_components,
    )

    df = _t(spark, sf_dir, "documents")
    pairs = q_unigram_jaccard_pairs(spark, sf_dir).select("id_a", "id_b")
    return dedup_by_components(df, pairs).select("doc_id", "source", "n_chars")


def q_stratified_counts(spark, sf_dir):
    """Exact-quota stratified sampling: per-source sampled counts. The
    membership is content-hash-ranked (not SQL-reproducible) but the
    quota arithmetic is — counts get the full oracle; membership
    determinism is property-tested in test_sampling.py."""
    from mhm_data_pipelines_spark.operators.sampling import (
        stratified_sample,
    )

    df = _t(spark, sf_dir, "documents")
    s = stratified_sample(df, ["source"], 30, "doc_id")
    return s.groupBy("source").agg(F.count("*").alias("n_sampled"))


SQL_STRATIFIED_COUNTS = """
SELECT source, least(30, count(*)) AS n_sampled
FROM documents GROUP BY source
"""
query(q_stratified_counts, SQL_STRATIFIED_COUNTS, bench=True)


def q_balanced_classes(spark, sf_dir):
    """Class balancing to the minority size: per-label counts after
    downsampling all equal min class size."""
    from mhm_data_pipelines_spark.operators.sampling import balance_classes

    df = _t(spark, sf_dir, "embeddings")
    b = balance_classes(df, "label", "vec_id")
    return b.groupBy("label").agg(F.count("*").alias("n"))


SQL_BALANCED_CLASSES = """
WITH c AS (SELECT label, count(*) AS n FROM embeddings GROUP BY label)
SELECT label, (SELECT min(n) FROM c) AS n FROM c
"""
query(q_balanced_classes, SQL_BALANCED_CLASSES)


def q_pack_documents(spark, sf_dir):
    """Sequence packing: per-source token-budget bin assignment plus the
    bin fill report (operators.packing) — window running-sum shape, one
    shuffle per shard key."""
    from mhm_data_pipelines_spark.operators.packing import (
        pack_documents,
        pack_stats,
    )

    df = _t(spark, sf_dir, "documents")
    packed = pack_documents(df, budget_tokens=256)
    return pack_stats(packed).select(
        "source", "pack_id", "n_docs", "fill_tokens"
    )


SQL_PACK_DOCUMENTS = f"""
WITH t AS (
  SELECT doc_id, source, len({_SQL_TOKENS}) AS n_tokens FROM documents
),
p AS (
  SELECT source, doc_id, n_tokens,
         CAST(floor((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                         ROWS UNBOUNDED PRECEDING)
                     - n_tokens) / 256) AS BIGINT) AS pack_id
  FROM t
)
SELECT source, pack_id, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS fill_tokens
FROM p GROUP BY source, pack_id
"""
query(q_pack_documents, SQL_PACK_DOCUMENTS, bench=True)


def q_corpus_prep(spark, sf_dir):
    """Flagship end-to-end training-corpus prep: quality filter →
    exact dedup (normalized fingerprint, min-id keeps) → near-dup
    CLUSTER dedup (exact-Jaccard pairs → connected components → one
    survivor per cluster). Every stage is the distributed form: the
    quality filter is a pushdown-friendly scalar, exact dedup shuffles
    only (fingerprint, id), the pair join is blocked by source, and the
    component loop is one keyed shuffle per round. Quality threshold
    0.75 sits between the score lattice points 0.7 and 0.8 so float
    representation of 0.5+0.3 can't flip membership cross-engine."""
    from mhm_data_pipelines_spark.operators.components import (
        dedup_by_components,
    )

    df = _t(spark, sf_dir, "documents")
    q = df.filter(quality_score("text") >= 0.75)
    # The survivor set fans out to three consumers (pair self-join, node
    # set, final semi-join) and seeds an iterative loop — materialize it
    # once instead of recomputing filter+dedup per consumer per round.
    d = dedup_exact(q).localCheckpoint()
    toks = d.select(
        "doc_id",
        "source",
        F.array_distinct(tokens(F.lower(F.col("text")))).alias("toks"),
    )
    a, b = toks.alias("a"), toks.alias("b")
    inter = F.size(F.array_intersect("a.toks", "b.toks"))
    union = F.size(F.array_union("a.toks", "b.toks"))
    jac = F.round(inter.cast("double") / union.cast("double"), 4)
    pairs = (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            jac.alias("j"),
        )
        .filter(F.col("j") >= 0.9)
        .select("id_a", "id_b")
    )
    return dedup_by_components(d, pairs).select("doc_id", "source", "n_chars")


_SQL_QUALITY_EXPR = f"""(
  (CASE WHEN len(toks) BETWEEN 10 AND 1000 THEN 0.5 ELSE 0.0 END)
  + (CASE WHEN CASE WHEN len(toks) > 0
         THEN len(list_filter(toks, x -> list_contains({{stop}}, lower(x))))
              * 1.0 / len(toks) ELSE 0.0 END > 0.05 THEN 0.3 ELSE 0.0 END)
  + (CASE WHEN CASE WHEN length(text) > 0
         THEN (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
              * 1.0 / length(text) ELSE 0.0 END < 0.2 THEN 0.2 ELSE 0.0 END)
)"""


SQL_CORPUS_PREP = f"""
WITH RECURSIVE t0 AS (
  SELECT doc_id, source, n_chars, text, {{tok}} AS toks FROM documents
),
q AS (
  SELECT doc_id, source, n_chars, text FROM t0
  WHERE {_SQL_QUALITY_EXPR} >= 0.75
),
d AS (
  SELECT min(doc_id) AS doc_id FROM q
  GROUP BY md5(array_to_string({{tokl}}, ' '))
),
dq AS (SELECT q.* FROM q JOIN d USING (doc_id)),
p2 AS (
  SELECT doc_id, source, list_distinct({{tokl}}) AS ltoks FROM dq
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM p2 a JOIN p2 b ON a.source = b.source AND a.doc_id < b.doc_id
  WHERE round(len(list_intersect(a.ltoks, b.ltoks)) * 1.0
              / len(list_distinct(list_cat(a.ltoks, b.ltoks))), 4) >= 0.9
),
edges AS (
  SELECT id_a AS ea, id_b AS eb FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(ea, eb) AS (
  SELECT ea, eb FROM edges
  UNION
  SELECT r.ea, e.eb FROM reach r JOIN edges e ON r.eb = e.ea
),
comp AS (
  SELECT dq.doc_id,
         least(dq.doc_id, coalesce(min(r.eb), dq.doc_id)) AS component
  FROM dq LEFT JOIN reach r ON r.ea = dq.doc_id
  GROUP BY dq.doc_id
)
SELECT dq.doc_id, dq.source, dq.n_chars
FROM dq JOIN comp ON dq.doc_id = comp.doc_id
WHERE comp.doc_id = comp.component
"""

SQL_CORPUS_PREP = SQL_CORPUS_PREP.format(
    stop=_SQL_STOPLIST, tok=_SQL_TOKENS, tokl=_SQL_TOKENS_LOWER
)
query(q_corpus_prep, SQL_CORPUS_PREP)

SQL_LLM_DATASET_BUILD = SQL_LLM_DATASET_BUILD.format(
    qual=_SQL_QUALITY_EXPR.format(stop=_SQL_STOPLIST)
)
query(q_llm_dataset_build, SQL_LLM_DATASET_BUILD)

SQL_NEARDUP_CLUSTERS = (
    "WITH RECURSIVE "
    + _SQL_NEARDUP_EDGES.format(toks=_SQL_TOKENS_LOWER)
    + "SELECT doc_id, component FROM comp"
)
query(q_neardup_clusters, SQL_NEARDUP_CLUSTERS)

SQL_NEARDUP_DEDUP_KEEP = (
    "WITH RECURSIVE "
    + _SQL_NEARDUP_EDGES.format(toks=_SQL_TOKENS_LOWER)
    + """
SELECT d.doc_id, d.source, d.n_chars
FROM documents d JOIN comp c ON d.doc_id = c.doc_id
WHERE c.doc_id = c.component
"""
)
query(q_neardup_dedup_keep, SQL_NEARDUP_DEDUP_KEEP)


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): block
    the embedding space by cluster, find within-cluster cosine near-dup
    pairs, close the pair graph under transitivity, and keep ONE min-id
    representative per semantic group — singletons survive untouched.
    Composes three independently-oracled stages (blocked embedding
    near-dup ≡ embedding_neardup's pair set, iterative
    connected-components ≡ the recursive-CTE closure, min-id survivor
    rule), so the full pipeline keeps a full value oracle."""
    from mhm_data_pipelines_spark.operators.components import (
        dedup_by_components,
    )

    df = _t(spark, sf_dir, "embeddings")
    pairs = embedding_near_duplicates(
        df, block_col="label", threshold=0.3
    ).select("id_a", "id_b")
    return (
        dedup_by_components(df, pairs, id_col="vec_id")
        .select("vec_id", "label")
        .orderBy("vec_id")
    )


SQL_SEMANTIC_DEDUP = """
WITH RECURSIVE
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                               CAST(b.embedding AS DOUBLE[])) >= 0.3
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
comp AS (
  SELECT v.vec_id,
         least(v.vec_id, coalesce(min(r.b), v.vec_id)) AS component
  FROM embeddings v LEFT JOIN reach r ON r.a = v.vec_id
  GROUP BY v.vec_id
)
SELECT e.vec_id, e.label
FROM embeddings e JOIN comp c ON e.vec_id = c.vec_id
WHERE c.vec_id = c.component
ORDER BY e.vec_id
"""
query(q_semantic_dedup, SQL_SEMANTIC_DEDUP)


def q_binary_metadata(spark, sf_dir):
    """Multimodal plumbing: typed metadata over an opaque binary payload
    (text bytes stand in for media payloads)."""
    df = _t(spark, sf_dir, "documents")
    return df.select(
        "doc_id",
        F.octet_length("text").alias("n_bytes"),
        F.lit("text/plain").alias("mime_type"),
    )


SQL_BINARY_METADATA = """
SELECT doc_id, octet_length(encode(text)) AS n_bytes,
       'text/plain' AS mime_type
FROM documents
"""
query(q_binary_metadata, SQL_BINARY_METADATA)


def q_frame_samples(spark, sf_dir):
    """Multimodal frame-sampling plan: explode-by-metadata fan-out (one
    row per planned frame), aggregated back to per-asset frame counts —
    text bytes stand in for media; duration synthesized from n_chars."""
    from mhm_data_pipelines_spark.operators.multimodal import frame_sample_plan

    df = _t(spark, sf_dir, "documents")
    assets = df.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("text/plain").alias("mime_type"),
        (F.col("n_chars") * 10).alias("duration_ms"),
    )
    plan = frame_sample_plan(assets, every_ms=1000)
    return plan.groupBy("asset_id").agg(F.count("*").alias("n_frames"))


SQL_FRAME_SAMPLES = """
SELECT doc_id AS asset_id,
       CAST(floor((n_chars * 10) / 1000.0) AS BIGINT) + 1 AS n_frames
FROM documents
"""
query(q_frame_samples, SQL_FRAME_SAMPLES)


def q_embedding_topk(spark, sf_dir):
    """ANN baseline: exact brute-force cosine top-10 for one query vector
    (the embedding of vec_id 0). The query vector is a plan literal — the
    scan is map-only + TakeOrdered, no shuffle."""
    df = _t(spark, sf_dir, "embeddings")
    qvec = df.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    out = brute_force_topk(df.filter(F.col("vec_id") != 0), list(qvec), k=10)
    return out.withColumn("cosine", F.round("cosine", 4))


SQL_EMBEDDING_TOPK = """
SELECT b.vec_id, round(list_cosine_similarity(
         CAST(b.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])), 4) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id = 0 AND b.vec_id <> 0
ORDER BY list_cosine_similarity(CAST(b.embedding AS DOUBLE[]),
                                CAST(a.embedding AS DOUBLE[])) DESC, b.vec_id
LIMIT 10
"""
query(q_embedding_topk, SQL_EMBEDDING_TOPK, bench=True)


def q_embedding_centroids(spark, sf_dir):
    """Per-label centroid (long form) — the IVF coarse-quantizer step."""
    out = label_centroids_long(_t(spark, sf_dir, "embeddings"))
    return out.withColumn("mean_val", F.round("mean_val", 6))


SQL_EMBEDDING_CENTROIDS = """
SELECT label, CAST(r.pos AS INTEGER) AS pos,
       round(avg(CAST(embedding[r.pos] AS DOUBLE)), 6) AS mean_val
FROM embeddings CROSS JOIN range(1, 65) r(pos)
GROUP BY label, CAST(r.pos AS INTEGER)
"""
query(q_embedding_centroids, SQL_EMBEDDING_CENTROIDS, bench=True)


def q_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-dup pairs, blocked by label (the blocked
    equi-join shape that replaces the cross product at scale)."""
    from mhm_data_pipelines_spark.session import default_parallelism

    # Coarse-label blocking gives the join only ~10 distinct keys, so
    # the quadratic pair fan-out would run on <=10 tasks (ONE after AQE
    # coalescing — measured 253 s single-task at the sf1 probe while 31
    # cores idled). Salt derives from the session's parallelism, never
    # a local constant.
    out = embedding_near_duplicates(
        _t(spark, sf_dir, "embeddings"),
        block_col="label",
        threshold=0.3,
        salt_buckets=max(2, min(16, default_parallelism(spark))),
    )
    return out.withColumn("cosine", F.round("cosine", 4))


SQL_EMBEDDING_NEARDUP = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 4) AS cosine
FROM embeddings a JOIN embeddings b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                             CAST(b.embedding AS DOUBLE[])) >= 0.3
"""
query(q_embedding_neardup, SQL_EMBEDDING_NEARDUP, bench=True)


# --- rows-only queries (no SQL-expressible oracle: hashing/approx ops) ----

def q_multimodal_features(spark, sf_dir):
    """mapInPandas feature extraction over binary payloads (Arrow batch
    path; deterministic byte-histogram stand-in for a media model).

    Full value oracle via integer reconstruction: the float32 feature is
    bucket_count/n_bytes, so round(feature[j] * n_bytes) recovers the
    exact integer histogram (float32 error ≪ 0.5 at payload sizes), and
    DuckDB rebuilds the same histogram from the characters of the ASCII
    payload — verifying the whole Arrow/mapInPandas path end-to-end
    without comparing floats."""
    from mhm_data_pipelines_spark.operators.multimodal import extract_features

    df = _t(spark, sf_dir, "documents")
    assets = df.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("text/plain").alias("mime_type"),
        F.encode("text", "utf-8").alias("payload"),
        F.lit(None).cast("long").alias("width"),
        F.lit(None).cast("long").alias("height"),
        F.lit(None).cast("long").alias("duration_ms"),
    )
    feats = extract_features(assets)
    return (
        feats.select(
            "asset_id",
            "mime_type",
            "n_bytes",
            F.posexplode("feature").alias("bucket", "share"),
        )
        .select(
            "asset_id",
            "mime_type",
            "n_bytes",
            "bucket",
            F.round(F.col("share") * F.col("n_bytes"))
            .cast("long")
            .alias("bucket_count"),
        )
        .orderBy("asset_id", "bucket")
    )


SQL_MULTIMODAL_FEATURES = """
WITH chars AS (
  SELECT doc_id, unicode(substr(text, i, 1)) % 8 AS bucket
  FROM documents, LATERAL unnest(generate_series(1, len(text))) AS u(i)
), counts AS (
  SELECT doc_id, bucket, count(*) AS c FROM chars GROUP BY 1, 2
), grid AS (
  SELECT d.doc_id, len(d.text) AS n, g.bucket
  FROM documents d CROSS JOIN range(0, 8) g(bucket)
)
SELECT grid.doc_id AS asset_id, 'text/plain' AS mime_type,
       grid.n AS n_bytes, CAST(grid.bucket AS INTEGER) AS bucket,
       coalesce(c, 0) AS bucket_count
FROM grid LEFT JOIN counts
  ON counts.doc_id = grid.doc_id AND counts.bucket = grid.bucket
ORDER BY asset_id, bucket
"""
query(q_multimodal_features, SQL_MULTIMODAL_FEATURES)


def q_lang_id(spark, sf_dir):
    """Heuristic language ID per document (marker-stopword / script
    detection). Fully oracle-checked: the marker-hit argmax (ties →
    alphabetically-last language, mirroring array_max on struct(hits,
    lang)) and the CJK script test are both ANSI-expressible."""
    df = _t(spark, sf_dir, "documents")
    return df.select("doc_id", lang_id("text").alias("pred_lang"))


SQL_LANG_ID = f"""
WITH t AS (
  SELECT doc_id, text, {_SQL_TOKENS_LOWER} AS toks FROM documents
),
h AS (
  SELECT doc_id, text,
    len(list_filter(toks, x -> list_contains(['the','and','of','is'], x))) AS h_en,
    len(list_filter(toks, x -> list_contains(['el','la','los','que','y'], x))) AS h_es,
    len(list_filter(toks, x -> list_contains(['le','la','les','et','est'], x))) AS h_fr,
    len(list_filter(toks, x -> list_contains(['der','die','das','und','ist'], x))) AS h_de
  FROM t
)
SELECT doc_id,
  CASE WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
       WHEN greatest(h_en, h_es, h_fr, h_de) > 0 THEN
         CASE WHEN h_fr = greatest(h_en, h_es, h_fr, h_de) THEN 'fr'
              WHEN h_es = greatest(h_en, h_es, h_fr, h_de) THEN 'es'
              WHEN h_en = greatest(h_en, h_es, h_fr, h_de) THEN 'en'
              ELSE 'de' END
       ELSE 'en' END AS pred_lang
FROM h
"""
query(q_lang_id, SQL_LANG_ID, bench=True)


def q_minhash_exact_pairs(spark, sf_dir):
    """MinHash-LSH near-dup pipeline with EXACT verification: signatures
    → banded candidates at rows-per-band=1 (32 bands × 1 hash: a true
    pair at Jaccard 0.5 escapes all bands with probability (1-J)^32 ≈
    2e-10 — recall is certain at gate scale) → exact char-5-gram Jaccard
    on candidates only → keep ≥ 0.5. Because recall is total, the output
    EQUALS the brute-force definition, which DuckDB computes
    independently over all pairs — a full value oracle for a pipeline
    whose xxhash64 internals DuckDB cannot reproduce. The production
    default (8 bands × 4 rows + estimated-Jaccard verify) stays in
    minhash_near_duplicates; this gate shape trades extra candidates for
    provable completeness. GATE-ONLY: 1-row bands collide at rate J per
    band, and this corpus is overlap-heavy — fine at sf0.01 gate scale,
    a candidate flood at sf0.1+ (measured 177 s; the banded+est
    q_minhash_neardup is the bench headline)."""
    df = _t(spark, sf_dir, "documents")
    # Gate-only persist (32 1-row bands reuse the signatures twice);
    # tracked so release_query_resources() frees it post-consumption.
    sigs = _track(minhash_signatures(df, num_hashes=32).persist())
    cands = minhash_lsh_candidates(sigs, bands=32, num_hashes=32)
    grams = df.select(
        "doc_id", char_ngrams("text", 5, distinct=True).alias("g")
    )
    ga = grams.select(F.col("doc_id").alias("id_a"), F.col("g").alias("g_a"))
    gb = grams.select(F.col("doc_id").alias("id_b"), F.col("g").alias("g_b"))
    inter = F.size(F.array_intersect("g_a", "g_b")).cast("double")
    union = F.size(F.array_union("g_a", "g_b")).cast("double")
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (
        cands.join(ga, "id_a")
        .join(gb, "id_b")
        .select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= 0.5)
        .orderBy("id_a", "id_b")
    )


SQL_MINHASH_EXACT_PAIRS = """
WITH norm AS (
  SELECT doc_id, lower(text) AS t FROM documents
), g AS (
  SELECT DISTINCT doc_id, substr(t, i, 5) AS sh
  FROM norm, LATERAL unnest(generate_series(1, len(t) - 4)) AS u(i)
  WHERE len(t) >= 5
), sizes AS (
  SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM g a JOIN g b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(i * 1.0 / (sa.n + sb.n - i), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE round(i * 1.0 / (sa.n + sb.n - i), 4) >= 0.5
ORDER BY id_a, id_b
"""
query(q_minhash_exact_pairs, SQL_MINHASH_EXACT_PAIRS)


#: Bench/gate MinHash shape: 32 hashes, 8 bands × 4 rows, est ≥ 25/32.
#: The pigeonhole bound (≤7 disagreeing slots can dirty at most 7 of
#: the 8 bands → some band fully agrees) makes banding COMPLETE w.r.t.
#: the estimated-Jaccard threshold, so the DuckDB brute-force signature
#: twin is a FULL value oracle. 4-row bands collide at ~J⁴ — measured
#: 100 k candidates vs 5 M for 16×2 bands at sf0.1 on this
#: overlap-heavy corpus (3.2 s → 1.9 s warm). (A 16-hash variant was
#: also measured: estimator variance floods the output with J≈0.4
#: pairs — 5790 rows vs 363 — erasing its codegen savings.)
_MINHASH_N = 32
_MINHASH_BANDS = 8
_MINHASH_EST_T = 25 / 32


def q_minhash_neardup(spark, sf_dir):
    """MinHash-LSH near-dup pipeline (signatures → banded candidates →
    estimated-Jaccard verify), same shape as the production default but
    on the md5-derived
    ``(h1 + i*h2) mod p`` permutation family, which is bit-identical
    in DuckDB (one md5 per shingle, two 60-bit halves). Banding is
    provably complete at the est threshold (see _MINHASH_* notes), so
    DuckDB's brute-force signature comparison over all pairs reproduces
    the output exactly — a FULL value oracle for the signature/banding
    math itself; q_minhash_exact_pairs separately checks the pipeline
    against ground-truth Jaccard. (The xxhash64 family stays the
    production default; md5 measured ≈ equal cost at sf0.1.)

    Perf note (VERDICT r8 #2, profiled r9): the warm drift 1.09x→1.28x
    across r7→r8 happened with ZERO code change to this path (git diff
    9906bed..r8 on dedup.py/text.py is empty) — batch-environment
    noise, not a regression. Stage profile at sf0.1: signature build
    ~0.6 s, banding join + pair-distinct ~0.9 s, verification joins
    ~0.5 s — a ~6-shuffle-stage floor that scheduling overhead
    dominates at this scale. r9 removed the one structural waste: the
    shingle-less re-attach join inside the signature build
    (attach_empty=False here — a NULL signature can never band or
    verify), ~12% of warm wall."""
    df = _t(spark, sf_dir, "documents")
    out = minhash_near_duplicates(
        df,
        num_hashes=_MINHASH_N,
        bands=_MINHASH_BANDS,
        threshold=_MINHASH_EST_T,
        hash_family="md5",
        # md5-per-shingle signatures are expensive enough that the
        # one-scan localCheckpoint beats re-deriving them for all
        # three consumers (measured at sf0.1: ~1.8-2.0 s vs
        # 1.8-2.4 s+tail lazy).
        signatures=minhash_signatures(
            df, "text", "doc_id", _MINHASH_N, 5, "md5", attach_empty=False
        ).localCheckpoint(eager=False),
    )
    return out.select(
        "id_a", "id_b", F.round("est_jaccard", 4).alias("est_jaccard")
    ).orderBy("id_a", "id_b")


SQL_MINHASH_NEARDUP = f"""
WITH norm AS (
  SELECT doc_id, lower(text) AS t FROM documents
), g AS (
  SELECT doc_id, substr(t, i, 5) AS sh
  FROM norm, LATERAL unnest(generate_series(1, len(t) - 4)) AS u(i)
  WHERE len(t) >= 5
), hashed AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(sh), 1, 15)) AS BIGINT)
           % 2147483647 AS h1,
         CAST(('0x' || substr(md5(sh), 16, 15)) AS BIGINT)
           % {MINHASH_MD5_P - 1} + 1 AS h2
  FROM g
), sigs AS (
  SELECT doc_id, u.i,
         min((h1 + u.i * h2) % 2147483647) AS mh
  FROM hashed, LATERAL unnest(generate_series(0, {_MINHASH_N - 1})) AS u(i)
  GROUP BY doc_id, u.i
), agree AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS eq
  FROM sigs a JOIN sigs b ON a.i = b.i AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, round(eq / {_MINHASH_N}.0, 4) AS est_jaccard
FROM agree WHERE eq >= {int(_MINHASH_EST_T * _MINHASH_N)}
ORDER BY id_a, id_b
"""
query(q_minhash_neardup, SQL_MINHASH_NEARDUP, bench=True)


def q_simhash_groups(spark, sf_dir):
    """SimHash-identical document groups (Hamming distance 0), on the
    60-bit md5-derived signature so DuckDB rebuilds the signatures and
    the grouping gets a full value oracle. The xxhash64 production
    variant is covered by tests (same vote/assembly code path)."""
    sigs = simhash(
        _t(spark, sf_dir, "documents"), bits=60, token_hash="md5"
    )
    return (
        sigs.groupBy("simhash")
        .agg(
            F.count("*").alias("n_members"),
            F.min("doc_id").alias("keep_id"),
        )
        .filter(F.col("n_members") > 1)
        .orderBy("simhash")
    )


_SIMHASH_BITS = 60
_SIMHASH_K = 6


def q_simhash_neardup(spark, sf_dir):
    """Banded SimHash near-dup pairs, Hamming ≤ 6 over a 60-bit
    md5-derived signature — EXACT by pigeonhole (k+1 disjoint chunks),
    so a brute-force O(n²) DuckDB oracle reproduces it value-for-value:
    md5 is the one hash both engines share."""
    return simhash_near_duplicates(
        _t(spark, sf_dir, "documents"),
        max_hamming=_SIMHASH_K,
        bits=_SIMHASH_BITS,
        token_hash="md5",
    ).orderBy("id_a", "id_b")


def _sql_simhash_neardup(bits: int = _SIMHASH_BITS, k: int = _SIMHASH_K) -> str:
    votes = ",\n         ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v{j}"
        for j in range(bits)
    )
    sig = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN (1::BIGINT << {j}) ELSE 0 END)"
        for j in range(bits)
    )
    return f"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS t
  FROM documents
), th AS (
  SELECT doc_id, CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS h
  FROM toks WHERE t <> ''
), votes AS (
  SELECT doc_id,
         {votes}
  FROM th GROUP BY doc_id
), sigs AS (
  SELECT doc_id, {sig} AS sig FROM votes
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sig, b.sig)) <= {k}
ORDER BY id_a, id_b
"""


SQL_SIMHASH_NEARDUP = _sql_simhash_neardup()
query(q_simhash_neardup, SQL_SIMHASH_NEARDUP, bench=True)

#: Reuses the signature CTEs: identical-signature groups.
SQL_SIMHASH_GROUPS = (
    SQL_SIMHASH_NEARDUP.split("SELECT a.doc_id")[0]
    + """SELECT sig AS simhash, count(*) AS n_members, min(doc_id) AS keep_id
FROM sigs GROUP BY sig HAVING count(*) > 1 ORDER BY simhash
"""
)
query(q_simhash_groups, SQL_SIMHASH_GROUPS)


def q_ivf_topk(spark, sf_dir):
    """IVF ANN with EXHAUSTIVE probing (nprobe = all lists): exercises
    the full IVF machinery — shuffle-free literal-quantizer assignment,
    probe-list explode, bucketed join, per-query ranking — while being
    provably equal to exact brute-force top-k, so DuckDB's independent
    brute force is a full value oracle. Selective-probe (nprobe=2)
    recall stays covered in tests/test_similarity.py."""
    df = _t(spark, sf_dir, "embeddings")
    cents = [
        (r["label"], list(r["centroid"]))
        for r in label_centroids(df).collect()
    ]
    queries = df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = df.filter(F.col("vec_id") >= 5)
    out = ivf_topk(corpus, queries, cents, k=10, nprobe=len(cents))
    return out.withColumn("cosine", F.round("cosine", 4)).orderBy(
        "query_id", F.desc("cosine"), "vec_id"
    )


SQL_IVF_TOPK = """
SELECT a.vec_id AS query_id, b.vec_id,
       round(list_cosine_similarity(
         CAST(b.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])), 4)
         AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < 5 AND b.vec_id >= 5
QUALIFY row_number() OVER (
  PARTITION BY a.vec_id
  ORDER BY list_cosine_similarity(CAST(b.embedding AS DOUBLE[]),
                                  CAST(a.embedding AS DOUBLE[])) DESC,
           b.vec_id
) <= 10
ORDER BY 1, 3 DESC, 2
"""
query(q_ivf_topk, SQL_IVF_TOPK, bench=True)


def q_lsh_topk(spark, sf_dir):
    """Approximate ANN: random-hyperplane LSH-bucketed top-k for 5 query
    vectors — with a FULL value oracle. The hyperplanes are seeded
    driver-side literals (similarity.lsh_bucket_ids) and every float op
    in the pipeline (cast-widen, left-fold dot, sqrt, divide) is a
    deterministic IEEE-double sequence, so the DuckDB twin unrolls the
    SAME constants into the SAME operation order and reproduces the
    buckets and cosines bit-identically (see _lsh_topk_oracle_sql)."""
    df = _t(spark, sf_dir, "embeddings")
    queries = df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = df.filter(F.col("vec_id") >= 5)
    out = lsh_topk(corpus, queries, dim=64, k=10, bits=4)
    return out.withColumn("cosine", F.round("cosine", 4)).orderBy(
        "query_id", F.desc("cosine"), "vec_id"
    )


def _lsh_topk_oracle_sql(dim: int = 64, bits: int = 4, seed: int = 42) -> str:
    """DuckDB twin of q_lsh_topk, bit-identical by construction.

    Mirrors similarity.lsh_bucket_ids + lsh_topk float-for-float:
    * same hyperplanes — regenerated here with the same seeded RNG and
      embedded as shortest-round-trip literals (repr), which DuckDB
      parses back to the identical double;
    * same op order — Spark's dot/norm are sequential left folds with a
      0.0 seed, equal to SQL's left-associative `t1 + t2 + ...`; each
      float element widens to double exactly in both engines, and IEEE
      *, +, /, sqrt are correctly rounded, so every intermediate (bucket
      sign, norm, cosine) has the same bits.
    Buckets use the raw vector, cosines the normalized one, as in the
    operator. Zero-norm vectors yield NULL cosine (Spark's `when` guard
    in vectors.normalize) — mirrored with a CASE.
    """
    import random

    rng = random.Random(seed)
    planes = [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(bits)]
    bucket = "CAST(0 AS BIGINT)"
    for h in planes:
        d = " + ".join(f"e[{i + 1}] * {h[i]!r}" for i in range(dim))
        bucket = f"({bucket} * 2 + (CASE WHEN ({d}) > 0 THEN 1 ELSE 0 END))"
    sq = " + ".join(f"e[{i + 1}] * e[{i + 1}]" for i in range(dim))
    cos = " + ".join(
        f"(q.e[{i + 1}] / q.nrm) * (c.e[{i + 1}] / c.nrm)"
        for i in range(dim)
    )
    return f"""
WITH b AS (
  SELECT vec_id, e, {bucket} AS bucket, sqrt({sq}) AS nrm
  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
)
SELECT q.vec_id AS query_id, c.vec_id,
       round(CASE WHEN q.nrm > 0 AND c.nrm > 0 THEN {cos} END, 4) AS cosine
FROM b q JOIN b c ON q.bucket = c.bucket
WHERE q.vec_id < 5 AND c.vec_id >= 5
QUALIFY row_number() OVER (
  PARTITION BY q.vec_id
  ORDER BY CASE WHEN q.nrm > 0 AND c.nrm > 0 THEN {cos} END DESC,
           c.vec_id
) <= 10
ORDER BY 1, 3 DESC, 2
"""


SQL_LSH_TOPK = _lsh_topk_oracle_sql()
query(q_lsh_topk, SQL_LSH_TOPK, bench=True)


def q_ann_recall(spark, sf_dir):
    """Approximation QUALITY measured in-engine: recall@10 of the
    LSH-bucketed ANN against exact brute force, per query vector — the
    metric that justifies (or rejects) an approximate index before it
    ships. Both sides reuse their proven-deterministic float pipelines,
    so the DuckDB twin reproduces both top-10 SETS exactly and the
    recall is a full value oracle, not a statistical check.

    On the synthetic embeddings the reading is ~0.0-0.2: a single
    4-bit hyperplane table (16 buckets, one probe) is provably too
    coarse — the metric exists to say exactly that; production raises
    bits/tables (or switches to IVF with multi-probe, cf. ivf_topk)
    until recall clears its bar."""
    from mhm_data_pipelines_spark.operators.similarity import (
        brute_force_topk_pairs,
        lsh_topk,
    )

    df = _t(spark, sf_dir, "embeddings")
    queries = df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = df.filter(F.col("vec_id") >= 5)
    lsh = lsh_topk(corpus, queries, dim=64, k=10, bits=4).select(
        "query_id", "vec_id", F.lit(1).alias("_hit")
    )
    exact = brute_force_topk_pairs(corpus, queries, k=10).select(
        "query_id", "vec_id"
    )
    return (
        exact.join(lsh, ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("_hit").alias("n_hits"),
            F.round(F.count("_hit") / F.lit(10.0), 4).alias("recall_at_10"),
        )
        .orderBy("query_id")
    )


def _ann_recall_oracle_sql(dim: int = 64, bits: int = 4, seed: int = 42) -> str:
    """DuckDB twin of q_ann_recall: the lsh CTE regenerates the same
    seeded hyperplane literals / float-op order as _lsh_topk_oracle_sql;
    the brute-force CTE ranks with the IDENTICAL cosine expression so
    near-cutoff ties resolve the same way in both engines."""
    import random

    rng = random.Random(seed)
    planes = [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(bits)]
    bucket = "CAST(0 AS BIGINT)"
    for h in planes:
        d = " + ".join(f"e[{i + 1}] * {h[i]!r}" for i in range(dim))
        bucket = f"({bucket} * 2 + (CASE WHEN ({d}) > 0 THEN 1 ELSE 0 END))"
    sq = " + ".join(f"e[{i + 1}] * e[{i + 1}]" for i in range(dim))
    cos = " + ".join(
        f"(q.e[{i + 1}] / q.nrm) * (c.e[{i + 1}] / c.nrm)"
        for i in range(dim)
    )
    rank = (
        "row_number() OVER (PARTITION BY q.vec_id ORDER BY "
        f"CASE WHEN q.nrm > 0 AND c.nrm > 0 THEN {cos} END DESC, c.vec_id)"
    )
    return f"""
WITH b AS (
  SELECT vec_id, e, {bucket} AS bucket, sqrt({sq}) AS nrm
  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
), lsh AS (
  SELECT q.vec_id AS query_id, c.vec_id
  FROM b q JOIN b c ON q.bucket = c.bucket
  WHERE q.vec_id < 5 AND c.vec_id >= 5
  QUALIFY {rank} <= 10
), bf AS (
  SELECT q.vec_id AS query_id, c.vec_id
  FROM b q JOIN b c ON q.vec_id < 5 AND c.vec_id >= 5
  QUALIFY {rank} <= 10
)
SELECT bf.query_id,
       count(lsh.vec_id) AS n_hits,
       round(count(lsh.vec_id) / 10.0, 4) AS recall_at_10
FROM bf LEFT JOIN lsh
  ON bf.query_id = lsh.query_id AND bf.vec_id = lsh.vec_id
GROUP BY 1 ORDER BY 1
"""


SQL_ANN_RECALL = _ann_recall_oracle_sql()
query(q_ann_recall, SQL_ANN_RECALL)


def q_multiprobe_recall(spark, sf_dir):
    """Multi-probe LSH recall@10 (Lv et al. 2007) vs exact brute force
    — the companion to ann_recall that certifies the RECALL LEVER:
    probing every bucket at Hamming distance ≤ 1 (bits+1 probes)
    against the same 4-bit table single-probe baseline ann_recall pins.
    Same proven-deterministic float pipelines both sides, so the
    DuckDB twin reproduces both top-10 sets exactly."""
    from mhm_data_pipelines_spark.operators.similarity import (
        brute_force_topk_pairs,
        lsh_multiprobe_topk,
    )

    df = _t(spark, sf_dir, "embeddings")
    queries = df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = df.filter(F.col("vec_id") >= 5)
    mp = lsh_multiprobe_topk(
        corpus, queries, dim=64, k=10, bits=4
    ).select("query_id", "vec_id", F.lit(1).alias("_hit"))
    exact = brute_force_topk_pairs(corpus, queries, k=10).select(
        "query_id", "vec_id"
    )
    return (
        exact.join(mp, ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("_hit").alias("n_hits"),
            F.round(F.count("_hit") / F.lit(10.0), 4).alias(
                "recall_at_10"
            ),
        )
        .orderBy("query_id")
    )


def _multiprobe_recall_oracle_sql(
    dim: int = 64, bits: int = 4, seed: int = 42
) -> str:
    """DuckDB twin of q_multiprobe_recall: _ann_recall_oracle_sql with
    the probe join widened to Hamming distance ≤ 1 on the bucket id
    (``bit_count(xor(...)) <= 1``) — exactly the bits+1 probe set the
    Spark side explodes."""
    import random

    rng = random.Random(seed)
    planes = [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(bits)
    ]
    bucket = "CAST(0 AS BIGINT)"
    for h in planes:
        d = " + ".join(f"e[{i + 1}] * {h[i]!r}" for i in range(dim))
        bucket = (
            f"({bucket} * 2 + (CASE WHEN ({d}) > 0 THEN 1 ELSE 0 END))"
        )
    sq = " + ".join(f"e[{i + 1}] * e[{i + 1}]" for i in range(dim))
    cos = " + ".join(
        f"(q.e[{i + 1}] / q.nrm) * (c.e[{i + 1}] / c.nrm)"
        for i in range(dim)
    )
    rank = (
        "row_number() OVER (PARTITION BY q.vec_id ORDER BY "
        f"CASE WHEN q.nrm > 0 AND c.nrm > 0 THEN {cos} END DESC,"
        " c.vec_id)"
    )
    return f"""
WITH b AS (
  SELECT vec_id, e, {bucket} AS bucket, sqrt({sq}) AS nrm
  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
), lsh AS (
  SELECT q.vec_id AS query_id, c.vec_id
  FROM b q JOIN b c
    ON bit_count(xor(q.bucket, c.bucket)) <= 1
  WHERE q.vec_id < 5 AND c.vec_id >= 5
  QUALIFY {rank} <= 10
), bf AS (
  SELECT q.vec_id AS query_id, c.vec_id
  FROM b q JOIN b c ON q.vec_id < 5 AND c.vec_id >= 5
  QUALIFY {rank} <= 10
)
SELECT bf.query_id,
       count(lsh.vec_id) AS n_hits,
       round(count(lsh.vec_id) / 10.0, 4) AS recall_at_10
FROM bf LEFT JOIN lsh
  ON bf.query_id = lsh.query_id AND bf.vec_id = lsh.vec_id
GROUP BY 1 ORDER BY 1
"""


SQL_MULTIPROBE_RECALL = _multiprobe_recall_oracle_sql()
query(q_multiprobe_recall, SQL_MULTIPROBE_RECALL)


def _ivf_seeded_centroids(
    dim: int = 64, n_lists: int = 8, seed: int = 7
) -> list[tuple[int, list[float]]]:
    """Fixed-seed random coarse quantizer for the ivf_recall gate query:
    data-INDEPENDENT centroids (unlike label_centroids / train_kmeans)
    so the DuckDB twin can regenerate the identical literals and the
    recall reading is a full value oracle, not a statistical check."""
    import random

    rng = random.Random(seed)
    return [
        (i, [rng.gauss(0.0, 1.0) for _ in range(dim)])
        for i in range(n_lists)
    ]


def q_ivf_recall(spark, sf_dir):
    """Selective-probe IVF recall@10 vs exact brute force — the
    companion to ann_recall that certifies the APPROXIMATE IVF path
    (nprobe=2 of 8 lists), not the exhaustive-probe-≡-exact path that
    ivf_topk's oracle covers. Centroids are seeded driver-side literals
    (_ivf_seeded_centroids) and every float op — cast-widen, left-fold
    dot, sqrt, divide, greatest-of-structs argmax with list_id
    tie-break — is a deterministic IEEE-double sequence the DuckDB twin
    replays exactly (cf. VERDICT r3 next-step #8)."""
    from mhm_data_pipelines_spark.operators.similarity import (
        brute_force_topk_pairs,
        ivf_topk,
    )

    df = _t(spark, sf_dir, "embeddings")
    queries = df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = df.filter(F.col("vec_id") >= 5)
    cents = _ivf_seeded_centroids()
    ivf = ivf_topk(corpus, queries, cents, k=10, nprobe=2).select(
        "query_id", "vec_id", F.lit(1).alias("_hit")
    )
    exact = brute_force_topk_pairs(corpus, queries, k=10).select(
        "query_id", "vec_id"
    )
    return (
        exact.join(ivf, ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("_hit").alias("n_hits"),
            F.round(F.count("_hit") / F.lit(10.0), 4).alias("recall_at_10"),
        )
        .orderBy("query_id")
    )


def _ivf_recall_oracle_sql(
    dim: int = 64, n_lists: int = 8, nprobe: int = 2, seed: int = 7
) -> str:
    """DuckDB twin of q_ivf_recall. Mirrors operators.similarity.ivf_topk
    float-for-float: centroids are regenerated with the same seeded RNG,
    L2-normalized driver-side in Python (same floats the Spark literals
    carry, via repr round-trip); per-centroid similarity is the same
    left-associative `(e[i]/nrm) * c_i` fold; corpus assignment takes
    argmax similarity with ties to the LARGER list_id (greatest() of
    (sim, list_id) structs is lexicographic max); queries take their
    nprobe top lists by the same ordering."""
    import math
    import random

    rng = random.Random(seed)
    cents = []
    for _ in range(n_lists):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        cents.append([float(x) / n for x in v])

    sq = " + ".join(f"e[{i + 1}] * e[{i + 1}]" for i in range(dim))
    sim_selects = " UNION ALL ".join(
        f"SELECT vec_id, {j} AS list_id, ("
        + " + ".join(
            f"(e[{i + 1}] / nrm) * {c[i]!r}" for i in range(dim)
        )
        + ") AS sim FROM b"
        for j, c in enumerate(cents)
    )
    cos = " + ".join(
        f"(q.e[{i + 1}] / q.nrm) * (c.e[{i + 1}] / c.nrm)"
        for i in range(dim)
    )
    return f"""
WITH b AS (
  SELECT vec_id, e, sqrt({sq}) AS nrm
  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
), sims AS (
  {sim_selects}
), asn AS (
  SELECT vec_id, list_id FROM sims WHERE vec_id >= 5
  QUALIFY row_number() OVER (
    PARTITION BY vec_id ORDER BY sim DESC, list_id DESC) = 1
), probes AS (
  SELECT vec_id AS query_id, list_id FROM sims WHERE vec_id < 5
  QUALIFY row_number() OVER (
    PARTITION BY vec_id ORDER BY sim DESC, list_id DESC) <= {nprobe}
), ivf AS (
  SELECT p.query_id, a.vec_id
  FROM probes p
  JOIN asn a ON a.list_id = p.list_id
  JOIN b q ON q.vec_id = p.query_id
  JOIN b c ON c.vec_id = a.vec_id
  QUALIFY row_number() OVER (
    PARTITION BY p.query_id ORDER BY ({cos}) DESC, a.vec_id) <= 10
), bf AS (
  SELECT q.vec_id AS query_id, c.vec_id
  FROM b q JOIN b c ON q.vec_id < 5 AND c.vec_id >= 5
  QUALIFY row_number() OVER (
    PARTITION BY q.vec_id ORDER BY ({cos}) DESC, c.vec_id) <= 10
)
SELECT bf.query_id,
       count(ivf.vec_id) AS n_hits,
       round(count(ivf.vec_id) / 10.0, 4) AS recall_at_10
FROM bf LEFT JOIN ivf
  ON bf.query_id = ivf.query_id AND bf.vec_id = ivf.vec_id
GROUP BY 1 ORDER BY 1
"""


SQL_IVF_RECALL = _ivf_recall_oracle_sql()
query(q_ivf_recall, SQL_IVF_RECALL)


def _pq_seeded_codebooks(
    dim: int = 64, m: int = 8, ksub: int = 16, seed: int = 13
) -> list[list[tuple[int, list[float]]]]:
    """Fixed-seed data-INDEPENDENT PQ codebooks for the pq_topk gate
    query (same rationale as _ivf_seeded_centroids): the DuckDB twin
    regenerates identical literals, so the ADC ranking is a full value
    oracle. Element scale 0.125 ≈ the per-element magnitude of a unit
    64-dim vector. Production code trains with
    operators.similarity.train_pq_codebooks instead."""
    import random

    rng = random.Random(seed)
    dsub = dim // m
    return [
        [
            (c, [rng.gauss(0.0, 0.125) for _ in range(dsub)])
            for c in range(ksub)
        ]
        for _ in range(m)
    ]


def q_pq_topk(spark, sf_dir):
    """Product-quantization ADC top-10 (Jégou et al. 2011): corpus
    encoded to 8 four-bit-ish codes (m=8, ksub=16) by
    operators.similarity.pq_encode, queries scored via per-query lookup
    tables (pq_adc_topk). Codebooks are seeded driver-side literals so
    every float op — normalize, argmin-L2 code assignment with
    smaller-code ties, LUT inner products, left-associative ADC sum —
    is a deterministic IEEE-double sequence the DuckDB twin replays
    exactly."""
    from mhm_data_pipelines_spark.operators.similarity import pq_adc_topk

    df = _t(spark, sf_dir, "embeddings")
    queries = df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = df.filter(F.col("vec_id") >= 5)
    books = _pq_seeded_codebooks()
    out = pq_adc_topk(corpus, queries, books, k=10)
    return out.select(
        "query_id",
        "vec_id",
        F.round("adc_score", 4).alias("adc_score"),
    ).orderBy("query_id", "vec_id")


def _pq_topk_oracle_sql(
    dim: int = 64, m: int = 8, ksub: int = 16, seed: int = 13
) -> str:
    """DuckDB twin of q_pq_topk. Mirrors pq_encode/pq_adc_topk
    float-for-float: codebooks regenerated with the same seeded RNG and
    embedded via repr round-trip; code assignment is the same
    left-associative ``(e[j]/nrm − c)·(e[j]/nrm − c)`` sum with
    (distance, code) lexicographic ties; the ADC score is rebuilt as
    per-subspace pivot columns added left-to-right (NOT a SUM aggregate,
    whose addition order would be engine-defined)."""
    books = _pq_seeded_codebooks(dim, m, ksub, seed)
    dsub = dim // m

    sq = " + ".join(f"e[{i + 1}] * e[{i + 1}]" for i in range(dim))
    enc_branches = []
    lut_branches = []
    for i, book in enumerate(books):
        s = i * dsub
        for code, cvec in book:
            dist = " + ".join(
                f"((e[{s + j + 1}] / nrm) - ({c!r}))"
                f" * ((e[{s + j + 1}] / nrm) - ({c!r}))"
                for j, c in enumerate(cvec)
            )
            enc_branches.append(
                f"SELECT vec_id, {i} AS sub, {code} AS code,"
                f" ({dist}) AS d FROM b WHERE vec_id >= 5"
            )
            ip = " + ".join(
                f"((e[{s + j + 1}] / nrm) * ({c!r}))"
                for j, c in enumerate(cvec)
            )
            lut_branches.append(
                f"SELECT vec_id AS query_id, {i} AS sub, {code} AS code,"
                f" ({ip}) AS ip FROM b WHERE vec_id < 5"
            )
    pivots = ", ".join(
        f"max(CASE WHEN sub = {i} THEN ip END) AS s{i}" for i in range(m)
    )
    score = " + ".join(f"s{i}" for i in range(m))
    return f"""
WITH b AS (
  SELECT vec_id, e, sqrt({sq}) AS nrm
  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
), encd AS (
  {' UNION ALL '.join(enc_branches)}
), enc AS (
  SELECT vec_id, sub, code FROM encd
  QUALIFY row_number() OVER (
    PARTITION BY vec_id, sub ORDER BY d ASC, code ASC) = 1
), lut AS (
  {' UNION ALL '.join(lut_branches)}
), parts AS (
  SELECT l.query_id, c.vec_id, c.sub, l.ip
  FROM enc c JOIN lut l ON l.sub = c.sub AND l.code = c.code
), scored AS (
  SELECT query_id, vec_id, {pivots}
  FROM parts GROUP BY query_id, vec_id
), ranked AS (
  SELECT query_id, vec_id, ({score}) AS adc
  FROM scored
  QUALIFY row_number() OVER (
    PARTITION BY query_id ORDER BY ({score}) DESC, vec_id) <= 10
)
SELECT query_id, vec_id, round(adc, 4) AS adc_score
FROM ranked ORDER BY query_id, vec_id
"""


SQL_PQ_TOPK = _pq_topk_oracle_sql()
query(q_pq_topk, SQL_PQ_TOPK, bench=True)


def q_ivfpq_topk(spark, sf_dir):
    """IVF-PQ top-10 (the FAISS ``IVF8,PQ8x4`` shape): coarse
    quantizer prunes to nprobe=2 of 8 inverted lists, candidates score
    by residual-ADC — q·c_list plus the shared-codebook LUT sum
    (operators.similarity.ivf_pq_index / ivf_pq_topk). Both quantizers
    are seeded driver-side literals; every float — normalize, coarse
    similarity with larger-list ties, residual subtraction, argmin-L2
    codes with smaller-code ties, LUT inner products, the left-to-right
    ADC chain — is a deterministic IEEE-double sequence the DuckDB twin
    replays exactly."""
    from mhm_data_pipelines_spark.operators.similarity import ivf_pq_topk

    df = _t(spark, sf_dir, "embeddings")
    queries = df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = df.filter(F.col("vec_id") >= 5)
    out = ivf_pq_topk(
        corpus,
        queries,
        _ivf_seeded_centroids(),
        _pq_seeded_codebooks(),
        k=10,
        nprobe=2,
    )
    return out.select(
        "query_id",
        "vec_id",
        F.round("adc_score", 4).alias("adc_score"),
    ).orderBy("query_id", "vec_id")


def _ivfpq_topk_oracle_sql(
    dim: int = 64,
    m: int = 8,
    ksub: int = 16,
    n_lists: int = 8,
    nprobe: int = 2,
    cent_seed: int = 7,
    book_seed: int = 13,
    k: int = 10,
) -> str:
    """DuckDB twin of q_ivfpq_topk. Regenerates both seeded quantizers,
    normalizes centroids driver-side (repr round-trip), and mirrors the
    operator float-for-float: coarse sims and ties as in the ivf_recall
    oracle; the residual vector is materialized ONCE per corpus row as
    a list expression (element = e[j]/nrm − CASE on the assigned list)
    so the 128 per-(sub, code) distance branches stay small; the ADC
    score is qc plus per-subspace pivot columns added left-to-right.
    b, sims and resd are each read more than once, so they are
    MATERIALIZED rather than inlined and recomputed per reference."""
    import math
    import random

    rng = random.Random(cent_seed)
    cents = []
    for _ in range(n_lists):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        cents.append([float(x) / n for x in v])
    books = _pq_seeded_codebooks(dim, m, ksub, book_seed)
    dsub = dim // m

    sq = " + ".join(f"e[{i + 1}] * e[{i + 1}]" for i in range(dim))
    sim_branches = " UNION ALL ".join(
        f"SELECT vec_id, {lid} AS list_id, ("
        + " + ".join(
            f"(e[{j + 1}] / nrm) * {c[j]!r}" for j in range(dim)
        )
        + ") AS sim FROM b"
        for lid, c in enumerate(cents)
    )
    res_elems = ", ".join(
        f"e[{j + 1}] / nrm - (CASE a.list_id "
        + " ".join(
            f"WHEN {lid} THEN {c[j]!r}" for lid, c in enumerate(cents)
        )
        + " END)"
        for j in range(dim)
    )
    enc_branches = []
    lut_branches = []
    for i, book in enumerate(books):
        s = i * dsub
        for code, cvec in book:
            dist = " + ".join(
                f"(r[{s + j + 1}] - ({c!r}))"
                f" * (r[{s + j + 1}] - ({c!r}))"
                for j, c in enumerate(cvec)
            )
            enc_branches.append(
                f"SELECT vec_id, list_id, {i} AS sub, {code} AS code,"
                f" ({dist}) AS d FROM resd"
            )
            ip = " + ".join(
                f"((e[{s + j + 1}] / nrm) * ({c!r}))"
                for j, c in enumerate(cvec)
            )
            lut_branches.append(
                f"SELECT vec_id AS query_id, {i} AS sub, {code} AS code,"
                f" ({ip}) AS ip FROM b WHERE vec_id < 5"
            )
    pivots = ", ".join(
        f"max(CASE WHEN sub = {i} THEN ip END) AS s{i}" for i in range(m)
    )
    score = "qc + " + " + ".join(f"s{i}" for i in range(m))
    return f"""
WITH b AS MATERIALIZED (
  SELECT vec_id, e, sqrt({sq}) AS nrm
  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
), sims AS MATERIALIZED (
  {sim_branches}
), asn AS (
  SELECT vec_id, list_id FROM sims WHERE vec_id >= 5
  QUALIFY row_number() OVER (
    PARTITION BY vec_id ORDER BY sim DESC, list_id DESC) = 1
), probes AS (
  SELECT vec_id AS query_id, list_id, sim AS qc
  FROM sims WHERE vec_id < 5
  QUALIFY row_number() OVER (
    PARTITION BY vec_id ORDER BY sim DESC, list_id DESC) <= {nprobe}
), resd AS MATERIALIZED (
  SELECT b.vec_id, a.list_id, [{res_elems}] AS r
  FROM b JOIN asn a ON a.vec_id = b.vec_id
), encd AS (
  {' UNION ALL '.join(enc_branches)}
), enc AS (
  SELECT vec_id, list_id, sub, code FROM encd
  QUALIFY row_number() OVER (
    PARTITION BY vec_id, sub ORDER BY d ASC, code ASC) = 1
), lut AS (
  {' UNION ALL '.join(lut_branches)}
), parts AS (
  SELECT p.query_id, c.vec_id, p.qc, c.sub, l.ip
  FROM probes p
  JOIN enc c ON c.list_id = p.list_id
  JOIN lut l ON l.query_id = p.query_id
            AND l.sub = c.sub AND l.code = c.code
), scored AS (
  SELECT query_id, vec_id, max(qc) AS qc, {pivots}
  FROM parts GROUP BY query_id, vec_id
), ranked AS (
  SELECT query_id, vec_id, ({score}) AS adc
  FROM scored
  QUALIFY row_number() OVER (
    PARTITION BY query_id ORDER BY ({score}) DESC, vec_id) <= {k}
)
SELECT query_id, vec_id, round(adc, 4) AS adc_score
FROM ranked ORDER BY query_id, vec_id
"""


SQL_IVFPQ_TOPK = _ivfpq_topk_oracle_sql()
query(q_ivfpq_topk, SQL_IVFPQ_TOPK, bench=True)


def q_ann_index_roundtrip(spark, sf_dir):
    """ANN index LIFECYCLE verified end-to-end: the IVF-PQ index is
    built once, PERSISTED as a list_id-bucketed catalog table
    (similarity.persist_ivf_pq_index — the production shape: the index
    is built once, searched many times), reloaded, and searched with
    the probed-lists filter pushed onto the bucketed scan (bucket
    pruning — SelectedBucketsCount in the plan, asserted by
    test_plan_properties). Same seeded quantizers and split as
    ivfpq_topk, so the DuckDB twin is the SAME full-value ADC oracle —
    persistence must be lossless down to the float."""
    from mhm_data_pipelines_spark.operators.similarity import (
        ivf_pq_index,
        ivf_pq_search_table,
        persist_ivf_pq_index,
    )

    df = _t(spark, sf_dir, "embeddings")
    queries = df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = df.filter(F.col("vec_id") >= 5)
    import uuid as _uuid

    # Unique name per build: a crashed prior run can leave the managed
    # LOCATION on disk without the catalog entry, and saveAsTable then
    # fails on the stale dir no DROP TABLE can see. Tracked for DROP by
    # release_query_resources once the search frame is consumed.
    table = _track_table(
        spark, f"mhm_ann_gate_idx_{_uuid.uuid4().hex[:12]}"
    )
    persist_ivf_pq_index(
        ivf_pq_index(corpus, _ivf_seeded_centroids(), _pq_seeded_codebooks()),
        table,
        n_buckets=8,
    )
    out = ivf_pq_search_table(
        spark,
        table,
        queries,
        _ivf_seeded_centroids(),
        _pq_seeded_codebooks(),
        k=10,
        nprobe=2,
    )
    return out.select(
        "query_id",
        "vec_id",
        F.round("adc_score", 4).alias("adc_score"),
    ).orderBy("query_id", "vec_id")


SQL_ANN_INDEX_ROUNDTRIP = _ivfpq_topk_oracle_sql()
query(q_ann_index_roundtrip, SQL_ANN_INDEX_ROUNDTRIP, bench=True)


def q_ann_index_append(spark, sf_dir):
    """ANN index INCREMENTAL maintenance verified end-to-end: half the
    corpus is persisted, the other half APPENDED with the same frozen
    quantizers and bucket spec (similarity.append_to_ivf_pq_index —
    the arrival-batch shape of a live corpus: encode only the new
    rows, co-bucketed into the existing table, no rewrite), then
    searched. Per-row encode is deterministic, so append ≡ rebuild —
    the oracle is the SAME full-value ADC twin as ivfpq_topk; any
    divergence means the append corrupted the index."""
    from mhm_data_pipelines_spark.operators.similarity import (
        append_to_ivf_pq_index,
        ivf_pq_index,
        ivf_pq_search_table,
        persist_ivf_pq_index,
    )

    import uuid as _uuid

    df = _t(spark, sf_dir, "embeddings")
    queries = df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = df.filter(F.col("vec_id") >= 5)
    mid = 1000
    table = _track_table(
        spark, f"mhm_ann_gate_app_{_uuid.uuid4().hex[:12]}"
    )
    persist_ivf_pq_index(
        ivf_pq_index(
            corpus.filter(F.col("vec_id") < mid),
            _ivf_seeded_centroids(),
            _pq_seeded_codebooks(),
        ),
        table,
        n_buckets=8,
    )
    append_to_ivf_pq_index(
        corpus.filter(F.col("vec_id") >= mid),
        table,
        _ivf_seeded_centroids(),
        _pq_seeded_codebooks(),
        n_buckets=8,
    )
    out = ivf_pq_search_table(
        spark,
        table,
        queries,
        _ivf_seeded_centroids(),
        _pq_seeded_codebooks(),
        k=10,
        nprobe=2,
    )
    return out.select(
        "query_id",
        "vec_id",
        F.round("adc_score", 4).alias("adc_score"),
    ).orderBy("query_id", "vec_id")


SQL_ANN_INDEX_APPEND = _ivfpq_topk_oracle_sql()
query(q_ann_index_append, SQL_ANN_INDEX_APPEND, bench=True)


def q_staging_mirror(spark, sf_dir):
    """S5 staging escape hatch (download_data.py:83-145), verified
    end-to-end: ``stage_objects`` mirrors the ``region`` table's files
    to a fresh temp dir via the distributed mapInPandas copy job, then
    the query READS THE MIRROR BACK — so the driver's full-value oracle
    (``SELECT * FROM region`` against the ORIGINAL) proves the staged
    bytes are a working, lossless copy. Bounded: one small table, fresh
    dest per run (skip-if-exists never masks the copy)."""
    from mhm_data_pipelines_spark.sources.staging import stage_objects

    dest = _scratch("mhm_stage_gate_")
    status = stage_objects(
        spark, sf_dir, dest, include=["region.parquet"]
    )
    errs = status.filter(F.col("action") == "error").count()
    if errs:
        raise RuntimeError(f"staging reported {errs} copy errors")
    return (
        spark.read.parquet(f"{dest}/region.parquet")
        .select("r_regionkey", "r_name")
        .orderBy("r_regionkey")
    )


SQL_STAGING_MIRROR = """
SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey
"""
query(q_staging_mirror, SQL_STAGING_MIRROR)


def q_heatmap_render(spark, sf_dir):
    """S12 heatmap sink (data_collection.py:64-73), verified at the
    PIXEL level: render the participant×date availability matrix to a
    PPM via the engine pivot + numpy rasterizer, read the written image
    back, and sample each cell's center pixel. The oracle recomputes
    the expected RGB from the counts alone (YlGnBu piecewise-linear
    ramp, half-up rounding — bit-reproducible IEEE-double math), so a
    hash match certifies the whole sink: pivot → normalize → colormap
    → raster → bytes on disk."""
    import numpy as np

    from mhm_data_pipelines_spark.operators.heatmap import render_heatmap

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("participant_id"), "ts"
    )
    out = _scratch("mhm_heatmap_gate_") + "/heat.ppm"
    ids, dates = render_heatmap(ev, out)
    with open(out, "rb") as f:
        data = f.read()
    head = data.split(b"\n", 3)
    w, h = (int(x) for x in head[1].split())
    img = np.frombuffer(head[3], dtype=np.uint8).reshape(h, w, 3)
    cell, grid = 12, 1
    px = []
    for i, pid in enumerate(ids):
        y = grid + i * (cell + grid) + cell // 2
        for j, d in enumerate(dates):
            x = grid + j * (cell + grid) + cell // 2
            r, g, b = (int(v) for v in img[y, x])
            px.append((pid, d, r, g, b))
    pixels = spark.createDataFrame(  # bounded: participants × days
        px, "participant_id string, date string, r int, g int, b int"
    )
    counts = (
        ev.filter(F.col("ts").isNotNull())
        .groupBy(
            "participant_id",
            F.date_format("ts", "yyyy-MM-dd").alias("date"),
        )
        .agg(F.count("*").alias("n"))
    )
    return counts.join(pixels, ["participant_id", "date"]).orderBy(
        "participant_id", "date"
    )


def _heatmap_oracle_sql() -> str:
    """DuckDB twin of heatmap._colormap: pos = (n/max)*4 (same float-op
    order as numpy), piecewise-linear interp over the YlGnBu anchors,
    floor(x+0.5) half-up rounding."""
    anchors = {
        "r": [255, 199, 65, 34, 8],
        "g": [255, 233, 182, 94, 29],
        "b": [217, 180, 196, 168, 88],
    }
    chan = ",\n  ".join(
        f"CAST(floor({a}[lo+1]*(1.0-frac) + {a}[hi+1]*frac + 0.5) AS INT)"
        f" AS {c}"
        for c, a in anchors.items()
    )
    return f"""
WITH c AS (
  SELECT CAST(user_id AS VARCHAR) AS participant_id,
         strftime(ts, '%Y-%m-%d') AS date, count(*) AS n
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
), m AS (SELECT max(n) AS mx FROM c),
q AS (
  SELECT participant_id, date, n,
         CAST(floor((CAST(n AS DOUBLE)/mx)*4.0) AS INT) AS lo,
         LEAST(CAST(floor((CAST(n AS DOUBLE)/mx)*4.0) AS INT)+1, 4) AS hi,
         (CAST(n AS DOUBLE)/mx)*4.0
           - floor((CAST(n AS DOUBLE)/mx)*4.0) AS frac
  FROM c, m
)
SELECT participant_id, date, n,
  {chan}
FROM q ORDER BY participant_id, date
"""


SQL_HEATMAP_RENDER = _heatmap_oracle_sql()
query(q_heatmap_render, SQL_HEATMAP_RENDER)


def q_lake_e2e(spark, sf_dir):
    """End-to-end lake pipeline gate (VERDICT r7 #6) — locks the whole
    S1–S11 reference surface behind ONE full-value oracle instead of
    pytest fixtures alone. Stages, all engine code paths:

    1. SINK: a deterministic slice of ``events`` (user_id % 7 = 3) is
       fanned out as a path-encoded csv.gz lake
       ``root/data/<SITE>/P<uid>/<event_type>/<week>.csv.gz``
       (collect_data_metadata.py:17-63 layout) via a distributed
       ``applyInPandas`` per-(site,participant,metric,week-batch)
       writer — the S7 gz-CSV sink shape, one file per group, no
       driver loop. Timestamps ship as epoch-µs longs (exact CSV
       round-trip; day math happens after re-read).
    2. SCAN: ``compact_lake`` re-reads the raw lake through
       ``read_lake_unified`` (S1 glob scan + S2 path dims + an
       all-STRING schema from each metric's header) and rewrites it as
       parquet PARTITIONED BY (site, participant_id, metric) (S8 sink,
       A1 bucketing).
    3. QUERY: the compacted lake is read back (``read_compacted``) and
       aggregated per (site, participant_id, metric): row count, A5
       distinct days, A4 first/last day, value sum — the overview
       block (process-overview.py semantics).

    The DuckDB oracle recomputes the same aggregate STRAIGHT from the
    ``events`` parquet, so a hash match certifies every hop: path
    encode → gzip CSV bytes → glob scan → path-dim parse → drift
    union → partitioned rewrite → partition-column read-back. Any
    row lost, any dimension mangled, any value corrupted diverges.
    Bounded: ~500 files at sf0.01, manifest-checked against the
    input count before the read-back stage runs."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") % 7 == 3)
    sliced = ev.select(
        F.element_at(
            F.array(F.lit("LON"), F.lit("NYC"), F.lit("BER")),
            (F.col("user_id") % 3 + 1).cast("int"),
        ).alias("site"),
        F.concat(F.lit("P"), F.col("user_id").cast("string")).alias(
            "participant_id"
        ),
        F.col("event_type").alias("metric"),
        F.date_format(
            F.date_trunc("week", F.col("ts")), "yyyyMMdd_HHmm"
        ).alias("batch"),
        F.unix_micros(F.col("ts")).alias("epoch_us"),
        F.col("value"),
    )
    root = _scratch("mhm_lake_e2e_") + "/lake"

    def _write_group(pdf):
        import gzip as _gzip
        import os as _os

        r = pdf.iloc[0]
        d = _os.path.join(
            root, "data", r["site"], r["participant_id"], r["metric"]
        )
        _os.makedirs(d, exist_ok=True)  # exist_ok: sibling-task safe
        with _gzip.open(
            _os.path.join(d, f"{r['batch']}.csv.gz"), "wt", newline=""
        ) as f:
            pdf[["epoch_us", "value"]].to_csv(f, index=False)
        import pandas as _pd

        return _pd.DataFrame({"n_rows": [len(pdf)]})

    manifest = sliced.groupBy(
        "site", "participant_id", "metric", "batch"
    ).applyInPandas(_write_group, "n_rows long")
    written = manifest.agg(F.sum("n_rows")).collect()[0][0] or 0
    expected = sliced.count()
    if written != expected:
        raise RuntimeError(
            f"lake sink wrote {written} rows, expected {expected}"
        )

    from mhm_data_pipelines_spark.operators.compact import (
        compact_lake,
        read_compacted,
    )

    comp = root + "_compacted"
    compact_lake(spark, root, comp, layout="raw")
    t = read_compacted(spark, comp).select(
        "site",
        "participant_id",
        "metric",
        F.date_format(
            F.timestamp_micros(F.col("epoch_us").cast("long")),
            "yyyy-MM-dd",
        ).alias("day"),
        F.col("value").cast("double").alias("v"),
    )
    return (
        t.groupBy("site", "participant_id", "metric")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("day").alias("n_days"),
            F.min("day").alias("first_day"),
            F.max("day").alias("last_day"),
            F.round(F.sum("v"), 2).alias("sum_value"),
        )
        .orderBy("site", "participant_id", "metric")
    )


SQL_LAKE_E2E = """
WITH e AS (
  SELECT ['LON','NYC','BER'][CAST(user_id % 3 AS INT) + 1] AS site,
         'P' || CAST(user_id AS VARCHAR) AS participant_id,
         event_type AS metric,
         strftime(ts, '%Y-%m-%d') AS day,
         value
  FROM events
  WHERE user_id % 7 = 3
)
SELECT site, participant_id, metric,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT day) AS BIGINT) AS n_days,
       min(day) AS first_day,
       max(day) AS last_day,
       round(sum(value), 2) AS sum_value
FROM e
GROUP BY site, participant_id, metric
ORDER BY site, participant_id, metric
"""
query(q_lake_e2e, SQL_LAKE_E2E)


def q_temperature_mix(spark, sf_dir):
    """Temperature-based corpus mixing (mT5/mC4 recipe): per-source
    quotas ∝ sqrt(count) at T=2, derived from the data itself with
    INTEGER-exact arithmetic (isqrt + integer div — no float summation
    order for engines to disagree on), md5 hash-rank membership so
    DuckDB reproduces the selected rows exactly."""
    from mhm_data_pipelines_spark.operators.sampling import temperature_mix

    out = temperature_mix(
        _t(spark, sf_dir, "documents"),
        total=2000,
        key="doc_id",
        temperature=2.0,
        hash_family="md5",
    )
    return out.select("doc_id", "source").orderBy("doc_id")


SQL_TEMPERATURE_MIX = """
WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
w AS (SELECT source, CAST(floor(sqrt(n)) AS BIGINT) AS w FROM c),
q AS (
  SELECT source,
         CAST((2000 * w) // (SELECT CAST(sum(w) AS BIGINT) FROM w)
              AS BIGINT) AS quota
  FROM w
), r AS (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY CAST(('0x' || substr(md5(doc_id || ':42'), 1, 15))
                         AS BIGINT) % 1000000,
                    doc_id
         ) AS rk
  FROM documents
)
SELECT doc_id, source
FROM r JOIN q USING (source)
WHERE rk <= quota
ORDER BY doc_id
"""
query(q_temperature_mix, SQL_TEMPERATURE_MIX, bench=True)


#: Fixed retrieval query for the BM25 gate key — common corpus words so
#: several sources match with distinct tf/df profiles.
_BM25_K1, _BM25_B = 1.2, 0.75
_BM25_QUERY = "data model the quality"


def q_bm25_topk(spark, sf_dir):
    """BM25 lexical retrieval: top-20 documents for a fixed query.
    Scale shape: token explode filtered to the query's terms before any
    shuffle, df/corpus-stats broadcast, TakeOrdered top-k. Scores round
    to 4 decimals (cross-engine ln is last-ulp exact only)."""
    from mhm_data_pipelines_spark.operators.retrieval import bm25_topk

    out = bm25_topk(
        _t(spark, sf_dir, "documents"),
        _BM25_QUERY,
        k=20,
        k1=_BM25_K1,
        b=_BM25_B,
        round_scores=4,
    )
    return out.select("doc_id", "score", "n_terms_matched")


def _bm25_oracle_sql() -> str:
    terms = sorted({t.lower() for t in _BM25_QUERY.split()})
    in_list = ", ".join(f"'{t}'" for t in terms)
    k1, b = _BM25_K1, _BM25_B
    # Literals via repr so the SQL parses to the SAME doubles the Spark
    # expression folds to (k1 + 1.0 etc.).
    return f"""
WITH toks AS (
  SELECT doc_id, {_SQL_TOKENS_LOWER} AS tk, len({_SQL_TOKENS}) AS dl
  FROM documents
), stats AS (
  SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM toks
), t AS (
  SELECT doc_id, unnest(tk) AS term FROM toks
), tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM t WHERE term IN ({in_list}) GROUP BY 1, 2
), df_ AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term
), s AS (
  SELECT tf.doc_id,
         ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
           * (tf * {k1 + 1.0!r}) /
           (tf + {k1!r} * (1.0 - {b!r} + ({b!r} * dl) / avgdl)) AS pt
  FROM tf
  JOIN df_ USING (term)
  JOIN toks USING (doc_id), stats
)
SELECT doc_id, round(sum(pt), 4) AS score,
       count(*) AS n_terms_matched
FROM s GROUP BY doc_id
ORDER BY score DESC, doc_id LIMIT 20
"""


SQL_BM25_TOPK = _bm25_oracle_sql()
query(q_bm25_topk, SQL_BM25_TOPK, bench=True)


def q_bpe_pairs(spark, sf_dir):
    """BPE tokenizer-training first pass: corpus-weighted adjacent
    character-pair counts (vocabulary collapses first, pairs explode
    from distinct words only). Top 50 pairs."""
    from mhm_data_pipelines_spark.functions.text import bpe_pair_counts

    return bpe_pair_counts(
        _t(spark, sf_dir, "documents"), top_n=50
    )


def q_minhash_incremental(spark, sf_dir):
    """Incremental near-dup: the 20% of docs with doc_id % 5 = 0 arrive
    as a NEW BATCH and are matched against the standing signature index
    of the other 80% — only the batch is shingled/hashed. md5 family +
    pigeonhole-complete banding, so DuckDB's brute-force cross of the
    two signature sets reproduces the output value-for-value."""
    from mhm_data_pipelines_spark.operators.dedup import (
        minhash_match_index,
        minhash_signatures,
    )

    docs = _t(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    # In the daily-ingestion deployment the index is a STORED signature
    # table (parquet); persist() plays that role here so the 80%-corpus
    # shingle/hash pipeline materializes once — minhash_match_index
    # consumes the index twice (banded candidate join + verification
    # side), and without the persist the whole index pipeline re-ran
    # per consumer (bench: minhash_incremental was the slowest headline
    # query at 2.3 s warm for exactly this reason).
    index_sigs = minhash_signatures(
        docs.filter(F.col("doc_id") % 5 != 0),
        num_hashes=_MINHASH_N,
        hash_family="md5",
    ).persist()
    _track(index_sigs)
    out = minhash_match_index(
        new,
        index_sigs,
        num_hashes=_MINHASH_N,
        bands=_MINHASH_BANDS,
        threshold=_MINHASH_EST_T,
        hash_family="md5",
    )
    return out.select(
        "id_new", "id_index",
        F.round("est_jaccard", 4).alias("est_jaccard"),
    ).orderBy("id_new", "id_index")


SQL_MINHASH_INCREMENTAL = f"""
WITH norm AS (
  SELECT doc_id, lower(text) AS t FROM documents
), g AS (
  SELECT doc_id, substr(t, i, 5) AS sh
  FROM norm, LATERAL unnest(generate_series(1, len(t) - 4)) AS u(i)
  WHERE len(t) >= 5
), hashed AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(sh), 1, 15)) AS BIGINT)
           % 2147483647 AS h1,
         CAST(('0x' || substr(md5(sh), 16, 15)) AS BIGINT)
           % {MINHASH_MD5_P - 1} + 1 AS h2
  FROM g
), sigs AS (
  SELECT doc_id, u.i,
         min((h1 + u.i * h2) % 2147483647) AS mh
  FROM hashed, LATERAL unnest(generate_series(0, {_MINHASH_N - 1})) AS u(i)
  GROUP BY doc_id, u.i
), agree AS (
  SELECT a.doc_id AS id_new, b.doc_id AS id_index,
         sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS eq
  FROM sigs a JOIN sigs b
    ON a.i = b.i AND a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
  GROUP BY 1, 2
)
SELECT id_new, id_index, round(eq / {_MINHASH_N}.0, 4) AS est_jaccard
FROM agree WHERE eq >= {int(_MINHASH_EST_T * _MINHASH_N)}
ORDER BY id_new, id_index
"""
query(q_minhash_incremental, SQL_MINHASH_INCREMENTAL, bench=True)


def q_stream_neardup(spark, sf_dir):
    """Streaming near-dup ingestion, value-verified end-to-end: the
    documents table arrives as TWO micro-batches (index docs first, the
    doc_id % 5 = 0 batch second) through ``streaming.stateful.
    neardup_stream`` — each batch is hashed, matched against the
    standing signature index, and appended to it. The drained matches
    must equal the BATCH incremental operator's output, so this reuses
    SQL_MINHASH_INCREMENTAL verbatim as a full value oracle (the
    index-seeding batch emits no matches: the index is empty when it
    arrives)."""
    from mhm_data_pipelines_spark.streaming.stateful import neardup_stream

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    root = _scratch("mhm_stream_nd_")
    src = f"{root}/src"
    # Two files, written in arrival order (FileStreamSource processes
    # oldest-first; maxFilesPerTrigger=1 → one file per micro-batch).
    docs.filter(F.col("doc_id") % 5 != 0).coalesce(1).write.parquet(
        f"{src}/b0_index"
    )
    docs.filter(F.col("doc_id") % 5 == 0).coalesce(1).write.parquet(
        f"{src}/b1_new"
    )
    # Pin arrival order: FileStreamSource orders by modification time,
    # and back-to-back writes can tie at clock granularity — age the
    # index batch explicitly so it always forms micro-batch 0.
    import os as _os
    import time as _time

    old = _time.time() - 3600
    for d, _, files in _os.walk(f"{src}/b0_index"):
        for fn in files:
            _os.utime(_os.path.join(d, fn), (old, old))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    writer = neardup_stream(
        stream,
        index_path=f"{root}/index",
        checkpoint=f"{root}/ck",
        out_path=f"{root}/matches",
        num_hashes=_MINHASH_N,
        bands=_MINHASH_BANDS,
        threshold=_MINHASH_EST_T,
        hash_family="md5",
    )
    q = writer.trigger(availableNow=True).start()
    _await_drain(q, "stream_neardup")
    return (
        spark.read.parquet(f"{root}/matches")
        .select(
            "id_new", "id_index",
            F.round("est_jaccard", 4).alias("est_jaccard"),
        )
        .orderBy("id_new", "id_index")
    )


query(q_stream_neardup, SQL_MINHASH_INCREMENTAL)


def q_heavy_hitters(spark, sf_dir):
    """Heavy-hitter terms via the ``approx_top_k`` sketch (Spark 4) —
    the bounded-memory path for 100 TB frequency analysis (mergeable
    per-partition sketches, no full-vocabulary shuffle). Invariant
    oracle, same pattern as ``approx_sketch_bounds``: the Spark side
    emits the EXACT top-10 terms plus a boolean asserting each is
    present in the approx top-20 with a count within 2% + 5; DuckDB
    emits the exact top-10 and TRUE. A hash match certifies the sketch
    surface without demanding bit-equal estimates."""
    toks = _t(spark, sf_dir, "documents").select(
        F.explode(F.transform(tokens("text"), F.lower)).alias("term")
    )
    exact_top = (
        toks.groupBy("term")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "term")
        .limit(10)
    )
    approx = (
        toks.agg(F.expr("approx_top_k(term, 20)").alias("tk"))
        .select(F.explode("tk").alias("e"))
        .select(
            F.col("e.item").alias("term"),
            F.col("e.count").alias("approx_n"),
        )
    )
    ok = F.col("approx_n").isNotNull() & (
        F.abs(F.col("approx_n") - F.col("n"))
        <= F.col("n") * 0.02 + F.lit(5)
    )
    return (
        exact_top.join(F.broadcast(approx), "term", "left")
        .select("term", "n", ok.alias("ok"))
        .orderBy(F.desc("n"), "term")
    )


SQL_HEAVY_HITTERS = f"""
WITH t AS (
  SELECT lower(unnest({_SQL_TOKENS})) AS term FROM documents
)
SELECT term, count(*) AS n, TRUE AS ok
FROM t GROUP BY term
ORDER BY n DESC, term LIMIT 10
"""
query(q_heavy_hitters, SQL_HEAVY_HITTERS, bench=True)


_PROFILE_COLS = [
    ("doc_id", "bigint"),
    ("lang", "string"),
    ("source", "string"),
    ("n_chars", "bigint"),
]


def q_profile_table(spark, sf_dir):
    """Per-column table profiling (the data-quality "summarize" pass):
    rows/nulls/distinct/min/max in ONE aggregate scan + top-3 frequent
    values from one explode+agg — dbt-profiler / SUMMARIZE shape, full
    value oracle."""
    from mhm_data_pipelines_spark.operators.profile import profile_table

    return profile_table(
        _t(spark, sf_dir, "documents"),
        columns=[c for c, _ in _PROFILE_COLS],
        top_k=3,
    ).orderBy("column")


def _profile_oracle_sql() -> str:
    blocks = []
    for c, dt in _PROFILE_COLS:
        blocks.append(f"""
SELECT '{c}' AS "column", '{dt}' AS dtype,
  (SELECT count(*) FROM documents) AS n_rows,
  (SELECT count(*) FILTER (WHERE {c} IS NULL) FROM documents) AS n_nulls,
  (SELECT count(DISTINCT {c}) FROM documents) AS n_distinct,
  (SELECT CAST(min({c}) AS VARCHAR) FROM documents) AS min_value,
  (SELECT CAST(max({c}) AS VARCHAR) FROM documents) AS max_value,
  coalesce((SELECT string_agg(value || ':' || n, ', ' ORDER BY n DESC, value)
   FROM (SELECT CAST({c} AS VARCHAR) AS value, count(*) AS n
         FROM documents WHERE {c} IS NOT NULL
         GROUP BY 1 ORDER BY n DESC, value LIMIT 3)), '') AS top_values""")
    return "\nUNION ALL\n".join(blocks) + '\nORDER BY "column"'


SQL_PROFILE_TABLE = _profile_oracle_sql()
query(q_profile_table, SQL_PROFILE_TABLE, bench=True)


def q_doc_bigram_lm(spark, sf_dir):
    """Bigram-LM quality scoring: each document's mean bigram
    conditional log-probability ``ln P(w2|w1)`` under the corpus MLE
    bigram model — one order deeper than ``doc_lm_score``'s unigram
    stand-in for CCNet-style perplexity filtering. Corpus bigram counts
    are one hash aggregate over the exploded bigrams; context counts
    derive from the bigram table itself (sum per left word), so
    conditionals are exact MLE with no smoothing needed (every scored
    bigram is in the corpus by construction). Shuffle shape: one
    explode + two stacked aggregates + AQE-sized joins back."""
    df = _t(spark, sf_dir, "documents")
    tk = df.select(
        "doc_id",
        F.transform(tokens("text"), F.lower).alias("tk"),
    )
    big = (
        tk.filter(F.size("tk") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(tk) - 2), "
                    "i -> concat(tk[i], ' ', tk[i + 1]))"
                )
            ).alias("bg"),
        )
    )
    bfreq = big.groupBy("bg").agg(F.count("*").alias("c12"))
    ctx = bfreq.groupBy(
        F.split("bg", " ")[0].alias("w1")
    ).agg(F.sum("c12").cast("double").alias("c1"))
    logp = F.log(F.col("c12") / F.col("c1"))
    return (
        big.join(bfreq, "bg")
        .join(ctx, F.split("bg", " ")[0] == F.col("w1"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg(logp), 4).alias("avg_logp"),
        )
        .orderBy("doc_id")
    )


SQL_DOC_BIGRAM_LM = f"""
WITH toks AS (
  SELECT doc_id, {_SQL_TOKENS_LOWER} AS tk FROM documents
), big AS (
  SELECT doc_id, tk[i] || ' ' || tk[i + 1] AS bg
  FROM toks, LATERAL unnest(generate_series(1, len(tk) - 1)) AS u(i)
  WHERE len(tk) >= 2
), bfreq AS (
  SELECT bg, count(*) AS c12 FROM big GROUP BY bg
), ctx AS (
  SELECT split_part(bg, ' ', 1) AS w1,
         CAST(sum(c12) AS DOUBLE) AS c1
  FROM bfreq GROUP BY 1
)
SELECT doc_id, count(*) AS n_bigrams,
       round(avg(ln(c12 / c1)), 4) AS avg_logp
FROM big
JOIN bfreq USING (bg)
JOIN ctx ON split_part(bg, ' ', 1) = ctx.w1
GROUP BY doc_id ORDER BY doc_id
"""
query(q_doc_bigram_lm, SQL_DOC_BIGRAM_LM, bench=True)


def q_doc_kn_lm(spark, sf_dir):
    """Interpolated Kneser-Ney bigram LM scoring (Chen & Goodman eq.
    4.25) — the smoothed scorer CCNet-style perplexity filtering
    actually uses, replacing the MLE stand-ins: discounted bigram mass
    interpolated with continuation probability, every term a closed-
    form count. ONE corpus pass trains the count tables (explode + a
    single (w1,w2) hash agg; marginals re-aggregate the vocabulary-
    sized count table), scoring joins them back AQE-sized; only the
    1-row bigram-type total broadcasts (operators/lm.py
    kn_bigram_doc_scores)."""
    from mhm_data_pipelines_spark.operators.lm import (
        kn_bigram_doc_scores,
    )

    df = _t(spark, sf_dir, "documents")
    tk = df.select(
        "doc_id", F.transform(tokens("text"), F.lower).alias("tk")
    )
    return kn_bigram_doc_scores(tk).orderBy("doc_id")


SQL_DOC_KN_LM = f"""
WITH toks AS (
  SELECT doc_id, {_SQL_TOKENS_LOWER} AS tk FROM documents
), big AS (
  SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
  FROM toks, LATERAL unnest(generate_series(1, len(tk) - 1)) AS u(i)
  WHERE len(tk) >= 2
), bf AS (
  SELECT w1, w2, count(*) AS c12 FROM big GROUP BY 1, 2
), ctx AS (
  SELECT w1, CAST(sum(c12) AS DOUBLE) AS c1,
         CAST(count(*) AS DOUBLE) AS n1r
  FROM bf GROUP BY 1
), cont AS (
  SELECT w2, CAST(count(*) AS DOUBLE) AS n1l FROM bf GROUP BY 1
), tot AS (
  SELECT CAST(count(*) AS DOUBLE) AS b FROM bf
), sc AS (
  SELECT doc_id, count(*) AS n_bigrams,
         round(avg(ln(
           greatest(c12 - 0.75, 0) / c1
           + 0.75 * n1r / c1 * (n1l / b)
         )), 4) AS avg_logp
  FROM big JOIN bf USING (w1, w2) JOIN ctx USING (w1)
       JOIN cont USING (w2), tot
  GROUP BY doc_id
)
SELECT doc_id, n_bigrams, avg_logp, round(exp(-avg_logp), 4) AS ppl
FROM sc ORDER BY doc_id
"""
query(q_doc_kn_lm, SQL_DOC_KN_LM, bench=True)


def q_doc_kn3_lm(spark, sf_dir):
    """Interpolated Kneser-Ney TRIGRAM scoring (Chen & Goodman 1999
    continuation-count recursion) on the held-out even/odd split, so
    every recursion level exercises: discounted trigram mass →
    continuation-count middle level → P_cont → D/B floor. Two corpus
    explodes build the trigram/bigram aggregates; five marginals
    re-aggregate them; scoring joins all six back AQE-sized; only the
    1-row bigram-type total broadcasts (operators/lm.py
    kn_doc_scores at order=3; the distribution sums to exactly 1 for
    every seen context — tested)."""
    from mhm_data_pipelines_spark.operators.lm import kn_doc_scores

    df = _t(spark, sf_dir, "documents")
    tk = df.select(
        "doc_id", F.transform(tokens("text"), F.lower).alias("tk")
    )
    train = tk.filter(F.col("doc_id") % 2 == 0)
    score = tk.filter(F.col("doc_id") % 2 == 1)
    return (
        kn_doc_scores(score, train=train, order=3)
        .withColumnRenamed("n_ngrams", "n_trigrams")
        .orderBy("doc_id")
    )


SQL_DOC_KN3_LM = f"""
WITH toks AS (
  SELECT doc_id, {_SQL_TOKENS_LOWER} AS tk FROM documents
), tr AS (
  SELECT * FROM toks WHERE doc_id % 2 = 0
), sdocs AS (
  SELECT * FROM toks WHERE doc_id % 2 = 1
), tri AS (
  SELECT tk[i] AS w1, tk[i + 1] AS w2, tk[i + 2] AS w3,
         count(*) AS c123
  FROM tr, LATERAL unnest(generate_series(1, len(tk) - 2)) AS u(i)
  WHERE len(tk) >= 3 GROUP BY 1, 2, 3
), ctx12 AS (
  SELECT w1, w2, CAST(sum(c123) AS DOUBLE) AS c12,
         CAST(count(*) AS DOUBLE) AS n1r12
  FROM tri GROUP BY 1, 2
), cont23 AS (
  SELECT w2, w3, CAST(count(*) AS DOUBLE) AS n1l23
  FROM tri GROUP BY 1, 2
), mid2 AS (
  SELECT w2, CAST(sum(n1l23) AS DOUBLE) AS m2,
         CAST(count(*) AS DOUBLE) AS n1r2
  FROM cont23 GROUP BY 1
), bf AS (
  SELECT tk[i] AS w1, tk[i + 1] AS w2, count(*) AS c12raw
  FROM tr, LATERAL unnest(generate_series(1, len(tk) - 1)) AS u(i)
  WHERE len(tk) >= 2 GROUP BY 1, 2
), contw AS (
  SELECT w2 AS w3, CAST(count(*) AS DOUBLE) AS n1l FROM bf GROUP BY 1
), tot AS (
  SELECT CAST(count(*) AS DOUBLE) AS b FROM bf
), stream AS (
  SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2, tk[i + 2] AS w3
  FROM sdocs, LATERAL unnest(generate_series(1, len(tk) - 2)) AS u(i)
  WHERE len(tk) >= 3
), scored AS (
  SELECT doc_id,
         coalesce(contw.n1l / tot.b, 0.75 / tot.b) AS pc,
         CASE WHEN mid2.m2 IS NOT NULL THEN
           greatest(coalesce(cont23.n1l23, 0.0) - 0.75, 0.0) / mid2.m2
           + 0.75 * mid2.n1r2 / mid2.m2 * pc
         ELSE pc END AS pmid,
         CASE WHEN ctx12.c12 IS NOT NULL THEN
           greatest(coalesce(CAST(tri.c123 AS DOUBLE), 0.0) - 0.75, 0.0)
             / ctx12.c12
           + 0.75 * ctx12.n1r12 / ctx12.c12 * pmid
         ELSE pmid END AS p
  FROM stream
  LEFT JOIN tri USING (w1, w2, w3)
  LEFT JOIN ctx12 USING (w1, w2)
  LEFT JOIN cont23 USING (w2, w3)
  LEFT JOIN mid2 USING (w2)
  LEFT JOIN contw USING (w3),
  tot
), sc AS (
  SELECT doc_id, count(*) AS n_trigrams,
         round(avg(ln(p)), 4) AS avg_logp
  FROM scored GROUP BY doc_id
)
SELECT doc_id, n_trigrams, avg_logp, round(exp(-avg_logp), 4) AS ppl
FROM sc ORDER BY doc_id
"""
query(q_doc_kn3_lm, SQL_DOC_KN3_LM, bench=True)


def q_doc_kn5_lm(spark, sf_dir):
    """5-gram interpolated Kneser-Ney — the EXACT shape of CCNet's
    industrial KenLM filter (Wenzek 2020; Heafield 2011) in closed
    count form, on the held-out even/odd split: raw counts at the top,
    continuation counts N1+(·suffix) at every middle level, P_cont at
    the base, finite fallbacks level by level. Four corpus explode+agg
    passes (k-gram counts k=2..5); all marginals re-aggregate those
    type tables; scoring joins nine count tables back AQE-sized; only
    the 1-row bigram-type total broadcasts (operators/lm.py
    kn_doc_scores; each level sums to exactly 1 per seen context —
    tested)."""
    from mhm_data_pipelines_spark.operators.lm import kn_doc_scores

    df = _t(spark, sf_dir, "documents")
    tk = df.select(
        "doc_id", F.transform(tokens("text"), F.lower).alias("tk")
    )
    train = tk.filter(F.col("doc_id") % 2 == 0)
    score = tk.filter(F.col("doc_id") % 2 == 1)
    return kn_doc_scores(score, train=train, order=5).orderBy("doc_id")


SQL_DOC_KN5_LM = f"""
WITH toks AS (
  SELECT doc_id, {_SQL_TOKENS_LOWER} AS tk FROM documents
), tr AS (
  SELECT * FROM toks WHERE doc_id % 2 = 0
), sdocs AS (
  SELECT * FROM toks WHERE doc_id % 2 = 1
), g5 AS (
  SELECT tk[i] AS w1, tk[i + 1] AS w2, tk[i + 2] AS w3,
         tk[i + 3] AS w4, tk[i + 4] AS w5, count(*) AS c5
  FROM tr, LATERAL unnest(generate_series(1, len(tk) - 4)) AS u(i)
  WHERE len(tk) >= 5 GROUP BY 1, 2, 3, 4, 5
), g4 AS (
  SELECT tk[i] AS w1, tk[i + 1] AS w2, tk[i + 2] AS w3,
         tk[i + 3] AS w4, count(*) AS c4
  FROM tr, LATERAL unnest(generate_series(1, len(tk) - 3)) AS u(i)
  WHERE len(tk) >= 4 GROUP BY 1, 2, 3, 4
), g3 AS (
  SELECT tk[i] AS w1, tk[i + 1] AS w2, tk[i + 2] AS w3, count(*) AS c3
  FROM tr, LATERAL unnest(generate_series(1, len(tk) - 2)) AS u(i)
  WHERE len(tk) >= 3 GROUP BY 1, 2, 3
), g2 AS (
  SELECT tk[i] AS w1, tk[i + 1] AS w2, count(*) AS c2
  FROM tr, LATERAL unnest(generate_series(1, len(tk) - 1)) AS u(i)
  WHERE len(tk) >= 2 GROUP BY 1, 2
), ctx5 AS (
  SELECT w1, w2, w3, w4, CAST(sum(c5) AS DOUBLE) AS cx,
         CAST(count(*) AS DOUBLE) AS n1r5
  FROM g5 GROUP BY 1, 2, 3, 4
), ck4 AS (
  SELECT w2, w3, w4, w5, CAST(count(*) AS DOUBLE) AS ck4
  FROM g5 GROUP BY 1, 2, 3, 4
), m4 AS (
  SELECT w2, w3, w4, CAST(sum(ck4) AS DOUBLE) AS m4,
         CAST(count(*) AS DOUBLE) AS n1r4
  FROM ck4 GROUP BY 1, 2, 3
), ck3 AS (
  SELECT w2 AS w3, w3 AS w4, w4 AS w5,
         CAST(count(*) AS DOUBLE) AS ck3
  FROM g4 GROUP BY 1, 2, 3
), m3 AS (
  SELECT w3, w4, CAST(sum(ck3) AS DOUBLE) AS m3,
         CAST(count(*) AS DOUBLE) AS n1r3
  FROM ck3 GROUP BY 1, 2
), ck2 AS (
  SELECT w2 AS w4, w3 AS w5, CAST(count(*) AS DOUBLE) AS ck2
  FROM g3 GROUP BY 1, 2
), m2 AS (
  SELECT w4, CAST(sum(ck2) AS DOUBLE) AS m2,
         CAST(count(*) AS DOUBLE) AS n1r2
  FROM ck2 GROUP BY 1
), contw AS (
  SELECT w2 AS w5, CAST(count(*) AS DOUBLE) AS n1l FROM g2 GROUP BY 1
), tot AS (
  SELECT CAST(count(*) AS DOUBLE) AS b FROM g2
), stream AS (
  SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2, tk[i + 2] AS w3,
         tk[i + 3] AS w4, tk[i + 4] AS w5
  FROM sdocs, LATERAL unnest(generate_series(1, len(tk) - 4)) AS u(i)
  WHERE len(tk) >= 5
), scored AS (
  SELECT doc_id,
         coalesce(contw.n1l / tot.b, 0.75 / tot.b) AS pc,
         CASE WHEN m2.m2 IS NOT NULL THEN
           greatest(coalesce(ck2.ck2, 0.0) - 0.75, 0.0) / m2.m2
           + 0.75 * m2.n1r2 / m2.m2 * pc
         ELSE pc END AS p2,
         CASE WHEN m3.m3 IS NOT NULL THEN
           greatest(coalesce(ck3.ck3, 0.0) - 0.75, 0.0) / m3.m3
           + 0.75 * m3.n1r3 / m3.m3 * p2
         ELSE p2 END AS p3,
         CASE WHEN m4.m4 IS NOT NULL THEN
           greatest(coalesce(ck4.ck4, 0.0) - 0.75, 0.0) / m4.m4
           + 0.75 * m4.n1r4 / m4.m4 * p3
         ELSE p3 END AS p4,
         CASE WHEN ctx5.cx IS NOT NULL THEN
           greatest(coalesce(CAST(g5.c5 AS DOUBLE), 0.0) - 0.75, 0.0)
             / ctx5.cx
           + 0.75 * ctx5.n1r5 / ctx5.cx * p4
         ELSE p4 END AS p
  FROM stream
  LEFT JOIN g5 USING (w1, w2, w3, w4, w5)
  LEFT JOIN ctx5 USING (w1, w2, w3, w4)
  LEFT JOIN ck4 USING (w2, w3, w4, w5)
  LEFT JOIN m4 USING (w2, w3, w4)
  LEFT JOIN ck3 USING (w3, w4, w5)
  LEFT JOIN m3 USING (w3, w4)
  LEFT JOIN ck2 USING (w4, w5)
  LEFT JOIN m2 USING (w4)
  LEFT JOIN contw USING (w5),
  tot
), sc AS (
  SELECT doc_id, count(*) AS n_ngrams,
         round(avg(ln(p)), 4) AS avg_logp
  FROM scored GROUP BY doc_id
)
SELECT doc_id, n_ngrams, avg_logp, round(exp(-avg_logp), 4) AS ppl
FROM sc ORDER BY doc_id
"""
query(q_doc_kn5_lm, SQL_DOC_KN5_LM, bench=True)


def q_doc_sb_lm(spark, sf_dir):
    """Trigram Stupid-Backoff scoring (Brants 2007) on a HELD-OUT
    split — train on even doc_ids, score the odd ones, so the full
    backoff chain (trigram -> a*bigram -> a^2*unigram -> OOV floor)
    exercises for real instead of degenerating to MLE. Three map-side
    explode+agg passes over one tokenization build vocab-sized count
    tables; scoring joins them back AQE-sized (the bigram table twice:
    context + backoff); only the 1-row token total broadcasts
    (operators/lm.py sb_doc_scores at order=3)."""
    from mhm_data_pipelines_spark.operators.lm import sb_doc_scores

    df = _t(spark, sf_dir, "documents")
    tk = df.select(
        "doc_id", F.transform(tokens("text"), F.lower).alias("tk")
    )
    train = tk.filter(F.col("doc_id") % 2 == 0)
    score = tk.filter(F.col("doc_id") % 2 == 1)
    return (
        sb_doc_scores(score, train=train, order=3)
        .withColumnRenamed("n_ngrams", "n_trigrams")
        .orderBy("doc_id")
    )


SQL_DOC_SB_LM = f"""
WITH toks AS (
  SELECT doc_id, {_SQL_TOKENS_LOWER} AS tk FROM documents
), tr AS (
  SELECT * FROM toks WHERE doc_id % 2 = 0
), sdocs AS (
  SELECT * FROM toks WHERE doc_id % 2 = 1
), tri AS (
  SELECT tk[i] AS w1, tk[i + 1] AS w2, tk[i + 2] AS w3,
         count(*) AS c123
  FROM tr, LATERAL unnest(generate_series(1, len(tk) - 2)) AS u(i)
  WHERE len(tk) >= 3 GROUP BY 1, 2, 3
), big AS (
  SELECT tk[i] AS w1, tk[i + 1] AS w2, count(*) AS c12
  FROM tr, LATERAL unnest(generate_series(1, len(tk) - 1)) AS u(i)
  WHERE len(tk) >= 2 GROUP BY 1, 2
), uni AS (
  SELECT w, count(*) AS c1
  FROM (SELECT unnest(tk) AS w FROM tr) GROUP BY 1
), tot AS (
  SELECT CAST(sum(c1) AS DOUBLE) AS n FROM uni
), stream AS (
  SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2, tk[i + 2] AS w3
  FROM sdocs, LATERAL unnest(generate_series(1, len(tk) - 2)) AS u(i)
  WHERE len(tk) >= 3
), sc AS (
  SELECT doc_id, count(*) AS n_trigrams,
         round(avg(ln(
           CASE WHEN tri.c123 IS NOT NULL THEN tri.c123 / ctx.c12
                WHEN b23.c23 IS NOT NULL THEN 0.4 * b23.c23 / u2.c2
                ELSE 0.4 * 0.4
                     * coalesce(CAST(u3.c3 AS DOUBLE), 1.0) / tot.n
           END)), 4) AS avg_logs
  FROM stream
  LEFT JOIN tri USING (w1, w2, w3)
  LEFT JOIN (SELECT w1 AS a1, w2 AS a2, c12 FROM big) ctx
    ON stream.w1 = ctx.a1 AND stream.w2 = ctx.a2
  LEFT JOIN (SELECT w1 AS b2, w2 AS b3, c12 AS c23 FROM big) b23
    ON stream.w2 = b23.b2 AND stream.w3 = b23.b3
  LEFT JOIN (SELECT w AS w2u, c1 AS c2 FROM uni) u2
    ON stream.w2 = u2.w2u
  LEFT JOIN (SELECT w AS w3u, c1 AS c3 FROM uni) u3
    ON stream.w3 = u3.w3u,
  tot
  GROUP BY doc_id
)
SELECT doc_id, n_trigrams, avg_logs, round(exp(-avg_logs), 4) AS ppl
FROM sc ORDER BY doc_id
"""
query(q_doc_sb_lm, SQL_DOC_SB_LM, bench=True)


def q_doc_sb5_lm(spark, sf_dir):
    """5-gram Stupid-Backoff scoring — the CCNet-matched order (Wenzek
    et al. 2020 filter with a 5-gram KenLM; Brants 2007 backoff) — on
    the same held-out even/odd split as doc_sb_lm so all five backoff
    levels (5-gram -> a*4-gram -> ... -> a^4*unigram -> OOV floor)
    exercise for real. Five map-side explode+agg passes over one
    tokenization build k-gram count tables k=1..5 (vocab-sized,
    shrinking with k); scoring joins them back AQE-sized (2*5-1 count-
    table joins); only the 1-row token total broadcasts
    (operators/lm.py sb_doc_scores)."""
    from mhm_data_pipelines_spark.operators.lm import sb_doc_scores

    df = _t(spark, sf_dir, "documents")
    tk = df.select(
        "doc_id", F.transform(tokens("text"), F.lower).alias("tk")
    )
    train = tk.filter(F.col("doc_id") % 2 == 0)
    score = tk.filter(F.col("doc_id") % 2 == 1)
    return sb_doc_scores(score, train=train, order=5).orderBy("doc_id")


SQL_DOC_SB5_LM = f"""
WITH toks AS (
  SELECT doc_id, {_SQL_TOKENS_LOWER} AS tk FROM documents
), tr AS (
  SELECT * FROM toks WHERE doc_id % 2 = 0
), sdocs AS (
  SELECT * FROM toks WHERE doc_id % 2 = 1
), g5 AS (
  SELECT tk[i] AS w1, tk[i + 1] AS w2, tk[i + 2] AS w3,
         tk[i + 3] AS w4, tk[i + 4] AS w5, count(*) AS c5
  FROM tr, LATERAL unnest(generate_series(1, len(tk) - 4)) AS u(i)
  WHERE len(tk) >= 5 GROUP BY 1, 2, 3, 4, 5
), g4 AS (
  SELECT tk[i] AS w1, tk[i + 1] AS w2, tk[i + 2] AS w3,
         tk[i + 3] AS w4, count(*) AS c4
  FROM tr, LATERAL unnest(generate_series(1, len(tk) - 3)) AS u(i)
  WHERE len(tk) >= 4 GROUP BY 1, 2, 3, 4
), g3 AS (
  SELECT tk[i] AS w1, tk[i + 1] AS w2, tk[i + 2] AS w3, count(*) AS c3
  FROM tr, LATERAL unnest(generate_series(1, len(tk) - 2)) AS u(i)
  WHERE len(tk) >= 3 GROUP BY 1, 2, 3
), g2 AS (
  SELECT tk[i] AS w1, tk[i + 1] AS w2, count(*) AS c2
  FROM tr, LATERAL unnest(generate_series(1, len(tk) - 1)) AS u(i)
  WHERE len(tk) >= 2 GROUP BY 1, 2
), g1 AS (
  SELECT w, count(*) AS c1
  FROM (SELECT unnest(tk) AS w FROM tr) GROUP BY 1
), tot AS (
  SELECT CAST(sum(c1) AS DOUBLE) AS n FROM g1
), stream AS (
  SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2, tk[i + 2] AS w3,
         tk[i + 3] AS w4, tk[i + 4] AS w5
  FROM sdocs, LATERAL unnest(generate_series(1, len(tk) - 4)) AS u(i)
  WHERE len(tk) >= 5
), sc AS (
  SELECT doc_id, count(*) AS n_ngrams,
         round(avg(ln(
           CASE
             WHEN s5.c5 IS NOT NULL THEN s5.c5 / x5.c4
             WHEN s4.c4 IS NOT NULL THEN 0.4 * s4.c4 / x4.c3
             WHEN s3.c3 IS NOT NULL THEN 0.4 * 0.4 * s3.c3 / x3.c2
             WHEN s2.c2 IS NOT NULL
               THEN 0.4 * 0.4 * 0.4 * s2.c2 / x2.c1
             ELSE 0.4 * 0.4 * 0.4 * 0.4
                  * coalesce(CAST(s1.c1 AS DOUBLE), 1.0) / tot.n
           END)), 4) AS avg_logs
  FROM stream
  LEFT JOIN g5 s5 USING (w1, w2, w3, w4, w5)
  LEFT JOIN (SELECT w1 AS a1, w2 AS a2, w3 AS a3, w4 AS a4, c4 FROM g4)
    x5 ON stream.w1 = x5.a1 AND stream.w2 = x5.a2
     AND stream.w3 = x5.a3 AND stream.w4 = x5.a4
  LEFT JOIN (SELECT w1 AS b2, w2 AS b3, w3 AS b4, w4 AS b5, c4 FROM g4)
    s4 ON stream.w2 = s4.b2 AND stream.w3 = s4.b3
     AND stream.w4 = s4.b4 AND stream.w5 = s4.b5
  LEFT JOIN (SELECT w1 AS c2_, w2 AS c3_, w3 AS c4_, c3 FROM g3)
    x4 ON stream.w2 = x4.c2_ AND stream.w3 = x4.c3_
     AND stream.w4 = x4.c4_
  LEFT JOIN (SELECT w1 AS d3, w2 AS d4, w3 AS d5, c3 FROM g3)
    s3 ON stream.w3 = s3.d3 AND stream.w4 = s3.d4
     AND stream.w5 = s3.d5
  LEFT JOIN (SELECT w1 AS e3, w2 AS e4, c2 FROM g2)
    x3 ON stream.w3 = x3.e3 AND stream.w4 = x3.e4
  LEFT JOIN (SELECT w1 AS f4, w2 AS f5, c2 FROM g2)
    s2 ON stream.w4 = s2.f4 AND stream.w5 = s2.f5
  LEFT JOIN (SELECT w AS h4, c1 FROM g1) x2 ON stream.w4 = x2.h4
  LEFT JOIN (SELECT w AS h5, c1 FROM g1) s1 ON stream.w5 = s1.h5,
  tot
  GROUP BY doc_id
)
SELECT doc_id, n_ngrams, avg_logs, round(exp(-avg_logs), 4) AS ppl
FROM sc ORDER BY doc_id
"""
query(q_doc_sb5_lm, SQL_DOC_SB5_LM, bench=True)


SQL_BPE_PAIRS = f"""
WITH w AS (
  SELECT lower(unnest({_SQL_TOKENS})) AS word FROM documents
), wc AS (
  SELECT word, count(*) AS wc FROM w GROUP BY word
), pairs AS (
  SELECT wc,
         unnest(list_transform(
           range(1, length(word)),
           i -> [substr(word, i, 1), substr(word, i + 1, 1)]
         )) AS p
  FROM wc WHERE length(word) >= 2
)
SELECT p[1] AS "left", p[2] AS "right",
       CAST(sum(wc) AS BIGINT) AS n
FROM pairs GROUP BY 1, 2
ORDER BY n DESC, "left", "right" LIMIT 50
"""
query(q_bpe_pairs, SQL_BPE_PAIRS, bench=True)


def q_event_pagerank(spark, sf_dir):
    """Weighted PageRank over the event-type TRANSITION graph (the
    Markov-chain importance of each event type): edges are consecutive
    (prev_type -> type) pairs per user ordered by (ts, event_id),
    weighted by transition count. 3 fixed iterations, damping 0.85 —
    the oracle unrolls the identical recurrence, so agreement is
    value-for-value (rank rounded to 6)."""
    from mhm_data_pipelines_spark.operators.graph import pagerank

    df = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (
        df.select(
            F.lag("event_type").over(w).alias("src"),
            F.col("event_type").alias("dst"),
        )
        .filter(F.col("src").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count("*").cast("double").alias("w"))
    )
    ranks = pagerank(edges, "src", "dst", weight="w",
                     iterations=3, damping=0.85)
    return ranks.select(
        "node", F.round("rank", 6).alias("rank")
    ).orderBy("node")


# One PageRank step as SQL (see operators/graph.py semantics note:
# dangling mass leaks; contribution = rank * w / out_w).
def _pr_step_sql(prev: str, out: str) -> str:
    # (1-d) must be the IEEE-double subtraction Spark performs, not
    # DuckDB's exact DECIMAL 0.15 — the two differ by 1 ulp, which
    # after division by n and 3 iterations can flip a 6-decimal
    # rounding boundary. CASTs force double arithmetic.
    return f"""{out} AS (
  SELECT nodes.node,
         (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
           / (SELECT n FROM nn)
         + 0.85 * coalesce(s.in_rank, 0) AS rank
  FROM nodes LEFT JOIN (
    SELECT shares.dst AS node, sum({prev}.rank * shares.share) AS in_rank
    FROM shares JOIN {prev} ON {prev}.node = shares.src
    GROUP BY shares.dst
  ) s ON s.node = nodes.node
)"""


SQL_EVENT_PAGERANK = f"""
WITH ordered AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
), e AS (
  SELECT prev_type AS src, event_type AS dst,
         CAST(count(*) AS DOUBLE) AS w
  FROM ordered WHERE prev_type IS NOT NULL
  GROUP BY 1, 2
), nodes AS (
  SELECT src AS node FROM e UNION SELECT dst FROM e
), nn AS (
  SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes
), outw AS (
  SELECT src, sum(w) AS out_w FROM e GROUP BY src
), shares AS (
  SELECT e.src, e.dst, e.w / outw.out_w AS share
  FROM e JOIN outw ON outw.src = e.src
), r0 AS (
  SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes
), {_pr_step_sql("r0", "r1")}, {_pr_step_sql("r1", "r2")},
{_pr_step_sql("r2", "r3")}
SELECT node, ROUND(rank, 6) AS rank FROM r3 ORDER BY node
"""
query(q_event_pagerank, SQL_EVENT_PAGERANK)


def q_fuzzy_pairs(spark, sf_dir):
    """Record linkage: all customer-name pairs within Levenshtein
    distance 1, via deletion-neighborhood candidate blocking (FastSS) —
    exact recall (see operators/fuzzy.py), so the brute-force oracle
    reproduces it value-for-value."""
    from mhm_data_pipelines_spark.operators.fuzzy import edit_distance_join

    cust = _t(spark, sf_dir, "customer")
    return edit_distance_join(
        cust, text_col="c_name", id_col="c_custkey", k=1
    ).orderBy("id_a", "id_b")


SQL_FUZZY_PAIRS = """
SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
       CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
FROM customer a JOIN customer b
  ON a.c_custkey < b.c_custkey
 AND abs(length(a.c_name) - length(b.c_name)) <= 1
 AND levenshtein(a.c_name, b.c_name) <= 1
ORDER BY id_a, id_b
"""
query(q_fuzzy_pairs, SQL_FUZZY_PAIRS, bench=True)


def q_knn_graph(spark, sf_dir):
    """k-NN graph (top-5 cosine neighbors for EVERY vector) with
    EXHAUSTIVE probing — the full IVF-graph machinery (single-list
    assignment, probe explode, cogrouped per-list scoring, per-query
    window) provably equal to brute force, so DuckDB's independent
    brute-force self-join is a full value oracle. Selective-probe
    recall is covered in tests/test_similarity.py."""
    from mhm_data_pipelines_spark.operators.similarity import knn_graph

    df = _t(spark, sf_dir, "embeddings")
    cents = [
        (r["label"], list(r["centroid"]))
        for r in label_centroids(df).collect()
    ]
    out = knn_graph(df, cents, k=5, nprobe=len(cents))
    return out.withColumn("cosine", F.round("cosine", 4)).orderBy(
        "qid", F.desc("cosine"), "nid"
    )


SQL_KNN_GRAPH = """
SELECT a.vec_id AS qid, b.vec_id AS nid,
       round(list_cosine_similarity(
         CAST(b.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])), 4)
         AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
QUALIFY row_number() OVER (
  PARTITION BY a.vec_id
  ORDER BY list_cosine_similarity(CAST(b.embedding AS DOUBLE[]),
                                  CAST(a.embedding AS DOUBLE[])) DESC,
           b.vec_id
) <= 5
ORDER BY 1, 3 DESC, 2
"""
query(q_knn_graph, SQL_KNN_GRAPH, bench=True)


def q_snapshot_diff(spark, sf_dir):
    """Keyed snapshot diff: 'old' drops event_id % 7 == 0, 'new' drops
    % 11 == 0 and doubles value where % 13 == 0 — added/removed/changed
    with the changed-column list, unchanged keys filtered in-plan."""
    from mhm_data_pipelines_spark.operators.diff import snapshot_diff

    ev = _t(spark, sf_dir, "events")
    old = ev.filter(F.col("event_id") % 7 != 0)
    new = ev.filter(F.col("event_id") % 11 != 0).withColumn(
        "value",
        F.when(
            F.col("event_id") % 13 == 0, F.col("value") * 2
        ).otherwise(F.col("value")),
    )
    out = snapshot_diff(old, new, keys=["event_id"])
    return out.orderBy("event_id")


SQL_SNAPSHOT_DIFF = """
WITH old AS (
  SELECT * FROM events WHERE event_id % 7 <> 0
), new AS (
  SELECT event_id, ts, user_id, event_type,
         CASE WHEN event_id % 13 = 0 THEN value * 2 ELSE value END AS value,
         props
  FROM events WHERE event_id % 11 <> 0
), j AS (
  SELECT coalesce(o.event_id, n.event_id) AS event_id,
         o.event_id IS NOT NULL AS in_old,
         n.event_id IS NOT NULL AS in_new,
         list_sort(list_filter(
           [CASE WHEN o.ts IS DISTINCT FROM n.ts THEN 'ts' END,
            CASE WHEN o.user_id IS DISTINCT FROM n.user_id
                 THEN 'user_id' END,
            CASE WHEN o.event_type IS DISTINCT FROM n.event_type
                 THEN 'event_type' END,
            CASE WHEN o.value IS DISTINCT FROM n.value THEN 'value' END,
            CASE WHEN o.props IS DISTINCT FROM n.props THEN 'props' END],
           x -> x IS NOT NULL)) AS diffs
  FROM old o FULL OUTER JOIN new n ON o.event_id = n.event_id
)
SELECT event_id,
       CASE WHEN NOT in_old THEN 'added'
            WHEN NOT in_new THEN 'removed'
            ELSE 'changed' END AS change,
       CASE WHEN in_old AND in_new
            THEN array_to_string(diffs, ',') ELSE '' END AS changed_cols
FROM j
WHERE (NOT in_old) OR (NOT in_new) OR len(diffs) > 0
ORDER BY event_id
"""
query(q_snapshot_diff, SQL_SNAPSHOT_DIFF, bench=True)


def q_sentence_dedup(spark, sf_dir):
    """Corpus-level sentence dedup (first occurrence wins) — one
    granularity finer than paragraph_dedup; RE2-compatible sentence
    segmentation so DuckDB reproduces the extraction literally."""
    from mhm_data_pipelines_spark.operators.dedup import dedup_sentences

    df = _t(spark, sf_dir, "documents")
    out = dedup_sentences(df)
    return out.select(
        "doc_id",
        F.col("n_sents").cast("long").alias("n_sents"),
        F.col("n_kept").cast("long").alias("n_kept"),
        F.md5("text_dedup").alias("clean_fp"),
    ).orderBy("doc_id")


SQL_SENTENCE_DEDUP = r"""
WITH p0 AS (
  SELECT doc_id, i AS pos, parts[i] AS sent
  FROM (SELECT doc_id,
               regexp_extract_all(text, '[^.!?]+[.!?]?') AS parts
        FROM documents),
       LATERAL unnest(generate_series(1, len(parts))) AS u(i)
), p AS (
  SELECT doc_id, pos, sent FROM p0 WHERE trim(sent) <> ''
), k AS (
  SELECT doc_id, pos, sent,
         row_number() OVER (
           PARTITION BY md5(trim(regexp_replace(lower(sent), '\s+', ' ', 'g')))
           ORDER BY doc_id, pos
         ) AS rn
  FROM p
), kept AS (
  SELECT doc_id, pos, sent FROM k WHERE rn = 1
), agg AS (
  SELECT doc_id, count(*) AS n_kept,
         md5(string_agg(trim(sent), ' ' ORDER BY pos)) AS clean_fp
  FROM kept GROUP BY 1
), tot AS (
  SELECT doc_id, count(*) AS n_sents FROM p GROUP BY 1
)
SELECT d.doc_id,
       coalesce(t.n_sents, 0) AS n_sents,
       coalesce(a.n_kept, 0) AS n_kept,
       coalesce(a.clean_fp, md5('')) AS clean_fp
FROM documents d
LEFT JOIN tot t ON d.doc_id = t.doc_id
LEFT JOIN agg a ON d.doc_id = a.doc_id
ORDER BY d.doc_id
"""
query(q_sentence_dedup, SQL_SENTENCE_DEDUP, bench=True)


def q_weighted_sample(spark, sf_dir):
    """Efraimidis-Spirakis weighted sampling without replacement:
    100 documents drawn proportionally to n_chars, md5-keyed uniforms
    so DuckDB replays the identical draw value-for-value."""
    from mhm_data_pipelines_spark.operators.sampling import weighted_sample

    df = _t(spark, sf_dir, "documents")
    out = weighted_sample(
        df, n=100, weight_col="n_chars", key="doc_id",
        seed=42, hash_family="md5",
    )
    return out.select("doc_id", "source", "n_chars").orderBy("doc_id")


SQL_WEIGHTED_SAMPLE = """
SELECT doc_id, source, n_chars FROM (
  SELECT doc_id, source, n_chars,
         ln((CAST(('0x' || substr(md5(doc_id || ':42'), 1, 15))
              AS BIGINT) + 1) / 1152921504606846976.0)
           / CAST(n_chars AS DOUBLE) AS es_key
  FROM documents WHERE n_chars > 0
  ORDER BY es_key DESC, doc_id
  LIMIT 100
)
ORDER BY doc_id
"""
query(q_weighted_sample, SQL_WEIGHTED_SAMPLE, bench=True)


def q_semantic_decontam(spark, sf_dir):
    """Embedding-cosine decontamination: vectors 0-19 play the eval
    benchmark; every training vector reports its max cosine against
    them plus the >= 0.9 contamination verdict. Eval side broadcast,
    training side never shuffled (one max partial-agg)."""
    from mhm_data_pipelines_spark.operators.decontam import (
        embedding_decontaminate,
    )

    df = _t(spark, sf_dir, "embeddings")
    ev = df.filter(F.col("vec_id") < 20)
    tr = df.filter(F.col("vec_id") >= 20)
    out = embedding_decontaminate(tr, ev, threshold=0.9)
    return out.select(
        "vec_id",
        F.round("max_eval_cosine", 4).alias("max_eval_cosine"),
        "contaminated",
    ).orderBy("vec_id")


SQL_SEMANTIC_DECONTAM = """
SELECT t.vec_id,
       round(max(list_cosine_similarity(
         CAST(t.embedding AS DOUBLE[]),
         CAST(e.embedding AS DOUBLE[]))), 4) AS max_eval_cosine,
       max(list_cosine_similarity(
         CAST(t.embedding AS DOUBLE[]),
         CAST(e.embedding AS DOUBLE[]))) >= 0.9 AS contaminated
FROM embeddings t, embeddings e
WHERE t.vec_id >= 20 AND e.vec_id < 20
GROUP BY t.vec_id
ORDER BY t.vec_id
"""
query(q_semantic_decontam, SQL_SEMANTIC_DECONTAM, bench=True)


def q_jsonl_roundtrip(spark, sf_dir):
    """JSONL ingestion verified end-to-end: documents serialize to
    line-JSON (plus two injected corrupt lines), land in a fresh temp
    dir, and read back through the PERMISSIVE quarantine reader — the
    per-source aggregate over the CLEAN side must equal the oracle's
    aggregate over the original table, and exactly the two corrupt
    lines must quarantine (never silently drop, never fail the job)."""
    from mhm_data_pipelines_spark.sources.io import (
        read_jsonl,
        split_quarantine,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    lines = docs.select(
        F.to_json(F.struct("doc_id", "source", "n_chars")).alias("value")
    )
    corrupt = spark.createDataFrame(
        [("{broken json",), ("not json at all",)], "value string"
    )
    dest = _scratch("mhm_jsonl_gate_") + "/dump"
    lines.unionByName(corrupt).coalesce(4).write.mode("overwrite").text(dest)
    raw = read_jsonl(
        spark, dest, schema="doc_id long, source string, n_chars long"
    )
    clean, bad = split_quarantine(raw)
    _track(raw)  # split_quarantine persists the frame it is passed
    n_bad = bad.agg(F.count("*").alias("n_quarantined"))
    return (
        clean.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .crossJoin(n_bad)
        .orderBy("source")
    )


SQL_JSONL_ROUNDTRIP = """
SELECT source, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(2 AS BIGINT) AS n_quarantined
FROM documents GROUP BY source ORDER BY source
"""
query(q_jsonl_roundtrip, SQL_JSONL_ROUNDTRIP)


def q_hll_user_rollup(spark, sf_dir):
    """Mergeable-sketch rollup: per-DAY HLL sketches of distinct users
    union into per-ISO-WEEK estimates WITHOUT re-scanning raw events;
    the oracle pins the exact weekly distinct count and the invariant
    that the sketch estimate lands within 10% (3-sigma at lgK=12 is
    ~4.9%, so the bound has real margin yet still proves the union
    path works — same invariant-oracle style as approx_sketch_bounds).
    The estimate itself is engine-specific (DataSketches vs DuckDB
    HLL) and deliberately not value-compared."""
    from mhm_data_pipelines_spark.operators.sketches import (
        estimate,
        rollup_sketches,
        sketch_distinct,
    )

    ev = _t(spark, sf_dir, "events")
    daily = sketch_distinct(
        ev,
        [F.date_trunc("day", "ts").alias("day")],
        key="user_id",
    )
    weekly = rollup_sketches(
        daily,
        [iso_week_key("day").alias("iso_week")],
    )
    est = estimate(weekly)
    exact = ev.groupBy(
        iso_week_key("ts").alias("iso_week")
    ).agg(F.count_distinct("user_id").alias("n_exact"))
    return (
        est.join(exact, "iso_week")
        .select(
            "iso_week",
            "n_exact",
            (
                F.abs(F.col("sketch_estimate") - F.col("n_exact"))
                <= 0.10 * F.col("n_exact")
            ).alias("within_10pct"),
        )
        .orderBy("iso_week")
    )


SQL_HLL_USER_ROLLUP = """
SELECT printf('%d-W%02d', isoyear(ts), weekofyear(ts)) AS iso_week,
       count(DISTINCT user_id) AS n_exact,
       TRUE AS within_10pct
FROM events
GROUP BY 1 ORDER BY 1
"""
query(q_hll_user_rollup, SQL_HLL_USER_ROLLUP, bench=True)


def q_variant_extract(spark, sf_dir):
    """Spark-4 VARIANT semi-structured path: props parses ONCE into the
    binary variant encoding (the open-ended schema-on-read answer when
    from_json's fixed schema can't be known up front), then typed path
    extraction (variant_get) and missing-path tolerance
    (try_variant_get -> NULL, never an error) stay pure projections.
    The oracle replays the same paths with DuckDB's JSON extraction."""
    df = _t(spark, sf_dir, "events")
    v = F.parse_json("props")
    return (
        df.filter(F.col("event_id") < 2000)
        .select(
            "event_id",
            "event_type",
            F.variant_get(v, "$.k", "long").alias("k"),
            F.try_variant_get(v, "$.absent", "string").alias("absent"),
        )
        .withColumn("k_doubled", F.col("k") * 2)
        .orderBy("event_id")
    )


SQL_VARIANT_EXTRACT = """
SELECT event_id, event_type,
       CAST(json_extract(props, '$.k') AS BIGINT) AS k,
       CAST(NULL AS VARCHAR) AS absent,
       CAST(json_extract(props, '$.k') AS BIGINT) * 2 AS k_doubled
FROM events WHERE event_id < 2000
ORDER BY event_id
"""
query(q_variant_extract, SQL_VARIANT_EXTRACT, bench=True)


def q_neardup_pagerank(spark, sf_dir):
    """Similarity-weighted PageRank over the REAL MinHash near-dup
    graph — the centrality-based keep rule (retain the most central
    member of a boilerplate cluster rather than the min-id one).
    Composed full-value oracle: the DuckDB twin rebuilds the identical
    md5 signature pairs (SQL_MINHASH_NEARDUP's CTE chain) and unrolls
    the same 3 PageRank steps. Edge weights are est_jaccard = eq/32 —
    exact binary fractions, so shares divide identically cross-engine."""
    from mhm_data_pipelines_spark.operators.graph import pagerank

    pairs = minhash_near_duplicates(
        _t(spark, sf_dir, "documents"),
        num_hashes=_MINHASH_N,
        bands=_MINHASH_BANDS,
        threshold=_MINHASH_EST_T,
        hash_family="md5",
    )
    edges = pairs.select(
        F.col("id_a").alias("src"),
        F.col("id_b").alias("dst"),
        F.col("est_jaccard").alias("w"),
    ).unionByName(
        pairs.select(
            F.col("id_b").alias("src"),
            F.col("id_a").alias("dst"),
            F.col("est_jaccard").alias("w"),
        )
    )
    ranks = pagerank(edges, "src", "dst", weight="w",
                     iterations=3, damping=0.85)
    return ranks.select(
        F.col("node").alias("doc_id"), F.round("rank", 6).alias("rank")
    ).orderBy("doc_id")


SQL_NEARDUP_PAGERANK = f"""
WITH norm AS (
  SELECT doc_id, lower(text) AS t FROM documents
), g AS (
  SELECT doc_id, substr(t, i, 5) AS sh
  FROM norm, LATERAL unnest(generate_series(1, len(t) - 4)) AS u(i)
  WHERE len(t) >= 5
), hashed AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(sh), 1, 15)) AS BIGINT)
           % 2147483647 AS h1,
         CAST(('0x' || substr(md5(sh), 16, 15)) AS BIGINT)
           % {MINHASH_MD5_P - 1} + 1 AS h2
  FROM g
), sigs AS (
  SELECT doc_id, u.i,
         min((h1 + u.i * h2) % 2147483647) AS mh
  FROM hashed, LATERAL unnest(generate_series(0, {_MINHASH_N - 1})) AS u(i)
  GROUP BY doc_id, u.i
), agree AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS eq
  FROM sigs a JOIN sigs b ON a.i = b.i AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT id_a, id_b, eq / {_MINHASH_N}.0 AS w
  FROM agree WHERE eq >= {int(_MINHASH_EST_T * _MINHASH_N)}
), e AS (
  SELECT id_a AS src, id_b AS dst, w FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst, w FROM pairs
), nodes AS (
  SELECT DISTINCT src AS node FROM e
), nn AS (
  SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes
), outw AS (
  SELECT src, sum(w) AS out_w FROM e GROUP BY src
), shares AS (
  SELECT e.src, e.dst, e.w / outw.out_w AS share
  FROM e JOIN outw ON outw.src = e.src
), r0 AS (
  SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes
), {_pr_step_sql("r0", "r1")}, {_pr_step_sql("r1", "r2")},
{_pr_step_sql("r2", "r3")}
SELECT node AS doc_id, ROUND(rank, 6) AS rank FROM r3 ORDER BY doc_id
"""
query(q_neardup_pagerank, SQL_NEARDUP_PAGERANK)


def q_stream_sketch_rollup(spark, sf_dir):
    """Streaming sketch maintenance, value-verified end-to-end: events
    arrive as TWO micro-batches (event_id parity split) through
    ``streaming.ingest.sketch_stream``; the drained per-day sketch
    table merges into weekly estimates that must satisfy the SAME
    exact-count + 10%-bound oracle as the batch hll_user_rollup — the
    streaming-maintained sketches are interchangeable with batch-built
    ones (sketch union is associative across arrival order)."""
    import os as _os
    import time as _time

    from mhm_data_pipelines_spark.operators.sketches import (
        estimate,
        rollup_sketches,
    )
    from mhm_data_pipelines_spark.streaming.ingest import (
        read_sketch_table,
        sketch_stream,
    )

    ev = _t(spark, sf_dir, "events").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id"
    )
    root = _scratch("mhm_stream_sk_")
    src = f"{root}/src"
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(
        f"{src}/b0"
    )
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(
        f"{src}/b1"
    )
    old = _time.time() - 3600
    for d, _, files in _os.walk(f"{src}/b0"):
        for fn in files:
            _os.utime(_os.path.join(d, fn), (old, old))
    stream = (
        spark.readStream.schema("event_id long, ts timestamp, user_id long")
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .withColumn("day", F.date_trunc("day", "ts"))
    )
    writer = sketch_stream(
        stream,
        sketch_path=f"{root}/sketches",
        checkpoint=f"{root}/ck",
        bucket_cols=("day",),
        key="user_id",
    )
    q = writer.trigger(availableNow=True).start()
    _await_drain(q, "stream_sketch_rollup")
    daily = read_sketch_table(spark, f"{root}/sketches", ("day",))
    weekly = rollup_sketches(daily, [iso_week_key("day").alias("iso_week")])
    est = estimate(weekly)
    exact = ev.groupBy(iso_week_key("ts").alias("iso_week")).agg(
        F.count_distinct("user_id").alias("n_exact")
    )
    return (
        est.join(exact, "iso_week")
        .select(
            "iso_week",
            "n_exact",
            (
                F.abs(F.col("sketch_estimate") - F.col("n_exact"))
                <= 0.10 * F.col("n_exact")
            ).alias("within_10pct"),
        )
        .orderBy("iso_week")
    )


# stream_sketch_rollup reuses the batch oracle verbatim: streaming-
# maintained sketches must satisfy the same exact + bound checks.
query(q_stream_sketch_rollup, SQL_HLL_USER_ROLLUP)


def q_doc_entropy(spark, sf_dir):
    """Character-entropy quality signal (compressibility proxy: low
    entropy = repetitive/boilerplate): explode → one (id,char) hash
    agg → per-doc -p·log2(p), using the algebraic form
    log2(n) - Σc·log2(c)/n so both engines sum the SAME term sequence
    shape. Rounded to 4 for cross-engine float parity."""
    from mhm_data_pipelines_spark.functions.text import doc_char_entropy

    df = _t(spark, sf_dir, "documents")
    out = doc_char_entropy(df)
    return out.select(
        "doc_id",
        F.col("n_chars_ent").cast("long").alias("n_chars_ent"),
        F.round("entropy", 4).alias("entropy"),
    ).orderBy("doc_id")


SQL_DOC_ENTROPY = """
WITH chars AS (
  SELECT doc_id, substr(text, i, 1) AS ch
  FROM documents,
       LATERAL unnest(generate_series(1, len(text))) AS u(i)
), counts AS (
  SELECT doc_id, ch, CAST(count(*) AS DOUBLE) AS c
  FROM chars GROUP BY 1, 2
)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_chars_ent,
       round(log2(sum(c)) - sum(c * log2(c)) / sum(c), 4) AS entropy
FROM counts GROUP BY doc_id
ORDER BY doc_id
"""
query(q_doc_entropy, SQL_DOC_ENTROPY, bench=True)


def q_compression_ratio(spark, sf_dir):
    """zlib compression ratio per document (the Dolma-family
    industrial compressibility filter; ratio ≈ 1 ⇒ incompressible,
    low ratio ⇒ boilerplate), upgraded from rows-only to a FULL value
    oracle (VERDICT r4 #2) in the invariant style of
    q_approx_sketch_bounds:

    * three PINNED literal docs (ids −3/−2/−1: repetitive, natural,
      hex-noise) ride through the SAME distributed mapInPandas zlib
      path as the corpus, and the oracle asserts their exact
      (n_bytes, n_compressed, ratio) — computed once at import time
      with the identical zlib — so any drift in the encoder, level,
      column wiring, or batch plumbing breaks the hash;
    * every CORPUS doc emits exact n_bytes (SQL: octet_length) plus an
      ``ok`` invariant the oracle pins to true: n_compressed within
      zlib's documented compressBound (n + n>>12 + n>>14 + n>>25 + 13)
      AND strictly shrinking for docs ≥ 200 bytes (this corpus'
      non-shrinking docs top out at 65 bytes — 3× margin, measured at
      sf0.001/0.01/0.1). Corpus n_compressed/ratio are sentineled to
      −1: zlib has no SQL twin, so their exact values are certified
      via the pinned rows + the invariant, not per-doc equality."""
    from mhm_data_pipelines_spark.functions.text import compression_stats

    df = _t(spark, sf_dir, "documents").select("doc_id", "text")
    pins = spark.createDataFrame(
        sorted(_ZLIB_PINS.items()), "doc_id long, text string"
    )
    stats = compression_stats(df.unionByName(pins))
    bound = (
        F.col("n_bytes")
        + F.shiftright("n_bytes", 12)
        + F.shiftright("n_bytes", 14)
        + F.shiftright("n_bytes", 25)
        + F.lit(13)
    )
    ok = (F.col("n_compressed") <= bound) & (
        (F.col("n_bytes") < 200)
        | (F.col("n_compressed") < F.col("n_bytes"))
    )
    pinned = F.col("doc_id") < 0
    return stats.select(
        "doc_id",
        "n_bytes",
        F.when(pinned, F.col("n_compressed"))
        .otherwise(F.lit(-1))
        .cast("long")
        .alias("n_compressed"),
        F.when(pinned, F.col("ratio")).otherwise(F.lit(-1.0)).alias("ratio"),
        ok.alias("ok"),
    ).orderBy("doc_id")


#: Pinned inputs for the compression oracle — module-level constants so
#: the Spark path and the import-time zlib literals in
#: SQL_COMPRESSION_RATIO are built from the SAME bytes. Deterministic
#: pure-Python (no randomness, no clock).
import hashlib as _hashlib

_ZLIB_PINS: dict[int, str] = {
    -3: "spam and eggs. " * 200,  # repetitive → ratio ≪ 1
    -2: "The quick brown fox jumps over the lazy dog. " * 40,
    -1: "".join(  # hex noise → highest ratio of the three
        _hashlib.sha256(str(i).encode()).hexdigest() for i in range(8)
    ),
}


def _zlib_pin_rows() -> str:
    import zlib as _zlib

    rows = []
    for did, text in sorted(_ZLIB_PINS.items()):
        b = text.encode("utf-8")
        n, c = len(b), len(_zlib.compress(b, 6))
        rows.append(
            f"({did}, {n}, {c}, {round(c / max(n, 1), 4)}, true)"
        )
    return ",\n       ".join(rows)


SQL_COMPRESSION_RATIO = f"""
SELECT * FROM (
  SELECT * FROM (VALUES
       {_zlib_pin_rows()})
    AS pins(doc_id, n_bytes, n_compressed, ratio, ok)
  UNION ALL
  SELECT doc_id,
         octet_length(encode(text)) AS n_bytes,
         CAST(-1 AS BIGINT) AS n_compressed,
         -1.0 AS ratio,
         true AS ok
  FROM documents
)
ORDER BY doc_id
"""
# compression_ratio: invariant-style full oracle (r5) — pinned
# literal rows carry exact zlib values; corpus rows carry exact
# n_bytes + a compressBound/shrink invariant pinned to true.
query(q_compression_ratio, SQL_COMPRESSION_RATIO, bench=True)


def q_audio_features(spark, sf_dir):
    """REAL audio path, value-verified end-to-end through the binary
    container: per doc a deterministic PCM16 square wave (amplitude,
    half-period, length all closed forms of doc_id) is written as WAV
    BYTES, then decoded back (RIFF chunk walk, multimodal.decode_wav)
    and featurized inside Arrow mapInPandas. Square-wave features have
    exact closed forms — rms = peak = amplitude, zero crossings =
    (n-1) // half_period — so the oracle needs no audio code at all:
    any drift in the writer, parser, or feature math breaks the match."""
    from mhm_data_pipelines_spark.operators.multimodal import (
        audio_feature_extractor,
        encode_wav,
    )

    df = _t(spark, sf_dir, "documents").select("doc_id")

    def synth(batches):
        import numpy as np
        import pandas as pd

        from mhm_data_pipelines_spark.operators.multimodal import (
            encode_wav as _enc,
        )

        for pdf in batches:
            rows = {"doc_id": [], "payload": []}
            for did in pdf["doc_id"]:
                a = (1 + did % 9) * 1000
                h = 2 + did % 5
                n = 400 + did % 50
                i = np.arange(n)
                x = np.where((i // h) % 2 == 0, a, -a).astype("<i2")
                rows["doc_id"].append(did)
                rows["payload"].append(_enc(x, 16_000))
            yield pd.DataFrame(rows)

    assets = df.mapInPandas(synth, schema="doc_id long, payload binary")
    out = audio_feature_extractor(assets, "payload", "doc_id")
    return out.select(
        "doc_id", "decoded", "n_samples", "sample_rate",
        F.round("rms", 4).alias("rms"),
        F.round("peak", 4).alias("peak"),
        "zero_crossings",
    ).orderBy("doc_id")


SQL_AUDIO_FEATURES = """
SELECT doc_id,
       TRUE AS decoded,
       400 + doc_id % 50 AS n_samples,
       CAST(16000 AS BIGINT) AS sample_rate,
       CAST((1 + doc_id % 9) * 1000 AS DOUBLE) AS rms,
       CAST((1 + doc_id % 9) * 1000 AS DOUBLE) AS peak,
       (400 + doc_id % 50 - 1) // (2 + doc_id % 5) AS zero_crossings
FROM documents ORDER BY doc_id
"""
query(q_audio_features, SQL_AUDIO_FEATURES, bench=True)


# --------------------------------------------------------------------------

# --------------------------------------------------------------------------
# r5: URL/domain filtering + per-source quantile selection
# --------------------------------------------------------------------------

#: URL-synthesis constants shared by the Spark query and the DuckDB
#: oracle — the corpus has no URL column, so both engines derive the
#: SAME deterministic URL per doc from md5(doc_id) (the repo's md5
#: hash-family convention). One base is a known-bad domain so the
#: blocklist path is exercised; the multi-label TLDs exercise
#: public-suffix longest-match.
_URL_BASES = (
    "spamsite", "example", "dataforge", "webjournal",
    "newsfeed", "archive", "research", "portal",
)
_URL_TLDS = ("com", "org", "net", "co.uk", "com.au", "io", "de", "info")
_URL_SUBS = ("", "www.", "cdn.")
_URL_BLOCKLIST = tuple(f"spamsite.{t}" for t in _URL_TLDS)
_URL_CAP = 3


def _synth_url_col():
    h = F.md5(F.col("doc_id").cast("string"))
    b1 = F.conv(F.substring(h, 1, 15), 16, 10).cast("long")
    b2 = F.conv(F.substring(h, 16, 15), 16, 10).cast("long")
    b3 = F.conv(F.substring(h, 31, 2), 16, 10).cast("long")
    pick = lambda vals, b: F.element_at(  # noqa: E731
        F.array(*[F.lit(v) for v in vals]),
        (b % len(vals)).cast("int") + 1,
    )
    return F.concat(
        F.lit("https://"),
        pick(_URL_SUBS, b3),
        pick(_URL_BASES, b1),
        F.lit("."),
        pick(_URL_TLDS, b2),
        F.lit("/p/"),
        F.col("doc_id").cast("string"),
    )


def q_url_filter(spark, sf_dir):
    """Web-corpus URL gate (CCNet/RefinedWeb front stage): synthesize a
    deterministic URL per doc (md5 convention — no URL column in the
    corpus), then run the FULL operator chain from ``operators.urls``:
    host parse → eTLD+1 via longest public-suffix match → blocklist
    broadcast join → per-domain cap 3 by md5-rank. Emits every doc with
    its host/domain/blocked/kept flags; the oracle rebuilds the chain
    in SQL (RE2-safe regexes, same md5 rank), so the hash certifies
    parsing, suffix logic, blocklist and cap together."""
    from mhm_data_pipelines_spark.operators.urls import url_filter

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    with_url = docs.withColumn("url", _synth_url_col())
    blocklist = spark.createDataFrame(
        [(d,) for d in _URL_BLOCKLIST], "domain string"
    )
    out = url_filter(
        with_url,
        blocklist=blocklist,
        per_domain_cap=_URL_CAP,
    )
    return out.select(
        "doc_id", "host", "reg_domain", "blocked", "kept"
    ).orderBy("doc_id")


def _sql_url_synth() -> str:
    def pick(vals, b):
        lst = "[" + ", ".join(f"'{v}'" for v in vals) + "]"
        return f"({lst})[{b} % {len(vals)} + 1]"

    return f"""
  SELECT doc_id,
         'https://' || {pick(_URL_SUBS, "b3")}
           || {pick(_URL_BASES, "b1")} || '.'
           || {pick(_URL_TLDS, "b2")}
           || '/p/' || CAST(doc_id AS VARCHAR) AS url,
         b1
  FROM (
    SELECT doc_id,
           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS b1,
           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 16, 15) AS BIGINT) AS b2,
           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 31, 2) AS BIGINT) AS b3
    FROM documents
  )"""


def _sql_reg_domain_case(host: str) -> str:
    from mhm_data_pipelines_spark.operators.urls import DEFAULT_SUFFIXES
    import re as _re

    arms = []
    for sfx in sorted(DEFAULT_SUFFIXES, key=len, reverse=True):
        esc = _re.escape(sfx)  # 'com.au' -> 'com\\.au' (single backslash)
        arms.append(
            f"WHEN regexp_matches({host}, '\\.{esc}$') "
            f"THEN regexp_extract({host}, '([^.]+\\.{esc})$', 1)"
        )
    joined = "\n         ".join(arms)
    return (
        f"CASE {joined} "
        f"ELSE regexp_extract({host}, '([^.]+\\.[^.]+)$', 1) END"
    )


SQL_URL_FILTER = f"""
WITH urls AS ({_sql_url_synth()}
), parsed AS (
  SELECT doc_id, b1,
         lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)', 1)) AS host
  FROM urls
), grouped AS (
  SELECT doc_id, b1, host,
         {_sql_reg_domain_case("host")} AS reg_domain
  FROM parsed
), flagged AS (
  SELECT doc_id, host, reg_domain, b1,
         reg_domain IN ({", ".join(f"'{d}'" for d in _URL_BLOCKLIST)}) AS blocked
  FROM grouped
), ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY reg_domain, blocked ORDER BY b1, doc_id
  ) AS rn
  FROM flagged
)
SELECT doc_id, host, reg_domain, blocked,
       (NOT blocked) AND rn <= {_URL_CAP} AS kept
FROM ranked ORDER BY doc_id
"""
query(q_url_filter, SQL_URL_FILTER, bench=True)


def q_quantile_select(spark, sf_dir):
    """DataComp-style per-source quantile gate: keep the top 30% of
    documents per source by a continuous quality score (stopword ratio
    − punctuation ratio + capped length term — each component already
    oracle-certified in doc_quality), via
    ``selection.quantile_threshold_select``: one hash aggregate for the
    exact per-source percentile, broadcast of the scalar thresholds
    back, ≥-threshold keep (tie groups at the cut keep in full — no
    row_number nondeterminism). Emits every doc with score/threshold/
    kept so the oracle checks the cut placement, not just counts."""
    from mhm_data_pipelines_spark.functions.text import (
        punct_ratio,
        stopword_ratio,
        tokens,
    )
    from mhm_data_pipelines_spark.operators.selection import (
        quantile_threshold_select,
    )

    df = _t(spark, sf_dir, "documents")
    score = F.round(
        stopword_ratio("text")
        - punct_ratio("text")
        + F.least(F.size(tokens("text")), F.lit(1000)) / 1000.0,
        6,
    )
    scored = df.select("doc_id", "source", score.alias("score"))
    out = quantile_threshold_select(scored, "score", "source", 0.3)
    return out.select(
        "doc_id",
        "source",
        "score",
        F.round("threshold", 4).alias("threshold"),
        "kept",
    ).orderBy("doc_id")


SQL_QUANTILE_SELECT = f"""
WITH t AS (
  SELECT doc_id, source,
         round(
           (CASE WHEN len({_SQL_TOKENS}) > 0
             THEN len(list_filter({_SQL_TOKENS},
                      x -> list_contains({_SQL_STOPLIST}, lower(x))))
                  * 1.0 / len({_SQL_TOKENS}) ELSE 0.0 END)
           - (CASE WHEN length(text) > 0
             THEN (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                  * 1.0 / length(text) ELSE 0.0 END)
           + least(len({_SQL_TOKENS}), 1000) / 1000.0,
         6) AS score
  FROM documents
), th AS (
  SELECT source, quantile_cont(score, 0.7) AS threshold FROM t GROUP BY source
)
SELECT t.doc_id, t.source, t.score,
       round(th.threshold, 4) AS threshold,
       t.score >= th.threshold AS kept
FROM t JOIN th USING (source)
ORDER BY t.doc_id
"""
query(q_quantile_select, SQL_QUANTILE_SELECT, bench=True)


def q_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval: reciprocal-rank fusion of BM25 (tf-weighted)
    and token-set Jaccard (coverage-weighted) top-20 lists for the
    same fixed query — the standard sparse+sparse hybrid combiner
    (RRF consumes ranks only, so no score calibration). Scale shape:
    both input rankings end in a TakeOrdered, so ranking windows and
    the fusion aggregate run on 2×20 rows, never the corpus."""
    from mhm_data_pipelines_spark.operators.retrieval import (
        bm25_topk,
        jaccard_topk,
        rrf_fuse,
    )

    df = _t(spark, sf_dir, "documents")
    bm = bm25_topk(df, _BM25_QUERY, k=20, k1=_BM25_K1, b=_BM25_B)
    jc = jaccard_topk(df, _BM25_QUERY, k=20)
    out = rrf_fuse([bm, jc], topk=10)
    return out.select(
        "doc_id",
        "rrf_score",
        F.col("n_lists").cast("long").alias("n_lists"),
    )


def _hybrid_rrf_oracle_sql() -> str:
    terms = sorted({t.lower() for t in _BM25_QUERY.split()})
    in_list = ", ".join(f"'{t}'" for t in terms)
    arr = "[" + ", ".join(f"'{t}'" for t in terms) + "]"
    k1, b = _BM25_K1, _BM25_B
    return f"""
WITH toks AS (
  SELECT doc_id, {_SQL_TOKENS_LOWER} AS tk, len({_SQL_TOKENS}) AS dl
  FROM documents
), stats AS (
  SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM toks
), t AS (
  SELECT doc_id, unnest(tk) AS term FROM toks
), tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM t WHERE term IN ({in_list}) GROUP BY 1, 2
), df_ AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term
), s AS (
  SELECT tf.doc_id,
         ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
           * (tf * {k1 + 1.0!r}) /
           (tf + {k1!r} * (1.0 - {b!r} + ({b!r} * dl) / avgdl)) AS pt
  FROM tf
  JOIN df_ USING (term)
  JOIN toks USING (doc_id), stats
), bm AS (
  SELECT doc_id, round(sum(pt), 4) AS score
  FROM s GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20
), bmr AS (
  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
  FROM bm
), jt AS (
  SELECT doc_id,
         len(list_intersect(list_distinct(tk), {arr})) AS inter,
         len(list_distinct(tk)) AS nd
  FROM toks
), jd AS (
  SELECT doc_id,
         round(inter * 1.0 / (nd + {len(terms)} - inter), 6) AS score
  FROM jt WHERE inter > 0 ORDER BY score DESC, doc_id LIMIT 20
), jdr AS (
  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
  FROM jd
), u AS (
  SELECT doc_id, 1.0 / (60 + rnk) AS c FROM bmr
  UNION ALL
  SELECT doc_id, 1.0 / (60 + rnk) AS c FROM jdr
)
SELECT doc_id, round(sum(c), 8) AS rrf_score, count(*) AS n_lists
FROM u GROUP BY doc_id
ORDER BY rrf_score DESC, doc_id LIMIT 10
"""


SQL_HYBRID_RRF = _hybrid_rrf_oracle_sql()
query(q_hybrid_rrf, SQL_HYBRID_RRF, bench=True)


def q_ppl_buckets(spark, sf_dir):
    """CCNet-style perplexity bucketing: per-language head/middle/tail
    terciles of the smoothed-LM mean log-probability (high log-prob =
    low perplexity = head; CCNet trains on the head band). The score
    is now the interpolated Kneser-Ney bigram model (doc_kn_lm's
    pipeline, operators/lm.py — replacing the round-5 unigram MLE
    stand-in per VERDICT r5 #5); the band assignment is
    quantile_bucket_assign — one threshold aggregate + broadcast join
    + row-local CASE, no ntile window, so boundary ties band
    identically in every engine. Docs with < 2 tokens have no bigram
    score and no band, by contract."""
    from mhm_data_pipelines_spark.operators.lm import (
        kn_bigram_doc_scores,
    )
    from mhm_data_pipelines_spark.operators.selection import (
        quantile_bucket_assign,
    )

    df = _t(spark, sf_dir, "documents")
    tk = df.select(
        "doc_id", F.transform(tokens("text"), F.lower).alias("tk")
    )
    # Lazily checkpoint the doc-count-sized score table: its two
    # consumers (the lang-threshold aggregate and the band join) must
    # reuse ONE scoring pass, not replan the explode/agg subtree each.
    scored = (
        kn_bigram_doc_scores(tk)
        .join(df.select("doc_id", "lang"), "doc_id")
        .select("doc_id", "lang", "avg_logp")
        .localCheckpoint(eager=False)
    )
    out = quantile_bucket_assign(scored, "avg_logp", "lang")
    return out.select("doc_id", "lang", "avg_logp", "bucket").orderBy(
        "doc_id"
    )


SQL_PPL_BUCKETS = f"""
WITH toks AS (
  SELECT doc_id, {_SQL_TOKENS_LOWER} AS tk FROM documents
), big AS (
  SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
  FROM toks, LATERAL unnest(generate_series(1, len(tk) - 1)) AS u(i)
  WHERE len(tk) >= 2
), bf AS (
  SELECT w1, w2, count(*) AS c12 FROM big GROUP BY 1, 2
), ctx AS (
  SELECT w1, CAST(sum(c12) AS DOUBLE) AS c1,
         CAST(count(*) AS DOUBLE) AS n1r
  FROM bf GROUP BY 1
), cont AS (
  SELECT w2, CAST(count(*) AS DOUBLE) AS n1l FROM bf GROUP BY 1
), tot AS (
  SELECT CAST(count(*) AS DOUBLE) AS b FROM bf
), sc AS (
  SELECT doc_id,
         round(avg(ln(
           greatest(c12 - 0.75, 0) / c1
           + 0.75 * n1r / c1 * (n1l / b)
         )), 4) AS avg_logp
  FROM big JOIN bf USING (w1, w2) JOIN ctx USING (w1)
       JOIN cont USING (w2), tot
  GROUP BY doc_id
), scl AS (
  SELECT sc.doc_id, d.lang, sc.avg_logp
  FROM sc JOIN documents d ON sc.doc_id = d.doc_id
),
th AS (
  SELECT lang,
         quantile_cont(avg_logp, {1.0 / 3!r}) AS q0,
         quantile_cont(avg_logp, {2.0 / 3!r}) AS q1
  FROM scl GROUP BY lang
)
SELECT doc_id, lang, avg_logp,
       CASE WHEN avg_logp <= q0 THEN 'tail'
            WHEN avg_logp <= q1 THEN 'middle'
            ELSE 'head' END AS bucket
FROM scl JOIN th USING (lang)
ORDER BY doc_id
"""
query(q_ppl_buckets, SQL_PPL_BUCKETS, bench=True)


def q_embedding_covariance(spark, sf_dir):
    """Distributed PCA's moment pass, surfaced as the verifiable
    artifact: the population covariance of the embedding matrix in
    long upper-triangle form (i ≤ j). One mapInPandas pass emits a
    d²-sized partial per Arrow batch (the corpus never shuffles),
    partials combine in one hash aggregate — the exact pattern that
    holds at 100 TB because only n_batches × O(d²) doubles move.
    fit_pca/project (eigensolve + projection) build on this table and
    are pinned by unit tests; the eigensolve is driver-side numpy on
    d×d and has no SQL twin."""
    from mhm_data_pipelines_spark.operators.pca import covariance_long

    out = covariance_long(
        _t(spark, sf_dir, "embeddings"), dim=64, round_to=6
    )
    return out.select("i", "j", "cov").orderBy("i", "j")


SQL_EMBEDDING_COVARIANCE = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), u AS (
  SELECT vec_id, CAST(g.i AS INTEGER) - 1 AS i, v[g.i] AS x
  FROM e, LATERAL unnest(generate_series(1, 64)) g(i)
)
SELECT a.i AS i, b.i AS j,
       round(sum(a.x * b.x) / count(*)
             - (sum(a.x) / count(*)) * (sum(b.x) / count(*)), 6) + 0.0 AS cov
FROM u a JOIN u b ON a.vec_id = b.vec_id AND a.i <= b.i
GROUP BY 1, 2
ORDER BY 1, 2
"""
query(q_embedding_covariance, SQL_EMBEDDING_COVARIANCE, bench=True)


def q_sft_stats(spark, sf_dir):
    """SFT conversation prep: documents become deterministic JSON chat
    transcripts (first-half tokens as the user turn, second half as
    the assistant turn, +2 extra turns for even ids; every 17th id
    swaps roles → roles_ok false; every 23rd id gets corrupted JSON →
    parse_ok false), then conversation_stats validates structure and
    counts per-role tokens and render_chat flattens the training
    string. Everything row-local — from_json + higher-order array
    exprs, zero shuffles except the display sort."""
    from mhm_data_pipelines_spark.operators.conversations import (
        conversation_stats,
        render_chat,
    )

    df = _t(spark, sf_dir, "documents")
    toks = tokens("text")
    n = F.size(toks)
    h = (n / 2).cast("int")

    def turn(role, content):
        return F.struct(
            role.alias("role"), content.alias("content")
        )

    c1 = F.array_join(F.slice(toks, 1, h), " ")
    c2 = F.array_join(F.slice(toks, h + 1, n - h), " ")
    c3 = F.array_join(F.slice(toks, 1, F.least(n, F.lit(5))), " ")
    first_role = F.when(
        F.col("doc_id") % 17 == 0, F.lit("assistant")
    ).otherwise(F.lit("user"))
    base = F.array(turn(first_role, c1), turn(F.lit("assistant"), c2))
    extra = F.array(
        turn(F.lit("user"), c3), turn(F.lit("assistant"), F.lit("ok"))
    )
    arr = F.when(
        F.col("doc_id") % 2 == 0, F.concat(base, extra)
    ).otherwise(base)
    js = F.to_json(arr)
    js = F.when(
        F.col("doc_id") % 23 == 0, F.concat(F.lit("corrupt{"), js)
    ).otherwise(js)
    conv_df = df.select("doc_id", js.alias("conversation"))
    out = conversation_stats(conv_df)
    out = render_chat(out)
    return out.select(
        "doc_id",
        "parse_ok",
        F.col("n_turns").cast("long").alias("n_turns"),
        "roles_ok",
        "alternation_ok",
        "turns_nonempty",
        F.col("n_user_tokens").cast("long").alias("n_user_tokens"),
        F.col("n_assistant_tokens").cast("long").alias(
            "n_assistant_tokens"
        ),
        "valid",
        F.md5("text_rendered").alias("rendered_fp"),
    ).orderBy("doc_id")


SQL_SFT_STATS = f"""
WITH base AS (
  SELECT doc_id, {_SQL_TOKENS} AS toks,
         -- // (floor div) matches Spark's double->int truncation cast;
         -- a plain / CAST would ROUND in DuckDB and split odd docs
         -- one token differently.
         CAST(len({_SQL_TOKENS}) // 2 AS INTEGER) AS h,
         len({_SQL_TOKENS}) AS n
  FROM documents
), conv AS (
  SELECT doc_id,
         doc_id % 23 = 0 AS corrupt,
         CASE WHEN doc_id % 2 = 0 THEN
           [struct_pack(role := CASE WHEN doc_id % 17 = 0
                                 THEN 'assistant' ELSE 'user' END,
                        content := array_to_string(toks[1:h], ' ')),
            struct_pack(role := 'assistant',
                        content := array_to_string(toks[h+1:n], ' ')),
            struct_pack(role := 'user',
                        content := array_to_string(toks[1:least(n, 5)], ' ')),
            struct_pack(role := 'assistant', content := 'ok')]
         ELSE
           [struct_pack(role := CASE WHEN doc_id % 17 = 0
                                 THEN 'assistant' ELSE 'user' END,
                        content := array_to_string(toks[1:h], ' ')),
            struct_pack(role := 'assistant',
                        content := array_to_string(toks[h+1:n], ' '))]
         END AS c
  FROM base
), stats AS (
  SELECT doc_id, corrupt, c,
         len(c) AS n_turns,
         list_transform(c, x -> x.role) AS rs,
         len(list_filter(generate_series(2, len(c)),
                         i -> c[i].role = c[i-1].role)) > 0 AS repeats,
         CAST(list_sum(list_transform(
           list_filter(c, x -> x.role = 'user'),
           x -> len(list_filter(string_split_regex(trim(x.content), '\\s+'),
                                t -> t <> '')))) AS BIGINT) AS u_toks,
         CAST(list_sum(list_transform(
           list_filter(c, x -> x.role = 'assistant'),
           x -> len(list_filter(string_split_regex(trim(x.content), '\\s+'),
                                t -> t <> '')))) AS BIGINT) AS a_toks
  FROM conv
)
SELECT doc_id,
       NOT corrupt AS parse_ok,
       CASE WHEN corrupt THEN 0 ELSE n_turns END AS n_turns,
       NOT corrupt AND rs[1] = 'user' AS roles_ok,
       NOT corrupt AND NOT repeats AS alternation_ok,
       NOT corrupt AND len(list_filter(c,
         x -> len(list_filter(string_split_regex(trim(x.content), '\\s+'),
                              t -> t <> '')) = 0)) = 0 AS turns_nonempty,
       CASE WHEN corrupt THEN 0 ELSE coalesce(u_toks, 0) END AS n_user_tokens,
       CASE WHEN corrupt THEN 0 ELSE coalesce(a_toks, 0) END
         AS n_assistant_tokens,
       NOT corrupt AND n_turns >= 2 AND rs[1] = 'user' AND NOT repeats
         AND len(list_filter(c,
           x -> len(list_filter(string_split_regex(trim(x.content), '\\s+'),
                                t -> t <> '')) = 0)) = 0
         AS valid,
       CASE WHEN corrupt THEN NULL
            ELSE md5(array_to_string(
              list_transform(c, x -> x.role || ': ' || x.content),
              chr(10)))
       END AS rendered_fp
FROM stats
ORDER BY doc_id
"""
query(q_sft_stats, SQL_SFT_STATS, bench=True)


def q_unicode_normalize(spark, sf_dir):
    """Unicode canonicalization gate: every document gets a suffix in
    fully-COMPOSED form (even ids: café naïve as single codepoints) or
    fully-DECOMPOSED form (odd ids: e/i + combining accents); after
    NFC canonicalization both spell identical bytes, so `changed` is
    exactly the decomposed half and the normalized fingerprint unifies
    the two spellings. The NFC hop is one Arrow-vectorized pandas_udf
    with an ASCII fast path; everything else is codegen expressions —
    zero shuffles except the display sort."""
    from mhm_data_pipelines_spark.functions.unicode import (
        canonicalize_text,
    )

    df = _t(spark, sf_dir, "documents")
    # Explicit escapes, never literal glyphs: tooling that NFC-
    # normalizes source files would silently merge the branches.
    composed = " caf\u00e9 na\u00efve"
    decomposed = " cafe\u0301 nai\u0308ve"
    suffix = F.when(
        F.col("doc_id") % 2 == 0, F.lit(composed)
    ).otherwise(F.lit(decomposed))
    raw = F.concat(F.col("text"), suffix)
    norm = canonicalize_text(raw)
    return df.select(
        "doc_id",
        F.length(raw).cast("long").alias("n_chars_raw"),
        F.length(norm).cast("long").alias("n_chars_norm"),
        (norm != raw).alias("changed"),
        F.md5(norm).alias("norm_fp"),
    ).orderBy("doc_id")


SQL_UNICODE_NORMALIZE = """
WITH t AS (
  SELECT doc_id,
         text || CASE WHEN doc_id % 2 = 0
           THEN ' caf' || chr(233) || ' na' || chr(239) || 've'
           ELSE ' cafe' || chr(769) || ' nai' || chr(776) || 've'
         END AS raw
  FROM documents
), n AS (
  SELECT doc_id, raw,
         trim(regexp_replace(
           regexp_replace(nfc_normalize(raw), '[[:cntrl:]]', ' ', 'g'),
           '\\s+', ' ', 'g')) AS norm
  FROM t
)
SELECT doc_id,
       length(raw) AS n_chars_raw,
       length(norm) AS n_chars_norm,
       norm <> raw AS changed,
       md5(norm) AS norm_fp
FROM n
ORDER BY doc_id
"""
query(q_unicode_normalize, SQL_UNICODE_NORMALIZE, bench=True)


def q_source_overlap(spark, sf_dir):
    """Cross-source contamination matrix: distinct 3-gram vocabulary
    overlap (count + Jaccard) for every source pair — the whole-corpus
    diagnostic that catches one source duplicating another before any
    pair-level dedup runs. One gram explode feeds both hash aggregates
    (per-gram source set, bounded by n_sources; per-source totals);
    the pair space explodes from the per-gram set — never a corpus
    self-join."""
    from mhm_data_pipelines_spark.operators.decontam import (
        source_ngram_overlap,
    )

    df = _t(spark, sf_dir, "documents")
    out = source_ngram_overlap(df, n=3)
    return out.select(
        "group_a",
        "group_b",
        F.col("n_common").cast("long").alias("n_common"),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        "jaccard",
    ).orderBy("group_a", "group_b")


SQL_SOURCE_OVERLAP = f"""
WITH toks AS (
  SELECT source, {_SQL_TOKENS_LOWER} AS tk FROM documents
), g0 AS (
  SELECT source,
         unnest(list_distinct(list_transform(
           generate_series(1, greatest(len(tk) - 2, 0)),
           i -> array_to_string(tk[i:i+2], ' ')))) AS gram
  FROM toks
), g AS (
  SELECT DISTINCT source, gram FROM g0
), totals AS (
  SELECT source, count(*) AS n FROM g GROUP BY source
), pairs AS (
  SELECT x.source AS a, y.source AS b, count(*) AS n_common
  FROM g x JOIN g y ON x.gram = y.gram AND x.source < y.source
  GROUP BY 1, 2
)
SELECT p.a AS group_a, p.b AS group_b,
       p.n_common, ta.n AS n_a, tb.n AS n_b,
       round(p.n_common * 1.0 / (ta.n + tb.n - p.n_common), 6) AS jaccard
FROM pairs p
JOIN totals ta ON p.a = ta.source
JOIN totals tb ON p.b = tb.source
ORDER BY group_a, group_b
"""
query(q_source_overlap, SQL_SOURCE_OVERLAP, bench=True)


def q_phrase_search(spark, sf_dir):
    """Exact positional phrase match ("the data" as adjacent tokens in
    order) — the retrieval primitive BM25/Jaccard term scoring cannot
    express. Counts every matching start position with row-local array
    expressions (no lookahead regex, so engines without lookahead
    replay it exactly); the display sort is the only Exchange."""
    from mhm_data_pipelines_spark.operators.retrieval import (
        phrase_search,
    )

    return phrase_search(
        _t(spark, sf_dir, "documents"), "the data"
    )


SQL_PHRASE_SEARCH = f"""
WITH t AS (
  SELECT doc_id, {_SQL_TOKENS_LOWER} AS tk FROM documents
), c AS (
  SELECT doc_id,
         len(list_filter(generate_series(1, greatest(len(tk) - 1, 0)),
                         i -> tk[i:i+1] = ['the', 'data']))
           AS n_occurrences
  FROM t
)
SELECT doc_id, n_occurrences FROM c
WHERE n_occurrences > 0
ORDER BY n_occurrences DESC, doc_id
"""
query(q_phrase_search, SQL_PHRASE_SEARCH, bench=True)


def q_skew_report(spark, sf_dir):
    """Join-key skew pre-flight over events (user_id, event_type):
    top-5 heaviest keys per column with corpus share and mean-ratio —
    the diagnostic that picks salting/AQE skew handling before a big
    join runs. One count aggregate + TakeOrdered + broadcast scalar
    stats per column."""
    from mhm_data_pipelines_spark.operators.skew import skew_report

    return skew_report(
        _t(spark, sf_dir, "events"), ["event_type", "user_id"], top_k=5
    )


SQL_SKEW_REPORT = """
WITH c_e AS (
  SELECT CAST(event_type AS VARCHAR) AS key, count(*) AS n_rows
  FROM events GROUP BY 1
), s_e AS (SELECT avg(n_rows) AS m, sum(n_rows) AS t FROM c_e),
t_e AS (
  SELECT 'event_type' AS col_name, key, n_rows,
         row_number() OVER (ORDER BY n_rows DESC, key) AS rank,
         round(n_rows / t, 6) AS share,
         round(n_rows / m, 6) AS mean_ratio
  FROM (SELECT * FROM c_e ORDER BY n_rows DESC, key LIMIT 5), s_e
), c_u AS (
  SELECT CAST(user_id AS VARCHAR) AS key, count(*) AS n_rows
  FROM events GROUP BY 1
), s_u AS (SELECT avg(n_rows) AS m, sum(n_rows) AS t FROM c_u),
t_u AS (
  SELECT 'user_id' AS col_name, key, n_rows,
         row_number() OVER (ORDER BY n_rows DESC, key) AS rank,
         round(n_rows / t, 6) AS share,
         round(n_rows / m, 6) AS mean_ratio
  FROM (SELECT * FROM c_u ORDER BY n_rows DESC, key LIMIT 5), s_u
)
SELECT * FROM t_e UNION ALL SELECT * FROM t_u
ORDER BY col_name, rank
"""
query(q_skew_report, SQL_SKEW_REPORT, bench=True)


def q_profile_drift(spark, sf_dir):
    """Snapshot-to-snapshot drift report over the same old/new event
    snapshots as snapshot_diff (old drops id%7, new drops id%11 and
    doubles value on id%13): per-column row/null/distinct movements +
    min/max/top-k changed flags. Two profile passes joined on the
    column name — the join is ≤ n_columns rows."""
    from mhm_data_pipelines_spark.operators.profile import profile_drift

    ev = _t(spark, sf_dir, "events")
    old = ev.filter(F.col("event_id") % 7 != 0)
    new = ev.filter(F.col("event_id") % 11 != 0).withColumn(
        "value",
        F.when(
            F.col("event_id") % 13 == 0, F.col("value") * 2
        ).otherwise(F.col("value")),
    )
    return profile_drift(
        old, new, columns=["event_type", "user_id", "value"]
    )


def _profile_drift_oracle_sql() -> str:
    old_src = "(SELECT * FROM events WHERE event_id % 7 <> 0)"
    new_src = (
        "(SELECT * REPLACE (CASE WHEN event_id % 13 = 0 "
        "THEN value * 2 ELSE value END AS value) "
        "FROM events WHERE event_id % 11 <> 0)"
    )

    def prof(src: str, c: str) -> str:
        return f"""(
  SELECT (SELECT count(*) FROM {src} s) AS n_rows,
         (SELECT count(*) FILTER (WHERE {c} IS NULL) FROM {src} s) AS n_nulls,
         (SELECT count(DISTINCT {c}) FROM {src} s) AS n_distinct,
         (SELECT CAST(min({c}) AS VARCHAR) FROM {src} s) AS min_value,
         (SELECT CAST(max({c}) AS VARCHAR) FROM {src} s) AS max_value,
         coalesce((SELECT string_agg(value || ':' || n, ', '
                                     ORDER BY n DESC, value)
          FROM (SELECT CAST({c} AS VARCHAR) AS value, count(*) AS n
                FROM {src} s WHERE {c} IS NOT NULL
                GROUP BY 1 ORDER BY n DESC, value LIMIT 3)), '')
           AS top_values
)"""

    blocks = []
    for c in ("event_type", "user_id", "value"):
        blocks.append(f"""
SELECT '{c}' AS col_name,
  o.n_rows AS n_rows_old, n.n_rows AS n_rows_new,
  round(o.n_nulls * 1.0 / o.n_rows, 6) AS null_frac_old,
  round(n.n_nulls * 1.0 / n.n_rows, 6) AS null_frac_new,
  o.n_distinct AS n_distinct_old, n.n_distinct AS n_distinct_new,
  o.min_value IS DISTINCT FROM n.min_value AS min_changed,
  o.max_value IS DISTINCT FROM n.max_value AS max_changed,
  o.top_values IS DISTINCT FROM n.top_values AS top_values_changed
FROM {prof(old_src, c)} o, {prof(new_src, c)} n""")
    return "\nUNION ALL\n".join(blocks) + "\nORDER BY col_name"


SQL_PROFILE_DRIFT = _profile_drift_oracle_sql()
query(q_profile_drift, SQL_PROFILE_DRIFT, bench=True)


def q_preference_pairs(spark, sf_dir):
    """RLHF/DPO preference-pair prep: events stand in for scored
    completions (prompt = user, completion = event, score = value).
    Best-vs-worst is ONE struct-min/max aggregation with a map-side
    partial (SortAggregate — struct buffers are not hash-supported),
    deterministic tie rule — no window, no self-join."""
    from mhm_data_pipelines_spark.operators.preferences import (
        preference_pairs,
    )

    ev = _t(spark, sf_dir, "events")
    scored = ev.select(
        F.col("user_id").alias("prompt_id"),
        F.col("event_id").alias("completion_id"),
        F.col("value").alias("score"),
    )
    out = preference_pairs(scored, margin=100.0)
    return out.select(
        "prompt_id",
        "chosen_id",
        "rejected_id",
        F.round("chosen_score", 6).alias("chosen_score"),
        F.round("rejected_score", 6).alias("rejected_score"),
        F.round("score_margin", 6).alias("score_margin"),
    ).orderBy("prompt_id")


SQL_PREFERENCE_PAIRS = """
WITH s AS (
  SELECT user_id AS prompt_id, event_id AS completion_id,
         CAST(value AS DOUBLE) AS score
  FROM events WHERE value IS NOT NULL
), r AS (
  SELECT *,
    row_number() OVER (PARTITION BY prompt_id
                       ORDER BY score DESC, completion_id DESC) AS rk_top,
    row_number() OVER (PARTITION BY prompt_id
                       ORDER BY score ASC, completion_id ASC) AS rk_bot
  FROM s
)
SELECT t.prompt_id, t.completion_id AS chosen_id,
       b.completion_id AS rejected_id,
       round(t.score, 6) AS chosen_score,
       round(b.score, 6) AS rejected_score,
       round(t.score - b.score, 6) AS score_margin
FROM r t JOIN r b ON t.prompt_id = b.prompt_id
WHERE t.rk_top = 1 AND b.rk_bot = 1 AND t.score - b.score > 100.0
ORDER BY t.prompt_id
"""
query(q_preference_pairs, SQL_PREFERENCE_PAIRS, bench=True)


def q_preference_all_pairs(spark, sf_dir):
    """Full Bradley–Terry pair expansion, margin-floored and capped at
    3 pairs per prompt (largest margins first, deterministic ties) —
    the prompt-blocked self-join whose fan-out is bounded by the
    completions-per-prompt contract, restricted here to one event type."""
    from mhm_data_pipelines_spark.operators.preferences import (
        preference_pairs,
    )

    ev = _t(spark, sf_dir, "events")
    scored = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("prompt_id"),
        F.col("event_id").alias("completion_id"),
        F.col("value").alias("score"),
    )
    out = preference_pairs(
        scored, margin=400.0, mode="all_pairs", max_pairs_per_prompt=3
    )
    return out.select(
        "prompt_id",
        "chosen_id",
        "rejected_id",
        F.round("chosen_score", 6).alias("chosen_score"),
        F.round("rejected_score", 6).alias("rejected_score"),
        F.round("score_margin", 6).alias("score_margin"),
    ).orderBy("prompt_id", "chosen_id", "rejected_id")


SQL_PREFERENCE_ALL_PAIRS = """
WITH s AS (
  SELECT user_id AS prompt_id, event_id AS completion_id,
         CAST(value AS DOUBLE) AS score
  FROM events WHERE value IS NOT NULL AND event_type = 'click'
), p AS (
  SELECT a.prompt_id, a.completion_id AS chosen_id,
         b.completion_id AS rejected_id,
         a.score AS chosen_score, b.score AS rejected_score,
         a.score - b.score AS score_margin
  FROM s a JOIN s b ON a.prompt_id = b.prompt_id
  WHERE a.score - b.score > 400.0
), k AS (
  SELECT *, row_number() OVER (
    PARTITION BY prompt_id
    ORDER BY score_margin DESC, chosen_id, rejected_id) AS rk
  FROM p
)
SELECT prompt_id, chosen_id, rejected_id,
       round(chosen_score, 6) AS chosen_score,
       round(rejected_score, 6) AS rejected_score,
       round(score_margin, 6) AS score_margin
FROM k WHERE rk <= 3
ORDER BY prompt_id, chosen_id, rejected_id
"""
query(q_preference_all_pairs, SQL_PREFERENCE_ALL_PAIRS)


def q_embedding_outliers(spark, sf_dir):
    """Centroid-distance outlier report (prototypicality pruning): per
    label, each vector's L2 distance to the label centroid and its
    within-label z-score. Centroids = one (label, pos, val) shuffle;
    centroid + stats tables broadcast back (n_labels rows each)."""
    from mhm_data_pipelines_spark.operators.similarity import (
        embedding_outliers,
    )

    out = embedding_outliers(
        _t(spark, sf_dir, "embeddings"), group_col="label", z_threshold=2.0
    )
    return out.select(
        "vec_id",
        F.col("group").alias("grp"),
        F.round("dist", 4).alias("dist"),
        F.round("z_score", 4).alias("z_score"),
        "is_outlier",
    ).orderBy("vec_id")


SQL_EMBEDDING_OUTLIERS = """
WITH cent AS (
  SELECT label, list(m ORDER BY pos) AS centroid FROM (
    SELECT label, r.pos AS pos,
           avg(CAST(embedding[r.pos] AS DOUBLE)) AS m
    FROM embeddings CROSS JOIN range(1, 65) r(pos)
    GROUP BY label, r.pos)
  GROUP BY label
), d AS (
  SELECT e.vec_id, e.label AS grp,
         list_distance(CAST(e.embedding AS DOUBLE[]), c.centroid) AS dist
  FROM embeddings e JOIN cent c ON e.label = c.label
), s AS (
  SELECT grp, avg(dist) AS mu, stddev_pop(dist) AS sd FROM d GROUP BY grp
)
SELECT d.vec_id, d.grp, round(d.dist, 4) AS dist,
       round(CASE WHEN s.sd > 0 THEN (d.dist - s.mu) / s.sd
                  ELSE 0.0 END, 4) AS z_score,
       (CASE WHEN s.sd > 0 THEN (d.dist - s.mu) / s.sd
             ELSE 0.0 END) > 2.0 AS is_outlier
FROM d JOIN s USING (grp) ORDER BY d.vec_id
"""
query(q_embedding_outliers, SQL_EMBEDDING_OUTLIERS, bench=True)


def q_line_boilerplate(spark, sf_dir):
    """CCNet-style corpus-frequency line removal. The corpus is
    single-line word soup, so the gate plants deterministic boilerplate
    (newsletter line on doc_id%3, rights line on doc_id%7) among
    per-doc text slices, then checks the frequent-line set is excised
    from every document and the rebuilds are byte-exact."""
    from mhm_data_pipelines_spark.operators.dedup import (
        remove_frequent_lines,
    )

    df = _t(spark, sf_dir, "documents")
    planted = df.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.substring("text", 1, 40),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.lit("subscribe to our newsletter"),
            ).otherwise(F.substring("text", 41, 40)),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.lit("all rights reserved"),
            ).otherwise(F.substring("text", 81, 40)),
        ).alias("text"),
    )
    return remove_frequent_lines(planted, min_df=50).orderBy("doc_id")


SQL_LINE_BOILERPLATE = """
WITH docs AS (
  SELECT doc_id,
    concat_ws(chr(10),
      substring(text, 1, 40),
      CASE WHEN doc_id % 3 = 0 THEN 'subscribe to our newsletter'
           ELSE substring(text, 41, 40) END,
      CASE WHEN doc_id % 7 = 0 THEN 'all rights reserved'
           ELSE substring(text, 81, 40) END) AS text
  FROM documents
), ex AS (
  SELECT doc_id, u.i AS pos, ls[u.i] AS ln, trim(ls[u.i]) AS key
  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM docs) t,
       LATERAL unnest(generate_series(1, len(ls))) AS u(i)
), freq AS (
  SELECT key FROM (
    SELECT key, count(DISTINCT doc_id) AS dfc
    FROM ex WHERE key <> '' GROUP BY key)
  WHERE dfc >= 50
)
SELECT e.doc_id,
  count(*) AS n_lines,
  count(*) FILTER (WHERE f.key IS NOT NULL) AS n_removed,
  coalesce(string_agg(CASE WHEN f.key IS NULL THEN e.ln END,
                      chr(10) ORDER BY e.pos), '') AS clean_text
FROM ex e LEFT JOIN freq f ON e.key = f.key
GROUP BY e.doc_id ORDER BY e.doc_id
"""
query(q_line_boilerplate, SQL_LINE_BOILERPLATE, bench=True)


def q_content_manifest(spark, sf_dir):
    """Reproducibility manifest over orders' exactly-rendering columns
    (BIGINT + VARCHAR; doubles/timestamps excluded — their string
    renderings are engine-specific): 64 buckets of count + bit_xor
    signature + min/max hash. One projection + ONE hash agg."""
    from mhm_data_pipelines_spark.operators.diff import content_manifest

    df = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"
    )
    return content_manifest(df, n_buckets=64).orderBy("bucket")


SQL_CONTENT_MANIFEST = """
WITH h AS (
  SELECT md5(concat_ws(chr(31),
         coalesce(CAST(o_orderkey AS VARCHAR), chr(0) || 'NULL'),
         coalesce(CAST(o_custkey AS VARCHAR), chr(0) || 'NULL'),
         coalesce(o_orderstatus, chr(0) || 'NULL'),
         coalesce(o_orderpriority, chr(0) || 'NULL'))) AS rh
  FROM orders
), x AS (
  SELECT rh, CAST(('0x' || substr(rh, 1, 15)) AS BIGINT) AS h60 FROM h
)
SELECT CAST(h60 % 64 AS INTEGER) AS bucket, count(*) AS n_rows,
       bit_xor(h60) AS xor_sig, min(rh) AS min_hash, max(rh) AS max_hash
FROM x GROUP BY 1 ORDER BY 1
"""
query(q_content_manifest, SQL_CONTENT_MANIFEST)


def q_hard_negatives(spark, sf_dir):
    """Contrastive-training hard negatives: per query vector (vec_id
    < 5), the exact top-10 most-similar corpus vectors with a DIFFERENT
    label. Query side broadcasts; label mismatch is in the join so
    same-label pairs are never scored."""
    from mhm_data_pipelines_spark.operators.similarity import (
        hard_negatives,
    )

    df = _t(spark, sf_dir, "embeddings")
    queries = df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "label", "embedding"
    )
    corpus = df.filter(F.col("vec_id") >= 5)
    out = hard_negatives(corpus, queries, k=10)
    # order on the RAW cosine before rounding for display — sorting
    # the rounded value would diverge from the oracle's raw-cosine
    # order whenever two distinct cosines round to the same 4 decimals.
    return (
        out.orderBy("query_id", F.desc("cosine"), "vec_id")
        .select(
            "query_id",
            "vec_id",
            "neg_label",
            F.round("cosine", 4).alias("cosine"),
        )
    )


SQL_HARD_NEGATIVES = """
WITH q AS (
  SELECT vec_id AS query_id, label AS qlabel,
         CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 5
), s AS (
  SELECT q.query_id, c.vec_id, c.label AS neg_label,
         list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), q.qv)
           AS cos_raw
  FROM embeddings c JOIN q ON c.label <> q.qlabel
  WHERE c.vec_id >= 5
), r AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cos_raw DESC, vec_id) AS rk
  FROM s
)
SELECT query_id, vec_id, neg_label, round(cos_raw, 4) AS cosine
FROM r WHERE rk <= 10
ORDER BY query_id, cos_raw DESC, vec_id
"""
query(q_hard_negatives, SQL_HARD_NEGATIVES, bench=True)


def q_split_leakage(spark, sf_dir):
    """Cross-split contamination audit. The corpus has no exact dups,
    so the gate plants copies (doc_id%17, shifted ids) then splits by
    a 60-bit md5 bucket of the id — most copies land on the other side
    of a split boundary and must be reported; same-split dups must
    not."""
    from mhm_data_pipelines_spark.operators.decontam import split_leakage

    df = _t(spark, sf_dir, "documents").select("doc_id", "text")
    copies = df.filter(F.col("doc_id") % 17 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    union = df.unionByName(copies)
    bkt = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":7"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % 10
    )
    split = (
        F.when(bkt < 8, "train").when(bkt < 9, "val").otherwise("test")
    )
    tagged = union.withColumn("split", split)
    return split_leakage(tagged).orderBy("fingerprint")


SQL_SPLIT_LEAKAGE = """
WITH u AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 17 = 0
), tagged AS (
  SELECT text,
    CASE WHEN b < 8 THEN 'train' WHEN b < 9 THEN 'val'
         ELSE 'test' END AS split
  FROM (SELECT text,
          CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':7'),
                               1, 15)) AS BIGINT) % 10 AS b
        FROM u)
), fp AS (
  SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
           AS fingerprint,
         split
  FROM tagged
)
SELECT fingerprint, count(DISTINCT split) AS n_splits,
       array_to_string(list_sort(list(DISTINCT split)), ',') AS splits,
       count(*) AS n_docs
FROM fp GROUP BY fingerprint
HAVING count(DISTINCT split) > 1
ORDER BY fingerprint
"""
query(q_split_leakage, SQL_SPLIT_LEAKAGE)


def q_curriculum_order(spark, sf_dir):
    """Banded curriculum over documents with token count as the
    difficulty proxy: exact-quantile quartile bands + deterministic
    md5 within-band shuffle key. Cutpoints are one scalar broadcast;
    banding is row-local — no window, no global sort."""
    from mhm_data_pipelines_spark.functions.text import token_count
    from mhm_data_pipelines_spark.operators.sampling import (
        curriculum_order,
    )

    df = _t(spark, sf_dir, "documents").select(
        "doc_id", token_count("text").cast("double").alias("difficulty")
    )
    out = curriculum_order(df, "difficulty", n_bands=4)
    return out.select(
        "doc_id",
        F.col("difficulty").cast("long").alias("difficulty"),
        "band",
        "order_key",
    ).orderBy("band", "order_key")


SQL_CURRICULUM_ORDER = f"""
WITH t AS (
  SELECT doc_id,
         CAST(len({_SQL_TOKENS}) AS DOUBLE) AS difficulty
  FROM documents
), c AS (
  SELECT quantile_cont(difficulty, [0.25, 0.5, 0.75]) AS cuts FROM t
)
SELECT t.doc_id, CAST(t.difficulty AS BIGINT) AS difficulty,
       CAST((CASE WHEN t.difficulty > cuts[1] THEN 1 ELSE 0 END +
             CASE WHEN t.difficulty > cuts[2] THEN 1 ELSE 0 END +
             CASE WHEN t.difficulty > cuts[3] THEN 1 ELSE 0 END)
            AS INTEGER) AS band,
       md5(CAST(t.doc_id AS VARCHAR) || ':42') AS order_key
FROM t, c
ORDER BY band, order_key
"""
query(q_curriculum_order, SQL_CURRICULUM_ORDER, bench=True)


def q_length_buckets(spark, sf_dir):
    """Sequence-length bucketing report over document token counts
    (edges 32/64/96 straddle the corpus 10–99 token range): padded-
    batch efficiency per bucket. Row-local bucket assignment + ONE
    hash agg to 4 rows."""
    from mhm_data_pipelines_spark.functions.text import token_count
    from mhm_data_pipelines_spark.operators.packing import (
        length_bucket_stats,
    )

    df = _t(spark, sf_dir, "documents").select(
        "doc_id", token_count("text").alias("n_tokens")
    )
    return length_bucket_stats(df, "n_tokens", [32, 64, 96]).orderBy(
        "bucket"
    )


SQL_LENGTH_BUCKETS = f"""
WITH t AS (
  SELECT doc_id, len({_SQL_TOKENS}) AS n FROM documents
), b AS (
  SELECT n,
    CAST((CASE WHEN n > 32 THEN 1 ELSE 0 END +
          CASE WHEN n > 64 THEN 1 ELSE 0 END +
          CASE WHEN n > 96 THEN 1 ELSE 0 END) AS INTEGER) AS bucket
  FROM t WHERE n IS NOT NULL AND n >= 0
), agg AS (
  SELECT bucket, count(*) AS n_seqs,
         CAST(sum(n) AS BIGINT) AS sum_len, max(n) AS max_len
  FROM b GROUP BY bucket
)
SELECT bucket,
       CAST(CASE bucket WHEN 0 THEN 32 WHEN 1 THEN 64 WHEN 2 THEN 96
            ELSE max_len END AS BIGINT) AS cap,
       n_seqs, sum_len, max_len,
       round(sum_len * 1.0 / (n_seqs *
             greatest(CASE bucket WHEN 0 THEN 32 WHEN 1 THEN 64
                      WHEN 2 THEN 96 ELSE max_len END, 1)), 6)
         AS pad_efficiency
FROM agg ORDER BY bucket
"""
query(q_length_buckets, SQL_LENGTH_BUCKETS, bench=True)


def q_source_divergence(spark, sf_dir):
    """Domain-shift monitor: KL(source ‖ corpus) over lowercased
    unigram distributions, no smoothing needed (corpus support is a
    superset). One token explode -> (source, term) agg; corpus stats
    re-aggregate the partials; totals broadcast back."""
    from mhm_data_pipelines_spark.operators.decontam import (
        source_divergence,
    )

    out = source_divergence(_t(spark, sf_dir, "documents"))
    return out.select(
        F.col("group").alias("grp"),
        "n_tokens",
        "n_terms",
        "kl_vs_corpus",
    ).orderBy("grp")


SQL_SOURCE_DIVERGENCE = f"""
WITH tok AS (
  SELECT source AS grp, unnest({_SQL_TOKENS_LOWER}) AS term
  FROM documents
), gt AS (
  SELECT grp, term, count(*) AS c_gt FROM tok GROUP BY grp, term
), ct AS (
  SELECT term, CAST(sum(c_gt) AS BIGINT) AS c_t FROM gt GROUP BY term
), g_tot AS (
  SELECT grp, CAST(sum(c_gt) AS BIGINT) AS n_g FROM gt GROUP BY grp
), tot AS (
  SELECT CAST(sum(c_gt) AS BIGINT) AS n_all FROM gt
)
SELECT gt.grp, max(g_tot.n_g) AS n_tokens, count(*) AS n_terms,
       round(sum((gt.c_gt * 1.0 / g_tot.n_g) *
                 ln((gt.c_gt * 1.0 / g_tot.n_g) /
                    (ct.c_t * 1.0 / tot.n_all))), 6) AS kl_vs_corpus
FROM gt JOIN ct USING (term) JOIN g_tot USING (grp) CROSS JOIN tot
GROUP BY gt.grp ORDER BY gt.grp
"""
query(q_source_divergence, SQL_SOURCE_DIVERGENCE, bench=True)


def q_script_profile(spark, sf_dir):
    """Writing-script composition per document. The corpus is ASCII,
    so the gate plants Cyrillic (doc_id%3) and CJK (doc_id%5) tails
    and checks the literal-codepoint-range counters and the dominance
    tag — literal ranges, not named regex classes (Java and RE2 draw
    \\p{...} boundaries differently)."""
    from mhm_data_pipelines_spark.functions.unicode import script_profile

    df = _t(spark, sf_dir, "documents")
    planted = df.select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 30),
            F.when(F.col("doc_id") % 3 == 0, F.lit(" привет мир")).otherwise(
                F.lit("")
            ),
            F.when(F.col("doc_id") % 5 == 0, F.lit(" 你好世界")).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )
    s = planted.select("doc_id", script_profile("text").alias("s"))
    return s.select(
        "doc_id",
        "s.n_chars",
        "s.n_latin",
        "s.n_cyrillic",
        "s.n_cjk",
        "s.n_digit",
        "s.n_space",
        "s.n_other",
        "s.dominant",
    ).orderBy("doc_id")


SQL_SCRIPT_PROFILE = """
WITH docs AS (
  SELECT doc_id,
    substring(text, 1, 30) ||
    CASE WHEN doc_id % 3 = 0 THEN ' привет мир' ELSE '' END ||
    CASE WHEN doc_id % 5 = 0 THEN ' 你好世界' ELSE '' END AS text
  FROM documents
), c AS (
  SELECT doc_id, length(text) AS n_chars,
    len(regexp_extract_all(text, '[A-Za-z]')) AS n_latin,
    len(regexp_extract_all(text, '[Ѐ-ӿ]')) AS n_cyrillic,
    len(regexp_extract_all(text, '[一-鿿]')) AS n_cjk,
    len(regexp_extract_all(text, '[0-9]')) AS n_digit,
    len(regexp_extract_all(text, '\\s')) AS n_space
  FROM docs
)
SELECT doc_id, n_chars, n_latin, n_cyrillic, n_cjk, n_digit, n_space,
  n_chars - n_latin - n_cyrillic - n_cjk - n_digit - n_space AS n_other,
  CASE WHEN n_latin >= n_cyrillic AND n_latin >= n_cjk AND n_latin > 0
         THEN 'latin'
       WHEN n_cyrillic >= n_cjk AND n_cyrillic > 0 THEN 'cyrillic'
       WHEN n_cjk > 0 THEN 'cjk'
       ELSE 'other' END AS dominant
FROM c ORDER BY doc_id
"""
query(q_script_profile, SQL_SCRIPT_PROFILE)


def q_stream_manifest(spark, sf_dir):
    """Streaming manifest maintenance, value-verified end-to-end:
    orders arrive as TWO micro-batches (orderkey parity split) through
    ``streaming.ingest.manifest_stream``; the merged per-batch
    partials must be BYTE-EQUAL to the batch manifest of the same rows
    (XOR/sum/min/max are associative + commutative, so arrival order
    provably cannot matter) — same oracle as content_manifest."""
    import time as _time

    from mhm_data_pipelines_spark.streaming.ingest import (
        manifest_stream,
        read_manifest_table,
    )

    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]
    od = _t(spark, sf_dir, "orders").select(*cols)
    root = _scratch("mhm_stream_mf_")
    src = f"{root}/src"
    od.filter(F.col("o_orderkey") % 2 == 0).coalesce(1).write.parquet(
        f"{src}/b0"
    )
    od.filter(F.col("o_orderkey") % 2 == 1).coalesce(1).write.parquet(
        f"{src}/b1"
    )
    import os as _os

    old = _time.time() - 3600
    for d, _, files in _os.walk(f"{src}/b0"):
        for fn in files:
            _os.utime(_os.path.join(d, fn), (old, old))
    schema = (
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_orderpriority string"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    writer = manifest_stream(
        stream,
        manifest_path=f"{root}/manifest",
        checkpoint=f"{root}/ck",
        columns=cols,
        n_buckets=64,
    )
    q = writer.trigger(availableNow=True).start()
    _await_drain(q, "stream_manifest")
    return read_manifest_table(spark, f"{root}/manifest").orderBy("bucket")


query(q_stream_manifest, SQL_CONTENT_MANIFEST)


def q_shard_plan(spark, sf_dir):
    """Size-balanced shard planning over documents by byte size
    (n_chars), 16 KB target: per-shard doc counts and totals, via the
    two-phase distributed prefix sum — no single-task global window."""
    from mhm_data_pipelines_spark.operators.layout import plan_shards

    df = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    out = plan_shards(df, "n_chars", shard_size=16384)
    return (
        out.groupBy("shard_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_bytes"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("shard_id")
    )


SQL_SHARD_PLAN = """
WITH rt AS (
  SELECT doc_id, n_chars,
         sum(n_chars) OVER (ORDER BY doc_id
                            ROWS UNBOUNDED PRECEDING) AS cum
  FROM documents
), s AS (
  SELECT doc_id, n_chars,
         CAST(floor((cum - n_chars) / 16384.0) AS INTEGER) AS shard_id
  FROM rt
)
SELECT shard_id, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_bytes,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM s GROUP BY shard_id ORDER BY shard_id
"""
query(q_shard_plan, SQL_SHARD_PLAN, bench=True)


def q_impute_values(spark, sf_dir):
    """Group-median NULL imputation. Events have no NULLs, so the gate
    plants them (event_id%13) and checks the per-event-type exact
    median fill + missingness flags; the all-null contract is covered
    by unit tests."""
    from mhm_data_pipelines_spark.operators.repair import impute_nulls

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.when(F.col("event_id") % 13 == 0, None)
        .otherwise(F.col("value"))
        .alias("value"),
    )
    out = impute_nulls(
        ev, {"value": "median"}, group_col="event_type", flag=True
    )
    return out.select(
        "event_id",
        "event_type",
        F.round("value", 6).alias("value"),
        "value_imputed",
    ).orderBy("event_id")


SQL_IMPUTE_VALUES = """
WITH planted AS (
  SELECT event_id, event_type,
         CASE WHEN event_id % 13 = 0 THEN NULL ELSE value END AS value
  FROM events
), med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS m
  FROM planted GROUP BY event_type
)
SELECT p.event_id, p.event_type,
       round(coalesce(p.value, m.m), 6) AS value,
       (p.value IS NULL AND m.m IS NOT NULL) AS value_imputed
FROM planted p LEFT JOIN med m USING (event_type)
ORDER BY p.event_id
"""
query(q_impute_values, SQL_IMPUTE_VALUES, bench=True)


def q_wordlist_screen(spark, sf_dir):
    """Token-level blocklist screening over documents ('table',
    'spark', 'slow' occur in the synthetic vocabulary): per-doc hit
    counts + verdict, one row-local projection."""
    from mhm_data_pipelines_spark.functions.text import wordlist_hits

    df = _t(spark, sf_dir, "documents")
    s = df.select(
        "doc_id", wordlist_hits("text", ("table", "spark", "slow")).alias("s")
    )
    return s.select(
        "doc_id", "s.n_hits", "s.n_distinct_hits", "s.hit_any"
    ).orderBy("doc_id")


SQL_WORDLIST_SCREEN = """
WITH t AS (
  SELECT doc_id,
    list_transform(
      list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                  x -> x <> ''),
      x -> regexp_replace(regexp_replace(x, '^[^0-9a-z]+', ''),
                          '[^0-9a-z]+$', '')) AS toks
  FROM documents
), m AS (
  SELECT doc_id,
    list_filter(toks, x -> list_contains(['table','spark','slow'], x))
      AS matched
  FROM t
)
SELECT doc_id, CAST(len(matched) AS BIGINT) AS n_hits,
       CAST(len(list_distinct(matched)) AS BIGINT) AS n_distinct_hits,
       len(matched) > 0 AS hit_any
FROM m ORDER BY doc_id
"""
query(q_wordlist_screen, SQL_WORDLIST_SCREEN, bench=True)


def q_mix_solver(spark, sf_dir):
    """Target-composition keep-rate solver over document sources:
    src0/src1 request more than they have (capped, reported), src2
    downsamples to 0.8, unlisted sources drop. One count agg to
    n_sources rows."""
    from mhm_data_pipelines_spark.operators.sampling import mix_rates

    df = _t(spark, sf_dir, "documents")
    out = mix_rates(
        df, "source", {"src0": 0.3, "src1": 0.2, "src2": 0.1}, total=200
    )
    return out.withColumn("rate", F.round("rate", 6)).orderBy("group")


SQL_MIX_SOLVER = """
WITH c AS (
  SELECT source AS grp, count(*) AS n_rows FROM documents GROUP BY source
), s AS (
  SELECT grp, n_rows,
    CASE grp WHEN 'src0' THEN 0.3 WHEN 'src1' THEN 0.2
             WHEN 'src2' THEN 0.1 ELSE 0.0 END AS target_share
  FROM c
)
SELECT grp AS "group", n_rows, target_share,
       round(least(1.0, target_share * 200 / n_rows), 6) AS rate,
       round(n_rows * least(1.0, target_share * 200 / n_rows), 2)
         AS expected_rows,
       target_share * 200 > n_rows AS capped
FROM s ORDER BY grp
"""
query(q_mix_solver, SQL_MIX_SOLVER, bench=True)


def q_event_funnel(spark, sf_dir):
    """Ordered view→click→purchase funnel within 3 days of the first
    view: per-step reached-user counts. One equi-join + min-agg per
    step, all on the user key (exchange reuse), no windows."""
    from mhm_data_pipelines_spark.operators.timeseries import (
        funnel_progress,
    )

    ev = _t(spark, sf_dir, "events")
    prog = funnel_progress(
        ev, ["view", "click", "purchase"], within="3 days"
    )
    return prog.agg(
        F.count("t_1").alias("n_step1"),
        F.count("t_2").alias("n_step2"),
        F.count("t_3").alias("n_step3"),
    )


SQL_EVENT_FUNNEL = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
), s2 AS (
  SELECT s1.user_id, min(s1.t1) AS t1, min(e.ts) AS t2
  FROM s1 LEFT JOIN events e
    ON e.user_id = s1.user_id AND e.event_type = 'click'
   AND e.ts > s1.t1 AND e.ts <= s1.t1 + INTERVAL 3 DAY
  GROUP BY s1.user_id
), s3 AS (
  SELECT s2.user_id, min(s2.t1) AS t1, min(s2.t2) AS t2,
         min(e.ts) AS t3
  FROM s2 LEFT JOIN events e
    ON e.user_id = s2.user_id AND e.event_type = 'purchase'
   AND e.ts > s2.t2 AND e.ts <= s2.t1 + INTERVAL 3 DAY
  GROUP BY s2.user_id
)
SELECT count(t1) AS n_step1, count(t2) AS n_step2, count(t3) AS n_step3
FROM s3
"""
query(q_event_funnel, SQL_EVENT_FUNNEL, bench=True)


def q_cohort_retention(spark, sf_dir):
    """Weekly retention triangle over events: cohort = first-seen
    week, offset = weeks since, n_active = distinct users. Three hash
    aggs + one co-partitioned user join."""
    from mhm_data_pipelines_spark.operators.timeseries import (
        retention_cohorts,
    )

    out = retention_cohorts(_t(spark, sf_dir, "events"), period="week")
    return out.select(
        F.date_format("cohort", "yyyy-MM-dd").alias("cohort_week"),
        "offset",
        "n_active",
    ).orderBy("cohort_week", "offset")


SQL_COHORT_RETENTION = """
WITH first AS (
  SELECT user_id, min(date_trunc('week', ts)) AS cohort
  FROM events GROUP BY user_id
), active AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS p FROM events
)
SELECT strftime(f.cohort, '%Y-%m-%d') AS cohort_week,
       CAST(floor(date_diff('day', f.cohort, a.p) / 7) AS INTEGER)
         AS offset,
       count(DISTINCT a.user_id) AS n_active
FROM active a JOIN first f USING (user_id)
GROUP BY 1, 2 ORDER BY 1, 2
"""
query(q_cohort_retention, SQL_COHORT_RETENTION, bench=True)


def q_conversation_windows(spark, sf_dir):
    """Long-context SFT windowing: documents become alternating-role
    transcripts of 8-token turns; windows of ≤20 tokens must break
    greedily at turn boundaries. The DuckDB twin replays the greedy
    fold as a recursive CTE over (doc, turn-index) — the sequential
    rule itself is verified, not just the counts."""
    from mhm_data_pipelines_spark.operators.conversations import (
        window_conversations,
    )

    df = _t(spark, sf_dir, "documents")
    toks = tokens("text")
    n = F.size(toks)
    n_turns = F.ceil(n / F.lit(8)).cast("int")
    conv = F.transform(
        F.sequence(F.lit(1), n_turns),
        lambda i: F.struct(
            F.when(i % 2 == 1, "user").otherwise("assistant").alias(
                "role"
            ),
            F.array_join(
                F.slice(toks, (i - 1) * 8 + 1, 8), " "
            ).alias("content"),
        ),
    )
    convs = df.filter(n > 0).select(
        "doc_id", F.to_json(conv).alias("conversation")
    )
    out = window_conversations(convs, max_tokens=20)
    return out.select(
        "doc_id", "window_idx", "n_turns", "n_tokens"
    ).orderBy("doc_id", "window_idx")


SQL_CONVERSATION_WINDOWS = f"""
WITH RECURSIVE t AS (
  SELECT doc_id, len({_SQL_TOKENS}) AS tn FROM documents
  WHERE len({_SQL_TOKENS}) > 0
), turns AS (
  SELECT doc_id, u.i AS idx,
         least(8, tn - (u.i - 1) * 8) AS n
  FROM t, LATERAL unnest(
    generate_series(1, CAST(ceil(tn / 8.0) AS BIGINT))) AS u(i)
), rec AS (
  SELECT doc_id, idx, n, 0 AS widx, n AS cum
  FROM turns WHERE idx = 1
  UNION ALL
  SELECT tu.doc_id, tu.idx, tu.n,
    CASE WHEN r.cum + tu.n > 20 THEN r.widx + 1 ELSE r.widx END,
    CASE WHEN r.cum + tu.n > 20 THEN tu.n ELSE r.cum + tu.n END
  FROM rec r JOIN turns tu
    ON tu.doc_id = r.doc_id AND tu.idx = r.idx + 1
)
SELECT doc_id, widx AS window_idx,
       count(*) AS n_turns, CAST(sum(n) AS BIGINT) AS n_tokens
FROM rec GROUP BY doc_id, widx
ORDER BY doc_id, window_idx
"""
query(q_conversation_windows, SQL_CONVERSATION_WINDOWS, bench=True)


def q_join_preflight(spark, sf_dir):
    """Exact orders⋈lineitem output-size pre-flight from per-key count
    aggregates — tiny rows through the key shuffle, the join never
    materializes."""
    from mhm_data_pipelines_spark.operators.skew import (
        join_size_preflight,
    )

    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("orderkey")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("orderkey")
    )
    return join_size_preflight(orders, li, ["orderkey"])


SQL_JOIN_PREFLIGHT = """
WITH lc AS (
  SELECT o_orderkey AS k, count(*) AS cl FROM orders GROUP BY 1
), rc AS (
  SELECT l_orderkey AS k, count(*) AS cr FROM lineitem GROUP BY 1
), p AS (
  SELECT lc.k, cl * cr AS pr FROM lc JOIN rc USING (k)
), tops AS (
  SELECT CAST(sum(pr) AS BIGINT) AS top_sum
  FROM (SELECT pr FROM p ORDER BY pr DESC, k LIMIT 10)
)
SELECT coalesce(CAST(sum(p.pr) AS BIGINT), 0) AS n_out_rows,
       count(*) AS n_matched_keys,
       (SELECT count(*) FROM orders) AS n_left_rows,
       (SELECT count(*) FROM lineitem) AS n_right_rows,
       coalesce(CAST(max(p.pr) AS BIGINT), 0) AS max_key_fanout,
       round(coalesce((SELECT top_sum FROM tops) * 1.0 / sum(p.pr),
                      0.0), 6) AS top_fanout_share
FROM p
"""
query(q_join_preflight, SQL_JOIN_PREFLIGHT, bench=True)


def q_ohlc_hourly(spark, sf_dir):
    """Hourly OHLC candles per event type: ONE hash agg with map-side
    partials, deterministic tie rules (open smaller / close larger)."""
    from mhm_data_pipelines_spark.operators.rollup_ts import ohlc_rollup

    out = ohlc_rollup(
        _t(spark, sf_dir, "events"), ["event_type"], bucket="hour"
    )
    return out.select(
        "event_type",
        F.date_format("bucket_ts", "yyyy-MM-dd HH:00").alias("bucket"),
        "open",
        "high",
        "low",
        "close",
        "n",
    ).orderBy("event_type", "bucket")


SQL_OHLC_HOURLY = """
WITH b AS (
  SELECT event_type, date_trunc('hour', ts) AS bt, ts, value,
    first_value(value) OVER (PARTITION BY event_type,
      date_trunc('hour', ts) ORDER BY ts, value) AS open_v,
    first_value(value) OVER (PARTITION BY event_type,
      date_trunc('hour', ts) ORDER BY ts DESC, value DESC) AS close_v
  FROM events
)
SELECT event_type, strftime(bt, '%Y-%m-%d %H:00') AS bucket,
       min(open_v) AS "open", max(value) AS high, min(value) AS low,
       min(close_v) AS "close", count(*) AS n
FROM b GROUP BY event_type, bt
ORDER BY event_type, bucket
"""
query(q_ohlc_hourly, SQL_OHLC_HOURLY, bench=True)


def q_time_weighted(spark, sf_dir):
    """Duration-weighted mean value per user (LOCF): one lead window
    per key + one hash agg; single-event users are NULL by contract;
    NULL values drop BEFORE the window so the prior observation's
    interval carries across the gap (true LOCF, ADVICE r5)."""
    from mhm_data_pipelines_spark.operators.rollup_ts import (
        time_weighted_avg,
    )

    out = time_weighted_avg(_t(spark, sf_dir, "events"), ["user_id"])
    return out.select(
        "user_id",
        F.round("twa", 6).alias("twa"),
        "n_obs",
        F.round("span_seconds", 6).alias("span_seconds"),
    ).orderBy("user_id")


SQL_TIME_WEIGHTED = """
WITH d AS (
  SELECT user_id, value,
    date_diff('microsecond', ts,
              lead(ts) OVER (PARTITION BY user_id ORDER BY ts))
      AS dur_us
  FROM events WHERE value IS NOT NULL
)
SELECT user_id,
       round(sum(value * dur_us) / sum(dur_us), 6) AS twa,
       count(*) AS n_obs,
       round(sum(dur_us) / 1000000.0, 6) AS span_seconds
FROM d GROUP BY user_id ORDER BY user_id
"""
query(q_time_weighted, SQL_TIME_WEIGHTED, bench=True)


def q_hist_quantile_rollup(spark, sf_dir):
    """Mergeable-quantile rollup (the quantile twin of
    hll_user_rollup): daily fixed-bin value histograms merge into
    weekly p50 estimates, and each estimate is checked within one bin
    width of the exact weekly median — the bound the sketch trades for
    mergeability, verified not assumed."""
    from mhm_data_pipelines_spark.operators.sketches import (
        histogram_partials,
        histogram_quantile,
        merge_histograms,
    )

    ev = _t(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", "ts")
    )
    lo, hi, bins = 0.0, 500.0, 50
    daily = histogram_partials(ev, ["day"], "value", lo, hi, bins)
    weekly = merge_histograms(
        daily.withColumn("iso_week", iso_week_key("day")), ["iso_week"]
    )
    est = histogram_quantile(weekly, ["iso_week"], 0.5, lo, hi, bins)
    exact = ev.groupBy(iso_week_key("ts").alias("iso_week")).agg(
        F.expr("percentile(value, 0.5)").alias("_exact")
    )
    width = (hi - lo) / bins
    return (
        est.join(exact, "iso_week")
        .select(
            "iso_week",
            "n",
            F.round("est", 6).alias("est_p50"),
            (F.abs(F.col("est") - F.col("_exact")) <= width).alias(
                "within_one_bin"
            ),
        )
        .orderBy("iso_week")
    )


SQL_HIST_QUANTILE_ROLLUP = """
WITH ev AS (
  SELECT ts, value,
         strftime(date_trunc('day', ts), '%G-W%V') AS iso_week
  FROM events WHERE value IS NOT NULL
), h AS (
  SELECT iso_week,
         least(49, greatest(0,
           CAST(floor(value / 10.0) AS INTEGER))) AS bin,
         count(*) AS cnt
  FROM ev GROUP BY 1, 2
), c AS (
  SELECT iso_week, bin, cnt,
         sum(cnt) OVER (PARTITION BY iso_week ORDER BY bin
                        ROWS UNBOUNDED PRECEDING) AS cum,
         sum(cnt) OVER (PARTITION BY iso_week) AS n
  FROM h
), est AS (
  SELECT iso_week, CAST(max(n) AS BIGINT) AS n,
         (min(bin) + 1) * 10.0 AS est
  FROM c WHERE cum >= 0.5 * n GROUP BY iso_week
), ex AS (
  SELECT strftime(date_trunc('day', ts), '%G-W%V') AS iso_week,
         quantile_cont(value, 0.5) AS exact_q
  FROM events GROUP BY 1
)
SELECT e.iso_week, e.n, round(e.est, 6) AS est_p50,
       abs(e.est - x.exact_q) <= 10.0 AS within_one_bin
FROM est e JOIN ex x USING (iso_week)
ORDER BY e.iso_week
"""
query(q_hist_quantile_rollup, SQL_HIST_QUANTILE_ROLLUP, bench=True)


def q_mix_apply(spark, sf_dir):
    """mix_solver's rates APPLIED: deterministic md5 unit-interval
    draws against broadcast per-source rates; the kept set is exact
    and engine-reproducible, summarized per source."""
    from mhm_data_pipelines_spark.operators.sampling import (
        apply_mix,
        mix_rates,
    )

    df = _t(spark, sf_dir, "documents")
    rates = mix_rates(
        df, "source", {"src0": 0.3, "src1": 0.2, "src2": 0.1}, total=200
    )
    kept = apply_mix(df, rates, "source", "doc_id")
    return (
        kept.groupBy("source")
        .agg(
            F.count("*").alias("n_kept"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("source")
    )


SQL_MIX_APPLY = """
WITH c AS (
  SELECT source, count(*) AS n_rows FROM documents GROUP BY source
), r AS (
  SELECT source,
    least(1.0, CASE source WHEN 'src0' THEN 0.3 WHEN 'src1' THEN 0.2
               WHEN 'src2' THEN 0.1 ELSE 0.0 END * 200 / n_rows)
      AS rate
  FROM c
), kept AS (
  SELECT d.source, d.doc_id
  FROM documents d JOIN r USING (source)
  WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':42'),
                             1, 15)) AS BIGINT)
        / 1152921504606846976.0 < r.rate
)
SELECT source, count(*) AS n_kept,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM kept GROUP BY source ORDER BY source
"""
query(q_mix_apply, SQL_MIX_APPLY, bench=True)


def q_kaplan_meier(spark, sf_dir):
    """Censoring-aware churn curve: one per-user hash agg builds
    (duration, event) spans, cohorted by the user's first event type;
    the product-limit estimator then runs entirely on the small
    per-(cohort, duration) table (two windows, codegen only)."""
    from mhm_data_pipelines_spark.operators.survival import (
        activity_spans,
        kaplan_meier,
    )

    ev = _t(spark, sf_dir, "events")
    spans = activity_spans(ev, churn_horizon_days=14)
    cohorts = ev.groupBy("user_id").agg(
        F.min(F.struct("ts", "event_id", "event_type"))
        .getField("event_type")
        .alias("cohort")
    )
    subjects = spans.join(cohorts, "user_id").select(
        "cohort", "duration", "event"
    )
    out = kaplan_meier(subjects, group_cols=["cohort"])
    return out.select(
        "cohort",
        F.col("t").cast("long").alias("t"),
        F.col("n_at_risk").cast("long").alias("n_at_risk"),
        F.col("n_events").cast("long").alias("n_events"),
        F.col("n_censored").cast("long").alias("n_censored"),
        F.round("survival", 6).alias("survival"),
    ).orderBy("cohort", "t")


SQL_KAPLAN_MEIER = """
WITH cutoff AS (
  SELECT max(ts)::DATE AS cd FROM events
), first_ev AS (
  SELECT user_id, event_type AS cohort
  FROM events
  QUALIFY row_number() OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) = 1
), pu AS (
  SELECT e.user_id, f.cohort,
         date_diff('day', min(e.ts)::DATE, max(e.ts)::DATE) AS duration,
         CASE WHEN max(e.ts)::DATE < (SELECT cd - 14 FROM cutoff)
              THEN 1 ELSE 0 END AS event
  FROM events e JOIN first_ev f USING (user_id)
  GROUP BY e.user_id, f.cohort
), per_t AS (
  SELECT cohort, duration AS t,
         CAST(sum(event) AS BIGINT) AS n_events,
         CAST(sum(1 - event) AS BIGINT) AS n_censored,
         count(*) AS n_here
  FROM pu GROUP BY cohort, duration
), r AS (
  SELECT *, CAST(sum(n_here) OVER (
      PARTITION BY cohort ORDER BY t DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
    AS n_at_risk
  FROM per_t
), f AS (
  SELECT *, 1.0 - n_events * 1.0 / n_at_risk AS factor FROM r
), s AS (
  SELECT *,
    max(CASE WHEN factor = 0 THEN 1 ELSE 0 END) OVER w AS dead,
    sum(CASE WHEN factor > 0 THEN ln(factor) END) OVER w AS lsum
  FROM f
  WINDOW w AS (PARTITION BY cohort ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT cohort, t, n_at_risk, n_events, n_censored,
       round(CASE WHEN dead = 1 THEN 0.0
                  ELSE exp(coalesce(lsum, 0.0)) END, 6) AS survival
FROM s ORDER BY cohort, t
"""
query(q_kaplan_meier, SQL_KAPLAN_MEIER)


def q_ewma_smooth(spark, sf_dir):
    """Per-user EWMA over the event stream: one keyed shuffle groups
    each user's rows into an Arrow batch; the recursion
    y=(1-a)y+ax is bitwise-replayable, so the oracle is an exact
    WITH RECURSIVE twin, not an approximation."""
    from mhm_data_pipelines_spark.operators.timeseries import ewma

    out = ewma(
        _t(spark, sf_dir, "events"),
        key="user_id",
        order_id="event_id",
        alpha=0.25,
    )
    # no rounding: the recursion is bitwise-identical across engines
    # (verified at sf0.01), and round() itself is the only operation the
    # engines disagree on at half-way decimals.
    return out.select("user_id", "rn", "value", "ewma").orderBy(
        "user_id", "rn"
    )


SQL_EWMA_SMOOTH = """
WITH RECURSIVE o AS (
  SELECT user_id, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events
), r AS (
  SELECT user_id, rn, value, value AS ewma FROM o WHERE rn = 1
  UNION ALL
  SELECT o.user_id, o.rn, o.value,
         0.75 * r.ewma + 0.25 * o.value
  FROM r JOIN o ON o.user_id = r.user_id AND o.rn = r.rn + 1
)
SELECT user_id, rn, value, ewma
FROM r ORDER BY user_id, rn
"""
query(q_ewma_smooth, SQL_EWMA_SMOOTH)


def q_cusum_detect(spark, sf_dir):
    """Two-sided CUSUM change alarms per user: per-key z-scores from
    one hash agg, restart-on-alarm recursion per key in Arrow batches;
    summary row per user so the output is key-bounded."""
    from mhm_data_pipelines_spark.operators.timeseries import (
        cusum_summary,
    )

    out = cusum_summary(
        _t(spark, sf_dir, "events"),
        key="user_id",
        order_id="event_id",
        k=0.5,
        h=3.0,
    )
    return out.select(
        "user_id",
        "n_obs",
        "n_alarms_hi",
        "n_alarms_lo",
        F.round("max_s_hi", 6).alias("max_s_hi"),
        F.round("max_s_lo", 6).alias("max_s_lo"),
    ).orderBy("user_id")


SQL_CUSUM_DETECT = """
WITH RECURSIVE st AS (
  SELECT user_id, avg(value) AS mu, stddev_pop(value) AS sd
  FROM events GROUP BY user_id
), o AS (
  SELECT e.user_id,
         CASE WHEN st.sd > 0 THEN (e.value - st.mu) / st.sd
              ELSE 0.0 END AS z,
         row_number() OVER (PARTITION BY e.user_id
                            ORDER BY e.ts, e.event_id) AS rn
  FROM events e JOIN st USING (user_id)
), r AS (
  SELECT user_id, rn,
         greatest(0.0, z - 0.5) AS sp,
         greatest(0.0, -z - 0.5) AS sn
  FROM o WHERE rn = 1
  UNION ALL
  SELECT o.user_id, o.rn,
         greatest(0.0, (CASE WHEN r.sp > 3.0 THEN 0.0 ELSE r.sp END)
                       + o.z - 0.5),
         greatest(0.0, (CASE WHEN r.sn > 3.0 THEN 0.0 ELSE r.sn END)
                       - o.z - 0.5)
  FROM r JOIN o ON o.user_id = r.user_id AND o.rn = r.rn + 1
)
SELECT user_id, count(*) AS n_obs,
       CAST(sum(CASE WHEN sp > 3.0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_alarms_hi,
       CAST(sum(CASE WHEN sn > 3.0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_alarms_lo,
       round(max(sp), 6) AS max_s_hi,
       round(max(sn), 6) AS max_s_lo
FROM r GROUP BY user_id ORDER BY user_id
"""
query(q_cusum_detect, SQL_CUSUM_DETECT)


def q_prefix_jaccard(spark, sf_dir):
    """PPJoin-style prefix-filtered set-similarity self-join, GLOBAL
    (no metadata blocking): candidates come from rare-token prefixes
    under a corpus-frequency order, verified exactly. The brute-force
    oracle proves the filter lossless — identical pair set."""
    from mhm_data_pipelines_spark.operators.setjoin import (
        prefix_jaccard_pairs,
    )

    df = _t(spark, sf_dir, "documents")
    toks = df.select(
        "doc_id",
        F.array_distinct(tokens(F.lower(F.col("text")))).alias("toks"),
    )
    out = prefix_jaccard_pairs(toks, "doc_id", "toks", threshold_pct=80)
    return out.select(
        "id_a", "id_b", "inter_len", "union_len", "jaccard"
    ).orderBy("id_a", "id_b")


SQL_PREFIX_JACCARD = f"""
WITH s AS (
  SELECT doc_id, list_distinct({_SQL_TOKENS_LOWER}) AS toks,
         len(list_distinct({_SQL_TOKENS_LOWER})) AS n
  FROM documents
), p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT) AS inter_len,
         CAST(a.n + b.n - len(list_intersect(a.toks, b.toks)) AS BIGINT)
           AS union_len
  FROM s a JOIN s b ON a.doc_id < b.doc_id
  WHERE a.n > 0 AND b.n > 0
)
SELECT id_a, id_b, inter_len, union_len,
       round(inter_len * 1.0 / union_len, 4) AS jaccard
FROM p
WHERE 100 * inter_len >= 80 * union_len
ORDER BY id_a, id_b
"""
# prefix_jaccard / containment_pairs / minhash_pr_curve are not
# benched: the synthetic corpus is pathologically self-similar (at
# sf0.1 the true >=80%-Jaccard pair set is ~3M pairs, ~24% of all doc
# pairs), so a headline timing would measure output materialization,
# not the prefix filter. They stay in the sf0.01 correctness gate.
query(q_prefix_jaccard, SQL_PREFIX_JACCARD)


def q_containment_pairs(spark, sf_dir):
    """Directed token-set containment join (quote/subset detection):
    probe-prefix × full-index candidate join, exact verify. Brute-force
    oracle proves the asymmetric prefix filter lossless."""
    from mhm_data_pipelines_spark.operators.setjoin import (
        containment_pairs,
    )

    df = _t(spark, sf_dir, "documents")
    toks = df.select(
        "doc_id",
        F.array_distinct(tokens(F.lower(F.col("text")))).alias("toks"),
    )
    out = containment_pairs(toks, "doc_id", "toks", threshold_pct=90)
    return out.select(
        "id_a", "id_b", "inter_len", "len_a", "containment"
    ).orderBy("id_a", "id_b")


SQL_CONTAINMENT_PAIRS = f"""
WITH s AS (
  SELECT doc_id, list_distinct({_SQL_TOKENS_LOWER}) AS toks,
         len(list_distinct({_SQL_TOKENS_LOWER})) AS n
  FROM documents
), p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT) AS inter_len,
         CAST(a.n AS BIGINT) AS len_a
  FROM s a JOIN s b ON a.doc_id <> b.doc_id
  WHERE a.n > 0
)
SELECT id_a, id_b, inter_len, len_a,
       round(inter_len * 1.0 / len_a, 4) AS containment
FROM p
WHERE 100 * inter_len >= 90 * len_a
ORDER BY id_a, id_b
"""
# Not benched, for the reason given at prefix_jaccard.
query(q_containment_pairs, SQL_CONTAINMENT_PAIRS)


def q_bradley_terry(spark, sf_dir):
    """Bradley-Terry strengths for event types: consecutive event pairs
    per user (ordered by ts, event_id) are pairwise comparisons won by
    the higher-valued event. Two hash aggregates reduce the comparison
    stream to O(K)/O(K^2) tables; 8 MM iterations run on those only,
    ratings quantized to 9dp per round so the unrolled oracle matches
    value-for-value (operators/ranking.py)."""
    from mhm_data_pipelines_spark.operators.ranking import bradley_terry

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = ev.select(
        "event_type",
        "value",
        F.lag("event_type").over(w).alias("prev_t"),
        F.lag("value").over(w).alias("prev_v"),
    ).filter(
        F.col("prev_t").isNotNull()
        & F.col("value").isNotNull()
        & F.col("prev_v").isNotNull()
        & (F.col("value") != F.col("prev_v"))
        & (F.col("event_type") != F.col("prev_t"))
    )
    up = F.col("value") > F.col("prev_v")
    cmp = d.select(
        F.when(up, F.col("event_type")).otherwise(F.col("prev_t")).alias(
            "winner"
        ),
        F.when(up, F.col("prev_t")).otherwise(F.col("event_type")).alias(
            "loser"
        ),
    )
    out = bradley_terry(cmp, iterations=8)
    return out.select(
        "item", F.round("rating", 6).alias("rating")
    ).orderBy("item")


def _bt_oracle_sql(iterations: int = 8) -> str:
    """Unrolled MM recurrence (same per-iteration 9dp quantization as
    operators/ranking.py) — one chained CTE per iteration."""
    parts = ["""
WITH cmp AS (
  SELECT CASE WHEN value > prev_v THEN event_type ELSE prev_t END AS winner,
         CASE WHEN value > prev_v THEN prev_t ELSE event_type END AS loser
  FROM (
    SELECT event_type, value,
           lag(event_type) OVER w AS prev_t,
           lag(value) OVER w AS prev_v
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
  )
  WHERE prev_t IS NOT NULL AND value IS NOT NULL AND prev_v IS NOT NULL
    AND value <> prev_v AND event_type <> prev_t
), wins AS (
  SELECT winner AS item, count(*) AS w FROM cmp GROUP BY 1
), und AS (
  SELECT least(winner, loser) AS i, greatest(winner, loser) AS j,
         count(*) AS n
  FROM cmp GROUP BY 1, 2
), directed AS MATERIALIZED (
  SELECT i AS item, j AS other, n FROM und
  UNION ALL
  SELECT j AS item, i AS other, n FROM und
), it0 AS MATERIALIZED (
  SELECT DISTINCT item, 1.0 AS p FROM directed
)"""]
    # AS MATERIALIZED: DuckDB inlines plain CTEs, so a chained
    # recurrence would otherwise expand 2^iterations base scans.
    for k in range(1, iterations + 1):
        parts.append(f""", raw{k} AS MATERIALIZED (
  SELECT d.item, coalesce(w.w, 0) / sum(d.n / (a.p + b.p)) AS r
  FROM directed d
  JOIN it{k - 1} a ON a.item = d.item
  JOIN it{k - 1} b ON b.item = d.other
  LEFT JOIN wins w ON w.item = d.item
  GROUP BY d.item, w.w
), it{k} AS MATERIALIZED (
  SELECT item, round(r / (SELECT avg(r) FROM raw{k}), 9) AS p FROM raw{k}
)""")
    parts.append(
        f"""
SELECT item, round(p, 6) AS rating FROM it{iterations} ORDER BY item
"""
    )
    return "".join(parts)


SQL_BRADLEY_TERRY = _bt_oracle_sql(8)
query(q_bradley_terry, SQL_BRADLEY_TERRY, bench=True)


def q_triangle_count(spark, sf_dir):
    """Per-node triangle counts over the event-type transition graph —
    degree-orientation wedge join (O(m^1.5) candidates, never the naive
    sum-of-deg^2 self-join); the oracle is the brute-force 3-way join
    on the canonical a<b edge list, proving the orientation lossless
    (operators/graph.py triangle_count)."""
    from mhm_data_pipelines_spark.operators.graph import triangle_count

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = ev.select(
        F.lag("event_type").over(w).alias("src"),
        F.col("event_type").alias("dst"),
    ).filter(F.col("src").isNotNull())
    out = triangle_count(edges)
    return out.select("node", "triangles").orderBy("node")


SQL_TRIANGLE_COUNT = """
WITH tr AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS src,
         event_type AS dst
  FROM events
), und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM tr WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst
), tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM und e1
  JOIN und e2 ON e2.a = e1.b
  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
), nodes AS (
  SELECT a AS node FROM und UNION SELECT b AS node FROM und
), pn AS (
  SELECT node, count(*) AS c FROM (
    SELECT x AS node FROM tri
    UNION ALL SELECT y AS node FROM tri
    UNION ALL SELECT z AS node FROM tri
  ) GROUP BY node
)
SELECT nodes.node AS node, CAST(coalesce(pn.c, 0) AS BIGINT) AS triangles
FROM nodes LEFT JOIN pn ON pn.node = nodes.node
ORDER BY node
"""
query(q_triangle_count, SQL_TRIANGLE_COUNT, bench=True)


def q_pmi_collocations(spark, sf_dir):
    """Corpus collocation mining: top-50 adjacent-bigram NPMI (phrase
    -vocabulary curation). One explode feeds both hash aggregates;
    adjacency bounds the pair stream linearly; scalar totals broadcast;
    rank on round(npmi, 6) with word tie-breaks
    (operators/retrieval.py pmi_collocations)."""
    from mhm_data_pipelines_spark.operators.retrieval import (
        pmi_collocations,
    )

    df = _t(spark, sf_dir, "documents")
    return pmi_collocations(df, min_count=3, topk=50)


SQL_PMI_COLLOCATIONS = f"""
WITH toks AS (
  SELECT doc_id, {_SQL_TOKENS_LOWER} AS tk FROM documents
), uni AS (
  SELECT w, count(*) AS c FROM (
    SELECT unnest(tk) AS w FROM toks
  ) GROUP BY w
), tot AS (
  SELECT CAST(sum(len(tk)) AS DOUBLE) AS n_tokens,
         CAST(sum(greatest(len(tk) - 1, 0)) AS DOUBLE) AS n_bigrams
  FROM toks
), bc AS (
  SELECT w1, w2, count(*) AS c_ab FROM (
    SELECT tk[i] AS w1, tk[i + 1] AS w2
    FROM toks, LATERAL unnest(generate_series(1, len(tk) - 1)) AS u(i)
    WHERE len(tk) >= 2
  ) GROUP BY w1, w2
  HAVING count(*) >= 3
)
SELECT bc.w1, bc.w2, CAST(bc.c_ab AS BIGINT) AS c_ab,
       round(ln((bc.c_ab / t.n_bigrams)
                / ((a.c / t.n_tokens) * (b.c / t.n_tokens))), 6) AS pmi,
       round(ln((bc.c_ab / t.n_bigrams)
                / ((a.c / t.n_tokens) * (b.c / t.n_tokens)))
             / -ln(bc.c_ab / t.n_bigrams), 6) AS npmi
FROM bc
JOIN uni a ON a.w = bc.w1
JOIN uni b ON b.w = bc.w2
CROSS JOIN tot t
ORDER BY npmi DESC, w1, w2 LIMIT 50
"""
query(q_pmi_collocations, SQL_PMI_COLLOCATIONS, bench=True)



def q_rater_agreement(spark, sf_dir):
    """Quality-filter agreement QA: three rule "raters" (char-length,
    token-count, terminal-punctuation) label every document; pairwise
    Cohen's kappa says which heuristics encode the same signal. Item
    self-join fans out only R rows/item; all stats are O(R^2 * labels)
    hash aggregates (operators/agreement.py)."""
    from mhm_data_pipelines_spark.operators.agreement import (
        pairwise_kappa,
    )

    docs = _t(spark, sf_dir, "documents")
    lab = lambda c: c.cast("int").alias("label")  # noqa: E731
    r1 = docs.select(
        F.col("doc_id").alias("item_id"),
        F.lit("len").alias("rater"),
        lab(F.col("n_chars") >= 200),
    )
    r2 = docs.select(
        F.col("doc_id").alias("item_id"),
        F.lit("words").alias("rater"),
        lab(F.size(tokens(F.lower(F.col("text")))) >= 40),
    )
    r3 = docs.select(
        F.col("doc_id").alias("item_id"),
        F.lit("punct").alias("rater"),
        lab(F.col("text").rlike("[.!?][ ]*$")),
    )
    out = pairwise_kappa(r1.unionAll(r2).unionAll(r3))
    return out.orderBy("rater_a", "rater_b")


SQL_RATER_AGREEMENT = f"""
WITH r AS (
  SELECT doc_id AS item_id, 'len' AS rater,
         CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS label
  FROM documents
  UNION ALL
  SELECT doc_id, 'words',
         CASE WHEN len({_SQL_TOKENS_LOWER}) >= 40 THEN 1 ELSE 0 END
  FROM documents
  UNION ALL
  SELECT doc_id, 'punct',
         CASE WHEN regexp_matches(text, '[.!?][ ]*$') THEN 1 ELSE 0 END
  FROM documents
), j AS (
  SELECT a.rater AS rater_a, b.rater AS rater_b,
         a.label AS la, b.label AS lb
  FROM r a JOIN r b ON a.item_id = b.item_id AND a.rater < b.rater
), cnt AS (
  SELECT rater_a, rater_b, la, lb, count(*) AS c FROM j GROUP BY ALL
), tot AS (
  SELECT rater_a, rater_b, sum(c) AS n,
         sum(CASE WHEN la = lb THEN c ELSE 0 END) AS agree
  FROM cnt GROUP BY ALL
), ma AS (
  SELECT rater_a, rater_b, la, sum(c) AS ca FROM cnt GROUP BY ALL
), mb AS (
  SELECT rater_a, rater_b, lb, sum(c) AS cb FROM cnt GROUP BY ALL
), pe_t AS (
  SELECT ma.rater_a, ma.rater_b,
         sum(CAST(ca AS DOUBLE) * cb) AS pe_num
  FROM ma JOIN mb ON ma.rater_a = mb.rater_a
                 AND ma.rater_b = mb.rater_b AND ma.la = mb.lb
  GROUP BY ALL
)
SELECT t.rater_a, t.rater_b, CAST(t.n AS BIGINT) AS n_items,
       round(CAST(t.agree AS DOUBLE) / t.n, 6) AS po,
       round(p.pe_num / (CAST(t.n AS DOUBLE) * t.n), 6) AS pe,
       round(CASE WHEN p.pe_num / (CAST(t.n AS DOUBLE) * t.n) < 1.0
                  THEN (CAST(t.agree AS DOUBLE) / t.n
                        - p.pe_num / (CAST(t.n AS DOUBLE) * t.n))
                       / (1.0 - p.pe_num / (CAST(t.n AS DOUBLE) * t.n))
             END, 6) AS kappa
FROM tot t JOIN pe_t p
  ON t.rater_a = p.rater_a AND t.rater_b = p.rater_b
ORDER BY t.rater_a, t.rater_b
"""
query(q_rater_agreement, SQL_RATER_AGREEMENT, bench=True)


def q_clustering_coeff(spark, sf_dir):
    """Local clustering coefficient per node of the event-type
    transition graph: 2T / (deg * (deg - 1)), degree-orientation
    triangle counts + the degree column computed in the same pass
    (operators/graph.py triangle_count include_degree)."""
    from mhm_data_pipelines_spark.operators.graph import triangle_count

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = ev.select(
        F.lag("event_type").over(w).alias("src"),
        F.col("event_type").alias("dst"),
    ).filter(F.col("src").isNotNull())
    tc = triangle_count(edges, include_degree=True)
    coeff = F.when(
        F.col("deg") >= 2,
        F.round(
            F.lit(2.0) * F.col("triangles")
            / (F.col("deg") * (F.col("deg") - 1)),
            6,
        ),
    ).otherwise(F.lit(0.0))
    return tc.select(
        "node", "deg", "triangles", coeff.alias("coeff")
    ).orderBy("node")


SQL_CLUSTERING_COEFF = """
WITH tr AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS src,
         event_type AS dst
  FROM events
), und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM tr WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst
), deg AS (
  SELECT node, count(*) AS deg FROM (
    SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und
  ) GROUP BY node
), tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM und e1
  JOIN und e2 ON e2.a = e1.b
  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
), pn AS (
  SELECT node, count(*) AS c FROM (
    SELECT x AS node FROM tri
    UNION ALL SELECT y AS node FROM tri
    UNION ALL SELECT z AS node FROM tri
  ) GROUP BY node
)
SELECT deg.node AS node, CAST(deg.deg AS BIGINT) AS deg,
       CAST(coalesce(pn.c, 0) AS BIGINT) AS triangles,
       CASE WHEN deg.deg >= 2
            THEN round(2.0 * coalesce(pn.c, 0)
                       / (deg.deg * (deg.deg - 1)), 6)
            ELSE 0.0 END AS coeff
FROM deg LEFT JOIN pn ON pn.node = deg.node
ORDER BY node
"""
query(q_clustering_coeff, SQL_CLUSTERING_COEFF, bench=True)


def q_sorted_neighborhood(spark, sf_dir):
    """Entity-resolution candidate blocking: documents sorted by
    (n_chars, doc_id), every pair within a rank window of 7 emitted.
    Global rank via the two-phase distributed prefix sum (never a
    single-task window); neighborhoods join as a rank-block equi-join
    (operators/setjoin.py sorted_neighborhood_pairs)."""
    from mhm_data_pipelines_spark.operators.setjoin import (
        sorted_neighborhood_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    out = sorted_neighborhood_pairs(
        docs.select("doc_id", "n_chars"),
        "doc_id",
        order_by=[("n_chars", True), ("doc_id", True)],
        window=7,
    )
    return out.orderBy("rank_a", "rank_b")


SQL_SORTED_NEIGHBORHOOD = """
WITH rk AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY n_chars, doc_id) AS rank
  FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       a.rank AS rank_a, b.rank AS rank_b
FROM rk a JOIN rk b ON b.rank > a.rank AND b.rank < a.rank + 7
ORDER BY rank_a, rank_b
"""
query(q_sorted_neighborhood, SQL_SORTED_NEIGHBORHOOD, bench=True)



def q_score_correlation(spark, sf_dir):
    """Tie-aware Spearman rho between two per-doc quality signals
    (token count vs mean token length): fractional ranks from the
    two-phase distributed prefix sum over per-VALUE counts — the raw
    rows are never globally sorted; rho is one hash aggregate of
    exact (integer-or-half) sums (operators/correlation.py)."""
    from mhm_data_pipelines_spark.operators.correlation import (
        spearman_rho,
    )

    docs = _t(spark, sf_dir, "documents")
    nt = F.size(tokens(F.lower(F.col("text"))))
    base = docs.filter(nt > 0).select(
        nt.alias("x"),
        (F.col("n_chars").cast("double") / nt).alias("y"),
    )
    return spearman_rho(base, "x", "y")


SQL_SCORE_CORRELATION = f"""
WITH v AS (
  SELECT len({_SQL_TOKENS_LOWER}) AS x,
         CAST(n_chars AS DOUBLE) / len({_SQL_TOKENS_LOWER}) AS y
  FROM documents WHERE len({_SQL_TOKENS_LOWER}) > 0
), r AS (
  SELECT
    rank() OVER (ORDER BY x)
      + (count(*) OVER (PARTITION BY x) - 1) / 2.0 AS rx,
    rank() OVER (ORDER BY y)
      + (count(*) OVER (PARTITION BY y) - 1) / 2.0 AS ry
  FROM v
), s AS (
  SELECT CAST(count(*) AS DOUBLE) AS n, sum(rx) AS sx, sum(ry) AS sy,
         sum(rx * ry) AS sxy, sum(rx * rx) AS sxx, sum(ry * ry) AS syy
  FROM r
)
SELECT CAST(n AS BIGINT) AS n,
       round(CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                  THEN (n * sxy - sx * sy)
                       / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
             END, 6) AS rho
FROM s
"""
query(q_score_correlation, SQL_SCORE_CORRELATION, bench=True)


def q_ranking_overlap(spark, sf_dir):
    """Rank-biased overlap between two per-source document rankings
    (by char length vs by token count): each co-ranked item reduces to
    ONE weighted row via the literal tail-weight table — RBO@10 is an
    equi-join + a hash aggregate, no per-depth re-scan
    (operators/correlation.py rbo)."""
    from mhm_data_pipelines_spark.operators.correlation import rbo

    docs = _t(spark, sf_dir, "documents")
    nt = F.size(tokens(F.lower(F.col("text"))))
    d = docs.select("source", "doc_id", "n_chars", nt.alias("nt"))
    wa = Window.partitionBy("source").orderBy(
        F.desc("n_chars"), F.col("doc_id")
    )
    wb = Window.partitionBy("source").orderBy(
        F.desc("nt"), F.col("doc_id")
    )
    ra = d.select(
        F.col("source").alias("query_id"),
        F.col("doc_id").alias("item_id"),
        F.row_number().over(wa).alias("rank"),
    ).filter(F.col("rank") <= 10)
    rb = d.select(
        F.col("source").alias("query_id"),
        F.col("doc_id").alias("item_id"),
        F.row_number().over(wb).alias("rank"),
    ).filter(F.col("rank") <= 10)
    return rbo(ra, rb, p=0.9, depth=10).orderBy("query_id")


def _rbo_weights(p: float = 0.9, depth: int = 10) -> list[float]:
    """Literal tail weights (1-p)*sum_{k=m..d} p^(k-1)/k — the SAME
    python evaluation the operator embeds, so repr() round-trips the
    exact doubles into the oracle SQL."""
    tail = [p ** (k - 1) / k for k in range(1, depth + 1)]
    return [(1.0 - p) * sum(tail[m - 1:]) for m in range(1, depth + 1)]


SQL_RANKING_OVERLAP = f"""
WITH d AS (
  SELECT source, doc_id, n_chars,
         len({_SQL_TOKENS_LOWER}) AS nt
  FROM documents
), ra AS (
  SELECT source AS query_id, doc_id AS item_id,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id) AS r
  FROM d QUALIFY r <= 10
), rb AS (
  SELECT source AS query_id, doc_id AS item_id,
         row_number() OVER (PARTITION BY source
                            ORDER BY nt DESC, doc_id) AS r
  FROM d QUALIFY r <= 10
), w(m, wt) AS (
  VALUES {", ".join(f"({m}, {w!r})" for m, w in
                    enumerate(_rbo_weights(0.9, 10), start=1))}
), j AS (
  SELECT a.query_id, greatest(a.r, b.r) AS m
  FROM ra a JOIN rb b
    ON a.query_id = b.query_id AND a.item_id = b.item_id
), q AS (
  SELECT DISTINCT query_id FROM ra
)
SELECT q.query_id,
       round(coalesce(sum(w.wt), 0.0), 6) AS rbo
FROM q
LEFT JOIN j ON j.query_id = q.query_id
LEFT JOIN w ON w.m = j.m
GROUP BY q.query_id ORDER BY q.query_id
"""
query(q_ranking_overlap, SQL_RANKING_OVERLAP, bench=True)


def q_mmr_diverse(spark, sf_dir):
    """MMR diverse top-8 (query = embedding of vec_id 0) on the POOLED
    path: ONE distributed relevance pass -> TakeOrdered(4096) candidate
    pool -> driver greedy with bit-identical left-fold cosines and
    HALF_UP rounds (operators/similarity.py mmr_select). pool covers
    the corpus at every gate/bench SF (<= 2000 vectors), so the result
    equals exact MMR and the unrolled greedy oracle value-for-value; at
    larger SFs this is rerank-top-4096 MMR, the production shape —
    corpus passes drop from k to 1."""
    from mhm_data_pipelines_spark.operators.similarity import mmr_select

    df = _t(spark, sf_dir, "embeddings")
    qvec = df.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    out = mmr_select(
        df.filter(F.col("vec_id") != 0), list(qvec), k=8, lam=0.7,
        pool=4096,
    )
    return out.select(
        "vec_id", "pick_order", F.round("score", 6).alias("score")
    ).orderBy("pick_order")


def _mmr_oracle_sql(k: int = 8, lam: float = 0.7, qz: int = 7) -> str:
    """Unrolled greedy MMR (same per-round quantization as
    operators/similarity.py mmr_select)."""
    olam = 1.0 - lam
    parts = [f"""
WITH rel AS MATERIALIZED (
  SELECT b.vec_id AS id, CAST(b.embedding AS DOUBLE[]) AS v,
         round(list_cosine_similarity(CAST(b.embedding AS DOUBLE[]),
               (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
                WHERE vec_id = 0)), {qz}) AS rel
  FROM embeddings b WHERE b.vec_id <> 0
), pick1 AS MATERIALIZED (
  SELECT id, v, 1 AS pick_order, rel AS score
  FROM rel WHERE isfinite(rel) ORDER BY rel DESC, id LIMIT 1
), picked1 AS (SELECT * FROM pick1)"""]
    for j in range(2, k + 1):
        parts.append(f""", pick{j} AS MATERIALIZED (
  SELECT r.id, r.v, {j} AS pick_order,
         round({lam!r} * r.rel - {olam!r}
               * (SELECT max(list_cosine_similarity(r.v, p.v))
                  FROM picked{j - 1} p), {qz}) AS score
  FROM rel r
  WHERE isfinite(r.rel)
    AND r.id NOT IN (SELECT id FROM picked{j - 1})
  ORDER BY score DESC, id LIMIT 1
), picked{j} AS (
  SELECT * FROM picked{j - 1} UNION ALL SELECT * FROM pick{j}
)""")
    parts.append(f"""
SELECT id AS vec_id, pick_order, round(score, 6) AS score
FROM picked{k} ORDER BY pick_order
""")
    return "".join(parts)


SQL_MMR_DIVERSE = _mmr_oracle_sql(8, 0.7, 7)
query(q_mmr_diverse, SQL_MMR_DIVERSE, bench=True)



def q_grouped_folds(spark, sf_dir):
    """Leakage-safe k-fold CV assignment: folds hash the document TEXT
    (content fingerprint), so exact duplicates always share a fold —
    pure projection, engine-portable md5 arithmetic
    (operators/sampling.py grouped_kfold)."""
    from mhm_data_pipelines_spark.operators.sampling import grouped_kfold

    docs = _t(spark, sf_dir, "documents")
    out = grouped_kfold(docs, "text", k=5, seed=42, hash_family="md5")
    return (
        out.groupBy("fold")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("text").alias("n_groups"),
        )
        .orderBy("fold")
    )


SQL_GROUPED_FOLDS = """
WITH f AS (
  SELECT text,
         CAST(CAST(('0x' || substr(md5(text || ':42'), 1, 15)) AS BIGINT)
              % 1000000 % 5 AS INTEGER) AS fold
  FROM documents
)
SELECT fold, count(*) AS n_docs, count(DISTINCT text) AS n_groups
FROM f GROUP BY fold ORDER BY fold
"""
query(q_grouped_folds, SQL_GROUPED_FOLDS, bench=True)


def q_calibration_report(spark, sf_dir):
    """Reliability diagram + per-bin ECE terms for a deterministic
    [0,1] quality score (token-count ramp) against a length label:
    one hash aggregate into 10 bins + a broadcast single-row total
    (operators/selection.py calibration_curve)."""
    from mhm_data_pipelines_spark.operators.selection import (
        calibration_curve,
    )

    docs = _t(spark, sf_dir, "documents")
    nt = F.size(tokens(F.lower(F.col("text"))))
    scored = docs.select(
        F.least(F.lit(1.0), nt / F.lit(400.0)).alias("score"),
        (F.col("n_chars") >= 500).cast("int").alias("label"),
    )
    return calibration_curve(scored, "score", "label", bins=10).orderBy(
        "bin"
    )


SQL_CALIBRATION_REPORT = f"""
WITH s AS (
  SELECT least(1.0, len({_SQL_TOKENS_LOWER}) / 400.0) AS score,
         CASE WHEN n_chars >= 500 THEN 1 ELSE 0 END AS label
  FROM documents
), b AS (
  SELECT CAST(least(floor(score * 10), 9) AS INTEGER) AS bin,
         count(*) AS n, sum(score) AS ss, sum(label) AS pos
  FROM s GROUP BY 1
), t AS (
  SELECT CAST(sum(n) AS DOUBLE) AS total FROM b
)
SELECT bin, CAST(n AS BIGINT) AS n,
       round(ss / n, 6) AS conf,
       round(CAST(pos AS DOUBLE) / n, 6) AS acc,
       round(n / t.total
             * abs(CAST(pos AS DOUBLE) / n - ss / n), 6) AS ece_term
FROM b CROSS JOIN t ORDER BY bin
"""
query(q_calibration_report, SQL_CALIBRATION_REPORT, bench=True)


def q_robust_outliers(spark, sf_dir):
    """Per-event-type robust outlier report: modified z-score on
    exact median/MAD (heavy-tail-proof, unlike skew_report's
    mean/stddev flags) — two exact-percentile aggregates + AQE-sized
    stat joins (operators/repair.py robust_outlier_stats)."""
    from mhm_data_pipelines_spark.operators.repair import (
        robust_outlier_stats,
    )

    ev = _t(spark, sf_dir, "events")
    out = robust_outlier_stats(ev, "value", ["event_type"])
    return out.orderBy("event_type")


SQL_ROBUST_OUTLIERS = """
WITH base AS (
  SELECT event_type, CAST(value AS DOUBLE) AS x
  FROM events WHERE value IS NOT NULL
), med AS (
  SELECT event_type, quantile_cont(x, 0.5) AS m
  FROM base GROUP BY event_type
), dev AS (
  SELECT b.event_type, b.x, m.m, abs(b.x - m.m) AS d
  FROM base b JOIN med m USING (event_type)
), st AS (
  SELECT event_type, count(*) AS n, any_value(m) AS m,
         quantile_cont(d, 0.5) AS mad
  FROM dev GROUP BY event_type
), fl AS (
  SELECT d.event_type, count(*) AS nout
  FROM dev d JOIN st ON st.event_type = d.event_type
  WHERE st.mad > 0 AND 0.6745 * d.d / st.mad > 3.5
  GROUP BY d.event_type
)
SELECT st.event_type, CAST(st.n AS BIGINT) AS n,
       round(st.m, 6) AS median, round(st.mad, 6) AS mad,
       CASE WHEN st.mad > 0
            THEN CAST(coalesce(fl.nout, 0) AS BIGINT) END AS n_outliers
FROM st LEFT JOIN fl ON fl.event_type = st.event_type
ORDER BY st.event_type
"""
query(q_robust_outliers, SQL_ROBUST_OUTLIERS, bench=True)



def q_novelty_scores(spark, sf_dir):
    """Per-doc trigram novelty vs a reference slice (source 'src0'):
    1 - shared/total distinct trigrams — the memorization-risk score.
    Both sides share the explode stage; the reference collapses to a
    distinct n-gram SET before the match join
    (operators/decontam.py novelty_scores)."""
    from mhm_data_pipelines_spark.operators.decontam import (
        novelty_scores,
    )

    docs = _t(spark, sf_dir, "documents")
    ref = docs.filter(F.col("source") == "src0")
    rest = docs.filter(F.col("source") != "src0")
    return novelty_scores(rest, ref, n=3).orderBy("doc_id")


SQL_NOVELTY_SCORES = f"""
WITH t AS (
  SELECT doc_id, source, {_SQL_TOKENS} AS toks FROM documents
), g AS (
  SELECT DISTINCT doc_id, source,
         toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] AS ng
  FROM t, LATERAL unnest(generate_series(1, len(toks) - 2)) AS u(i)
  WHERE len(toks) >= 3
), ref AS (
  SELECT DISTINCT ng FROM g WHERE source = 'src0'
), tg AS (
  SELECT doc_id, ng FROM g WHERE source <> 'src0'
), tot AS (
  SELECT doc_id, count(*) AS n_ngrams FROM tg GROUP BY doc_id
), m AS (
  SELECT tg.doc_id, count(*) AS n_matched
  FROM tg JOIN ref USING (ng) GROUP BY tg.doc_id
)
SELECT tot.doc_id, CAST(tot.n_ngrams AS BIGINT) AS n_ngrams,
       CAST(coalesce(m.n_matched, 0) AS BIGINT) AS n_matched,
       round(1.0 - coalesce(m.n_matched, 0) * 1.0 / tot.n_ngrams, 6)
         AS novelty
FROM tot LEFT JOIN m ON m.doc_id = tot.doc_id
ORDER BY tot.doc_id
"""
query(q_novelty_scores, SQL_NOVELTY_SCORES, bench=True)


def q_embargo_split(spark, sf_dir):
    """Purged time split over events: newest 20% by ts are TEST, train
    ends 7 days earlier, the gap is EMBARGO — cutoff is one exact-
    quantile scalar broadcast back, the label a pure projection
    (operators/sampling.py temporal_embargo_split)."""
    from mhm_data_pipelines_spark.operators.sampling import (
        temporal_embargo_split,
    )

    ev = _t(spark, sf_dir, "events")
    out = temporal_embargo_split(ev, "ts", 0.2, "7 days")
    return (
        out.filter(F.col("split").isNotNull())
        .groupBy("split")
        .agg(
            F.count("*").alias("n"),
            F.date_format(
                F.min(F.col("ts").cast("timestamp")),
                "yyyy-MM-dd HH:mm:ss",
            ).alias("first_ts"),
            F.date_format(
                F.max(F.col("ts").cast("timestamp")),
                "yyyy-MM-dd HH:mm:ss",
            ).alias("last_ts"),
        )
        .orderBy("split")
    )


SQL_EMBARGO_SPLIT = """
WITH c AS (
  SELECT quantile_cont(epoch_us(CAST(ts AS TIMESTAMP)), 0.8) AS cut
  FROM events WHERE ts IS NOT NULL
), s AS (
  SELECT CAST(ts AS TIMESTAMP) AS ts,
         CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) >= c.cut THEN 'test'
              WHEN epoch_us(CAST(ts AS TIMESTAMP))
                   < c.cut - 604800000000 THEN 'train'
              ELSE 'embargo' END AS split
  FROM events CROSS JOIN c
  WHERE ts IS NOT NULL
)
SELECT split, count(*) AS n,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS first_ts,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_ts
FROM s GROUP BY split ORDER BY split
"""
query(q_embargo_split, SQL_EMBARGO_SPLIT, bench=True)


def q_benford_digits(spark, sf_dir):
    """Benford first-digit audit of lineitem extendedprice cents
    (positive BIGINT-like amounts): digit from the integer's decimal
    string (no log10-of-double boundary hazard), one 9-group hash agg
    + broadcast total (operators/profile.py benford_report)."""
    from mhm_data_pipelines_spark.operators.profile import benford_report

    li = _t(spark, sf_dir, "lineitem")
    cents = li.select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents")
    )
    return benford_report(cents, "cents")


SQL_BENFORD_DIGITS = f"""
WITH v AS (
  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
  FROM lineitem
), d AS (
  SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INTEGER) AS digit
  FROM v WHERE cents IS NOT NULL AND cents > 0
), counts AS (
  SELECT digit, count(*) AS n FROM d GROUP BY digit
), digits AS (
  SELECT unnest(generate_series(1, 9)) AS digit
), full_d AS (
  SELECT digits.digit, coalesce(counts.n, 0) AS n
  FROM digits LEFT JOIN counts ON counts.digit = digits.digit
), t AS (
  SELECT CAST(sum(n) AS DOUBLE) AS total FROM full_d
), e(digit, p) AS (
  VALUES (1, 0.3010299956639812), (2, 0.17609125905568124), (3, 0.12493873660829992), (4, 0.09691001300805642), (5, 0.07918124604762482), (6, 0.06694678963061322), (7, 0.05799194697768673), (8, 0.05115252244738129), (9, 0.04575749056067514)
)
SELECT f.digit, CAST(f.n AS BIGINT) AS n,
       round(f.n / t.total, 6) AS observed_p,
       round(e.p, 6) AS expected_p,
       round(pow(f.n - t.total * e.p, 2) / (t.total * e.p), 6)
         AS chi2_term
FROM full_d f CROSS JOIN t JOIN e ON e.digit = f.digit
ORDER BY f.digit
"""
query(q_benford_digits, SQL_BENFORD_DIGITS, bench=True)



def q_ks_drift(spark, sf_dir):
    """Exact two-sample KS between two sources' doc-length
    distributions — the distribution-drift gate for a data refresh.
    Per-value counts + distributed prefix sums; no global row sort
    (operators/stats_tests.py ks_test)."""
    from mhm_data_pipelines_spark.operators.stats_tests import ks_test

    docs = _t(spark, sf_dir, "documents")
    return ks_test(docs, "n_chars", "source", "src0", "src1")


SQL_KS_DRIFT = """
WITH base AS (
  SELECT CAST(n_chars AS DOUBLE) AS v,
         CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS ia,
         CASE WHEN source = 'src1' THEN 1 ELSE 0 END AS ib
  FROM documents
  WHERE n_chars IS NOT NULL AND source IN ('src0', 'src1')
), pv AS (
  SELECT v, sum(ia) AS ca, sum(ib) AS cb FROM base GROUP BY v
), c AS (
  SELECT v, sum(ca) OVER (ORDER BY v) AS cum_a,
            sum(cb) OVER (ORDER BY v) AS cum_b
  FROM pv
), t AS (
  SELECT CAST(sum(ca) AS DOUBLE) AS na, CAST(sum(cb) AS DOUBLE) AS nb
  FROM pv
)
SELECT CAST(t.na AS BIGINT) AS n_a, CAST(t.nb AS BIGINT) AS n_b,
       round(max(abs(c.cum_a / t.na - c.cum_b / t.nb)), 6) AS d_stat,
       round(max(abs(c.cum_a / t.na - c.cum_b / t.nb))
             * sqrt(t.na * t.nb / (t.na + t.nb)), 6) AS ks_lambda
FROM c CROSS JOIN t GROUP BY t.na, t.nb
"""
query(q_ks_drift, SQL_KS_DRIFT, bench=True)


def q_mwu_shift(spark, sf_dir):
    """Tie-corrected Mann-Whitney U: are 'purchase' event values
    stochastically larger than 'click' values? Fractional ranks from
    the shared prefix-sum machinery; every sum integers-or-halves
    (operators/stats_tests.py mann_whitney_u)."""
    from mhm_data_pipelines_spark.operators.stats_tests import (
        mann_whitney_u,
    )

    ev = _t(spark, sf_dir, "events")
    return mann_whitney_u(ev, "value", "event_type", "purchase", "click")


SQL_MWU_SHIFT = """
WITH base AS (
  SELECT CAST(value AS DOUBLE) AS v,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ia
  FROM events
  WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')
), pv AS (
  SELECT v, count(*) AS t, sum(ia) AS ca FROM base GROUP BY v
), r AS (
  SELECT v, t, ca,
         sum(t) OVER (ORDER BY v) - t / 2.0 + 0.5 AS rk
  FROM pv
), s AS (
  SELECT CAST(sum(ca) AS DOUBLE) AS na,
         CAST(sum(t - ca) AS DOUBLE) AS nb,
         sum(ca * rk) AS ra,
         sum(CAST(t AS DOUBLE) * t * t - t) AS ties
  FROM r
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       round(ra - na * (na + 1) / 2, 6) AS u_a,
       round(na * nb - (ra - na * (na + 1) / 2), 6) AS u_b,
       round(CASE WHEN na * nb / 12.0
                       * ((na + nb + 1)
                          - ties / ((na + nb) * (na + nb - 1))) > 0
             THEN (ra - na * (na + 1) / 2 - na * nb / 2)
                  / sqrt(na * nb / 12.0
                         * ((na + nb + 1)
                            - ties / ((na + nb) * (na + nb - 1))))
             END, 6) AS z
FROM s
"""
query(q_mwu_shift, SQL_MWU_SHIFT, bench=True)


def q_chi2_assoc(spark, sf_dir):
    """Chi-square independence of source x language — "do sources
    differ in language mix?" — via the empty-cell-free identity
    chi2 = N*(sum o^2/(row*col)) - N: one contingency aggregate +
    margin joins (operators/stats_tests.py chi2_independence)."""
    from mhm_data_pipelines_spark.operators.stats_tests import (
        chi2_independence,
    )

    docs = _t(spark, sf_dir, "documents")
    return chi2_independence(docs, "source", "lang")


SQL_CHI2_ASSOC = """
WITH cells AS (
  SELECT source AS x, lang AS y, count(*) AS o
  FROM documents
  WHERE source IS NOT NULL AND lang IS NOT NULL
  GROUP BY 1, 2
), rows_m AS (
  SELECT x, sum(o) AS rx FROM cells GROUP BY x
), cols_m AS (
  SELECT y, sum(o) AS cy FROM cells GROUP BY y
), tot AS (
  SELECT CAST(sum(o) AS DOUBLE) AS n,
         count(DISTINCT x) AS r, count(DISTINCT y) AS c
  FROM cells
), s AS (
  SELECT sum(CAST(cells.o AS DOUBLE) * cells.o
             / (CAST(rows_m.rx AS DOUBLE) * cols_m.cy)) AS s
  FROM cells JOIN rows_m USING (x) JOIN cols_m USING (y)
)
SELECT CAST(tot.n AS BIGINT) AS n,
       CAST((tot.r - 1) * (tot.c - 1) AS BIGINT) AS dof,
       round(tot.n * s.s - tot.n, 6) AS chi2
FROM s CROSS JOIN tot
"""
query(q_chi2_assoc, SQL_CHI2_ASSOC, bench=True)



def q_orc_roundtrip(spark, sf_dir):
    """ORC sink/source verified end-to-end: documents land as
    zstd ORC PARTITIONED BY source (sources/io.py write_table), read
    back through the partition-discovering reader; the per-source
    aggregate must equal the oracle's aggregate over the original
    table — partition-column re-materialization and value fidelity in
    one check."""
    from mhm_data_pipelines_spark.sources.io import write_table

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    dest = _scratch("mhm_orc_gate_") + "/docs"
    write_table(docs, dest, fmt="orc", partition_by=["source"])
    back = spark.read.orc(dest)
    return (
        back.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .orderBy("source")
    )


SQL_ORC_ROUNDTRIP = """
SELECT source, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       min(doc_id) AS min_id, max(doc_id) AS max_id
FROM documents GROUP BY source ORDER BY source
"""
query(q_orc_roundtrip, SQL_ORC_ROUNDTRIP, bench=True)


def q_avro_roundtrip(spark, sf_dir):
    """Avro sink/source verified end-to-end: documents land as deflate
    Avro containers via the pure-Python spec codec (sources/avro_io.py
    — the pip distro has no spark-avro datasource; the codec is
    JVM-reference-parity-tested), one container per partition written
    task-side from Arrow batches, read back through binaryFile + the
    embedded writer schema; the per-source aggregate must equal the
    oracle's aggregate over the original table — value and null-union
    fidelity in one check."""
    from mhm_data_pipelines_spark.sources.avro_io import (
        read_avro,
        write_avro,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    dest = _scratch("mhm_avro_gate_") + "/docs"
    write_avro(docs.repartition(4), dest, codec="deflate")
    back = read_avro(spark, dest)
    return (
        back.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .orderBy("source")
    )


SQL_AVRO_ROUNDTRIP = """
SELECT source, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       min(doc_id) AS min_id, max(doc_id) AS max_id
FROM documents GROUP BY source ORDER BY source
"""
query(q_avro_roundtrip, SQL_AVRO_ROUNDTRIP, bench=True)


def q_stream_dim_join(spark, sf_dir):
    """Stream-static enrichment verified end-to-end: events arrive as
    TWO micro-batches, each joins the broadcast customer dimension
    inside foreachBatch and writes mergeable (n, sum) partials to its
    own batch_id partition (checkpoint-idempotent); the merged
    per-market-segment totals must equal the batch join + aggregate
    of the same rows (streaming/ingest.py enrich_stream)."""
    import os as _os
    import time as _time

    from mhm_data_pipelines_spark.streaming.ingest import (
        enrich_stream,
        read_enriched_table,
    )

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    dim = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    root = _scratch("mhm_stream_dj_")
    src = f"{root}/src"
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(
        f"{src}/b0"
    )
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(
        f"{src}/b1"
    )
    old = _time.time() - 3600
    for d, _, files in _os.walk(f"{src}/b0"):
        for fn in files:
            _os.utime(_os.path.join(d, fn), (old, old))
    stream = (
        spark.readStream.schema("event_id long, user_id long, value double")
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    writer = enrich_stream(
        stream,
        dim,
        on=["user_id"],
        group_cols=["c_mktsegment"],
        value_col="value",
        out_path=f"{root}/enriched",
        checkpoint=f"{root}/ck",
    )
    q = writer.trigger(availableNow=True).start()
    _await_drain(q, "stream_dim_join")
    merged = read_enriched_table(
        spark, f"{root}/enriched", ["c_mktsegment"]
    )
    return merged.select(
        "c_mktsegment",
        F.col("n").cast("long").alias("n"),
        F.round("s", 4).alias("sum_value"),
    ).orderBy("c_mktsegment")


SQL_STREAM_DIM_JOIN = """
SELECT c.c_mktsegment, count(*) AS n,
       round(sum(e.value), 4) AS sum_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment
"""
query(q_stream_dim_join, SQL_STREAM_DIM_JOIN, bench=True)



def q_embedding_whitening(spark, sf_dir):
    """ZCA whitening fitted on the distributed moment pass (d x d
    eigensolve driver-side, the only collect), applied per Arrow batch
    with the closure matrix; VERIFIED by the invariant oracle pattern
    (approx_sketch_bounds style): the whitened covariance must be the
    identity within tolerance on every upper-triangle cell — Spark
    emits the bound-check booleans, the oracle the expected grid of
    TRUE (operators/pca.py fit_whitening/whiten)."""
    from mhm_data_pipelines_spark.operators.pca import (
        covariance_long,
        fit_whitening,
        whiten,
    )

    df = _t(spark, sf_dir, "embeddings")
    mean, w = fit_whitening(df, dim=64, eps=1e-6)
    white = whiten(df, mean, w, out_col="white")
    cov = covariance_long(white, dim=64, vec_col="white")
    target = F.when(F.col("i") == F.col("j"), 1.0).otherwise(0.0)
    return cov.select(
        "i",
        "j",
        (F.abs(F.col("cov") - target) <= 0.05).alias("identity_ok"),
    ).orderBy("i", "j")


SQL_EMBEDDING_WHITENING = """
SELECT i.i, j.j, TRUE AS identity_ok
FROM (SELECT unnest(generate_series(0, 63)) AS i) i
CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS j) j
WHERE i.i <= j.j
ORDER BY i.i, j.j
"""
query(q_embedding_whitening, SQL_EMBEDDING_WHITENING, bench=True)


def q_source_concentration(spark, sf_dir):
    """Corpus concentration over sources, char-weighted: HHI + Gini of
    the source shares — the "one crawl dominating the mix" audit. One
    hash aggregate reduces the corpus to a groups-sized table; the
    Gini rank window runs over that metadata-sized table only
    (operators/profile.py concentration_report)."""
    from mhm_data_pipelines_spark.operators.profile import (
        concentration_report,
    )

    docs = _t(spark, sf_dir, "documents")
    return concentration_report(docs, "source", "n_chars")


SQL_SOURCE_CONCENTRATION = """
WITH g AS (
  SELECT source, CAST(sum(n_chars) AS DOUBLE) AS x
  FROM documents WHERE source IS NOT NULL GROUP BY source
), r AS (
  SELECT x, row_number() OVER (ORDER BY x, source) AS i FROM g
), s AS (
  SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS t,
         sum(i * x) AS ix, sum(x * x) AS xx
  FROM r
)
SELECT CAST(n AS BIGINT) AS n_groups, round(t, 6) AS total,
       round(xx / (t * t), 6) AS hhi,
       round(2.0 * ix / (n * t) - (n + 1) / n, 6) AS gini
FROM s
"""
query(q_source_concentration, SQL_SOURCE_CONCENTRATION, bench=True)


def q_doc_keywords(spark, sf_dir):
    """Per-doc keyword extraction: top-3 terms by tf * ln(N/df). One
    explode feeds TF and DF aggregates; ranking is a window
    PARTITIONED BY doc (never a global sort); rank on round(score, 6)
    with term tie-breaks (operators/retrieval.py doc_keywords)."""
    from mhm_data_pipelines_spark.operators.retrieval import doc_keywords

    docs = _t(spark, sf_dir, "documents")
    return doc_keywords(docs, topk=3).orderBy("doc_id", "rank")


SQL_DOC_KEYWORDS = f"""
WITH tok AS (
  SELECT doc_id, unnest({_SQL_TOKENS_LOWER}) AS term FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term
), dfq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), nd AS (
  SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.term,
         round(tf.tf * ln(nd.n_docs / dfq.df), 6) AS score
  FROM tf JOIN dfq USING (term) CROSS JOIN nd
), ranked AS (
  SELECT doc_id, term, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, term) AS rank
  FROM scored
)
SELECT doc_id, CAST(rank AS INTEGER) AS rank, term, score
FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank
"""
query(q_doc_keywords, SQL_DOC_KEYWORDS, bench=True)



def q_mutual_knn(spark, sf_dir):
    """Reciprocal best-match pairs: (a, b) kept only when each is the
    other's cosine top-1 — threshold-free positives for contrastive
    mining / duplicate confirmation. Top-1 via the exhaustive-probe
    IVF graph — EXPLICITLY exhaustive (nprobe = n_lists) because this
    gate row certifies exactness against the brute-force SQL twin; the
    production default is selective nprobe=8, whose recall the
    mutual_knn_recall row certifies (operators/similarity.py
    mutual_nearest_pairs)."""
    from mhm_data_pipelines_spark.operators.similarity import (
        label_centroids,
        mutual_nearest_pairs,
    )

    df = _t(spark, sf_dir, "embeddings")
    cents = [
        (r["label"], list(r["centroid"]))
        for r in label_centroids(df).collect()
    ]
    out = mutual_nearest_pairs(df, cents, nprobe=len(cents))
    return out.select(
        "id_a", "id_b", F.round("cosine", 4).alias("cosine")
    ).orderBy("id_a", "id_b")


SQL_MUTUAL_KNN = """
WITH p AS (
  SELECT a.vec_id AS qid, b.vec_id AS nid,
         list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                CAST(b.embedding AS DOUBLE[])) AS cos,
         row_number() OVER (
           PARTITION BY a.vec_id
           ORDER BY list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                           CAST(b.embedding AS DOUBLE[]))
                    DESC, b.vec_id) AS rk
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
), t AS (
  SELECT qid, nid, cos FROM p WHERE rk = 1
)
SELECT least(qid, nid) AS id_a, greatest(qid, nid) AS id_b,
       round(any_value(cos), 4) AS cosine
FROM t GROUP BY 1, 2 HAVING count(*) = 2
ORDER BY id_a, id_b
"""
query(q_mutual_knn, SQL_MUTUAL_KNN, bench=True)


def q_mutual_knn_recall(spark, sf_dir):
    """Recall certification for the SELECTIVE mutual-kNN default
    (same pattern as ivf_recall): mutual pairs under nprobe=2 of 8
    seeded data-independent lists vs the exhaustive-probe exact pairs,
    one-row summary (n_exact, n_selective, n_common, recall). The
    exhaustive graph is brute force in BLAS — this row is the evidence
    that the production selective plan (work ~ n x list x nprobe, not
    n^2) keeps the pairs that matter (operators/similarity.py
    mutual_nearest_pairs; VERDICT r5 #3)."""
    from mhm_data_pipelines_spark.operators.similarity import (
        mutual_nearest_pairs,
    )

    df = _t(spark, sf_dir, "embeddings")
    cents = _ivf_seeded_centroids()
    sel = mutual_nearest_pairs(df, cents, nprobe=2).select("id_a", "id_b")
    exact = mutual_nearest_pairs(df, cents, nprobe=len(cents)).select(
        "id_a", "id_b"
    )
    j = exact.join(
        sel.withColumn("_hit", F.lit(1)), ["id_a", "id_b"], "left"
    ).agg(
        F.count("*").alias("n_exact"),
        F.count("_hit").alias("n_common"),
        F.round(F.count("_hit") / F.count("*"), 4).alias("recall"),
    )
    n_sel = sel.agg(F.count("*").alias("n_selective"))
    # 1-row x 1-row scalar join (SINGLE_ROW_BROADCAST_OK)
    return j.crossJoin(n_sel).select(
        "n_exact", "n_selective", "n_common", "recall"
    )


def _mutual_knn_recall_oracle_sql(
    dim: int = 64, n_lists: int = 8, nprobe: int = 2, seed: int = 7
) -> str:
    """DuckDB twin of q_mutual_knn_recall: regenerates the seeded
    centroid literals and replays knn_graph's plan float-for-float —
    normalized-vector folds, greatest-struct assignment (ties to the
    LARGER list_id), sort_array-desc probes, top-1 per query by
    (cosine DESC, nid ASC), mutuality via the canonical pair key —
    for both the nprobe-selective and the exhaustive graphs."""
    import math
    import random

    rng = random.Random(seed)
    cents = []
    for _ in range(n_lists):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        cents.append([float(x) / n for x in v])

    sq = " + ".join(f"e[{i + 1}] * e[{i + 1}]" for i in range(dim))
    sim_selects = " UNION ALL ".join(
        f"SELECT vec_id, {j} AS list_id, ("
        + " + ".join(
            f"(e[{i + 1}] / nrm) * {c[i]!r}" for i in range(dim)
        )
        + ") AS sim FROM b"
        for j, c in enumerate(cents)
    )
    cos = " + ".join(
        f"(q.e[{i + 1}] / q.nrm) * (c.e[{i + 1}] / c.nrm)"
        for i in range(dim)
    )
    return f"""
WITH b AS (
  SELECT vec_id, e, sqrt({sq}) AS nrm
  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
), sims AS (
  {sim_selects}
), asn AS (
  SELECT vec_id, list_id FROM sims
  QUALIFY row_number() OVER (
    PARTITION BY vec_id ORDER BY sim DESC, list_id DESC) = 1
), probes AS (
  SELECT vec_id AS qid, list_id FROM sims
  QUALIFY row_number() OVER (
    PARTITION BY vec_id ORDER BY sim DESC, list_id DESC) <= {nprobe}
), sel_top1 AS (
  SELECT p.qid, a.vec_id AS nid
  FROM probes p
  JOIN asn a ON a.list_id = p.list_id AND a.vec_id <> p.qid
  JOIN b q ON q.vec_id = p.qid
  JOIN b c ON c.vec_id = a.vec_id
  QUALIFY row_number() OVER (
    PARTITION BY p.qid ORDER BY ({cos}) DESC, a.vec_id) = 1
), sel_pairs AS (
  SELECT least(qid, nid) AS id_a, greatest(qid, nid) AS id_b
  FROM sel_top1 GROUP BY 1, 2 HAVING count(*) = 2
), bf_top1 AS (
  SELECT q.vec_id AS qid, c.vec_id AS nid
  FROM b q JOIN b c ON q.vec_id <> c.vec_id
  QUALIFY row_number() OVER (
    PARTITION BY q.vec_id ORDER BY ({cos}) DESC, c.vec_id) = 1
), exact_pairs AS (
  SELECT least(qid, nid) AS id_a, greatest(qid, nid) AS id_b
  FROM bf_top1 GROUP BY 1, 2 HAVING count(*) = 2
)
SELECT (SELECT count(*) FROM exact_pairs) AS n_exact,
       (SELECT count(*) FROM sel_pairs) AS n_selective,
       (SELECT count(*) FROM exact_pairs e
        JOIN sel_pairs s ON e.id_a = s.id_a AND e.id_b = s.id_b)
         AS n_common,
       round((SELECT count(*) FROM exact_pairs e
              JOIN sel_pairs s ON e.id_a = s.id_a AND e.id_b = s.id_b)
             / CAST((SELECT count(*) FROM exact_pairs) AS DOUBLE), 4)
         AS recall
"""


SQL_MUTUAL_KNN_RECALL = _mutual_knn_recall_oracle_sql()
query(q_mutual_knn_recall, SQL_MUTUAL_KNN_RECALL)


def q_mutual_knn_selective(spark, sf_dir):
    """The PRODUCTION mutual-kNN plan: selective probing (nprobe=2 of
    8 seeded lists) — the shape that runs at 100 TB, where work is
    n x list_size x nprobe, never n^2. This key carries the bench +
    sf1-probe evidence for the selective default (the exhaustive
    mutual_knn row certifies exactness; mutual_knn_recall certifies
    what selectivity gives up). Full-value oracle: the seeded
    centroids regenerate in SQL, so the DuckDB twin replays the
    probe-restricted top-1 graph float-for-float."""
    from mhm_data_pipelines_spark.operators.similarity import (
        mutual_nearest_pairs,
    )

    df = _t(spark, sf_dir, "embeddings")
    out = mutual_nearest_pairs(df, _ivf_seeded_centroids(), nprobe=2)
    return out.select(
        "id_a", "id_b", F.round("cosine", 4).alias("cosine")
    ).orderBy("id_a", "id_b")


def _mutual_knn_selective_oracle_sql(
    dim: int = 64, n_lists: int = 8, nprobe: int = 2, seed: int = 7
) -> str:
    """DuckDB twin of q_mutual_knn_selective: the sel_pairs branch of
    _mutual_knn_recall_oracle_sql, keeping the pair cosine."""
    import math
    import random

    rng = random.Random(seed)
    cents = []
    for _ in range(n_lists):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        cents.append([float(x) / n for x in v])

    sq = " + ".join(f"e[{i + 1}] * e[{i + 1}]" for i in range(dim))
    sim_selects = " UNION ALL ".join(
        f"SELECT vec_id, {j} AS list_id, ("
        + " + ".join(
            f"(e[{i + 1}] / nrm) * {c[i]!r}" for i in range(dim)
        )
        + ") AS sim FROM b"
        for j, c in enumerate(cents)
    )
    cos = " + ".join(
        f"(q.e[{i + 1}] / q.nrm) * (c.e[{i + 1}] / c.nrm)"
        for i in range(dim)
    )
    return f"""
WITH b AS (
  SELECT vec_id, e, sqrt({sq}) AS nrm
  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
), sims AS (
  {sim_selects}
), asn AS (
  SELECT vec_id, list_id FROM sims
  QUALIFY row_number() OVER (
    PARTITION BY vec_id ORDER BY sim DESC, list_id DESC) = 1
), probes AS (
  SELECT vec_id AS qid, list_id FROM sims
  QUALIFY row_number() OVER (
    PARTITION BY vec_id ORDER BY sim DESC, list_id DESC) <= {nprobe}
), sel_top1 AS (
  SELECT p.qid, a.vec_id AS nid, ({cos}) AS cos
  FROM probes p
  JOIN asn a ON a.list_id = p.list_id AND a.vec_id <> p.qid
  JOIN b q ON q.vec_id = p.qid
  JOIN b c ON c.vec_id = a.vec_id
  QUALIFY row_number() OVER (
    PARTITION BY p.qid ORDER BY ({cos}) DESC, a.vec_id) = 1
)
SELECT least(qid, nid) AS id_a, greatest(qid, nid) AS id_b,
       round(any_value(cos), 4) AS cosine
FROM sel_top1 GROUP BY 1, 2 HAVING count(*) = 2
ORDER BY id_a, id_b
"""


SQL_MUTUAL_KNN_SELECTIVE = _mutual_knn_selective_oracle_sql()
query(q_mutual_knn_selective, SQL_MUTUAL_KNN_SELECTIVE, bench=True)


def q_basket_rules(spark, sf_dir):
    """Market-basket association rules over lineitem (parts
    co-purchased per order): one DISTINCT + basket-capped self-join
    emits C(m,2) pairs per order, marginals re-attach AQE-sized;
    support and lift in exact integer-derived doubles
    (operators/baskets.py association_rules). Top-100 by lift."""
    from mhm_data_pipelines_spark.operators.baskets import (
        association_rules,
    )

    li = _t(spark, sf_dir, "lineitem")
    out = association_rules(
        li, "l_orderkey", "l_partkey", min_pair_count=2
    )
    return out.orderBy(
        F.desc("lift"), F.desc("n_pair"), "item_a", "item_b"
    ).limit(100)


SQL_BASKET_RULES = """
WITH base AS (
  SELECT DISTINCT l_orderkey AS b, l_partkey AS it FROM lineitem
  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
), ok AS (
  SELECT b FROM base GROUP BY b HAVING count(*) <= 64
), sized AS (
  SELECT base.b, base.it FROM base JOIN ok USING (b)
), pairs AS (
  SELECT x.it AS item_a, y.it AS item_b, count(*) AS n_pair
  FROM sized x JOIN sized y ON x.b = y.b AND x.it < y.it
  GROUP BY 1, 2 HAVING count(*) >= 2
), marg AS (
  SELECT it, count(*) AS n_item FROM sized GROUP BY it
), nb AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_baskets FROM ok
)
SELECT p.item_a, p.item_b, p.n_pair,
       ma.n_item AS n_a, mb.n_item AS n_b,
       round(p.n_pair / nb.n_baskets, 6) AS support,
       round(nb.n_baskets * p.n_pair
             / (CAST(ma.n_item AS DOUBLE) * mb.n_item), 6) AS lift
FROM pairs p
JOIN marg ma ON ma.it = p.item_a
JOIN marg mb ON mb.it = p.item_b
CROSS JOIN nb
ORDER BY lift DESC, n_pair DESC, item_a, item_b LIMIT 100
"""
query(q_basket_rules, SQL_BASKET_RULES, bench=True)



def q_minhash_pr_curve(spark, sf_dir):
    """Self-evaluation of the MinHash pipeline: exact precision/recall
    of signature-agreement selection vs TRUE char-5-gram Jaccard at
    integer agreement thresholds m/32 for m in {26, 28, 30} — every
    threshold is above the banding-completeness bound (eq >= 25 is
    provably found), and the truth side is the EXACT prefix-filtered
    Jaccard self-join, so both sides are complete and the PR numbers
    are exact, not sampled. All threshold comparisons are integer
    arithmetic (32*inter >= m*union; eq >= m) — no float boundaries."""
    from mhm_data_pipelines_spark.operators.dedup import (
        minhash_near_duplicates,
    )
    from mhm_data_pipelines_spark.operators.setjoin import (
        prefix_jaccard_pairs,
    )

    df = _t(spark, sf_dir, "documents")
    est = minhash_near_duplicates(
        df,
        num_hashes=_MINHASH_N,
        bands=_MINHASH_BANDS,
        threshold=_MINHASH_EST_T,
        hash_family="md5",
        signatures=minhash_signatures(
            df, "text", "doc_id", _MINHASH_N, 5, "md5", attach_empty=False
        ).localCheckpoint(eager=False),
    ).select(
        "id_a",
        "id_b",
        F.round(F.col("est_jaccard") * _MINHASH_N).cast("int").alias("eq"),
    )
    sets = df.select(
        "doc_id", char_ngrams("text", 5, distinct=True).alias("toks")
    )
    tru = prefix_jaccard_pairs(sets, "doc_id", "toks", threshold_pct=81)
    both = est.join(
        tru.select("id_a", "id_b", "inter_len", "union_len"),
        ["id_a", "id_b"],
        "full_outer",
    )
    m = F.explode(F.array(F.lit(26), F.lit(28), F.lit(30))).alias("m")
    per = both.select("eq", "inter_len", "union_len", m)
    pred = F.col("eq").isNotNull() & (F.col("eq") >= F.col("m"))
    act = F.col("inter_len").isNotNull() & (
        F.lit(_MINHASH_N) * F.col("inter_len")
        >= F.col("m") * F.col("union_len")
    )
    agg = per.groupBy("m").agg(
        F.sum(pred.cast("long")).alias("n_pred"),
        F.sum(act.cast("long")).alias("n_true"),
        F.sum((pred & act).cast("long")).alias("n_both"),
    )
    return agg.select(
        F.round(F.col("m") / F.lit(float(_MINHASH_N)), 4).alias(
            "threshold"
        ),
        "n_pred",
        "n_true",
        "n_both",
        F.round(
            F.when(
                F.col("n_pred") > 0, F.col("n_both") / F.col("n_pred")
            ),
            6,
        ).alias("precision"),
        F.round(
            F.when(
                F.col("n_true") > 0, F.col("n_both") / F.col("n_true")
            ),
            6,
        ).alias("recall"),
    ).orderBy("threshold")


SQL_MINHASH_PR_CURVE = f"""
WITH norm AS (
  SELECT doc_id, lower(text) AS t FROM documents
), g AS (
  SELECT doc_id, substr(t, i, 5) AS sh
  FROM norm, LATERAL unnest(generate_series(1, len(t) - 4)) AS u(i)
  WHERE len(t) >= 5
), hashed AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(sh), 1, 15)) AS BIGINT)
           % {MINHASH_MD5_P} AS h1,
         CAST(('0x' || substr(md5(sh), 16, 15)) AS BIGINT)
           % {MINHASH_MD5_P - 1} + 1 AS h2
  FROM g
), sigs AS (
  SELECT doc_id, u.i,
         min((h1 + u.i * h2) % {MINHASH_MD5_P}) AS mh
  FROM hashed, LATERAL unnest(generate_series(0, {_MINHASH_N - 1})) AS u(i)
  GROUP BY doc_id, u.i
), est AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS eq
  FROM sigs a JOIN sigs b ON a.i = b.i AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING eq >= 25
), sets AS (
  SELECT doc_id, list_distinct(list_transform(
           generate_series(1, len(t) - 4), i -> substr(t, i, 5)
         )) AS s
  FROM norm WHERE len(t) >= 5
), tru AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         len(list_intersect(a.s, b.s)) AS i,
         len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS u
  FROM sets a JOIN sets b ON a.doc_id < b.doc_id
  WHERE 100 * len(list_intersect(a.s, b.s))
        >= 81 * (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
), fo AS (
  SELECT coalesce(e.id_a, t.id_a) AS id_a,
         coalesce(e.id_b, t.id_b) AS id_b, e.eq, t.i, t.u
  FROM est e FULL OUTER JOIN tru t
    ON e.id_a = t.id_a AND e.id_b = t.id_b
), th(m) AS (VALUES (26), (28), (30)), flags AS (
  SELECT th.m,
         (fo.eq IS NOT NULL AND fo.eq >= th.m) AS pred,
         (fo.i IS NOT NULL AND {_MINHASH_N} * fo.i >= th.m * fo.u) AS act
  FROM fo CROSS JOIN th
), agg AS (
  SELECT m, sum(CASE WHEN pred THEN 1 ELSE 0 END) AS n_pred,
         sum(CASE WHEN act THEN 1 ELSE 0 END) AS n_true,
         sum(CASE WHEN pred AND act THEN 1 ELSE 0 END) AS n_both
  FROM flags GROUP BY m
)
SELECT round(m / {_MINHASH_N}.0, 4) AS threshold,
       CAST(n_pred AS BIGINT) AS n_pred,
       CAST(n_true AS BIGINT) AS n_true,
       CAST(n_both AS BIGINT) AS n_both,
       round(CASE WHEN n_pred > 0
                  THEN CAST(n_both AS DOUBLE) / n_pred END, 6)
         AS precision,
       round(CASE WHEN n_true > 0
                  THEN CAST(n_both AS DOUBLE) / n_true END, 6)
         AS recall
FROM agg ORDER BY threshold
"""
# Not benched, for the reason given at prefix_jaccard.
query(q_minhash_pr_curve, SQL_MINHASH_PR_CURVE)



def q_scd2_intervals(spark, sf_dir):
    """SCD Type-2 history build: each per-user change becomes a
    validity interval (valid_to = next change, open row flagged
    current) — one lead window PARTITIONED BY the dimension key, never
    a global sort (operators/upsert.py scd2_history)."""
    from mhm_data_pipelines_spark.operators.upsert import scd2_history

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type"
    )
    out = scd2_history(ev, ["user_id"], "event_id")
    return out.select(
        "user_id", "event_id", "event_type", "valid_to", "is_current"
    ).orderBy("user_id", "event_id")


SQL_SCD2_INTERVALS = """
SELECT user_id, event_id, event_type,
       lead(event_id) OVER (PARTITION BY user_id
                            ORDER BY event_id) AS valid_to,
       lead(event_id) OVER (PARTITION BY user_id
                            ORDER BY event_id) IS NULL AS is_current
FROM events ORDER BY user_id, event_id
"""
query(q_scd2_intervals, SQL_SCD2_INTERVALS, bench=True)


def q_subject_erasure(spark, sf_dir):
    """Right-to-erasure end-to-end: events land as a parquet table
    partitioned by event_type, five subjects are physically erased via
    the partition-scoped anti-join rewrite (only touched partitions
    move, partition-atomic rename protocol), and the audit record plus
    the post-erasure counts must match the oracle's set arithmetic
    (operators/upsert.py erase_subjects)."""
    from mhm_data_pipelines_spark.operators.upsert import erase_subjects

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    dest = _scratch("mhm_erase_gate_") + "/tbl"
    ev.write.partitionBy("event_type").parquet(dest)
    subjects = spark.createDataFrame(
        [(1,), (2,), (3,), (4,), (5,)], "user_id long"
    )
    res = erase_subjects(dest, subjects, "user_id", "event_type")
    back = spark.read.parquet(dest)
    return back.agg(
        F.count("*").alias("rows_left"),
        F.sum(
            F.col("user_id").isin([1, 2, 3, 4, 5]).cast("long")
        ).alias("subject_rows_left"),
    ).select(
        F.lit(res["partitions_rewritten"]).cast("long").alias(
            "partitions_rewritten"
        ),
        F.lit(res["rows_erased"]).cast("long").alias("rows_erased"),
        F.col("rows_left").cast("long"),
        F.coalesce(F.col("subject_rows_left"), F.lit(0))
        .cast("long")
        .alias("subject_rows_left"),
    )


SQL_SUBJECT_ERASURE = """
SELECT
  CAST((SELECT count(DISTINCT event_type) FROM events
        WHERE user_id IN (1, 2, 3, 4, 5)) AS BIGINT)
    AS partitions_rewritten,
  CAST((SELECT count(*) FROM events
        WHERE user_id IN (1, 2, 3, 4, 5)) AS BIGINT) AS rows_erased,
  CAST((SELECT count(*) FROM events) AS BIGINT)
    - CAST((SELECT count(*) FROM events
            WHERE user_id IN (1, 2, 3, 4, 5)) AS BIGINT) AS rows_left,
  CAST(0 AS BIGINT) AS subject_rows_left
"""
query(q_subject_erasure, SQL_SUBJECT_ERASURE, bench=True)



def q_ab_ztest(spark, sf_dir):
    """A/B readout: pooled two-proportion z between 'purchase' and
    'click' conversion (value > 100) — one two-group hash aggregate,
    every division over integer counts
    (operators/stats_tests.py two_proportion_ztest)."""
    from mhm_data_pipelines_spark.operators.stats_tests import (
        two_proportion_ztest,
    )

    ev = _t(spark, sf_dir, "events").withColumn(
        "conv", (F.col("value") > 100).cast("int")
    )
    return two_proportion_ztest(
        ev, "event_type", "purchase", "click", "conv"
    )


SQL_AB_ZTEST = """
WITH base AS (
  SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ia,
         CASE WHEN value > 100 THEN 1 ELSE 0 END AS s
  FROM events
  WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')
), a AS (
  SELECT CAST(sum(ia) AS DOUBLE) AS na,
         CAST(sum(1 - ia) AS DOUBLE) AS nb,
         CAST(sum(ia * s) AS DOUBLE) AS sa,
         CAST(sum((1 - ia) * s) AS DOUBLE) AS sb
  FROM base
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       round(sa / na, 6) AS p_a, round(sb / nb, 6) AS p_b,
       round(CASE WHEN sb / nb > 0
                  THEN (sa / na) / (sb / nb) END, 6) AS risk_ratio,
       round(CASE WHEN (sa + sb) / (na + nb)
                       * (1.0 - (sa + sb) / (na + nb))
                       * (1.0 / na + 1.0 / nb) > 0
                  THEN (sa / na - sb / nb)
                       / sqrt((sa + sb) / (na + nb)
                              * (1.0 - (sa + sb) / (na + nb))
                              * (1.0 / na + 1.0 / nb))
             END, 6) AS z
FROM a
"""
query(q_ab_ztest, SQL_AB_ZTEST, bench=True)


def q_ivm_rollup(spark, sf_dir):
    """Incremental view maintenance verified end-to-end: events arrive
    as THREE batches (event_id mod 3); the standing per-(event_type,
    day) summary of mergeable partials is initialized from batch 0 and
    folded forward with bucket-scoped rewrites — each increment reads
    and rewrites ONLY the touched hash-bucket partitions, never the
    corpus (operators/ivm.py). The maintained view must equal the
    oracle's direct full-scan aggregate: maintained ≡ recomputed is
    the IVM correctness property itself."""
    from mhm_data_pipelines_spark.operators.ivm import (
        apply_increment,
        init_rollup_table,
        read_rollup,
    )

    ev = (
        _t(spark, sf_dir, "events")
        .withColumn("day", F.to_date("ts"))
        .select("event_id", "event_type", "day", "value")
    )
    root = _scratch("mhm_ivm_gate_")
    path = f"{root}/rollup"
    keys = ["event_type", "day"]
    init_rollup_table(
        spark,
        path,
        ev.filter(F.col("event_id") % 3 == 0),
        keys,
        "value",
        n_buckets=16,
    )
    for m in (1, 2):
        apply_increment(
            spark,
            path,
            ev.filter(F.col("event_id") % 3 == m),
            keys,
            "value",
        )
    view = read_rollup(spark, path, finalize=False)
    # mean/sd derived from the 2dp-ROUNDED sums so both engines divide
    # bit-identical doubles — one rounding roll per sum instead of an
    # independent 4dp boundary roll per derived statistic.
    rs1 = F.round("s1", 2)
    rs2 = F.round("s2", 2)
    rmean = rs1 / F.col("nn")
    rvar = F.greatest(rs2 / F.col("nn") - rmean * rmean, F.lit(0.0))
    return view.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n",
        "nn",
        rs1.alias("sum_value"),
        F.round("mn", 4).alias("min_value"),
        F.round("mx", 4).alias("max_value"),
        F.round(rmean, 6).alias("mean_value"),
        F.round(F.sqrt(rvar), 6).alias("sd_value"),
    ).orderBy("event_type", "day")


SQL_IVM_ROLLUP = """
WITH g AS (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
         count(*) AS n, count(value) AS nn,
         round(sum(value), 2) AS s1,
         round(sum(value * value), 2) AS s2,
         round(min(value), 4) AS min_value,
         round(max(value), 4) AS max_value
  FROM events
  GROUP BY event_type, strftime(ts, '%Y-%m-%d')
)
SELECT event_type, day, n, nn, s1 AS sum_value, min_value, max_value,
       round(s1 / nn, 6) AS mean_value,
       round(sqrt(greatest(s2 / nn - (s1 / nn) * (s1 / nn), 0.0)), 6)
         AS sd_value
FROM g ORDER BY event_type, day
"""
query(q_ivm_rollup, SQL_IVM_ROLLUP, bench=True)


def q_image_phash_neardup(spark, sf_dir):
    """Image near-duplicate detection through the FULL multimodal path:
    deterministic 16×16 PPM payloads are generated per doc_id (seed =
    doc_id%20 picks the pattern, variant = (doc_id//20)%3 brightens one
    2×2 cell — a planted near-dup family per seed), then REAL bytes →
    decode → integer-exact 64-bit aHash (multimodal.image_ahash) → the
    pigeonhole banded Hamming join (ahash_near_duplicates, never
    all-pairs). The oracle is fully independent: it replays the pixel
    arithmetic from the generating formula — never seeing the bytes or
    the decode path — and brute-forces all pairs, so a hash-match
    proves the whole encode→decode→sample→threshold→band-join pipeline
    bit-for-bit. Within-seed variants land at Hamming 0-5 (most ≤3),
    cross-seed patterns at ≥19, so max_hamming=3 yields a nontrivial
    subset of the planted families."""
    import numpy as np
    import pandas as pd

    from mhm_data_pipelines_spark.operators.multimodal import (
        ahash_near_duplicates,
        encode_ppm,
        image_ahash,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def gen(batches):
        y, x, c = np.meshgrid(
            np.arange(16), np.arange(16), np.arange(3), indexing="ij"
        )
        for pdf in batches:
            payloads = []
            for i in pdf["doc_id"]:
                seed = int(i) % 20
                p = (int(i) // 20) % 3
                v = (
                    (seed + 1) * 2654435761
                    + y * 40503
                    + x * 9973
                    + c * 31
                    + (y * 16 + x) * (seed + 3) * 137
                )
                if p > 0:
                    cy, cx = (p - 1) // 8, (p - 1) % 8
                    v = v + np.where(
                        (y // 2 == cy) & (x // 2 == cx), 180, 0
                    )
                payloads.append(encode_ppm((v % 256).astype(np.uint8)))
            yield pd.DataFrame(
                {"asset_id": pdf["doc_id"], "payload": payloads}
            )

    assets = docs.mapInPandas(gen, "asset_id long, payload binary")
    hashed = image_ahash(assets)
    # The planted aHash families concentrate on ~20 distinct values per
    # band chunk, so the in-bucket pair fan-out needs the salt to use
    # more than a handful of tasks (see hamming_near_duplicates).
    from mhm_data_pipelines_spark.session import default_parallelism

    return ahash_near_duplicates(
        hashed,
        max_hamming=3,
        salt_buckets=max(2, min(16, default_parallelism(spark))),
    ).orderBy("id_a", "id_b")


SQL_IMAGE_PHASH_NEARDUP = """
WITH grid AS (
  SELECT g1.generate_series AS gy, g2.generate_series AS gx
  FROM generate_series(0, 7) g1, generate_series(0, 7) g2
),
pix AS (  -- sampled pixel (2Y,2X): gray = sum of the 3 channel values
  SELECT d.doc_id, g.gy, g.gx,
         SUM(((d.doc_id % 20 + 1) * 2654435761
              + (2 * g.gy) * 40503 + (2 * g.gx) * 9973
              + ch.generate_series * 31
              + ((2 * g.gy) * 16 + 2 * g.gx) * (d.doc_id % 20 + 3) * 137
              + CASE WHEN (d.doc_id // 20) % 3 > 0
                      AND g.gy = ((d.doc_id // 20) % 3 - 1) // 8
                      AND g.gx = ((d.doc_id // 20) % 3 - 1) % 8
                     THEN 180 ELSE 0 END) % 256) AS gray
  FROM documents d, grid g, generate_series(0, 2) ch
  GROUP BY d.doc_id, g.gy, g.gx
),
bits AS (
  SELECT doc_id, gy, gx,
         CASE WHEN gray * 64 >= SUM(gray) OVER (PARTITION BY doc_id)
              THEN 1 ELSE 0 END AS b
  FROM pix
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(SUM(CASE WHEN a.b <> b.b THEN 1 ELSE 0 END) AS INT)
           AS hamming
  FROM bits a JOIN bits b
    ON a.gy = b.gy AND a.gx = b.gx AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b, hamming FROM pairs
WHERE hamming <= 3 ORDER BY id_a, id_b
"""
query(q_image_phash_neardup, SQL_IMAGE_PHASH_NEARDUP, bench=True)


def q_ols_trend(spark, sf_dir):
    """Per-(event_type, user-bucket) OLS trend of value over time —
    slope/intercept/r² from ONE hash aggregate of sufficient statistics
    (timeseries.ols_trend). x is day-scaled from a literal epoch
    ((µs − 2024-01-01)/86.4e9): raw epoch-seconds squared lose ~6
    digits to cancellation in nΣx²−(Σx)²; day-scale keeps every sum
    within exact-double range. round_sums=6 makes both engines derive
    the closed form from bit-identical doubles."""
    from mhm_data_pipelines_spark.operators.timeseries import ols_trend

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        (F.col("user_id") % 25).alias("user_bucket"),
        (
            (F.unix_micros("ts") - F.lit(1704067200000000))
            / F.lit(86400000000.0)
        ).alias("x"),
        F.col("value").alias("y"),
    )
    out = ols_trend(ev, ["event_type", "user_bucket"], "x", "y",
                    round_sums=6)
    return out.select(
        "event_type",
        "user_bucket",
        "n",
        F.round("slope", 6).alias("slope"),
        F.round("intercept", 6).alias("intercept"),
        F.round("r2", 6).alias("r2"),
    ).orderBy("event_type", "user_bucket")


SQL_OLS_TREND = """
WITH base AS (
  SELECT event_type, user_id % 25 AS user_bucket,
         (epoch_us(ts) - 1704067200000000) / 86400000000.0 AS x,
         value AS y
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
), s AS (
  SELECT event_type, user_bucket, count(*) AS n,
         round(sum(x), 6) AS sx, round(sum(y), 6) AS sy,
         round(sum(x * y), 6) AS sxy, round(sum(x * x), 6) AS sxx,
         round(sum(y * y), 6) AS syy
  FROM base GROUP BY event_type, user_bucket
)
SELECT event_type, user_bucket, n,
  round(CASE WHEN n * sxx - sx * sx > 0
             THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END, 6)
    AS slope,
  round(CASE WHEN n * sxx - sx * sx > 0
             THEN (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
                  / n END, 6) AS intercept,
  round(CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
             THEN (n * sxy - sx * sy) * (n * sxy - sx * sy)
                  / ((n * sxx - sx * sx) * (n * syy - sy * sy)) END, 6)
    AS r2
FROM s ORDER BY event_type, user_bucket
"""
query(q_ols_trend, SQL_OLS_TREND, bench=True)


def q_winsorize_stats(spark, sf_dir):
    """Per-event-type winsorization at the exact [p05, p95] band
    (repair.winsorize): heavy-tail repair that KEEPS clipped rows at
    the boundary instead of dropping them. The zero-shuffle clamp is
    verified through its per-group aggregate: clip counts and the
    post-clamp sum/min/max must match the oracle's quantile_cont
    replay."""
    from mhm_data_pipelines_spark.operators.repair import winsorize

    ev = _t(spark, sf_dir, "events").select("event_type", "value")
    w = winsorize(ev, "value", ["event_type"], 0.05, 0.95, flag=True)
    return (
        w.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum((F.col("value_clipped") == -1).cast("long")).alias(
                "n_clip_lo"
            ),
            F.sum((F.col("value_clipped") == 1).cast("long")).alias(
                "n_clip_hi"
            ),
            F.round(F.sum("value_w"), 2).alias("sum_w"),
            F.round(F.min("value_w"), 6).alias("min_w"),
            F.round(F.max("value_w"), 6).alias("max_w"),
        )
        .orderBy("event_type")
    )


SQL_WINSORIZE_STATS = """
WITH b AS (
  SELECT event_type,
         quantile_cont(value, 0.05) AS lo,
         quantile_cont(value, 0.95) AS hi
  FROM events GROUP BY event_type
)
SELECT e.event_type, count(*) AS n,
       CAST(sum(CASE WHEN e.value < b.lo THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clip_lo,
       CAST(sum(CASE WHEN e.value > b.hi THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clip_hi,
       round(sum(least(greatest(e.value, b.lo), b.hi)), 2) AS sum_w,
       round(min(least(greatest(e.value, b.lo), b.hi)), 6) AS min_w,
       round(max(least(greatest(e.value, b.lo), b.hi)), 6) AS max_w
FROM events e JOIN b ON e.event_type = b.event_type
GROUP BY e.event_type ORDER BY e.event_type
"""
query(q_winsorize_stats, SQL_WINSORIZE_STATS, bench=True)


def q_bootstrap_ci(spark, sf_dir):
    """Per-event-type Poisson-bootstrap 95% CI for the mean value
    (stats_tests.poisson_bootstrap_ci, 200 replicates): every (row,
    replicate) weight is a deterministic md5-seeded Poisson(1) draw,
    replicate means are one hash aggregate over the codegen-exploded
    stream, the CI is the exact interpolated percentile of the 200
    means. The oracle replays the identical resample — same md5 draw,
    same CDF literals, same rounded-sum discipline — so the full
    resampling distribution is verified, not just the interval."""
    from mhm_data_pipelines_spark.operators.stats_tests import (
        poisson_bootstrap_ci,
    )

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    out = poisson_bootstrap_ci(
        ev, "value", "event_id", keys=["event_type"], n_boot=200, seed=42
    )
    return out.select(
        "event_type",
        "n",
        F.round("mean", 6).alias("mean"),
        F.round("ci_lo", 6).alias("ci_lo"),
        F.round("ci_hi", 6).alias("ci_hi"),
    ).orderBy("event_type")


def _sql_bootstrap_ci() -> str:
    from mhm_data_pipelines_spark.operators.stats_tests import POISSON1_CDF

    case = " ".join(
        f"WHEN u < {POISSON1_CDF[k]!r} THEN {k}"
        for k in range(len(POISSON1_CDF))
    )
    return f"""
WITH reps AS (
  SELECT e.event_type, e.value, b.generate_series AS b,
         CAST(('0x' || substr(md5(CAST(e.event_id AS VARCHAR) || '#'
                || CAST(b.generate_series AS VARCHAR) || ':42'),
                1, 15)) AS BIGINT) / 1152921504606846976.0 AS u
  FROM events e, generate_series(0, 199) b
  WHERE e.value IS NOT NULL
), wt AS (
  SELECT event_type, b, value,
         CASE {case} ELSE {len(POISSON1_CDF)} END AS w
  FROM reps
), boot AS (
  SELECT event_type, b,
         round(sum(w * value), 6) AS sw,
         CAST(sum(w) AS DOUBLE) AS ww
  FROM wt GROUP BY event_type, b
), ci AS (
  SELECT event_type,
         quantile_cont(CASE WHEN ww > 0 THEN sw / ww END, 0.025)
           AS ci_lo,
         quantile_cont(CASE WHEN ww > 0 THEN sw / ww END, 0.975)
           AS ci_hi
  FROM boot GROUP BY event_type
), pt AS (
  SELECT event_type, count(value) AS n,
         round(sum(value), 6) / count(value) AS mean
  FROM events WHERE value IS NOT NULL GROUP BY event_type
)
SELECT pt.event_type, pt.n, round(pt.mean, 6) AS mean,
       round(ci.ci_lo, 6) AS ci_lo, round(ci.ci_hi, 6) AS ci_hi
FROM pt JOIN ci USING (event_type) ORDER BY pt.event_type
"""


SQL_BOOTSTRAP_CI = _sql_bootstrap_ci()
query(q_bootstrap_ci, SQL_BOOTSTRAP_CI, bench=True)


def q_kmeans_iters(spark, sf_dir):
    """Distributed Lloyd's k-means over the embedding corpus, verified
    ROUND BY ROUND: k=8 clusters, exactly 2 update rounds from a pinned
    deterministic init (the first 8 vectors by vec_id), then a final
    assignment report (cluster sizes + mean cosine to the assigned
    centroid). The DuckDB oracle unrolls the SAME two Lloyd rounds as a
    CTE chain, so convergence behavior — not just the end state — is
    cross-engine verified.

    Scale shape (similarity.train_kmeans/kmeans_assign): assignment is
    a literal-centroid projection (ZERO shuffle — the corpus never
    moves), each update is one posexplode hash-aggregate collecting
    only the k x d centroid matrix, and every round is an independent
    job over the base relation so lineage never grows. round_means=6
    (round-half-up = SQL round) keeps both engines' centroids
    6-digit-identical between rounds."""
    from mhm_data_pipelines_spark.functions.vectors import normalize
    from mhm_data_pipelines_spark.operators.similarity import (
        kmeans_assign,
        train_kmeans,
    )

    df = _t(spark, sf_dir, "embeddings")
    init_rows = (
        df.filter(F.col("vec_id") < 8)
        .select("vec_id", normalize("embedding").alias("v"))
        .filter(F.col("v").isNotNull())
        .orderBy("vec_id")
        .collect()  # k rows — metadata-sized by construction
    )
    cents = train_kmeans(
        df,
        max_iter=2,
        tol=0.0,
        init_centroids=[list(r["v"]) for r in init_rows],
        round_means=6,
    )
    out = kmeans_assign(df, cents)
    return (
        out.groupBy("list_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.round(F.avg("cosine"), 4).alias("mean_cosine"),
        )
        .orderBy("list_id")
    )


def _sql_kmeans_iters(k: int = 8, rounds: int = 2) -> str:
    """DuckDB twin of q_kmeans_iters: the identical Lloyd recursion
    unrolled as CTEs. list_cosine_similarity is scale-invariant, so the
    SQL centroids stay un-renormalized (Spark re-normalizes literals —
    mathematically the same cosine); means aggregate the same
    L2-normalized components rounded to the same 6 digits; ties break
    to the highest list_id exactly like Spark's lexicographic
    greatest-of-structs; empty clusters carry the previous centroid
    via the LEFT JOIN coalesce."""
    assign = """
{a} AS (
  SELECT vec_id, vn, list_id{keep} FROM (
    SELECT v.vec_id, v.vn, c.list_id,
           list_cosine_similarity(v.vn, c.c) AS sim,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY list_cosine_similarity(v.vn, c.c) DESC,
                      c.list_id DESC) AS rn
    FROM v CROSS JOIN {c} c) WHERE rn = 1
)"""
    update = """
{m} AS (
  SELECT list_id, list(m ORDER BY pos) AS c FROM (
    SELECT list_id, pos, round(avg(val), 6) AS m FROM (
      SELECT list_id, unnest(vn) AS val,
             unnest(range(1, len(vn) + 1)) AS pos
      FROM {a}) GROUP BY list_id, pos) GROUP BY list_id
),
{cn} AS (
  SELECT {cp}.list_id, coalesce({m}.c, {cp}.c) AS c
  FROM {cp} LEFT JOIN {m} USING (list_id)
)"""
    parts = [
        f"""raw AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
  WHERE embedding IS NOT NULL
), v AS (
  SELECT vec_id,
         list_transform(e, x -> x / sqrt(list_dot_product(e, e))) AS vn
  FROM raw WHERE list_dot_product(e, e) > 0
), c0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS list_id, vn AS c
  FROM v WHERE vec_id < {k}
)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            assign.format(a=f"a{r}", c=f"c{r - 1}", keep="").strip()
        )
        parts.append(
            update.format(
                m=f"m{r}", a=f"a{r}", cn=f"c{r}", cp=f"c{r - 1}"
            ).strip()
        )
    parts.append(
        assign.format(a="afin", c=f"c{rounds}", keep=", sim").strip()
    )
    ctes = ",\n".join(parts)
    return f"""
WITH {ctes}
SELECT list_id, count(*) AS n_members,
       round(avg(sim), 4) AS mean_cosine
FROM afin GROUP BY list_id ORDER BY list_id
"""


SQL_KMEANS_ITERS = _sql_kmeans_iters()
query(q_kmeans_iters, SQL_KMEANS_ITERS, bench=True)


def q_anova_f(spark, sf_dir):
    """Per-user-bucket one-way ANOVA F of value across event types
    (stats_tests.anova_oneway): did the event-type means separate
    within each cohort? One hash aggregate on (bucket, type) to
    sufficient statistics, then a bucket-sized closed form —
    round_sums=6 keeps both engines' doubles identical."""
    from mhm_data_pipelines_spark.operators.stats_tests import anova_oneway

    ev = _t(spark, sf_dir, "events").select(
        (F.col("user_id") % 10).alias("user_bucket"),
        "event_type",
        "value",
    )
    out = anova_oneway(ev, "value", "event_type", ["user_bucket"])
    return out.select(
        "user_bucket",
        "k_groups",
        "n",
        F.round("ss_between", 6).alias("ss_between"),
        F.round("ss_within", 6).alias("ss_within"),
        F.round("f_stat", 6).alias("f_stat"),
    ).orderBy("user_bucket")


SQL_ANOVA_F = """
WITH pg AS (
  SELECT user_id % 10 AS user_bucket, event_type, count(*) AS ng,
         round(sum(value), 6) AS sg,
         round(sum(value * value), 6) AS qg
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
  GROUP BY 1, 2
), t AS (
  SELECT user_bucket, count(*) AS k_groups,
         CAST(sum(ng) AS BIGINT) AS n, sum(sg) AS s,
         sum(sg * sg / ng) AS ssb_raw,
         sum(qg - sg * sg / ng) AS ssw
  FROM pg GROUP BY user_bucket
)
SELECT user_bucket, k_groups, n,
  round(ssb_raw - s * s / n, 6) AS ss_between,
  round(ssw, 6) AS ss_within,
  round(CASE WHEN k_groups > 1 AND n > k_groups AND ssw > 0
        THEN ((ssb_raw - s * s / n) / (k_groups - 1))
             / (ssw / (n - k_groups)) END, 6) AS f_stat
FROM t ORDER BY user_bucket
"""
query(q_anova_f, SQL_ANOVA_F, bench=True)


def q_variance_homogeneity(spark, sf_dir):
    """Per-user-bucket Brown-Forsythe W across event types
    (stats_tests.brown_forsythe): did the SPREADS diverge, not just the
    means — median-centered (robust Levene), exact quantile_cont
    medians, deviations rounded to 6 digits so both engines feed the
    ANOVA identical inputs."""
    from mhm_data_pipelines_spark.operators.stats_tests import (
        brown_forsythe,
    )

    ev = _t(spark, sf_dir, "events").select(
        (F.col("user_id") % 5).alias("user_bucket"),
        "event_type",
        "value",
    )
    out = brown_forsythe(ev, "value", "event_type", ["user_bucket"])
    return out.select(
        "user_bucket",
        "k_groups",
        "n",
        F.round("ss_between", 6).alias("ss_between"),
        F.round("ss_within", 6).alias("ss_within"),
        F.round("f_stat", 6).alias("w_stat"),
    ).orderBy("user_bucket")


SQL_VARIANCE_HOMOGENEITY = """
WITH med AS (
  SELECT user_id % 5 AS user_bucket, event_type,
         quantile_cont(value, 0.5) AS m
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
  GROUP BY 1, 2
), z AS (
  SELECT e.user_id % 5 AS user_bucket, e.event_type,
         round(abs(e.value - med.m), 6) AS z
  FROM events e
  JOIN med ON e.user_id % 5 = med.user_bucket
          AND e.event_type = med.event_type
  WHERE e.value IS NOT NULL
), pg AS (
  SELECT user_bucket, event_type, count(*) AS ng,
         round(sum(z), 6) AS sg, round(sum(z * z), 6) AS qg
  FROM z GROUP BY 1, 2
), t AS (
  SELECT user_bucket, count(*) AS k_groups,
         CAST(sum(ng) AS BIGINT) AS n, sum(sg) AS s,
         sum(sg * sg / ng) AS ssb_raw,
         sum(qg - sg * sg / ng) AS ssw
  FROM pg GROUP BY user_bucket
)
SELECT user_bucket, k_groups, n,
  round(ssb_raw - s * s / n, 6) AS ss_between,
  round(ssw, 6) AS ss_within,
  round(CASE WHEN k_groups > 1 AND n > k_groups AND ssw > 0
        THEN ((ssb_raw - s * s / n) / (k_groups - 1))
             / (ssw / (n - k_groups)) END, 6) AS w_stat
FROM t ORDER BY user_bucket
"""
query(q_variance_homogeneity, SQL_VARIANCE_HOMOGENEITY, bench=True)


def q_acf_lags(spark, sf_dir):
    """Per-event-type autocorrelation function, lags 1-3
    (timeseries.acf): one partitioned window pass produces ALL lag
    leads (one shuffle, no self-joins), one hash aggregate per series,
    standard full-series-normalizer estimator. Ordered by (ts,
    event_id) — a deterministic total order both engines replay."""
    from mhm_data_pipelines_spark.operators.timeseries import acf

    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select("event_type", "ts", "event_id", "value")
    )
    out = acf(
        ev, ["event_type"], ["ts", "event_id"], "value", max_lag=3,
        round_sums=6,
    )
    return out.select(
        "event_type",
        "lag",
        "n_pairs",
        F.round("r", 6).alias("r"),
    ).orderBy("event_type", "lag")


def _sql_acf_lags(max_lag: int = 3) -> str:
    lags = range(1, max_lag + 1)
    leads = ",\n         ".join(
        f"lead(value, {g}) OVER w AS y{g}" for g in lags
    )
    sums = ",\n         ".join(
        f"""count(CASE WHEN value IS NOT NULL AND y{g} IS NOT NULL
               THEN 1 END) AS np{g},
         round(sum(value * y{g}), 6) AS sxy{g},
         round(sum(CASE WHEN y{g} IS NOT NULL THEN value END), 6) AS sx{g},
         round(sum(CASE WHEN value IS NOT NULL THEN y{g} END), 6) AS sy{g}"""
        for g in lags
    )
    arms = "\n  UNION ALL\n".join(
        f"""  SELECT event_type, {g} AS lag, np{g} AS n_pairs,
    round(CASE WHEN q - (n * (s / n)) * (s / n) > 0
      THEN (sxy{g} - (s / n) * sx{g} - (s / n) * sy{g}
            + (np{g} * (s / n)) * (s / n))
           / (q - (n * (s / n)) * (s / n)) END, 6) AS r
  FROM st"""
        for g in lags
    )
    return f"""
WITH base AS (
  SELECT event_type, value,
         {leads}
  FROM events WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
), st AS (
  SELECT event_type, count(value) AS n, round(sum(value), 6) AS s,
         round(sum(value * value), 6) AS q,
         {sums}
  FROM base GROUP BY event_type
)
SELECT event_type, lag, n_pairs, r FROM (
{arms}
) ORDER BY event_type, lag
"""


SQL_ACF_LAGS = _sql_acf_lags()
query(q_acf_lags, SQL_ACF_LAGS, bench=True)


def q_randomization_test(spark, sf_dir):
    """Randomization test for the purchase-vs-view mean-value gap
    (stats_tests.randomization_test, 199 replicates): every (row,
    replicate) pseudo-assignment is a deterministic md5 draw compared
    against the observed n_a/n, so the oracle replays the IDENTICAL
    resampling distribution — the extreme-count is integer-verified,
    not just the interval."""
    from mhm_data_pipelines_spark.operators.stats_tests import (
        randomization_test,
    )

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    return randomization_test(
        ev, "value", "event_type", "purchase", "view", "event_id",
        n_perm=199, seed=42,
    )


SQL_RANDOMIZATION_TEST = """
WITH base AS (
  SELECT event_id AS id,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ia,
         value AS y
  FROM events
  WHERE value IS NOT NULL AND event_type IN ('purchase', 'view')
), obs AS (
  SELECT CAST(sum(ia) AS BIGINT) AS n_a,
         CAST(sum(1 - ia) AS BIGINT) AS n_b,
         round(round(sum(ia * y), 6) / sum(ia)
               - round(sum((1 - ia) * y), 6) / sum(1 - ia), 6) AS diff_obs
  FROM base
), reps AS (
  SELECT b.y, r.generate_series AS rep,
         CAST(('0x' || substr(md5(CAST(b.id AS VARCHAR) || '#'
                || CAST(r.generate_series AS VARCHAR) || ':42'),
                1, 15)) AS BIGINT) / 1152921504606846976.0 AS u
  FROM base b, generate_series(0, 198) r
), tagged AS (
  SELECT rep, y,
         CASE WHEN u < (SELECT CAST(n_a AS DOUBLE) / (n_a + n_b)
                        FROM obs)
              THEN 1 ELSE 0 END AS pa
  FROM reps
), per AS (
  SELECT rep, round(sum(pa * y), 6) AS sa,
         round(sum((1 - pa) * y), 6) AS sb,
         sum(pa) AS ka, sum(1 - pa) AS kb
  FROM tagged GROUP BY rep
), diffs AS (
  SELECT round(CASE WHEN ka > 0 AND kb > 0
               THEN sa / ka - sb / kb END, 6) AS dd
  FROM per
)
SELECT o.n_a, o.n_b, o.diff_obs,
       CAST(sum(CASE WHEN abs(d.dd) >= abs(o.diff_obs)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme,
       round((1 + sum(CASE WHEN abs(d.dd) >= abs(o.diff_obs)
                      THEN 1 ELSE 0 END)) / 200.0, 6) AS p_two_sided
FROM diffs d CROSS JOIN obs o
GROUP BY o.n_a, o.n_b, o.diff_obs
"""
query(q_randomization_test, SQL_RANDOMIZATION_TEST, bench=True)


def q_constraint_report(spark, sf_dir):
    """Declarative expectations suite over orders (validate.
    validate_constraints): six contract rules — not-null, key
    uniqueness, price range, status set, priority regex, and
    referential integrity against customer. The five row-local rules
    compile into ONE aggregate over ONE scan; uniqueness adds one
    distinct-agg; the ref check joins the broadcast-sized distinct
    dimension keys. Violation counts are exact integers — the
    strongest possible oracle."""
    from mhm_data_pipelines_spark.operators.validate import (
        validate_constraints,
    )

    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    rules = [
        {"name": "custkey_not_null", "kind": "not_null",
         "col": "o_custkey"},
        {"name": "orderkey_unique", "kind": "unique",
         "cols": ["o_orderkey"]},
        {"name": "price_range", "kind": "range", "col": "o_totalprice",
         "min": 0.0, "max": 600000.0},
        {"name": "status_set", "kind": "in_set", "col": "o_orderstatus",
         "values": ["O", "F", "P"]},
        {"name": "priority_regex", "kind": "regex",
         "col": "o_orderpriority", "pattern": "^[1-5]-"},
        {"name": "custkey_in_customer", "kind": "ref_integrity",
         "col": "o_custkey", "ref": "customer", "ref_col": "c_custkey"},
    ]
    return validate_constraints(
        orders, rules, refs={"customer": customer}
    ).orderBy("rule")


SQL_CONSTRAINT_REPORT = """
WITH t AS (SELECT count(*) AS total FROM orders)
SELECT rule, kind, violations, total, violations = 0 AS passed
FROM (
  SELECT 'custkey_not_null' AS rule, 'not_null' AS kind,
         CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS violations,
         (SELECT total FROM t) AS total
  FROM orders
  UNION ALL
  SELECT 'orderkey_unique', 'unique',
         CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT),
         (SELECT total FROM t)
  FROM orders
  UNION ALL
  SELECT 'price_range', 'range',
         CAST(sum(CASE WHEN o_totalprice IS NOT NULL
                        AND NOT (o_totalprice >= 0.0
                                 AND o_totalprice <= 600000.0)
                  THEN 1 ELSE 0 END) AS BIGINT),
         (SELECT total FROM t)
  FROM orders
  UNION ALL
  SELECT 'status_set', 'in_set',
         CAST(sum(CASE WHEN o_orderstatus IS NOT NULL
                        AND o_orderstatus NOT IN ('O', 'F', 'P')
                  THEN 1 ELSE 0 END) AS BIGINT),
         (SELECT total FROM t)
  FROM orders
  UNION ALL
  SELECT 'priority_regex', 'regex',
         CAST(sum(CASE WHEN o_orderpriority IS NOT NULL
                        AND NOT regexp_matches(o_orderpriority,
                                               '^[1-5]-')
                  THEN 1 ELSE 0 END) AS BIGINT),
         (SELECT total FROM t)
  FROM orders
  UNION ALL
  SELECT 'custkey_in_customer', 'ref_integrity',
         CAST(sum(CASE WHEN o.o_custkey IS NOT NULL
                        AND c.c_custkey IS NULL
                  THEN 1 ELSE 0 END) AS BIGINT),
         (SELECT total FROM t)
  FROM orders o
  LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
    ON o.o_custkey = c.c_custkey
) ORDER BY rule
"""
query(q_constraint_report, SQL_CONSTRAINT_REPORT, bench=True)


def q_quantile_norm(spark, sf_dir):
    """Per-source quantile normalization of document lengths
    (repair.quantile_normalize, 101-knot grid): every source's score
    distribution maps onto the global one — the precondition for
    mixing quality scores from heterogeneous sources. Verified through
    per-source aggregates of the normalized values (the invariant: all
    sources now share the global range). The grid is one bounded
    collect embedded as literals; the only shuffle is the per-source
    percent_rank window."""
    from mhm_data_pipelines_spark.operators.repair import (
        quantile_normalize,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "source", F.col("n_chars").cast("double").alias("score")
    )
    out = quantile_normalize(docs, "score", "source", n_quantiles=101)
    return (
        out.filter(F.col("score").isNotNull())
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("score_qnorm"), 4).alias("mean_qnorm"),
            F.round(F.min("score_qnorm"), 4).alias("min_qnorm"),
            F.round(F.max("score_qnorm"), 4).alias("max_qnorm"),
        )
        .orderBy("source")
    )


def _sql_quantile_norm(n_quantiles: int = 101) -> str:
    b1 = n_quantiles - 1
    probs = ", ".join(repr(i / b1) for i in range(n_quantiles))
    return f"""
WITH nn AS (
  SELECT source, CAST(n_chars AS DOUBLE) AS v FROM documents
  WHERE n_chars IS NOT NULL
), g AS (
  SELECT list_transform(quantile_cont(v, [{probs}]),
                        x -> round(x, 6)) AS gq
  FROM nn
), ranked AS (
  SELECT source, v,
         percent_rank() OVER (PARTITION BY source ORDER BY v) AS p
  FROM nn
), mapped AS (
  SELECT source,
         CAST(least(floor(p * {b1}), {b1 - 1}) AS INT) AS idx,
         p * {b1} - CAST(least(floor(p * {b1}), {b1 - 1}) AS INT)
           AS frac
  FROM ranked
), qn AS (
  SELECT m.source,
         g.gq[m.idx + 1] * (1 - m.frac) + g.gq[m.idx + 2] * m.frac AS q
  FROM mapped m CROSS JOIN g
)
SELECT source, count(*) AS n, round(avg(q), 4) AS mean_qnorm,
       round(min(q), 4) AS min_qnorm, round(max(q), 4) AS max_qnorm
FROM qn GROUP BY source ORDER BY source
"""


SQL_QUANTILE_NORM = _sql_quantile_norm()
query(q_quantile_norm, SQL_QUANTILE_NORM, bench=True)


def q_ccf_lags(spark, sf_dir):
    """Cross-correlation between the hourly click and purchase count
    series, lags -3..+3 (timeseries.ccf): does purchasing trail
    clicking, and by how many hours? The series frame is a bounded
    hourly rollup (one row per hour), so the single global window is
    metadata-sized; all 7 shifted copies come from ONE window pass."""
    from mhm_data_pipelines_spark.operators.timeseries import ccf

    ev = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    hourly = ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("h")).agg(
        F.sum((F.col("event_type") == "click").cast("long"))
        .cast("double")
        .alias("x"),
        F.sum((F.col("event_type") == "purchase").cast("long"))
        .cast("double")
        .alias("y"),
    )
    out = ccf(hourly, [], ["h"], "x", "y", max_lag=3, round_sums=6)
    return out.select(
        "lag", "n_pairs", F.round("r", 6).alias("r")
    ).orderBy("lag")


def _sql_ccf_lags(max_lag: int = 3) -> str:
    lags = list(range(-max_lag, max_lag + 1))

    def tag(lag: int) -> str:
        return f"m{-lag}" if lag < 0 else f"p{lag}"

    shifts = ",\n         ".join(
        (
            f"lead(y, {g}) OVER w AS s{tag(g)}"
            if g >= 0
            else f"lag(y, {-g}) OVER w AS s{tag(g)}"
        )
        for g in lags
    )
    sums = ",\n         ".join(
        f"""count(CASE WHEN x IS NOT NULL AND s{tag(g)} IS NOT NULL
               THEN 1 END) AS np_{tag(g)},
         round(sum(x * s{tag(g)}), 6) AS sxy_{tag(g)},
         round(sum(CASE WHEN s{tag(g)} IS NOT NULL THEN x END), 6)
           AS sa_{tag(g)},
         round(sum(CASE WHEN x IS NOT NULL THEN s{tag(g)} END), 6)
           AS sb_{tag(g)}"""
        for g in lags
    )
    arms = "\n  UNION ALL\n".join(
        f"""  SELECT {g} AS lag, np_{tag(g)} AS n_pairs,
    round(CASE WHEN sqrt((qx - (nx * (sx / nx)) * (sx / nx))
                    * (qy - (ny * (sy / ny)) * (sy / ny))) > 0
      THEN (sxy_{tag(g)} - (sy / ny) * sa_{tag(g)}
            - (sx / nx) * sb_{tag(g)}
            + (np_{tag(g)} * (sx / nx)) * (sy / ny))
           / sqrt((qx - (nx * (sx / nx)) * (sx / nx))
                  * (qy - (ny * (sy / ny)) * (sy / ny)))
      END, 6) AS r
  FROM st"""
        for g in lags
    )
    return f"""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS DOUBLE) AS x,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS DOUBLE) AS y
  FROM events WHERE ts IS NOT NULL GROUP BY 1
), base AS (
  SELECT x, y,
         {shifts}
  FROM hourly WINDOW w AS (ORDER BY h)
), st AS (
  SELECT count(x) AS nx, round(sum(x), 6) AS sx,
         round(sum(x * x), 6) AS qx,
         count(y) AS ny, round(sum(y), 6) AS sy,
         round(sum(y * y), 6) AS qy,
         {sums}
  FROM base
)
SELECT lag, n_pairs, r FROM (
{arms}
) ORDER BY lag
"""


SQL_CCF_LAGS = _sql_ccf_lags()
query(q_ccf_lags, SQL_CCF_LAGS, bench=True)


def q_stream_constraints(spark, sf_dir):
    """Streaming data-contract enforcement verified end-to-end: events
    arrive as TWO micro-batches, each runs the declarative constraint
    suite inside foreachBatch and writes its per-rule violation counts
    to its own batch_id partition (checkpoint-idempotent overwrite);
    the merged report must equal the batch suite over all rows
    (streaming/ingest.validate_stream — counts are mergeable sums, so
    micro-batch boundaries can't change the verdict)."""
    import os as _os
    import time as _time

    from mhm_data_pipelines_spark.streaming.ingest import (
        read_validation_table,
        validate_stream,
    )

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    dim = _t(spark, sf_dir, "customer").select("c_custkey")
    root = _scratch("mhm_stream_val_")
    src = f"{root}/src"
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(
        f"{src}/b0"
    )
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(
        f"{src}/b1"
    )
    old = _time.time() - 3600
    for d, _, files in _os.walk(f"{src}/b0"):
        for fn in files:
            _os.utime(_os.path.join(d, fn), (old, old))
    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, event_type string, "
            "value double"
        )
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    rules = [
        {"name": "value_not_null", "kind": "not_null", "col": "value"},
        {"name": "value_range", "kind": "range", "col": "value",
         "min": 0.0, "max": 100.0},
        {"name": "type_set", "kind": "in_set", "col": "event_type",
         "values": ["click", "view", "purchase", "signup", "error"]},
        {"name": "user_in_customer", "kind": "ref_integrity",
         "col": "user_id", "ref": "customer", "ref_col": "c_custkey"},
    ]
    writer = validate_stream(
        stream,
        rules,
        out_path=f"{root}/report",
        checkpoint=f"{root}/ck",
        refs={"customer": dim},
    )
    q = writer.trigger(availableNow=True).start()
    _await_drain(q, "stream_constraints")
    return read_validation_table(spark, f"{root}/report").orderBy("rule")


SQL_STREAM_CONSTRAINTS = """
WITH t AS (SELECT count(*) AS total FROM events)
SELECT rule, kind, violations, total, violations = 0 AS passed
FROM (
  SELECT 'value_not_null' AS rule, 'not_null' AS kind,
         CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS violations,
         (SELECT total FROM t) AS total
  FROM events
  UNION ALL
  SELECT 'value_range', 'range',
         CAST(sum(CASE WHEN value IS NOT NULL
                        AND NOT (value >= 0.0 AND value <= 100.0)
                  THEN 1 ELSE 0 END) AS BIGINT),
         (SELECT total FROM t)
  FROM events
  UNION ALL
  SELECT 'type_set', 'in_set',
         CAST(sum(CASE WHEN event_type IS NOT NULL
                        AND event_type NOT IN
                            ('click', 'view', 'purchase', 'signup',
                             'error')
                  THEN 1 ELSE 0 END) AS BIGINT),
         (SELECT total FROM t)
  FROM events
  UNION ALL
  SELECT 'user_in_customer', 'ref_integrity',
         CAST(sum(CASE WHEN e.user_id IS NOT NULL
                        AND c.c_custkey IS NULL
                  THEN 1 ELSE 0 END) AS BIGINT),
         (SELECT total FROM t)
  FROM events e
  LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
    ON e.user_id = c.c_custkey
) ORDER BY rule
"""
query(q_stream_constraints, SQL_STREAM_CONSTRAINTS)


def q_linreg_weights(spark, sf_dir):
    """Per-source multivariate OLS (timeseries.linear_fit, d=3):
    regress scaled document length on space/digit/newline counts — the
    score-blending fit ("weight these heuristics to predict the
    target") solved IN-PLAN by Cramer's rule over one normal-equation
    hash aggregate. Features scaled to O(1) so the rounded sums stay
    within exact-double range; the oracle rebuilds the IDENTICAL
    determinant expression tree, so the betas are bit-identical."""
    from mhm_data_pipelines_spark.operators.timeseries import linear_fit

    t = F.col("text")
    docs = _t(spark, sf_dir, "documents").select(
        "source",
        (
            (F.length(t) - F.length(F.regexp_replace(t, " ", "")))
            / F.lit(100.0)
        ).alias("x1"),
        (
            F.length(F.regexp_replace(t, "[^0-9]", "")) / F.lit(100.0)
        ).alias("x2"),
        (
            (F.length(t) - F.length(F.regexp_replace(t, "\n", "")))
            / F.lit(10.0)
        ).alias("x3"),
        (F.col("n_chars").cast("double") / F.lit(1000.0)).alias("y"),
    )
    out = linear_fit(
        docs, ["source"], ["x1", "x2", "x3"], "y", round_sums=6
    )
    return out.select(
        "source",
        "n",
        *[F.round(f"b{j}", 5).alias(f"b{j}") for j in range(4)],
        F.round("det", 2).alias("det"),
    ).orderBy("source")


def _sql_linreg_weights() -> str:
    """DuckDB twin of q_linreg_weights: the sufficient statistics are
    the same rounded sums, and the Cramer solve is generated from the
    SAME cofactor recursion as timeseries.linear_fit.det — structurally
    identical expression trees over bit-identical doubles, so every
    beta matches bit-for-bit before the output rounding."""
    m = 4

    def det_str(cols: list[list[str]]) -> str:
        n_ = len(cols)
        if n_ == 1:
            return cols[0][0]
        if n_ == 2:
            return (
                f"({cols[0][0]} * {cols[1][1]} - "
                f"{cols[1][0]} * {cols[0][1]})"
            )
        if n_ == 3:
            c0, c1, c2 = cols
            return (
                f"({c0[0]} * ({c1[1]} * {c2[2]} - {c1[2]} * {c2[1]}) - "
                f"{c1[0]} * ({c0[1]} * {c2[2]} - {c0[2]} * {c2[1]}) + "
                f"{c2[0]} * ({c0[1]} * {c1[2]} - {c0[2]} * {c1[1]}))"
            )
        parts = []
        for r in range(n_):
            minor = [
                [c[k] for k in range(n_) if k != r] for c in cols[1:]
            ]
            term = f"{cols[0][r]} * {det_str(minor)}"
            parts.append(("- " if r % 2 else "+ ") + term)
        joined = " ".join(parts)
        if joined.startswith("+ "):
            joined = joined[2:]
        return f"({joined})"

    def a(i: int, j: int) -> str:
        i, j = min(i, j), max(i, j)
        return f"a{i}{j}"

    ata = [[a(i, j) for i in range(m)] for j in range(m)]  # column-major
    aty = [f"b{i}" for i in range(m)]
    det_a = det_str(ata)
    betas = []
    for j in range(m):
        replaced = [aty if k == j else ata[k] for k in range(m)]
        betas.append(
            f"round(CASE WHEN abs(det) > 1e-12 THEN "
            f"{det_str(replaced)} / det END, 5) AS b{j}"
        )
    sums = []
    xs = ["CAST(1.0 AS DOUBLE)", "x1", "x2", "x3"]
    for i in range(m):
        for j in range(i, m):
            sums.append(
                f"round(sum({xs[i]} * {xs[j]}), 6) AS a{i}{j}"
            )
        sums.append(f"round(sum({xs[i]} * y), 6) AS b{i}")
    return f"""
WITH feats AS (
  SELECT source,
         (length(text) - length(regexp_replace(text, ' ', '', 'g')))
           / CAST(100.0 AS DOUBLE) AS x1,
         length(regexp_replace(text, '[^0-9]', '', 'g'))
           / CAST(100.0 AS DOUBLE) AS x2,
         (length(text) - length(regexp_replace(text, chr(10), '', 'g')))
           / CAST(10.0 AS DOUBLE) AS x3,
         CAST(n_chars AS DOUBLE) / 1000.0 AS y
  FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL
), s AS (
  SELECT source, count(*) AS n,
         {", ".join(sums)}
  FROM feats GROUP BY source
), d AS (
  SELECT *, {det_a} AS det FROM s
)
SELECT source, n,
       {", ".join(betas)},
       round(det, 2) AS det
FROM d ORDER BY source
"""


SQL_LINREG_WEIGHTS = _sql_linreg_weights()
query(q_linreg_weights, SQL_LINREG_WEIGHTS, bench=True)


def q_event_transitions(spark, sf_dir):
    """Per-user first-order Markov transition matrix over event types
    (timeseries.transition_matrix): exact pair counts + P(next|state),
    one lead window + one hash aggregate; entity boundaries never
    produce cross-user pairs (the window partitions by user)."""
    from mhm_data_pipelines_spark.operators.timeseries import (
        transition_matrix,
    )

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    out = transition_matrix(ev, "user_id", ["ts", "event_id"],
                            "event_type")
    return out.orderBy("state", "next_state")


SQL_EVENT_TRANSITIONS = """
WITH pairs AS (
  SELECT event_type AS state,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS next_state
  FROM events
), c AS (
  SELECT state, next_state, count(*) AS n
  FROM pairs WHERE state IS NOT NULL AND next_state IS NOT NULL
  GROUP BY 1, 2
)
SELECT state, next_state, n,
       round(CAST(n AS DOUBLE)
             / CAST(sum(n) OVER (PARTITION BY state) AS DOUBLE), 6)
         AS p
FROM c ORDER BY state, next_state
"""
query(q_event_transitions, SQL_EVENT_TRANSITIONS, bench=True)


def q_user_rfm(spark, sf_dir):
    """RFM segmentation over events (timeseries.rfm_scores): per-user
    recency/frequency/monetary cut into deterministic terciles
    (entity-id tie-break), reported as segment-level counts + means.
    One corpus aggregate to the user table; the three ntile windows
    run over that dimension-sized table, never the corpus."""
    from mhm_data_pipelines_spark.operators.timeseries import rfm_scores

    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "value")
    out = rfm_scores(ev, "user_id", "ts", "value")
    return (
        out.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(
                F.round(F.sum("m"), 6) / F.count(F.lit(1)), 4
            ).alias("avg_m"),
            F.round(
                F.round(F.sum("r_days"), 6) / F.count(F.lit(1)), 4
            ).alias("avg_r_days"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


SQL_USER_RFM = """
WITH per_user AS (
  SELECT user_id AS entity, max(epoch_us(ts)) AS last_us,
         count(*) AS f, round(sum(value), 6) AS m
  FROM events WHERE ts IS NOT NULL GROUP BY 1
), ref AS (
  SELECT max(epoch_us(ts)) AS ref_us FROM events WHERE ts IS NOT NULL
), j AS (
  SELECT entity,
         round((ref.ref_us - last_us) / 86400000000.0, 6) AS r_days,
         f, coalesce(m, 0.0) AS m
  FROM per_user CROSS JOIN ref
), s AS (
  SELECT r_days, m,
         4 - ntile(3) OVER (ORDER BY r_days, entity) AS r_score,
         4 - ntile(3) OVER (ORDER BY f DESC, entity) AS f_score,
         4 - ntile(3) OVER (ORDER BY m DESC, entity) AS m_score
  FROM j
)
SELECT r_score, f_score, m_score, count(*) AS n_users,
       round(round(sum(m), 6) / count(*), 4) AS avg_m,
       round(round(sum(r_days), 6) / count(*), 4) AS avg_r_days
FROM s GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
"""
query(q_user_rfm, SQL_USER_RFM, bench=True)


def q_robust_trend(spark, sf_dir):
    """Theil-Sen slope + Mann-Kendall trend z per event type over the
    DAILY mean-value series (timeseries.robust_trend): outlier-proof
    trend detection from one within-key pair join over the ~366-point
    rollup (never the raw corpus) + a tie-corrected variance. Daily y
    uses the round-sum-before-divide discipline so both engines derive
    identical pair slopes."""
    from mhm_data_pipelines_spark.operators.timeseries import (
        robust_trend,
    )

    ev = _t(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    daily = ev.groupBy(
        "event_type", F.date_trunc("DAY", F.col("ts")).alias("_d")
    ).agg(
        F.round(
            F.round(F.sum("value"), 6) / F.count(F.lit(1)), 6
        ).alias("y")
    ).select(
        "event_type",
        (F.unix_micros("_d") / F.lit(86400000000.0)).alias("x"),
        "y",
    )
    out = robust_trend(daily, ["event_type"], "x", "y")
    return out.select(
        "event_type",
        "n",
        "n_pairs",
        F.round("sen_slope", 6).alias("sen_slope"),
        "mk_s",
        F.round("mk_z", 6).alias("mk_z"),
    ).orderBy("event_type")


SQL_ROBUST_TREND = """
WITH daily AS (
  SELECT event_type,
         epoch_us(date_trunc('day', ts)) / 86400000000.0 AS x,
         round(round(sum(value), 6) / count(*), 6) AS y
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
  GROUP BY event_type, date_trunc('day', ts)
), pairs AS (
  SELECT a.event_type,
         (b.y - a.y) / (b.x - a.x) AS slope,
         sign(b.y - a.y) AS sgn
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.x < b.x
), ps AS (
  SELECT event_type, count(*) AS n_pairs,
         quantile_cont(slope, 0.5) AS sen_slope,
         CAST(sum(sgn) AS BIGINT) AS mk_s
  FROM pairs GROUP BY event_type
), cnt AS (
  SELECT event_type, count(*) AS n FROM daily GROUP BY event_type
), ties AS (
  SELECT event_type,
         sum(t * (t - 1) * (2 * t + 5)) AS tie_term
  FROM (SELECT event_type, CAST(count(*) AS DOUBLE) AS t
        FROM daily GROUP BY event_type, y)
  GROUP BY event_type
), m AS (
  SELECT c.event_type, c.n,
         coalesce(ps.n_pairs, 0) AS n_pairs, ps.sen_slope,
         coalesce(ps.mk_s, 0) AS mk_s,
         (CAST(c.n AS DOUBLE) * (CAST(c.n AS DOUBLE) - 1)
          * (2 * CAST(c.n AS DOUBLE) + 5) - ties.tie_term) / 18.0
           AS var_s
  FROM cnt c
  LEFT JOIN ps USING (event_type)
  LEFT JOIN ties USING (event_type)
)
SELECT event_type, n, n_pairs,
       round(sen_slope, 6) AS sen_slope, mk_s,
       round(CASE WHEN var_s > 0 THEN
         CASE WHEN mk_s > 0
                THEN (CAST(mk_s AS DOUBLE) - 1) / sqrt(var_s)
              WHEN mk_s < 0
                THEN (CAST(mk_s AS DOUBLE) + 1) / sqrt(var_s)
              ELSE 0.0 END
       END, 6) AS mk_z
FROM m ORDER BY event_type
"""
query(q_robust_trend, SQL_ROBUST_TREND, bench=True)


def q_k_anonymity(spark, sf_dir):
    """k-anonymity / l-diversity release-risk report over events
    (privacy.k_anonymity_report): quasi-identifiers = (event_type,
    day, floor(value)), sensitive = user_id. One hash aggregate to the
    equivalence-class table + a single-row re-aggregate — the
    disclosure review a derived table passes before leaving the
    enclave (complements upsert.erase_subjects' deletion side)."""
    from mhm_data_pipelines_spark.operators.privacy import (
        k_anonymity_report,
    )

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("DAY", F.col("ts")).alias("day"),
        F.floor("value").alias("v0"),
        "user_id",
    )
    return k_anonymity_report(
        ev, ["event_type", "day", "v0"], "user_id", k=5, l=2
    )


SQL_K_ANONYMITY = """
WITH cls AS (
  SELECT event_type, date_trunc('day', ts) AS day, floor(value) AS v0,
         count(*) AS n, count(DISTINCT user_id) AS n_sens
  FROM events GROUP BY 1, 2, 3
)
SELECT CAST(sum(n) AS BIGINT) AS n_rows,
       count(*) AS n_classes,
       CAST(min(n) AS BIGINT) AS k_anonymity,
       CAST(coalesce(sum(CASE WHEN n < 5 THEN n END), 0) AS BIGINT)
         AS rows_below_k,
       count(CASE WHEN n < 5 THEN 1 END) AS classes_below_k,
       CAST(min(n_sens) AS BIGINT) AS l_diversity,
       count(CASE WHEN n_sens < 2 THEN 1 END) AS classes_below_l,
       round(CAST(coalesce(sum(CASE WHEN n < 5 THEN n END), 0)
                  AS DOUBLE) / sum(n), 6) AS pct_below_k
FROM cls
"""
query(q_k_anonymity, SQL_K_ANONYMITY, bench=True)


def q_dp_counts(spark, sf_dir):
    """ε-DP noisy daily event counts (privacy.dp_noisy_counts,
    ε=0.5 ⇒ Laplace scale 2): the count aggregate plus a
    pure-projection md5-seeded inverse-CDF draw, so the release is
    bit-replayable and the oracle recomputes the identical noise.
    True counts withheld (include_true=False) — release semantics."""
    from mhm_data_pipelines_spark.operators.privacy import dp_noisy_counts

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.date_format(F.col("ts"), "yyyy-MM-dd").alias("day"),
    )
    out = dp_noisy_counts(
        ev, ["event_type", "day"], epsilon=0.5, seed=42
    )
    return out.orderBy("event_type", "day")


SQL_DP_COUNTS = """
WITH c AS (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, count(*) AS n
  FROM events GROUP BY 1, 2
), k AS (
  SELECT event_type, day, n,
         CAST(('0x' || substr(md5(
           concat_ws('|', coalesce(event_type, '␀'),
                          coalesce(day, '␀')) || ':42'), 1, 15))
           AS BIGINT) / 1152921504606846976.0 AS u
  FROM c
)
SELECT event_type, day,
       round(n + (-2.0) * sign(u - 0.5)
               * ln(greatest(1e-18, 1.0 - 2.0 * abs(u - 0.5))), 6)
         AS noisy_n
FROM k ORDER BY event_type, day
"""
query(q_dp_counts, SQL_DP_COUNTS, bench=True)


def q_psi_drift(spark, sf_dir):
    """Per-event-type PSI + JS drift of `value` against the corpus
    distribution (drift.psi_by_group, decile bins): reference decile
    edges from one exact-percentile aggregate (1-row broadcast,
    rounded 6dp pre-bin), bin assignment as an array-fold projection,
    one hash agg per side, dims-grid for emptied bins. The numeric
    complement of source_divergence's vocabulary KL."""
    from mhm_data_pipelines_spark.operators.drift import psi_by_group

    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull()
    )
    out = psi_by_group(ev, "value", "event_type", n_bins=10)
    return out.orderBy("group", "bin")


SQL_PSI_DRIFT = """
WITH v AS (
  SELECT event_type AS grp, value FROM events
  WHERE value IS NOT NULL AND event_type IS NOT NULL
), e AS (
  SELECT list_transform(
           quantile_cont(value, [0.1, 0.2, 0.3, 0.4, 0.5,
                                 0.6, 0.7, 0.8, 0.9]),
           x -> round(x, 6)) AS edges
  FROM v
), b AS (
  SELECT grp, len(list_filter(e.edges, x -> v.value > x)) AS bin
  FROM v CROSS JOIN e
), rb AS (
  SELECT bin, count(*) AS n_ref FROM b GROUP BY 1
), cb AS (
  SELECT grp, bin, count(*) AS n_cur FROM b GROUP BY 1, 2
), g AS (
  SELECT grp, count(*) AS n_group FROM b GROUP BY 1
), t AS (
  SELECT count(*) AS n_total FROM b
), grid AS (
  SELECT g.grp, bins.bin, coalesce(rb.n_ref, 0) AS n_ref,
         g.n_group, t.n_total
  FROM g CROSS JOIN range(0, 10) bins(bin) CROSS JOIN t
  LEFT JOIN rb ON bins.bin = rb.bin
), j AS (
  SELECT grid.grp AS "group", grid.bin,
         CAST(grid.n_ref AS BIGINT) AS n_ref,
         CAST(coalesce(cb.n_cur, 0) AS BIGINT) AS n_cur,
         round(CAST(grid.n_ref AS DOUBLE) / grid.n_total, 6) AS p_ref,
         round(CAST(coalesce(cb.n_cur, 0) AS DOUBLE) / grid.n_group, 6)
           AS p_cur
  FROM grid LEFT JOIN cb ON grid.grp = cb.grp AND grid.bin = cb.bin
), terms AS (
  SELECT "group", bin, n_ref, n_cur, p_ref, p_cur,
         round((greatest(1e-6, p_cur) - greatest(1e-6, p_ref))
               * ln(greatest(1e-6, p_cur) / greatest(1e-6, p_ref)), 6)
           AS psi_term,
         round(0.5 * greatest(1e-6, p_ref)
                 * ln(greatest(1e-6, p_ref)
                      / ((greatest(1e-6, p_ref)
                          + greatest(1e-6, p_cur)) / 2))
             + 0.5 * greatest(1e-6, p_cur)
                 * ln(greatest(1e-6, p_cur)
                      / ((greatest(1e-6, p_ref)
                          + greatest(1e-6, p_cur)) / 2)), 6)
           AS js_term
  FROM j
)
SELECT "group", bin, n_ref, n_cur, p_ref, p_cur, psi_term, js_term,
       round(sum(psi_term) OVER (PARTITION BY "group"), 6) AS psi_total,
       round(sum(js_term) OVER (PARTITION BY "group"), 6) AS js_total
FROM terms ORDER BY "group", bin
"""
query(q_psi_drift, SQL_PSI_DRIFT, bench=True)


def q_seasonal_decompose(spark, sf_dir):
    """Classical additive decomposition of the daily event-count
    series per entity (timeseries.seasonal_decompose, weekly cycle):
    trend = calendar-range centered MA (gap-tolerant RANGE frame,
    partial edges), seasonal = re-centered mean detrended value per
    day-of-week position, residual = the rest — the weekday/weekend
    rhythm read on phenotyping sensor data, and the detrend step
    anomaly scoring should run after. Counts as input ⇒ the trend
    means are ratios of exact integer sums (no accumulation-order
    risk); everything downstream derives from 6dp-rounded inputs."""
    from mhm_data_pipelines_spark.operators.timeseries import (
        seasonal_decompose,
    )

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        (F.col("user_id") % 10).alias("entity"),
        F.to_date("ts").alias("day"),
    ).agg(F.count(F.lit(1)).cast("double").alias("n"))
    out = seasonal_decompose(
        daily, ["entity"], day_col="day", value_col="n", period=7
    )
    return out.orderBy("entity", "day")


SQL_SEASONAL_DECOMPOSE = """
WITH daily AS (
  SELECT CAST(user_id % 10 AS BIGINT) AS entity,
         CAST(ts AS DATE) AS day,
         CAST(count(*) AS DOUBLE) AS v
  FROM events
  WHERE ts IS NOT NULL
  GROUP BY 1, 2
), t AS (
  SELECT entity, day, v,
         CAST(day - DATE '1970-01-01' AS BIGINT) AS di,
         round(avg(v) OVER (
           PARTITION BY entity
           ORDER BY CAST(day - DATE '1970-01-01' AS BIGINT)
           RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING
         ), 6) AS trend
  FROM daily
), s_raw AS (
  SELECT entity, di % 7 AS pos,
         round(avg(v - trend), 6) AS s_raw
  FROM t GROUP BY entity, di % 7
), s AS (
  SELECT entity, pos,
         round(s_raw - avg(s_raw) OVER (PARTITION BY entity), 6)
           AS seasonal
  FROM s_raw
)
SELECT t.entity, strftime(t.day, '%Y-%m-%d') AS day,
       round(t.v, 6) AS value, t.trend, s.seasonal,
       round(t.v - t.trend - s.seasonal, 6) AS residual
FROM t JOIN s ON t.entity = s.entity AND t.di % 7 = s.pos
ORDER BY t.entity, day
"""
query(q_seasonal_decompose, SQL_SEASONAL_DECOMPOSE, bench=True)


def q_pair_sample(spark, sf_dir):
    """Budgeted candidate-pair sampling (linkage.blocked_pair_sample):
    per (source, lang) block of the documents corpus, the C(k,2)
    pairs among the k=6 md5-rank-smallest members, each row carrying
    the TRUE block mass (n_block, pairs_total) so the sampling
    fraction is exact. The bounded-output answer to the measured
    output-bound all-pairs blowup (embedding_neardup /
    image_phash_neardup sf1 probes): one block-shuffle + a k-bounded
    self-join, output ≤ blocks × C(k,2) whatever the block sizes —
    and the budget demonstrably BITES at gate scale (blocks up to 16
    members → 120 true pairs, ≤ 15 emitted)."""
    from mhm_data_pipelines_spark.operators.linkage import (
        blocked_pair_sample,
    )

    d = _t(spark, sf_dir, "documents")
    out = blocked_pair_sample(
        d, ["source", "lang"], id_col="doc_id", k=6, seed=42
    )
    return out.orderBy("source", "lang", "id_a", "id_b")


SQL_PAIR_SAMPLE = """
WITH ranked AS (
  SELECT source, lang, doc_id,
         count(*) OVER (PARTITION BY source, lang) AS n_block,
         row_number() OVER (
           PARTITION BY source, lang
           ORDER BY md5(CAST(doc_id AS VARCHAR) || ':42'), doc_id
         ) AS rn
  FROM documents
  WHERE doc_id IS NOT NULL
)
SELECT a.source, a.lang, a.doc_id AS id_a, b.doc_id AS id_b,
       a.n_block,
       CAST(a.n_block * (a.n_block - 1) / 2 AS BIGINT) AS pairs_total
FROM ranked a
JOIN ranked b
  ON a.source = b.source AND a.lang = b.lang AND a.doc_id < b.doc_id
WHERE a.n_block >= 2 AND a.rn <= 6 AND b.rn <= 6
ORDER BY a.source, a.lang, id_a, id_b
"""
query(q_pair_sample, SQL_PAIR_SAMPLE, bench=True)


def q_fs_linkage(spark, sf_dir):
    """Fellegi-Sunter linkage scoring over nation-blocked customer
    pairs (linkage.fs_pattern_summary): u-probabilities estimated
    exactly from value frequencies (1-row broadcast), blocked
    self-equi-join candidates (never all-pairs), three-state
    agreement per field, pattern-level roll-up (≤ 3^3 rows however
    many pairs the blocks produce)."""
    from mhm_data_pipelines_spark.operators.linkage import (
        fs_pattern_summary,
    )

    c = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("balk"),
        F.substring("c_name", -1, 1).alias("sfx"),
    )
    out = fs_pattern_summary(
        c, "c_custkey", ["c_nationkey"], ["seg", "balk", "sfx"], m=0.9
    )
    return out.orderBy("s_seg", "s_balk", "s_sfx")


SQL_FS_LINKAGE = """
WITH c AS (
  SELECT c_custkey AS id, c_nationkey AS bk, c_mktsegment AS seg,
         CAST(floor(c_acctbal / 1000) AS BIGINT) AS balk,
         right(c_name, 1) AS sfx
  FROM customer
), u AS (
  SELECT
    (SELECT round(CAST(sum(n * n) AS DOUBLE) / (sum(n) * sum(n)), 6)
     FROM (SELECT count(*) AS n FROM c WHERE seg IS NOT NULL
           GROUP BY seg)) AS u_seg,
    (SELECT round(CAST(sum(n * n) AS DOUBLE) / (sum(n) * sum(n)), 6)
     FROM (SELECT count(*) AS n FROM c WHERE balk IS NOT NULL
           GROUP BY balk)) AS u_balk,
    (SELECT round(CAST(sum(n * n) AS DOUBLE) / (sum(n) * sum(n)), 6)
     FROM (SELECT count(*) AS n FROM c WHERE sfx IS NOT NULL
           GROUP BY sfx)) AS u_sfx
), p AS (
  SELECT
    CASE WHEN a.seg IS NULL OR b.seg IS NULL THEN 0
         WHEN a.seg = b.seg THEN 1 ELSE -1 END AS s_seg,
    CASE WHEN a.balk IS NULL OR b.balk IS NULL THEN 0
         WHEN a.balk = b.balk THEN 1 ELSE -1 END AS s_balk,
    CASE WHEN a.sfx IS NULL OR b.sfx IS NULL THEN 0
         WHEN a.sfx = b.sfx THEN 1 ELSE -1 END AS s_sfx
  FROM c a JOIN c b ON a.bk = b.bk AND a.id < b.id
), w AS (
  SELECT s_seg, s_balk, s_sfx,
    round(
      (CASE s_seg WHEN 1 THEN round(log2(0.9 / greatest(1e-6, u.u_seg)), 6)
                  WHEN -1 THEN round(log2(0.1 / greatest(1e-6, 1 - u.u_seg)), 6)
                  ELSE 0.0 END)
    + (CASE s_balk WHEN 1 THEN round(log2(0.9 / greatest(1e-6, u.u_balk)), 6)
                   WHEN -1 THEN round(log2(0.1 / greatest(1e-6, 1 - u.u_balk)), 6)
                   ELSE 0.0 END)
    + (CASE s_sfx WHEN 1 THEN round(log2(0.9 / greatest(1e-6, u.u_sfx)), 6)
                  WHEN -1 THEN round(log2(0.1 / greatest(1e-6, 1 - u.u_sfx)), 6)
                  ELSE 0.0 END), 6) AS score
  FROM p CROSS JOIN u
)
SELECT s_seg, s_balk, s_sfx, count(*) AS n_pairs, score
FROM w GROUP BY s_seg, s_balk, s_sfx, score
ORDER BY s_seg, s_balk, s_sfx
"""
query(q_fs_linkage, SQL_FS_LINKAGE, bench=True)


def _co_order_pairs(op):
    """Co-occurrence pair edges (src < dst) over (o, p) rows: ONE hash
    aggregate (collect_set dedups (o, p) inside the agg buffer, no
    standalone DISTINCT exchange) + a LOCAL C(m,2) pair explode from
    each basket's sorted part array — replaces the former
    distinct → self-equi-join-on-o shape (two exchanges + a join) that
    every co-order graph key paid. Identical pair multiset: sorted
    distinct parts per order, all (x, y) with x < y."""
    return (
        op.groupBy("o")
        .agg(F.sort_array(F.collect_set("p")).alias("ps"))
        .select("ps", F.posexplode("ps").alias("_i", "src"))
        .select(
            "src",
            F.explode(F.expr("slice(ps, _i + 2, size(ps))")).alias("dst"),
        )
    )


def _urgent_co_pairs(spark, sf_dir):
    """The urgent-order part co-occurrence edge list shared by the
    adamic_adar / k_core / jaccard_linkpred / degree_assortativity
    keys (see _co_order_pairs for the shape)."""
    return _co_order_pairs(
        _t(spark, sf_dir, "lineitem")
        .join(
            _t(spark, sf_dir, "orders").filter(
                F.col("o_orderpriority") == "1-URGENT"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
        )
    )


def q_label_communities(spark, sf_dir):
    """Deterministic synchronous label propagation over the co-order
    part graph (graph.label_propagation, 3 rounds): nodes = parts,
    edges = parts sharing an order (weight = co-occurrence count),
    winner = max incident weight with min-label tie-break. The
    community-detection complement of neardup_clusters' connected
    components; the oracle unrolls the identical three rounds."""
    from mhm_data_pipelines_spark.operators.graph import (
        label_propagation,
    )

    pairs = _co_order_pairs(
        _t(spark, sf_dir, "lineitem").select(
            F.col("l_orderkey").alias("o"),
            F.col("l_partkey").alias("p"),
        )
    )
    out = label_propagation(pairs, "src", "dst", iterations=3)
    return out.orderBy("node")


def _sql_label_communities(rounds: int = 3) -> str:
    parts = [
        """WITH lp AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
), pairs AS (
  SELECT a.p AS s, b.p AS d
  FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p
), sym AS (
  SELECT a, b, sum(w) AS w FROM (
    SELECT s AS a, d AS b, CAST(1.0 AS DOUBLE) AS w FROM pairs
    UNION ALL
    SELECT d AS a, s AS b, CAST(1.0 AS DOUBLE) AS w FROM pairs
  ) GROUP BY a, b
), nodes AS (
  SELECT DISTINCT a AS node FROM sym
), l0 AS (
  SELECT node, node AS label FROM nodes
)"""
    ]
    for k in range(1, rounds + 1):
        p = f"l{k - 1}"
        parts.append(
            f""", v{k} AS (
  SELECT sym.b AS node, {p}.label, sum(sym.w) AS wt
  FROM sym JOIN {p} ON {p}.node = sym.a GROUP BY 1, 2
), w{k} AS (
  SELECT node, label FROM (
    SELECT node, label, row_number() OVER (
      PARTITION BY node ORDER BY wt DESC, label ASC) AS rn
    FROM v{k}
  ) WHERE rn = 1
), l{k} AS (
  SELECT n.node, coalesce(w{k}.label, {p}.label) AS label
  FROM nodes n
  LEFT JOIN w{k} ON n.node = w{k}.node
  JOIN {p} ON n.node = {p}.node
)"""
        )
    parts.append(
        f"\nSELECT node, label FROM l{rounds} ORDER BY node"
    )
    return "".join(parts)


SQL_LABEL_COMMUNITIES = _sql_label_communities()
query(q_label_communities, SQL_LABEL_COMMUNITIES, bench=True)


def q_golden_records(spark, sf_dir):
    """ER survivorship (components.golden_records): close the
    exact-Jaccard near-dup pair graph into entities (the
    neardup_clusters component map), then elect canonical lang/source
    per entity by majority vote, smallest-value tie-break, NULLs
    abstaining. Every post-CC frame is entity-sized."""
    from mhm_data_pipelines_spark.operators.components import (
        golden_records,
    )

    df = _t(spark, sf_dir, "documents")
    pairs = q_unigram_jaccard_pairs(spark, sf_dir).select("id_a", "id_b")
    out = golden_records(df, pairs, ["lang", "source"], id_col="doc_id")
    return out.orderBy("entity_id")


SQL_GOLDEN_RECORDS = (
    "WITH RECURSIVE "
    + _SQL_NEARDUP_EDGES.format(toks=_SQL_TOKENS_LOWER)
    + """, m AS (
  SELECT d.*, comp.component FROM documents d
  JOIN comp ON d.doc_id = comp.doc_id
), base AS (
  SELECT component AS entity_id, count(*) AS n_members
  FROM m GROUP BY 1
), lang_pick AS (
  SELECT component AS entity_id, lang FROM (
    SELECT component, lang, row_number() OVER (
      PARTITION BY component ORDER BY count(*) DESC, lang ASC) AS rn
    FROM m WHERE lang IS NOT NULL GROUP BY component, lang
  ) WHERE rn = 1
), src_pick AS (
  SELECT component AS entity_id, source FROM (
    SELECT component, source, row_number() OVER (
      PARTITION BY component ORDER BY count(*) DESC, source ASC) AS rn
    FROM m WHERE source IS NOT NULL GROUP BY component, source
  ) WHERE rn = 1
)
SELECT base.entity_id, base.n_members, lang_pick.lang, src_pick.source
FROM base
LEFT JOIN lang_pick USING (entity_id)
LEFT JOIN src_pick USING (entity_id)
ORDER BY entity_id
"""
)
query(q_golden_records, SQL_GOLDEN_RECORDS)


def q_event_sequences(spark, sf_dir):
    """Consecutive event-type trigram patterns per user with support
    (timeseries.sequential_patterns, k=3): one window pass builds both
    leads, one hash aggregate counts, the entity total broadcasts —
    the order-3 extension of event_transitions' Markov bigrams."""
    from mhm_data_pipelines_spark.operators.timeseries import (
        sequential_patterns,
    )

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    out = sequential_patterns(
        ev, "user_id", ["ts", "event_id"], "event_type", k=3
    )
    return out.orderBy("pattern")


SQL_EVENT_SEQUENCES = """
WITH runs AS (
  SELECT user_id,
         event_type AS s0,
         lead(event_type, 1) OVER w AS s1,
         lead(event_type, 2) OVER w AS s2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), seqs AS (
  SELECT user_id, s0, s1, s2
  FROM runs
  WHERE s0 IS NOT NULL AND s1 IS NOT NULL AND s2 IS NOT NULL
), t AS (
  SELECT count(DISTINCT user_id) AS n_total FROM events
)
-- Group by the STATE TUPLE and render the joined string afterwards,
-- mirroring sequential_patterns: two distinct tuples whose rendered
-- strings collide (an event_type containing '>') stay distinct rows
-- here exactly as they do in the operator.
SELECT s0 || '>' || s1 || '>' || s2 AS pattern,
       count(*) AS n_occurrences,
       count(DISTINCT user_id) AS n_entities,
       round(CAST(count(DISTINCT user_id) AS DOUBLE) / t.n_total, 6)
         AS support
FROM seqs CROSS JOIN t
GROUP BY s0, s1, s2, t.n_total
ORDER BY pattern
"""
query(q_event_sequences, SQL_EVENT_SEQUENCES, bench=True)


def q_woe_iv(spark, sf_dir):
    """WoE/IV scorecard screening (drift.woe_iv): does doc length
    separate English from non-English? Decile edges from one exact-
    percentile aggregate, the (bin) hash aggregate carries both class
    counts as conditional sums, the bins-sized tail computes WoE/IV
    from rounded proportions."""
    from mhm_data_pipelines_spark.operators.drift import woe_iv

    d = _t(spark, sf_dir, "documents").select(
        "n_chars", (F.col("lang") == "en").alias("is_en")
    )
    return woe_iv(d, "n_chars", "is_en", n_bins=10).orderBy("bin")


SQL_WOE_IV = """
WITH v AS (
  SELECT n_chars AS x, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL
), e AS (
  SELECT list_transform(
           quantile_cont(x, [0.1, 0.2, 0.3, 0.4, 0.5,
                             0.6, 0.7, 0.8, 0.9]),
           q -> round(q, 6)) AS edges
  FROM v
), b AS (
  SELECT len(list_filter(e.edges, q -> v.x > q)) AS bin, v.y
  FROM v CROSS JOIN e
), pb AS (
  SELECT bin, CAST(sum(y) AS BIGINT) AS n_pos,
         CAST(count(*) - sum(y) AS BIGINT) AS n_neg
  FROM b GROUP BY bin
), t AS (
  SELECT CAST(sum(y) AS BIGINT) AS t_pos,
         CAST(count(*) - sum(y) AS BIGINT) AS t_neg
  FROM b
), g AS (
  SELECT bins.bin,
         CAST(coalesce(pb.n_pos, 0) AS BIGINT) AS n_pos,
         CAST(coalesce(pb.n_neg, 0) AS BIGINT) AS n_neg,
         round(CAST(coalesce(pb.n_pos, 0) AS DOUBLE) / t.t_pos, 6)
           AS p_pos,
         round(CAST(coalesce(pb.n_neg, 0) AS DOUBLE) / t.t_neg, 6)
           AS p_neg
  FROM range(0, 10) bins(bin) CROSS JOIN t
  LEFT JOIN pb ON bins.bin = pb.bin
), w AS (
  SELECT bin, n_pos, n_neg, p_pos, p_neg,
         round(ln(greatest(1e-6, p_pos) / greatest(1e-6, p_neg)), 6)
           AS woe,
         round((p_pos - p_neg)
               * round(ln(greatest(1e-6, p_pos)
                          / greatest(1e-6, p_neg)), 6), 6) AS iv_term
  FROM g
)
SELECT bin, n_pos, n_neg, p_pos, p_neg, woe, iv_term,
       round(sum(iv_term) OVER (), 6) AS iv_total
FROM w ORDER BY bin
"""
query(q_woe_iv, SQL_WOE_IV, bench=True)


def q_kmv_set_ops(spark, sf_dir):
    """KMV/theta-sketch set algebra (sketches.kmv_set_ops, k=64):
    estimated audience size, OVERLAP, and union for every event-type
    pair — the intersection HLL can't produce. All pair math runs on
    ≤ n_sets·k sample rows; md5 hashing makes the estimates (not just
    the bounds) bit-reproducible, so the oracle is full-value."""
    from mhm_data_pipelines_spark.operators.sketches import kmv_set_ops

    ev = _t(spark, sf_dir, "events").select("event_type", "user_id")
    out = kmv_set_ops(ev, "event_type", "user_id", k=64)
    return out.orderBy("set_a", "set_b")


SQL_KMV_SET_OPS = """
WITH el AS (
  SELECT DISTINCT event_type AS s, user_id AS e FROM events
  WHERE user_id IS NOT NULL
), h AS (
  SELECT s, e,
         CAST(('0x' || substr(md5(CAST(e AS VARCHAR) || ':42'), 1, 15))
           AS BIGINT) / 1152921504606846976.0 AS u
  FROM el
), kept AS (
  SELECT * FROM (
    SELECT s, e, u,
           row_number() OVER (PARTITION BY s ORDER BY u, e) AS rn
    FROM h
  ) WHERE rn <= 64
), stats AS (
  SELECT s, count(*) AS n_kept,
         coalesce(max(CASE WHEN rn = 64 THEN u END), 1.0) AS theta,
         CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
              ELSE 63.0 / max(CASE WHEN rn = 64 THEN u END)
         END AS est
  FROM kept GROUP BY s
), pairs AS (
  SELECT a.s AS set_a, b.s AS set_b,
         least(a.theta, b.theta) AS theta,
         a.est AS est_a, b.est AS est_b
  FROM stats a JOIN stats b ON a.s < b.s
), common AS (
  SELECT ka.s AS set_a, kb.s AS set_b, count(*) AS n_common
  FROM kept ka
  JOIN kept kb ON ka.e = kb.e
  JOIN pairs p ON p.set_a = ka.s AND p.set_b = kb.s
  WHERE ka.u < p.theta
  GROUP BY 1, 2
)
SELECT p.set_a, p.set_b,
       round(p.est_a, 2) AS est_a,
       round(p.est_b, 2) AS est_b,
       round(coalesce(c.n_common, 0) / p.theta, 2) AS est_inter,
       round(p.est_a + p.est_b - coalesce(c.n_common, 0) / p.theta, 2)
         AS est_union
FROM pairs p LEFT JOIN common c USING (set_a, set_b)
ORDER BY p.set_a, p.set_b
"""
query(q_kmv_set_ops, SQL_KMV_SET_OPS, bench=True)


def q_peak_concurrency(spark, sf_dir):
    """Sweep-line peak overlap (temporal.interval_concurrency): per
    event type, the max number of user-day activity spans open at
    once and the earliest moment it happens — the O(n log n) answer
    to a question a self-join puts at O(n²). Boundaries are a 2×n
    projection; the keyed sweep is ONE window."""
    from mhm_data_pipelines_spark.operators.temporal import (
        interval_concurrency,
    )

    iv = (
        _t(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .groupBy(
            "event_type",
            "user_id",
            F.date_trunc("DAY", F.col("ts")).alias("day"),
        )
        .agg(
            F.min("ts").alias("start_ts"),
            F.max("ts").alias("end_ts"),
        )
    )
    out = interval_concurrency(
        iv, "start_ts", "end_ts", keys=["event_type"]
    )
    return out.orderBy("event_type")


SQL_PEAK_CONCURRENCY = """
WITH iv AS (
  SELECT event_type,
         epoch_us(min(ts)) AS s, epoch_us(max(ts)) AS e
  FROM events WHERE ts IS NOT NULL
  GROUP BY event_type, user_id, date_trunc('day', ts)
), b AS (
  SELECT event_type, s AS t_us, 1 AS delta FROM iv
  UNION ALL
  SELECT event_type, e, -1 FROM iv
), r AS (
  SELECT event_type, t_us,
         sum(delta) OVER (PARTITION BY event_type
                          ORDER BY t_us, delta
                          ROWS UNBOUNDED PRECEDING) AS running
  FROM b
), p AS (
  SELECT event_type, max(running) AS peak FROM r GROUP BY 1
), pa AS (
  SELECT r.event_type, min(r.t_us) AS peak_at_us
  FROM r JOIN p ON r.event_type = p.event_type
              AND r.running = p.peak
  GROUP BY 1
), n AS (
  SELECT event_type, count(*) AS n_intervals FROM iv GROUP BY 1
)
SELECT p.event_type, n.n_intervals,
       CAST(p.peak AS BIGINT) AS peak_concurrency, pa.peak_at_us
FROM p JOIN pa USING (event_type) JOIN n USING (event_type)
ORDER BY p.event_type
"""
query(q_peak_concurrency, SQL_PEAK_CONCURRENCY, bench=True)


def q_stream_topk(spark, sf_dir):
    """Streaming top-k maintenance, value-verified end-to-end: events
    arrive as TWO micro-batches (event_id parity split) through
    ``streaming.ingest.topk_stream``; each batch persists only its own
    (type, user) count partials, and the read-side sum-then-rank must
    equal the batch top-5 over everything arrived — counts are
    mergeable, so rank state needs no state store and no streaming
    complete-mode sort."""
    import os as _os
    import time as _time

    from mhm_data_pipelines_spark.streaming.ingest import (
        read_topk_table,
        topk_stream,
    )

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id"
    )
    root = _scratch("mhm_stream_topk_")
    src = f"{root}/src"
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(
        f"{src}/b0"
    )
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(
        f"{src}/b1"
    )
    old = _time.time() - 3600
    for d, _, files in _os.walk(f"{src}/b0"):
        for fn in files:
            _os.utime(_os.path.join(d, fn), (old, old))
    stream = (
        spark.readStream.schema(
            "event_id long, event_type string, user_id long"
        )
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    writer = topk_stream(
        stream,
        out_path=f"{root}/topk",
        checkpoint=f"{root}/ck",
        group_cols=("event_type",),
        item_col="user_id",
    )
    q = writer.trigger(availableNow=True).start()
    _await_drain(q, "stream_topk")
    out = read_topk_table(
        spark, f"{root}/topk", ("event_type",), "user_id", k=5
    )
    return out.orderBy("event_type", "rank")


SQL_STREAM_TOPK = """
WITH c AS (
  SELECT event_type, user_id, count(*) AS n
  FROM events GROUP BY 1, 2
), r AS (
  SELECT event_type, user_id, CAST(n AS BIGINT) AS n,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY n DESC, user_id ASC) AS rank
  FROM c
)
SELECT event_type, user_id, n, CAST(rank AS INTEGER) AS rank
FROM r WHERE rank <= 5
ORDER BY event_type, rank
"""
query(q_stream_topk, SQL_STREAM_TOPK)


def q_conformal_coverage(spark, sf_dir):
    """Split-conformal calibration (selection.conformal_report,
    α=0.1): per-type mean model fit on even event_ids, nonconformity
    = |value − μ_type| (round-before-derive), calibration on
    event_id%4==1, the exact ⌈(n+1)(1−α)⌉-th order statistic via the
    distributed prefix sum, realized coverage on event_id%4==3 —
    the finite-sample ≥90% guarantee, measured."""
    from mhm_data_pipelines_spark.operators.selection import (
        conformal_report,
    )

    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    mu = (
        ev.filter(F.col("event_id") % 2 == 0)
        .groupBy("event_type")
        .agg(
            F.round(
                F.round(F.sum("value"), 6) / F.count(F.lit(1)), 6
            ).alias("mu")
        )
    )
    scored = ev.join(F.broadcast(mu), "event_type").select(
        "event_id",
        F.round(F.abs(F.col("value") - F.col("mu")), 6).alias(
            "residual"
        ),
    )
    cal = scored.filter(F.col("event_id") % 4 == 1)
    ev_split = scored.filter(F.col("event_id") % 4 == 3)
    return conformal_report(cal, ev_split, "residual", alpha=0.1)


SQL_CONFORMAL_COVERAGE = """
WITH tr AS (
  SELECT event_type,
         round(round(sum(value), 6) / count(*), 6) AS mu
  FROM events WHERE value IS NOT NULL AND event_id % 2 = 0
  GROUP BY 1
), scored AS (
  SELECT e.event_id, round(abs(e.value - tr.mu), 6) AS s
  FROM events e JOIN tr USING (event_type)
  WHERE e.value IS NOT NULL
), cal AS (
  SELECT s FROM scored WHERE event_id % 4 = 1
), ev AS (
  SELECT s FROM scored WHERE event_id % 4 = 3
), n AS (
  SELECT count(*) AS n_cal FROM cal
), kk AS (
  SELECT n_cal, CAST(ceil((n_cal + 1) * 0.9) AS BIGINT) AS k FROM n
), cum AS (
  SELECT s, sum(cnt) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING) AS cum
  FROM (SELECT s, count(*) AS cnt FROM cal GROUP BY s)
), q AS (
  SELECT min(cum.s) AS q_hat FROM cum CROSS JOIN kk
  WHERE cum.cum >= kk.k
), ne AS (
  SELECT count(*) AS n_eval FROM ev
), ni AS (
  SELECT CAST(coalesce(sum(CASE WHEN ev.s <= q.q_hat THEN 1 END), 0)
    AS BIGINT) AS n_in
  FROM ev CROSS JOIN q
)
SELECT kk.n_cal,
       CASE WHEN kk.k <= kk.n_cal THEN kk.k END AS k,
       CASE WHEN kk.k <= kk.n_cal THEN round(q.q_hat, 6) END AS q_hat,
       ne.n_eval,
       CASE WHEN kk.k <= kk.n_cal
            THEN round(CAST(ni.n_in AS DOUBLE) / ne.n_eval, 6)
       END AS coverage,
       0.9 AS target
FROM kk CROSS JOIN q CROSS JOIN ne CROSS JOIN ni
"""
query(q_conformal_coverage, SQL_CONFORMAL_COVERAGE, bench=True)


def q_adamic_adar(spark, sf_dir):
    """Adamic-Adar link prediction over the urgent-order part
    co-occurrence graph (graph.adamic_adar): candidate part pairs that
    never co-occurred in an urgent order, scored by Σ 1/ln(deg) over
    shared co-order partners. hub_cap=48 is BINDING at the tested
    scales (max degree 50–85) so the oracle exercises the center
    exclusion, not just the happy path. Top 200 by the integer
    (common_neighbors, keys) order — no float-boundary ties."""
    from mhm_data_pipelines_spark.operators.graph import adamic_adar

    edges = _urgent_co_pairs(spark, sf_dir)
    out = adamic_adar(edges, hub_cap=48)
    return (
        out.select(
            F.col("node_a").cast("long").alias("node_a"),
            F.col("node_b").cast("long").alias("node_b"),
            F.col("common_neighbors").cast("long").alias(
                "common_neighbors"
            ),
            F.round("aa_score", 6).alias("aa_score"),
        )
        .orderBy(F.desc("common_neighbors"), "node_a", "node_b")
        .limit(200)
    )


SQL_ADAMIC_ADAR = """
WITH li AS (
  SELECT DISTINCT l.l_orderkey AS o, l.l_partkey AS p
  FROM lineitem l
  JOIN orders r ON r.o_orderkey = l.l_orderkey
  WHERE r.o_orderpriority = '1-URGENT'
), e AS (
  SELECT DISTINCT a.p AS x, b.p AS y
  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
), sym AS (
  SELECT x AS s, y AS d FROM e UNION ALL SELECT y, x FROM e
), deg AS (
  SELECT s, count(*) AS dg FROM sym GROUP BY s
), adj AS (
  SELECT sym.s AS z, sym.d AS n, 1.0 / ln(deg.dg) AS w
  FROM sym JOIN deg ON deg.s = sym.s
  WHERE deg.dg BETWEEN 2 AND 48
), scores AS (
  SELECT a1.n AS node_a, a2.n AS node_b,
         count(*) AS common_neighbors, sum(a1.w) AS aa_score
  FROM adj a1 JOIN adj a2 ON a1.z = a2.z AND a1.n < a2.n
  GROUP BY 1, 2
)
SELECT CAST(s.node_a AS BIGINT) AS node_a,
       CAST(s.node_b AS BIGINT) AS node_b,
       CAST(s.common_neighbors AS BIGINT) AS common_neighbors,
       round(s.aa_score, 6) AS aa_score
FROM scores s
LEFT JOIN e ON e.x = s.node_a AND e.y = s.node_b
WHERE e.x IS NULL
ORDER BY s.common_neighbors DESC, s.node_a, s.node_b
LIMIT 200
"""
query(q_adamic_adar, SQL_ADAMIC_ADAR, bench=True)


def q_k_core(spark, sf_dir):
    """k-core decomposition (graph.k_core, k=12) of the urgent-order
    part co-occurrence graph: the dense backbone that survives
    iterative peeling of sub-12-degree parts. The oracle replays the
    peel rounds verbatim in one recursive CTE (each round depends only
    on the previous round's edge set — no randomness, no tie-breaks),
    carried to a fixed round 24 where the set is provably stationary
    (peeling removes ≥1 node per non-final round and the tested graphs
    converge in <10; Spark raises past max_iter=50 rather than return
    a non-fixpoint)."""
    from mhm_data_pipelines_spark.operators.graph import k_core

    edges = _urgent_co_pairs(spark, sf_dir)
    out = k_core(edges, k=12)
    return out.select(
        F.col("node").cast("long").alias("node"),
        F.col("core_degree").cast("long").alias("core_degree"),
    ).orderBy("node")


SQL_K_CORE = """
WITH RECURSIVE li AS (
  SELECT DISTINCT l.l_orderkey AS o, l.l_partkey AS p
  FROM lineitem l
  JOIN orders r ON r.o_orderkey = l.l_orderkey
  WHERE r.o_orderpriority = '1-URGENT'
), e AS (
  SELECT DISTINCT a.p AS x, b.p AS y
  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
), peel(round, s, d) AS (
  SELECT 0, s, d FROM (
    SELECT x AS s, y AS d FROM e UNION ALL SELECT y, x FROM e
  )
  UNION ALL
  SELECT round + 1, s, d FROM (
    SELECT round, s, d,
           count(*) OVER (PARTITION BY round, s) AS ds,
           count(*) OVER (PARTITION BY round, d) AS dd
    FROM peel
  ) WHERE round < 24 AND ds >= 12 AND dd >= 12
)
SELECT CAST(s AS BIGINT) AS node, count(*) AS core_degree
FROM peel WHERE round = 24
GROUP BY s
ORDER BY node
"""
query(q_k_core, SQL_K_CORE, bench=True)


def q_fd_violations(spark, sf_dir):
    """Approximate functional-dependency audit (profile.fd_report, the
    g3 error of Kivinen-Mannila): six declared candidate FDs across
    orders / lineitem / events — keys that must hold exactly
    (o_orderkey -> o_orderstatus, (l_orderkey,l_linenumber) ->
    l_partkey, event_id -> event_type) next to soft dependencies that
    must NOT (o_custkey -> o_orderpriority, l_partkey -> l_suppkey,
    user_id -> event_type) — so the oracle exercises both branches of
    the holds flag and the exact violating-row count."""
    from mhm_data_pipelines_spark.operators.profile import fd_report

    o = fd_report(
        _t(spark, sf_dir, "orders"),
        [
            ("o_orderkey", "o_orderstatus"),
            ("o_custkey", "o_orderpriority"),
        ],
    )
    li = fd_report(
        _t(spark, sf_dir, "lineitem"),
        [
            (("l_orderkey", "l_linenumber"), "l_partkey"),
            ("l_partkey", "l_suppkey"),
        ],
    )
    ev = fd_report(
        _t(spark, sf_dir, "events"),
        [("event_id", "event_type"), ("user_id", "event_type")],
    )
    return (
        o.unionByName(li)
        .unionByName(ev)
        .orderBy("determinant", "dependent")
    )


def _fd_sql(table: str, det_cols: list[str], dep: str) -> str:
    det = ", ".join(det_cols)
    name = ",".join(det_cols)
    return f"""
  SELECT '{name}' AS determinant, '{dep}' AS dependent,
         CAST(sum(gn) AS BIGINT) AS n_rows,
         count(*) AS n_groups,
         count(CASE WHEN nd = 1 THEN 1 END) AS clean_groups,
         CAST(sum(gn) - sum(keep) AS BIGINT) AS violating_rows,
         round((sum(gn) - sum(keep)) / sum(gn), 6) AS g3_error,
         sum(gn) = sum(keep) AS holds
  FROM (
    SELECT {det}, sum(c) AS gn, max(c) AS keep, count(*) AS nd
    FROM (SELECT {det}, {dep}, count(*) AS c FROM {table} GROUP BY ALL)
    GROUP BY {det}
  )"""


SQL_FD_VIOLATIONS = (
    "\nUNION ALL\n".join(
        [
            _fd_sql("orders", ["o_orderkey"], "o_orderstatus"),
            _fd_sql("orders", ["o_custkey"], "o_orderpriority"),
            _fd_sql(
                "lineitem", ["l_orderkey", "l_linenumber"], "l_partkey"
            ),
            _fd_sql("lineitem", ["l_partkey"], "l_suppkey"),
            _fd_sql("events", ["event_id"], "event_type"),
            _fd_sql("events", ["user_id"], "event_type"),
        ]
    )
    + "\nORDER BY determinant, dependent"
)
query(q_fd_violations, SQL_FD_VIOLATIONS, bench=True)


def q_target_encoding(spark, sf_dir):
    """Out-of-fold smoothed mean target encoding of event_type against
    value (selection.target_encode, Micci-Barreca empirical Bayes,
    5 content-hash folds): the gate output is the compact
    (category x fold) encoding table itself — per-row te is constant
    within a cell by construction, so the cell table pins every row's
    feature value while keeping the compare dimension-sized."""
    from mhm_data_pipelines_spark.operators.selection import (
        target_encode,
    )

    ev = _t(spark, sf_dir, "events")
    enc = target_encode(
        ev, "event_type", "value", "event_id", folds=5, smoothing=20.0
    )
    return (
        enc.groupBy("event_type", "fold")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.min("te"), 6).alias("te"),
        )
        .orderBy("event_type", "fold")
    )


SQL_TARGET_ENCODING = """
WITH rows_ AS (
  SELECT event_type AS cat, value AS y,
         CAST(floor(
           CAST(('0x' || substr(md5(event_id || ':42'), 1, 15))
                AS BIGINT) / 1152921504606846976.0 * 5
         ) AS INT) AS fold
  FROM events
), percf AS (
  SELECT cat, fold, sum(y) AS sy, count(y) AS ny, count(*) AS n
  FROM rows_ GROUP BY 1, 2
), mu AS (
  SELECT avg(y) AS mu FROM rows_
), loo AS (
  SELECT cat, fold, n,
         sum(coalesce(sy, 0)) OVER (PARTITION BY cat)
           - coalesce(sy, 0) AS sy_out,
         sum(ny) OVER (PARTITION BY cat) - ny AS ny_out
  FROM percf
)
SELECT loo.cat AS event_type, loo.fold,
       CAST(loo.n AS BIGINT) AS n_rows,
       round((loo.sy_out + 20.0 * mu.mu) / (loo.ny_out + 20.0), 6)
         AS te
FROM loo CROSS JOIN mu
ORDER BY event_type, fold
"""
query(q_target_encoding, SQL_TARGET_ENCODING, bench=True)


def q_touch_attribution(spark, sf_dir):
    """Position-based multi-touch attribution of purchase conversions
    (attribution.position_attribution, 40/20/40 U-shape, 7-day
    lookback, (ts, event_id) rank tie-break): per-channel credit under
    the four standard models from ONE user-keyed join + one
    (user, conversion) window. Credit conservation (each model sums to
    the attributed-conversion count) is what the cross-engine value
    hash certifies."""
    from mhm_data_pipelines_spark.operators.attribution import (
        position_attribution,
    )

    ev = _t(spark, sf_dir, "events")
    out = position_attribution(ev, "purchase", lookback_days=7)
    return out.select(
        "channel",
        F.col("touches").cast("long").alias("touches"),
        F.col("conversions_touched").cast("long").alias(
            "conversions_touched"
        ),
        F.round("first_credit", 6).alias("first_credit"),
        F.round("last_credit", 6).alias("last_credit"),
        F.round("linear_credit", 6).alias("linear_credit"),
        F.round("u_credit", 6).alias("u_credit"),
    ).orderBy("channel")


SQL_TOUCH_ATTRIBUTION = """
WITH conv AS (
  SELECT user_id AS u, ts AS cts, event_id AS cid
  FROM events WHERE event_type = 'purchase'
), touch AS (
  SELECT user_id AS u, ts AS tts, event_id AS tid,
         event_type AS channel
  FROM events WHERE event_type <> 'purchase'
), j AS (
  SELECT t.channel, c.cid,
         row_number() OVER (PARTITION BY c.u, c.cid
                            ORDER BY t.tts, t.tid) AS rn,
         count(*) OVER (PARTITION BY c.u, c.cid) AS sz
  FROM touch t JOIN conv c ON t.u = c.u
  WHERE t.tts < c.cts AND t.tts >= c.cts - INTERVAL 7 DAY
), credited AS (
  SELECT channel, cid,
         CASE WHEN rn = 1 THEN 1.0 ELSE 0.0 END AS first_c,
         CASE WHEN rn = sz THEN 1.0 ELSE 0.0 END AS last_c,
         1.0 / sz AS linear_c,
         CASE WHEN sz = 1 THEN 1.0
              WHEN sz = 2 THEN 0.5
              WHEN rn = 1 OR rn = sz THEN 0.4
              ELSE (1.0 - 2.0 * 0.4) / (sz - 2) END AS u_c
  FROM j
)
SELECT channel,
       count(*) AS touches,
       count(DISTINCT cid) AS conversions_touched,
       round(sum(first_c), 6) AS first_credit,
       round(sum(last_c), 6) AS last_credit,
       round(sum(linear_c), 6) AS linear_credit,
       round(sum(u_c), 6) AS u_credit
FROM credited
GROUP BY channel
ORDER BY channel
"""
query(q_touch_attribution, SQL_TOUCH_ATTRIBUTION, bench=True)


def q_holt_trend(spark, sf_dir):
    """Holt double exponential smoothing of each user's daily mean
    value (timeseries.holt_trend, alpha=0.5, beta=0.3): the coupled
    level/trend recursion runs in an Arrow-batched applyInPandas (the
    one shape no window-frame composition expresses); the oracle
    replays the IDENTICAL float expression tree in a recursive CTE
    stepping rn -> rn+1 per user, so agreement is bit-level before the
    6dp output rounding. Daily means are rounded 6dp PRE-recursion in
    both engines (round-before-derive parity convention)."""
    from mhm_data_pipelines_spark.operators.timeseries import holt_trend

    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            F.col("user_id"), F.to_date("ts").alias("d")
        )
        .agg(F.round(F.avg("value"), 6).alias("y"))
    )
    out = holt_trend(daily, "user_id", "d", "y", alpha=0.5, beta=0.3)
    return out.orderBy("user_id")


SQL_HOLT_TREND = """
WITH RECURSIVE base AS (
  SELECT CAST(user_id AS VARCHAR) AS u, CAST(ts AS DATE) AS d,
         round(avg(value), 6) AS y
  FROM events
  GROUP BY 1, 2
), series AS (
  SELECT u, y,
         row_number() OVER (PARTITION BY u ORDER BY d) AS rn,
         count(*) OVER (PARTITION BY u) AS n,
         lead(y) OVER (PARTITION BY u ORDER BY d) AS y_next
  FROM base
  WHERE y IS NOT NULL
), hw(u, rn, n, s, b) AS (
  SELECT u, 1, n, y,
         CASE WHEN n > 1 THEN y_next - y ELSE 0.0 END
  FROM series WHERE rn = 1
  UNION ALL
  SELECT h.u, h.rn + 1, h.n,
         0.5 * sv.y + 0.5 * (h.s + h.b),
         0.3 * ((0.5 * sv.y + 0.5 * (h.s + h.b)) - h.s) + 0.7 * h.b
  FROM hw h
  JOIN series sv ON sv.u = h.u AND sv.rn = h.rn + 1
)
SELECT u AS user_id, CAST(n AS BIGINT) AS n_points,
       round(s, 6) AS level, round(b, 6) AS trend,
       round(s + b, 6) AS forecast_1
FROM hw WHERE rn = n
ORDER BY user_id
"""
query(q_holt_trend, SQL_HOLT_TREND, bench=True)


def q_mi_ranking(spark, sf_dir):
    """Mutual-information dependence screen (stats_tests.
    mutual_information): three feature pairs over events — event_type
    vs a user hash-bucket, event_type vs day-of-month, bucket vs day —
    exact joint-table MI/NMI in nats. The model-free complement of
    chi2_assoc/woe_iv; near-1 NMI against a label is the leakage
    tripwire."""
    from mhm_data_pipelines_spark.operators.stats_tests import (
        mutual_information,
    )

    ev = _t(spark, sf_dir, "events")
    u7 = F.pmod(F.col("user_id"), F.lit(7))
    dom = F.dayofmonth("ts")
    out = mutual_information(
        ev,
        [
            ("event_type", u7, "event_type", "user_mod7"),
            ("event_type", dom, "event_type", "day_of_month"),
            (u7, dom, "user_mod7", "day_of_month"),
        ],
    )
    return out.orderBy("x_col", "y_col")


def _mi_sql(x: str, y: str, xn: str, yn: str) -> str:
    return f"""
  SELECT '{xn}' AS x_col, '{yn}' AS y_col,
         CAST(max(n) AS BIGINT) AS n,
         round(sum(CASE WHEN xf THEN -(cx / n) * ln(cx / n)
                        ELSE 0.0 END), 6) AS h_x,
         round(sum(CASE WHEN yf THEN -(cy / n) * ln(cy / n)
                        ELSE 0.0 END), 6) AS h_y,
         round(sum((c / n) * ln(c * n / (cx * cy))), 6) AS mi,
         round(CASE WHEN sum(CASE WHEN xf THEN -(cx / n) * ln(cx / n)
                                  ELSE 0.0 END) > 0
                     AND sum(CASE WHEN yf THEN -(cy / n) * ln(cy / n)
                                  ELSE 0.0 END) > 0
               THEN sum((c / n) * ln(c * n / (cx * cy)))
                    / sqrt(sum(CASE WHEN xf THEN -(cx / n) * ln(cx / n)
                                    ELSE 0.0 END)
                         * sum(CASE WHEN yf THEN -(cy / n) * ln(cy / n)
                                    ELSE 0.0 END))
               ELSE 0.0 END, 6) AS nmi
  FROM (
    SELECT c * 1.0 AS c,
           sum(c * 1.0) OVER (PARTITION BY x) AS cx,
           sum(c * 1.0) OVER (PARTITION BY y) AS cy,
           sum(c * 1.0) OVER () AS n,
           row_number() OVER (PARTITION BY x ORDER BY y) = 1 AS xf,
           row_number() OVER (PARTITION BY y ORDER BY x) = 1 AS yf
    FROM (
      SELECT {x} AS x, {y} AS y, count(*) AS c
      FROM events GROUP BY 1, 2
    )
  )"""


SQL_MI_RANKING = (
    "\nUNION ALL\n".join(
        [
            _mi_sql(
                "event_type", "user_id % 7", "event_type", "user_mod7"
            ),
            _mi_sql(
                "event_type", "day(ts)", "event_type", "day_of_month"
            ),
            _mi_sql(
                "user_id % 7", "day(ts)", "user_mod7", "day_of_month"
            ),
        ]
    )
    + "\nORDER BY x_col, y_col"
)
query(q_mi_ranking, SQL_MI_RANKING, bench=True)


def q_sprt_decision(spark, sf_dir):
    """Wald SPRT early-stopping replay per event-type arm
    (stats_tests.sprt_bernoulli): outcome = value > 34 (≈ the corpus
    median), H0 p=0.45 vs H1 p=0.55, alpha=beta=0.05, observations in
    (ts, event_id) order. The oracle replays the identical cumulative
    LLR walk — agreement certifies the crossing index, not just the
    final sum."""
    from mhm_data_pipelines_spark.operators.stats_tests import (
        sprt_bernoulli,
    )

    ev = _t(spark, sf_dir, "events")
    out = sprt_bernoulli(
        ev,
        ["event_type"],
        (F.col("value") > 34.0).cast("int"),
        ["ts", "event_id"],
        p0=0.45,
        p1=0.55,
        alpha=0.05,
        beta=0.05,
    )
    return out.orderBy("event_type")


SQL_SPRT_DECISION = """
WITH cum AS (
  SELECT event_type AS g,
         CASE WHEN value > 34.0 THEN 1 ELSE 0 END AS x,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY ts, event_id) AS rn,
         sum(CASE WHEN value > 34.0 THEN ln(0.55 / 0.45)
                  ELSE ln(0.45 / 0.55) END)
           OVER (PARTITION BY event_type ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS llr
  FROM events
  WHERE value IS NOT NULL
), agg AS (
  SELECT g,
         count(*) AS n_obs,
         CAST(sum(x) AS BIGINT) AS successes,
         arg_max(llr, rn) AS final_llr,
         min(rn) FILTER (WHERE llr >= ln(0.95 / 0.05)) AS rn1,
         min(rn) FILTER (WHERE llr <= ln(0.05 / 0.95)) AS rn0,
         arg_min(llr, rn) FILTER (WHERE llr >= ln(0.95 / 0.05))
           AS llr1,
         arg_min(llr, rn) FILTER (WHERE llr <= ln(0.05 / 0.95))
           AS llr0
  FROM cum GROUP BY g
)
SELECT g AS event_type, n_obs, successes,
       round(final_llr, 6) AS final_llr,
       CASE WHEN rn1 IS NOT NULL AND (rn0 IS NULL OR rn1 < rn0)
              THEN 'accept_h1'
            WHEN rn0 IS NOT NULL AND (rn1 IS NULL OR rn0 <= rn1)
              THEN 'accept_h0'
            ELSE 'continue' END AS decision,
       CAST(CASE WHEN rn1 IS NOT NULL AND (rn0 IS NULL OR rn1 < rn0)
              THEN rn1
            WHEN rn0 IS NOT NULL AND (rn1 IS NULL OR rn0 <= rn1)
              THEN rn0 END AS BIGINT) AS n_at_decision,
       round(CASE WHEN rn1 IS NOT NULL AND (rn0 IS NULL OR rn1 < rn0)
              THEN llr1
            WHEN rn0 IS NOT NULL AND (rn1 IS NULL OR rn0 <= rn1)
              THEN llr0 END, 6) AS llr_at_decision
FROM agg
ORDER BY event_type
"""
query(q_sprt_decision, SQL_SPRT_DECISION, bench=True)


def q_lag_features(spark, sf_dir):
    """Calendar-aware supervised feature assembly over each user's
    daily mean value (timeseries.lag_features): lag_1/lag_7 by exact
    date-ordinal RANGE frames (gaps yield NULL, never a silent
    reach-back), a strictly-prior 7-day rolling mean/count, and ISO
    day-of-week — every frame served by ONE entity shuffle / one
    Window node. DATE rendered ISO for cross-engine hash parity."""
    from mhm_data_pipelines_spark.operators.timeseries import (
        lag_features,
    )

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("user_id"), F.to_date("ts").alias("d")
    ).agg(F.round(F.avg("value"), 6).alias("y"))
    out = lag_features(daily, "user_id", "d", "y", lags=(1, 7))
    return out.select(
        "user_id",
        F.date_format("d", "yyyy-MM-dd").alias("d"),
        F.col("dow").cast("int").alias("dow"),
        "y",
        "lag_1",
        "lag_7",
        # round-SUM-then-divide, NO rounding of the mean: round(sum,6)
        # lands both engines on the identical grid double (the true
        # window sum of 6dp inputs IS a 6-decimal number), and dividing
        # identical doubles by the identical count is bit-equal — while
        # rounding the MEAN can hit a true decimal tie (sf0.01 has a
        # window where sum/6 is exactly x.xxxxxx5) that Spark's
        # decimal HALF_UP and DuckDB's binary round break differently.
        F.round("rsum_7", 6).alias("rsum_7"),
        F.when(
            F.col("rcount_7") > 0,
            F.round("rsum_7", 6) / F.col("rcount_7"),
        ).alias("rmean_7"),
        F.col("rcount_7").cast("long").alias("rcount_7"),
    ).orderBy("user_id", "d")


SQL_LAG_FEATURES = """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS d, round(avg(value), 6) AS y
  FROM events GROUP BY 1, 2
), o AS (
  SELECT user_id, d, y,
         datediff('day', DATE '1970-01-01', d) AS ord_
  FROM daily
)
SELECT user_id, strftime(d, '%Y-%m-%d') AS d,
       CAST(isodow(d) AS INT) AS dow, y,
       max(y) OVER (PARTITION BY user_id ORDER BY ord_
                    RANGE BETWEEN 1 PRECEDING AND 1 PRECEDING)
         AS lag_1,
       max(y) OVER (PARTITION BY user_id ORDER BY ord_
                    RANGE BETWEEN 7 PRECEDING AND 7 PRECEDING)
         AS lag_7,
       round(sum(y) OVER (PARTITION BY user_id ORDER BY ord_
                    RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING), 6)
         AS rsum_7,
       CASE WHEN count(y) OVER (PARTITION BY user_id ORDER BY ord_
                    RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING) > 0
       THEN
         round(sum(y) OVER (PARTITION BY user_id ORDER BY ord_
                    RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING), 6)
         / count(y) OVER (PARTITION BY user_id ORDER BY ord_
                    RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING)
       END AS rmean_7,
       count(y) OVER (PARTITION BY user_id ORDER BY ord_
                    RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING)
         AS rcount_7
FROM o
ORDER BY user_id, d
"""
query(q_lag_features, SQL_LAG_FEATURES, bench=True)


def q_fdr_battery(spark, sf_dir):
    """BH false-discovery-rate control over a 35-test battery
    (stats_tests.fdr_adjust): one-vs-rest two-proportion z per
    (event_type, user_id%7) cell on the value>34 outcome, p-values via
    the engine-portable normal_cdf polynomial (functions.stats — the
    SQL oracle interpolates NORMAL_CDF_SQL, the IDENTICAL expression
    tree), then step-up adjustment. p_rank is withheld from the gate
    output (row_number among TIED p is engine-arbitrary; the adjusted
    values collapse ties deterministically, the rank does not)."""
    from mhm_data_pipelines_spark.functions.stats import normal_cdf
    from mhm_data_pipelines_spark.operators.stats_tests import (
        fdr_adjust,
    )

    ev = _t(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.col("event_type"),
        F.pmod(F.col("user_id"), F.lit(7)).alias("bucket"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("value") > 34.0).cast("long")).alias("s"),
    )
    tot = cells.agg(
        F.sum("n").alias("_N"), F.sum("s").alias("_S")
    )
    z_num = F.col("s") / F.col("n") - (F.col("_S") - F.col("s")) / (
        F.col("_N") - F.col("n")
    )
    pooled = F.col("_S") / F.col("_N")
    z_den = F.sqrt(
        pooled
        * (F.lit(1.0) - pooled)
        * (
            F.lit(1.0) / F.col("n")
            + F.lit(1.0) / (F.col("_N") - F.col("n"))
        )
    )
    scored = cells.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "bucket",
        "n",
        "s",
        (z_num / z_den).alias("z"),
    )
    withp = scored.withColumn(
        "p",
        F.lit(2.0) * (F.lit(1.0) - normal_cdf(F.abs(F.col("z")))),
    )
    adj = fdr_adjust(withp, "p", alpha=0.05)
    return adj.select(
        "event_type",
        F.col("bucket").cast("int").alias("bucket"),
        F.col("n").cast("long").alias("n"),
        F.col("s").cast("long").alias("s"),
        F.round("z", 6).alias("z"),
        F.round("p", 6).alias("p"),
        F.round("p_adj", 6).alias("p_adj"),
        "reject",
    ).orderBy("event_type", "bucket")


from mhm_data_pipelines_spark.functions.stats import (  # noqa: E402
    NORMAL_CDF_SQL as _PHI,
)

SQL_FDR_BATTERY = """
WITH cells AS (
  SELECT event_type, CAST(user_id % 7 AS INT) AS bucket,
         count(*) AS n,
         sum(CASE WHEN value > 34.0 THEN 1 ELSE 0 END) AS s
  FROM events GROUP BY 1, 2
), tot AS (
  SELECT sum(n) AS N_, sum(s) AS S_ FROM cells
), scored AS (
  SELECT c.event_type, c.bucket, c.n, c.s,
         (c.s / (1.0 * c.n) - (t.S_ - c.s) / (1.0 * (t.N_ - c.n)))
         / sqrt((t.S_ / (1.0 * t.N_)) * (1.0 - t.S_ / (1.0 * t.N_))
                * (1.0 / c.n + 1.0 / (t.N_ - c.n))) AS z
  FROM cells c CROSS JOIN tot t
), withp AS (
  SELECT *, 2.0 * (1.0 - __PHI__) AS p FROM scored
), ranked AS (
  SELECT *, row_number() OVER (ORDER BY p) AS rn,
         count(*) OVER () AS nt
  FROM withp
), adj AS (
  SELECT *, least(1.0, min(p * nt / rn)
           OVER (ORDER BY rn DESC ROWS UNBOUNDED PRECEDING)) AS p_adj
  FROM ranked
)
SELECT event_type, bucket, CAST(n AS BIGINT) AS n,
       CAST(s AS BIGINT) AS s,
       round(z, 6) AS z, round(p, 6) AS p, round(p_adj, 6) AS p_adj,
       p_adj <= 0.05 AS reject
FROM adj
ORDER BY event_type, bucket
""".replace("__PHI__", _PHI.format(z="abs(z)"))
query(q_fdr_battery, SQL_FDR_BATTERY, bench=True)


def q_readability(spark, sf_dir):
    """Corpus readability rollup (functions.text.readability_stats):
    Flesch reading-ease + FK grade per (source, lang) — integer
    word/sentence/syllable totals anchor the hash exactly; the two
    mean scores are round(sum/n, 6) over per-doc doubles that are
    bit-identical cross-engine (pure integer-count arithmetic)."""
    from mhm_data_pipelines_spark.functions.text import (
        readability_stats,
    )

    docs = _t(spark, sf_dir, "documents")
    r = docs.select(
        "source", "lang", readability_stats("text").alias("r")
    ).select("source", "lang", "r.*")
    return (
        r.filter(F.col("words") > 0)
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("words").cast("long").alias("words"),
            F.sum("sentences").cast("long").alias("sentences"),
            F.sum("syllables").cast("long").alias("syllables"),
            F.round(F.sum("flesch") / F.count("flesch"), 6).alias(
                "mean_flesch"
            ),
            F.round(F.sum("fk_grade") / F.count("fk_grade"), 6).alias(
                "mean_fk_grade"
            ),
        )
        .orderBy("source", "lang")
    )


SQL_READABILITY = """
WITH per_doc AS (
  SELECT source, lang,
         len(list_filter(
           regexp_split_to_array(trim(lower(text)), '\\s+'),
           w -> w <> '')) AS words,
         greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS sentences,
         len(regexp_extract_all(lower(text), '[aeiouy]+'))
         + len(list_filter(
             regexp_split_to_array(trim(lower(text)), '\\s+'),
             w -> w <> '' AND NOT regexp_matches(w, '[aeiouy]')))
           AS syllables
  FROM documents
), scored AS (
  SELECT source, lang, words, sentences, syllables,
         206.835 - 1.015 * (words / (1.0 * sentences))
                 - 84.6 * (syllables / (1.0 * words)) AS flesch,
         0.39 * (words / (1.0 * sentences))
           + 11.8 * (syllables / (1.0 * words)) - 15.59 AS fk_grade
  FROM per_doc WHERE words > 0
)
SELECT source, lang, count(*) AS n_docs,
       CAST(sum(words) AS BIGINT) AS words,
       CAST(sum(sentences) AS BIGINT) AS sentences,
       CAST(sum(syllables) AS BIGINT) AS syllables,
       round(sum(flesch) / count(flesch), 6) AS mean_flesch,
       round(sum(fk_grade) / count(fk_grade), 6) AS mean_fk_grade
FROM scored
GROUP BY source, lang
ORDER BY source, lang
"""
query(q_readability, SQL_READABILITY, bench=True)


def q_stream_holt(spark, sf_dir):
    """§2.9 stateful streaming, second custom operator in the gate:
    streaming Holt smoothing (streaming/stateful.holt_stream) drained
    availableNow over the events table — per-user (level, trend) state
    advanced in event order with the batch operator's exact float
    tree (batch-split bit-invariance is test-asserted), so the final
    state IS SQL-expressible and the oracle replays the recursion over
    the raw per-user value series in one recursive CTE."""
    from mhm_data_pipelines_spark.streaming.stateful import holt_stream

    stream = _event_stream(spark, sf_dir)
    out = holt_stream(stream)
    snap = _drain_to_table(out, "_stream_holt_gate", "stream_holt")
    w = Window.partitionBy("user_id").orderBy(F.desc("n_points"))
    return (
        snap.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select(
            "user_id",
            F.col("n_points").cast("long").alias("n_points"),
            F.round("level", 6).alias("level"),
            F.round("trend", 6).alias("trend"),
        )
        .orderBy("user_id")
    )


SQL_STREAM_HOLT = """
WITH RECURSIVE series AS (
  SELECT user_id AS u, value AS y,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n,
         lead(value) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS y_next
  FROM events
  WHERE value IS NOT NULL
), hw(u, rn, n, s, b) AS (
  SELECT u, 1, n, y,
         CASE WHEN n > 1 THEN y_next - y ELSE 0.0 END
  FROM series WHERE rn = 1
  UNION ALL
  SELECT h.u, h.rn + 1, h.n,
         0.5 * sv.y + 0.5 * (h.s + h.b),
         0.3 * ((0.5 * sv.y + 0.5 * (h.s + h.b)) - h.s) + 0.7 * h.b
  FROM hw h
  JOIN series sv ON sv.u = h.u AND sv.rn = h.rn + 1
)
SELECT u AS user_id, CAST(n AS BIGINT) AS n_points,
       round(s, 6) AS level, round(b, 6) AS trend
FROM hw WHERE rn = n
ORDER BY user_id
"""
query(q_stream_holt, SQL_STREAM_HOLT, bench=True)


def q_cuped_lift(spark, sf_dir):
    """CUPED variance-reduced A/B readout (stats_tests.cuped_report):
    units = users, arm = user_id parity, covariate x = first-half-of-
    month value sum, metric y = second-half sum (both 6dp-rounded
    pre-derivation — on the 2-decimal input grid the rounded sums are
    exact, so every downstream moment starts from identical doubles).
    Pooled theta, per-arm before/after variances, reduction pct."""
    from mhm_data_pipelines_spark.operators.stats_tests import (
        cuped_report,
    )

    ev = _t(spark, sf_dir, "events")
    unit = ev.groupBy(
        F.col("user_id"),
        F.pmod(F.col("user_id"), F.lit(2)).cast("int").alias("arm"),
    ).agg(
        F.round(
            F.sum(
                F.when(F.dayofmonth("ts") <= 15, F.col("value"))
                .otherwise(F.lit(0.0))
            ),
            6,
        ).alias("x"),
        F.round(
            F.sum(
                F.when(F.dayofmonth("ts") > 15, F.col("value"))
                .otherwise(F.lit(0.0))
            ),
            6,
        ).alias("y"),
    )
    return cuped_report(unit, "arm", "y", "x").orderBy("arm")


SQL_CUPED_LIFT = """
WITH unit AS (
  SELECT user_id, CAST(user_id % 2 AS INT) AS arm,
         round(sum(CASE WHEN day(ts) <= 15 THEN value
                        ELSE 0.0 END), 6) AS x,
         round(sum(CASE WHEN day(ts) > 15 THEN value
                        ELSE 0.0 END), 6) AS y
  FROM events GROUP BY 1, 2
), per_arm AS (
  SELECT arm, count(*) AS n, sum(y) AS sy, sum(x) AS sx,
         sum(y * y) AS syy, sum(x * x) AS sxx, sum(x * y) AS sxy
  FROM unit
  WHERE x IS NOT NULL AND y IS NOT NULL
  GROUP BY arm
), pooled AS (
  SELECT sum(sx) / sum(n) AS mean_x_g,
         CASE WHEN sum(sxx) / sum(n)
                   - (sum(sx) / sum(n)) * (sum(sx) / sum(n)) > 0
              THEN (sum(sxy) / sum(n)
                    - (sum(sx) / sum(n)) * (sum(sy) / sum(n)))
                   / (sum(sxx) / sum(n)
                      - (sum(sx) / sum(n)) * (sum(sx) / sum(n)))
              ELSE 0.0 END AS theta
  FROM per_arm
)
SELECT a.arm, CAST(a.n AS BIGINT) AS n,
       round(a.sy / a.n, 6) AS mean_y,
       round(a.sy / a.n - p.theta * (a.sx / a.n - p.mean_x_g), 6)
         AS mean_cuped,
       round(a.syy / a.n - (a.sy / a.n) * (a.sy / a.n), 6) AS var_y,
       round((a.syy / a.n - (a.sy / a.n) * (a.sy / a.n))
             - 2.0 * p.theta
               * (a.sxy / a.n - (a.sx / a.n) * (a.sy / a.n))
             + p.theta * p.theta
               * (a.sxx / a.n - (a.sx / a.n) * (a.sx / a.n)), 6)
         AS var_cuped,
       round(p.theta, 6) AS theta,
       round(CASE WHEN a.syy / a.n - (a.sy / a.n) * (a.sy / a.n) > 0
         THEN 100.0 * (1.0 -
              ((a.syy / a.n - (a.sy / a.n) * (a.sy / a.n))
               - 2.0 * p.theta
                 * (a.sxy / a.n - (a.sx / a.n) * (a.sy / a.n))
               + p.theta * p.theta
                 * (a.sxx / a.n - (a.sx / a.n) * (a.sx / a.n)))
              / (a.syy / a.n - (a.sy / a.n) * (a.sy / a.n)))
         END, 6) AS var_reduction_pct
FROM per_arm a CROSS JOIN pooled p
ORDER BY arm
"""
query(q_cuped_lift, SQL_CUPED_LIFT, bench=True)


def q_srm_audit(spark, sf_dir):
    """Sample-ratio-mismatch guardrail (stats_tests.srm_check): are
    events split across the four user_id%4 pseudo-arms at the designed
    uniform ratio? dof=3 exercises the Wilson-Hilferty branch of the
    portable p-value (the oracle replays the same cube-root-normal
    tree through NORMAL_CDF_SQL)."""
    from mhm_data_pipelines_spark.operators.stats_tests import srm_check

    ev = _t(spark, sf_dir, "events").withColumn(
        "arm", F.pmod(F.col("user_id"), F.lit(4)).cast("string")
    )
    return srm_check(
        ev, "arm", {"0": 0.25, "1": 0.25, "2": 0.25, "3": 0.25}
    )


from mhm_data_pipelines_spark.functions.stats import (  # noqa: E402
    NORMAL_CDF_SQL as _PHI_SRM,
)

_SRM_WH_Z = (
    "((pow(chi2 / 3.0, 1.0 / 3.0)"
    " - (1.0 - 2.0 / (9.0 * 3.0))) / sqrt(2.0 / (9.0 * 3.0)))"
)

SQL_SRM_AUDIT = """
WITH obs AS (
  SELECT CAST(user_id % 4 AS VARCHAR) AS arm, count(*) AS c
  FROM events GROUP BY 1
), merged AS (
  SELECT e.arm, 0.25 AS share, coalesce(o.c, 0) AS c
  FROM (SELECT unnest(['0', '1', '2', '3']) AS arm) e
  LEFT JOIN obs o ON o.arm = e.arm
), with_total AS (
  SELECT *, sum(c) OVER () AS N FROM merged
), base AS (
  SELECT CAST(sum(c) AS BIGINT) AS n,
         count(*) AS k,
         sum((c - share * N) * (c - share * N) / (share * N)) AS chi2
  FROM with_total
)
SELECT n, CAST(0 AS BIGINT) AS n_null_arm,
       CAST(k - 1 AS INT) AS dof,
       round(chi2, 6) AS chi2,
       round(1.0 - __PHI__, 6) AS p_value
FROM base
""".replace("__PHI__", _PHI_SRM.format(z=_SRM_WH_Z))
query(q_srm_audit, SQL_SRM_AUDIT, bench=True)


def q_reach_curve(spark, sf_dir):
    """Exact daily active/new/returning/cumulative-reach counts over
    events (timeseries.reach_curve): the running reach is the sum of
    new_users — exact because each user is new exactly once — so the
    whole growth chart needs no distinct-union scans per day. DATE
    rendered ISO for hash parity."""
    from mhm_data_pipelines_spark.operators.timeseries import (
        reach_curve,
    )

    ev = _t(spark, sf_dir, "events")
    out = reach_curve(ev)
    return out.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "dau",
        "new_users",
        "returning",
        "cumulative_users",
    ).orderBy("day")


SQL_REACH_CURVE = """
WITH pairs AS (
  SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS day FROM events
), dau AS (
  SELECT day, count(*) AS dau FROM pairs GROUP BY day
), news AS (
  SELECT day, count(*) AS new_users FROM (
    SELECT u, min(day) AS day FROM pairs GROUP BY u
  ) GROUP BY day
)
SELECT strftime(d.day, '%Y-%m-%d') AS day,
       CAST(d.dau AS BIGINT) AS dau,
       CAST(coalesce(n.new_users, 0) AS BIGINT) AS new_users,
       CAST(d.dau - coalesce(n.new_users, 0) AS BIGINT) AS returning,
       CAST(sum(coalesce(n.new_users, 0))
              OVER (ORDER BY d.day ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS cumulative_users
FROM dau d LEFT JOIN news n ON n.day = d.day
ORDER BY day
"""
query(q_reach_curve, SQL_REACH_CURVE, bench=True)


def q_pareto_events(spark, sf_dir):
    """Pareto/ABC concentration of event volume over users
    (profile.pareto_report): how many top users produce 50/80/90% of
    all events, plus top-1 share — the curve-coordinate complement of
    source_concentration's HHI/Gini scalars. Weight ties break on the
    user key, so every count is engine-deterministic."""
    from mhm_data_pipelines_spark.operators.profile import (
        pareto_report,
    )

    ev = _t(spark, sf_dir, "events")
    return pareto_report(ev, "user_id", thresholds=(0.5, 0.8, 0.9))


SQL_PARETO_EVENTS = """
WITH gw AS (
  SELECT user_id AS g, count(*) AS wt FROM events GROUP BY user_id
), cum AS (
  SELECT wt,
         row_number() OVER (ORDER BY wt DESC, g) AS rk,
         sum(wt) OVER (ORDER BY wt DESC, g
                       ROWS UNBOUNDED PRECEDING) AS cw,
         sum(wt) OVER () AS tot,
         count(*) OVER () AS ng
  FROM gw
)
SELECT max(ng) AS n_groups,
       round(max(tot) * 1.0, 6) AS total_weight,
       round(max(CASE WHEN rk = 1 THEN wt END) * 1.0 / max(tot), 6)
         AS top1_share,
       CAST(min(CASE WHEN cw * 1.0 / tot >= 0.5 THEN rk END)
            AS BIGINT) AS n_to_50,
       CAST(min(CASE WHEN cw * 1.0 / tot >= 0.8 THEN rk END)
            AS BIGINT) AS n_to_80,
       CAST(min(CASE WHEN cw * 1.0 / tot >= 0.9 THEN rk END)
            AS BIGINT) AS n_to_90,
       round(min(CASE WHEN cw * 1.0 / tot >= 0.5 THEN rk END)
             * 1.0 / max(ng), 6) AS pct_groups_to_50,
       round(min(CASE WHEN cw * 1.0 / tot >= 0.8 THEN rk END)
             * 1.0 / max(ng), 6) AS pct_groups_to_80,
       round(min(CASE WHEN cw * 1.0 / tot >= 0.9 THEN rk END)
             * 1.0 / max(ng), 6) AS pct_groups_to_90
FROM cum
"""
query(q_pareto_events, SQL_PARETO_EVENTS, bench=True)


def q_did_lift(spark, sf_dir):
    """2x2 difference-in-differences over user half-month outcomes
    (stats_tests.did_report): arm = user parity (treat = odd), period
    = first/second half of the month, unit outcome = 6dp-rounded value
    sum — the pre/post cross-section DiD with delta-method SE and a
    p-value through the portable normal-CDF tree the oracle replays."""
    from mhm_data_pipelines_spark.operators.stats_tests import (
        did_report,
    )

    ev = _t(spark, sf_dir, "events")
    unit = ev.groupBy(
        F.col("user_id"),
        F.pmod(F.col("user_id"), F.lit(2)).cast("string").alias("arm"),
        F.when(F.dayofmonth("ts") <= 15, F.lit("pre"))
        .otherwise(F.lit("post"))
        .alias("period"),
    ).agg(F.round(F.sum("value"), 6).alias("y"))
    return did_report(unit, "arm", "period", "y", "1", "post")


from mhm_data_pipelines_spark.functions.stats import (  # noqa: E402
    NORMAL_CDF_SQL as _PHI_DID,
)

SQL_DID_LIFT = """
WITH unit AS (
  SELECT user_id,
         CASE WHEN user_id % 2 = 1 THEN 't' ELSE 'c' END AS a,
         CASE WHEN day(ts) <= 15 THEN 'q' ELSE 'p' END AS pp,
         round(sum(value), 6) AS y
  FROM events GROUP BY 1, 2, 3
), cells AS (
  SELECT a, pp, count(*) AS n, avg(y) AS m, var_samp(y) AS v
  FROM unit
  WHERE y IS NOT NULL
  GROUP BY a, pp
), one AS (
  SELECT
    CAST(coalesce(max(CASE WHEN a='t' AND pp='p' THEN n END), 0)
         AS BIGINT) AS n_tp,
    CAST(coalesce(max(CASE WHEN a='t' AND pp='q' THEN n END), 0)
         AS BIGINT) AS n_tq,
    CAST(coalesce(max(CASE WHEN a='c' AND pp='p' THEN n END), 0)
         AS BIGINT) AS n_cp,
    CAST(coalesce(max(CASE WHEN a='c' AND pp='q' THEN n END), 0)
         AS BIGINT) AS n_cq,
    max(CASE WHEN a='t' AND pp='p' THEN m END) AS m_tp,
    max(CASE WHEN a='t' AND pp='q' THEN m END) AS m_tq,
    max(CASE WHEN a='c' AND pp='p' THEN m END) AS m_cp,
    max(CASE WHEN a='c' AND pp='q' THEN m END) AS m_cq,
    max(CASE WHEN a='t' AND pp='p' THEN v END) AS v_tp,
    max(CASE WHEN a='t' AND pp='q' THEN v END) AS v_tq,
    max(CASE WHEN a='c' AND pp='p' THEN v END) AS v_cp,
    max(CASE WHEN a='c' AND pp='q' THEN v END) AS v_cq
  FROM cells
), stat AS (
  SELECT *,
    (m_tp - m_tq) - (m_cp - m_cq) AS did_,
    sqrt(v_tp / n_tp + v_tq / n_tq + v_cp / n_cp + v_cq / n_cq)
      AS se_
  FROM one
), zed AS (
  SELECT *, CASE WHEN se_ > 0 THEN did_ / se_ END AS z FROM stat
)
SELECT n_tp, n_tq, n_cp, n_cq,
       round(m_tp, 6) AS mean_tp, round(m_tq, 6) AS mean_tq,
       round(m_cp, 6) AS mean_cp, round(m_cq, 6) AS mean_cq,
       round(did_, 6) AS did, round(se_, 6) AS se,
       round(z, 6) AS z,
       round(2.0 * (1.0 - __PHI__), 6) AS p_value
FROM zed
""".replace("__PHI__", _PHI_DID.format(z="abs(z)"))
query(q_did_lift, SQL_DID_LIFT, bench=True)


def q_session_paths(spark, sf_dir):
    """Top session entry paths over events (timeseries.
    session_entry_paths, 30-min gap, depth 5, top 20): grouping on the
    step TUPLE (the event_sequences separator-collision contract),
    path string rendered after the count; the top-k cut is
    deterministic via the (n desc, path asc) order."""
    from mhm_data_pipelines_spark.operators.timeseries import (
        session_entry_paths,
    )

    ev = _t(spark, sf_dir, "events")
    return session_entry_paths(
        ev, gap_minutes=30.0, depth=5, top_k=20
    )


SQL_SESSION_PATHS = """
WITH g AS (
  SELECT user_id AS u, ts, event_id AS id, event_type AS t,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                   > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT u, ts, id, t,
         sum(new_s) OVER (PARTITION BY u ORDER BY ts, id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM g
), r AS (
  SELECT u, sid, t,
         row_number() OVER (PARTITION BY u, sid
                            ORDER BY ts, id) AS rn
  FROM s
), p AS (
  SELECT u, sid,
         max(CASE WHEN rn = 1 THEN t END) AS s1,
         max(CASE WHEN rn = 2 THEN t END) AS s2,
         max(CASE WHEN rn = 3 THEN t END) AS s3,
         max(CASE WHEN rn = 4 THEN t END) AS s4,
         max(CASE WHEN rn = 5 THEN t END) AS s5
  FROM r WHERE rn <= 5 GROUP BY u, sid
), c AS (
  SELECT s1, s2, s3, s4, s5, count(*) AS n
  FROM p GROUP BY s1, s2, s3, s4, s5
), tot AS (
  SELECT sum(n) AS tt FROM c
)
SELECT concat_ws('>', s1, s2, s3, s4, s5) AS path,
       CAST((s1 IS NOT NULL)::INT + (s2 IS NOT NULL)::INT
          + (s3 IS NOT NULL)::INT + (s4 IS NOT NULL)::INT
          + (s5 IS NOT NULL)::INT AS INT) AS steps,
       CAST(n AS BIGINT) AS n_sessions,
       round(n * 1.0 / tot.tt, 6) AS pct
FROM c CROSS JOIN tot
ORDER BY n DESC, path
LIMIT 20
"""
query(q_session_paths, SQL_SESSION_PATHS, bench=True)


def q_ranking_quality(spark, sf_dir):
    """Per-query ranked-retrieval eval (ranking.ranking_metrics):
    queries = event types, items = users ranked by mean event value
    (6dp-rounded BEFORE ranking so the tie-break grid is
    engine-identical), graded relevance = count % 3. nDCG@10 / MRR@10
    / AP@10 per query — the offline leaderboard readout for any
    retrieval stage."""
    from mhm_data_pipelines_spark.operators.ranking import (
        ranking_metrics,
    )

    ev = _t(spark, sf_dir, "events")
    judged = (
        ev.filter(F.col("value").isNotNull())
        .groupBy(
            F.col("event_type").alias("query_id"),
            F.col("user_id").alias("item_id"),
        )
        .agg(
            F.round(F.avg("value"), 6).alias("score"),
            (F.count(F.lit(1)) % 3).cast("double").alias("relevance"),
        )
    )
    out = ranking_metrics(judged, k=10)
    return out.orderBy("query_id")


SQL_RANKING_QUALITY = """
WITH judged AS (
  SELECT event_type AS q, user_id AS it,
         round(avg(value), 6) AS sc,
         CAST(count(*) % 3 AS DOUBLE) AS rel
  FROM events WHERE value IS NOT NULL
  GROUP BY 1, 2
), ranked AS (
  SELECT q, rel,
         row_number() OVER (PARTITION BY q ORDER BY sc DESC, it) AS r,
         row_number() OVER (PARTITION BY q ORDER BY rel DESC, it) AS ri
  FROM judged
), cum AS (
  SELECT *,
         sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END)
           OVER (PARTITION BY q ORDER BY r
                 ROWS UNBOUNDED PRECEDING) AS cum_pos
  FROM ranked
), per_q AS (
  SELECT q,
         count(*) AS n_items,
         CAST(sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_pos,
         sum(CASE WHEN r <= 10
                  THEN (pow(2.0, rel) - 1.0) / log2(r + 1.0) END)
           AS dcg,
         sum(CASE WHEN ri <= 10
                  THEN (pow(2.0, rel) - 1.0) / log2(ri + 1.0) END)
           AS idcg,
         max(CASE WHEN r <= 10 AND rel > 0 THEN 1.0 / r END) AS rr,
         sum(CASE WHEN r <= 10 AND rel > 0
                  THEN cum_pos * 1.0 / r END) AS psum
  FROM cum GROUP BY q
)
SELECT q AS query_id, n_items, n_pos,
       round(coalesce(dcg, 0.0), 6) AS dcg_k,
       round(CASE WHEN idcg > 0 THEN dcg / idcg END, 6) AS ndcg_k,
       round(coalesce(rr, 0.0), 6) AS mrr_k,
       round(CASE WHEN n_pos > 0
                  THEN coalesce(psum, 0.0) / least(n_pos, 10) END, 6)
         AS ap_k
FROM per_q
ORDER BY query_id
"""
query(q_ranking_quality, SQL_RANKING_QUALITY, bench=True)


def q_skyline_users(spark, sf_dir):
    """Pareto-skyline of users over (total event value, event count,
    distinct active days) — all maximized (selection.skyline, the
    Börzsönyi skyline operator): the multi-criteria shortlist no
    single score ranks. Metrics 6dp-rounded before the dominance test
    so both engines compare identical grids."""
    from mhm_data_pipelines_spark.operators.selection import skyline

    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.round(F.sum("value"), 6).alias("total_value"),
        F.count(F.lit(1)).cast("double").alias("n_events"),
        F.countDistinct(F.to_date("ts")).cast("double").alias("n_days"),
    )
    out = skyline(
        per_user,
        ["total_value", "n_events", "n_days"],
        ["user_id"],
    )
    return out.select(
        "user_id",
        "total_value",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("n_days").cast("long").alias("n_days"),
    ).orderBy("user_id")


SQL_SKYLINE_USERS = """
WITH per_user AS (
  SELECT user_id,
         round(sum(value), 6) AS total_value,
         CAST(count(*) AS DOUBLE) AS n_events,
         CAST(count(DISTINCT CAST(ts AS DATE)) AS DOUBLE) AS n_days
  FROM events GROUP BY user_id
)
SELECT p.user_id, p.total_value,
       CAST(p.n_events AS BIGINT) AS n_events,
       CAST(p.n_days AS BIGINT) AS n_days
FROM per_user p
WHERE NOT EXISTS (
  SELECT 1 FROM per_user d
  WHERE d.total_value >= p.total_value
    AND d.n_events >= p.n_events
    AND d.n_days >= p.n_days
    AND (d.total_value > p.total_value
         OR d.n_events > p.n_events
         OR d.n_days > p.n_days)
)
ORDER BY p.user_id
"""
query(q_skyline_users, SQL_SKYLINE_USERS, bench=True)


def q_cdc_snapshot(spark, sf_dir):
    """CDC changelog merge onto the orders snapshot (cdc.cdc_apply):
    a deterministic synthetic changelog derived from the base itself —
    key%3==0 updated at seq 1 (total+1, an IEEE-exact payload edit —
    multiplicative edits land on .xx5 rounding boundaries where
    HALF_UP engines disagree), key%5==0 deleted at seq 2
    (so %15 keys see U-then-D and end deleted), and a fresh insert
    under the collision-free negative key -k-1 for key%7==0. Exercises
    latest-winner ordering, delete-over-update, upsert-of-new-key and
    untouched passthrough in one oracle."""
    from mhm_data_pipelines_spark.operators.cdc import cdc_apply

    o = _t(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("total"),
    )
    upd = base.filter(F.col("k") % 3 == 0).select(
        "k",
        F.lit("X").alias("status"),
        (F.col("total") + F.lit(1.0)).alias("total"),
        F.lit(1).alias("seq"),
        F.lit("U").alias("op"),
    )
    dele = base.filter(F.col("k") % 5 == 0).select(
        "k",
        F.lit(None).cast("string").alias("status"),
        F.lit(None).cast("double").alias("total"),
        F.lit(2).alias("seq"),
        F.lit("D").alias("op"),
    )
    ins = base.filter(F.col("k") % 7 == 0).select(
        (-F.col("k") - 1).alias("k"),
        F.lit("N").alias("status"),
        (F.col("total") + F.lit(1000.0)).alias("total"),
        F.lit(1).alias("seq"),
        F.lit("I").alias("op"),
    )
    changes = upd.unionByName(dele).unionByName(ins)
    return cdc_apply(base, changes, ["k"]).orderBy("k")


SQL_CDC_SNAPSHOT = """
WITH base AS (
  SELECT o_orderkey AS k, o_orderstatus AS status,
         o_totalprice AS total
  FROM orders
), changes AS (
  SELECT k, 'X' AS status, total + 1.0 AS total,
         1 AS seq, 'U' AS op
  FROM base WHERE k % 3 = 0
  UNION ALL
  SELECT k, NULL, NULL, 2, 'D' FROM base WHERE k % 5 = 0
  UNION ALL
  SELECT -k - 1, 'N', total + 1000.0, 1, 'I'
  FROM base WHERE k % 7 = 0
), latest AS (
  SELECT *, row_number() OVER (
           PARTITION BY k
           ORDER BY seq DESC,
                    CASE op WHEN 'D' THEN 3 WHEN 'U' THEN 2
                            ELSE 1 END DESC) AS rn
  FROM changes
), w AS (
  SELECT k, op, status, total FROM latest WHERE rn = 1
)
SELECT b.k, b.status, b.total
FROM base b ANTI JOIN w ON b.k = w.k
UNION ALL
SELECT k, status, total FROM w WHERE op <> 'D'
ORDER BY k
"""
query(q_cdc_snapshot, SQL_CDC_SNAPSHOT, bench=True)


def q_mk_trend(spark, sf_dir):
    """Mann-Kendall trend + Sen slope per user over daily value sums
    (timeseries.mann_kendall): the nonparametric is-it-drifting test.
    t = integer day offsets (exact doubles), y = 6dp-rounded daily
    sums, so the O(n^2)-per-series pair sweep lands on an
    engine-identical grid; z/p ride the shared portable normal-CDF
    tree."""
    from mhm_data_pipelines_spark.operators.timeseries import (
        mann_kendall,
    )

    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("value").isNotNull())
        .groupBy(
            F.col("user_id").cast("string").alias("u"),
            F.to_date("ts").alias("_d"),
        )
        .agg(F.round(F.sum("value"), 6).alias("y"))
        .select(
            "u",
            F.datediff(F.col("_d"), F.lit("2024-01-01").cast("date"))
            .cast("double")
            .alias("t"),
            "y",
        )
    )
    return mann_kendall(daily, "u", "t", "y").orderBy("u")


SQL_MK_TREND = """
WITH daily AS (
  SELECT CAST(user_id AS VARCHAR) AS u,
         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
              AS DOUBLE) AS t,
         round(sum(value), 6) AS y
  FROM events WHERE value IS NOT NULL
  GROUP BY user_id, CAST(ts AS DATE)
), pairs AS (
  SELECT a.u,
         CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1
              ELSE 0 END AS sgn,
         CASE WHEN b.t <> a.t
              THEN (b.y - a.y) / (b.t - a.t) END AS slope
  FROM daily a JOIN daily b ON a.u = b.u AND a.t < b.t
), nn AS (
  SELECT u, count(*) AS n FROM daily GROUP BY u
), corr AS (
  SELECT u, sum(c * (c - 1) * (2 * c + 5)) AS corr
  FROM (SELECT u, y, count(*) AS c FROM daily GROUP BY u, y)
  GROUP BY u
), agg AS (
  SELECT u, coalesce(sum(sgn), 0) AS s,
         median(slope) AS sen
  FROM pairs GROUP BY u
), stats AS (
  SELECT nn.u, nn.n,
         coalesce(a.s, 0) AS s,
         (nn.n * (nn.n - 1) * (2 * nn.n + 5) - coalesce(c.corr, 0))
           / 18.0 AS var_s,
         a.sen AS sen
  FROM nn LEFT JOIN agg a ON a.u = nn.u
          LEFT JOIN corr c ON c.u = nn.u
), z AS (
  SELECT *,
         CASE WHEN var_s <= 0 THEN NULL
              WHEN s > 0 THEN (s - 1) / sqrt(var_s)
              WHEN s < 0 THEN (s + 1) / sqrt(var_s)
              ELSE 0.0 END AS zv
  FROM stats
)
SELECT u, CAST(n AS BIGINT) AS n_points, CAST(s AS BIGINT) AS s_stat,
       round(var_s, 6) AS var_s,
       round(zv, 6) AS z,
       round(2.0 * (1.0 - __PHI__), 6) AS p_value,
       round(sen, 6) AS sen_slope
FROM z
ORDER BY u
""".replace("__PHI__", _PHI.format(z="abs(zv)"))
query(q_mk_trend, SQL_MK_TREND, bench=True)


def q_lttb_downsample(spark, sf_dir):
    """Fixed-anchor largest-triangle downsampling of each user's event
    series to 20 buckets (timeseries.downsample_lttb): t = epoch
    SECONDS (integer-exact double sums -> engine-identical bucket
    means), y = 6dp value; survivors ordered for the hash."""
    from mhm_data_pipelines_spark.operators.timeseries import (
        downsample_lttb,
    )

    ev = _t(spark, sf_dir, "events")
    pts = ev.filter(F.col("value").isNotNull()).select(
        F.col("user_id").cast("string").alias("u"),
        F.floor(F.unix_micros(F.col("ts")) / 1_000_000)
        .cast("double")
        .alias("t"),
        F.round("value", 6).alias("y"),
        F.col("event_id").alias("eid"),
    )
    out = downsample_lttb(pts, "u", "t", "y", n_buckets=20, id_col="eid")
    return out.select("u", "t", "y", "bucket").orderBy("u", "t", "y")


SQL_LTTB_DOWNSAMPLE = """
WITH pts AS (
  SELECT CAST(user_id AS VARCHAR) AS u,
         CAST(floor(epoch_us(ts) / 1000000) AS DOUBLE) AS t,
         round(value, 6) AS y,
         event_id AS eid
  FROM events WHERE value IS NOT NULL
), ranked AS (
  SELECT u, t, y,
         row_number() OVER (PARTITION BY u ORDER BY t, eid) AS rn,
         count(*) OVER (PARTITION BY u) AS n
  FROM pts
), bucketed AS (
  SELECT u, t, y, rn,
         CASE WHEN n <= 20 THEN n ELSE 20 END AS nbe,
         CAST(CASE WHEN rn = 1 THEN 0
              WHEN rn = n THEN (CASE WHEN n <= 20 THEN n ELSE 20 END) - 1
              WHEN n <= 20 THEN rn - 1
              ELSE 1 + floor((rn - 2) * 18 / (n - 2))
         END AS BIGINT) AS b
  FROM ranked
), means AS (
  SELECT u, b, round(avg(t), 6) AS mt, round(avg(y), 6) AS my
  FROM bucketed GROUP BY u, b
), joined AS (
  SELECT c.u, c.t, c.y, c.rn, c.nbe, c.b,
         round(abs((p.mt - nx.mt) * (c.y - p.my)
                   - (p.mt - c.t) * (nx.my - p.my)), 6) AS area
  FROM bucketed c
  LEFT JOIN means p ON p.u = c.u AND p.b = c.b - 1
  LEFT JOIN means nx ON nx.u = c.u AND nx.b = c.b + 1
), scored AS (
  SELECT *, row_number() OVER (
           PARTITION BY u, b
           ORDER BY area DESC NULLS LAST, rn) AS kr
  FROM joined
)
SELECT u, t, y, b AS bucket
FROM scored
WHERE b = 0 OR b = nbe - 1 OR kr = 1
ORDER BY u, t, y
"""
query(q_lttb_downsample, SQL_LTTB_DOWNSAMPLE, bench=True)


def q_bayes_events(spark, sf_dir):
    """Bayesian A/B conversion readout (stats_tests.bayes_ab):
    arm = user parity, success = value > 34, uniform Beta(1,1) priors;
    p_beats_control via the documented normal approximation on the
    posterior difference, riding the shared portable normal-CDF tree.
    All posterior moments are exact integer-ratio arithmetic, so both
    engines divide identical doubles."""
    from mhm_data_pipelines_spark.operators.stats_tests import bayes_ab

    ev = _t(spark, sf_dir, "events")
    df = ev.filter(F.col("value").isNotNull()).select(
        F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias("arm"),
        (F.col("value") > 34.0).alias("ok"),
    )
    return bayes_ab(df, "arm", "ok", control="A").orderBy("arm")


SQL_BAYES_EVENTS = """
WITH arms AS (
  SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
         count(*) AS n,
         sum(CASE WHEN value > 34.0 THEN 1 ELSE 0 END) AS s
  FROM events WHERE value IS NOT NULL GROUP BY 1
), post AS (
  SELECT arm, n, s,
         (1.0 + s) / ((1.0 + s) + (1.0 + n - s)) AS m,
         ((1.0 + s) * (1.0 + n - s))
           / (((1.0 + s) + (1.0 + n - s))
              * ((1.0 + s) + (1.0 + n - s))
              * (((1.0 + s) + (1.0 + n - s)) + 1)) AS v
  FROM arms
), ctl AS (
  SELECT *,
         max(CASE WHEN arm = 'A' THEN m END) OVER () AS mc,
         max(CASE WHEN arm = 'A' THEN v END) OVER () AS vc
  FROM post
), zt AS (
  SELECT *, (m - mc) / sqrt(v + vc) AS zv FROM ctl
)
SELECT arm, CAST(n AS BIGINT) AS n, CAST(s AS BIGINT) AS s,
       round(m, 6) AS post_mean,
       round(v, 9) AS post_var,
       round(CASE WHEN arm <> 'A' THEN __PHI__ END, 6)
         AS p_beats_control
FROM zt
ORDER BY arm
""".replace("__PHI__", _PHI.format(z="zv"))
query(q_bayes_events, SQL_BAYES_EVENTS, bench=True)


def q_entropy_ldiv(spark, sf_dir):
    """Entropy l-diversity audit (privacy.entropy_l_diversity_classes)
    over QI = (event_type, user bucket), sensitive = value decile
    bucket (NULL value is its own sensitive category): per-class
    Shannon entropy vs the ln(2) threshold, 6dp-grid comparison."""
    from mhm_data_pipelines_spark.operators.privacy import (
        entropy_l_diversity_classes,
    )

    ev = _t(spark, sf_dir, "events")
    df = ev.select(
        "event_type",
        (F.col("user_id") % 10).cast("int").alias("ub"),
        F.floor(F.col("value") / 10).cast("int").alias("sv"),
    )
    out = entropy_l_diversity_classes(df, ["event_type", "ub"], "sv", l=2.0)
    return out.orderBy("event_type", "ub")


SQL_ENTROPY_LDIV = """
WITH cells AS (
  SELECT event_type, CAST(user_id % 10 AS INT) AS ub,
         CAST(floor(value / 10) AS INT) AS sv, count(*) AS c
  FROM events GROUP BY 1, 2, 3
), cls AS (
  SELECT event_type, ub, sum(c) AS n, count(*) AS ns,
         ln(sum(c)) - sum(c * ln(c)) / sum(c) AS h
  FROM cells GROUP BY 1, 2
)
SELECT event_type, ub, CAST(n AS BIGINT) AS n,
       ns AS n_sensitive,
       round(h, 6) AS entropy,
       round(exp(h), 6) AS effective_l,
       round(h, 6) >= 0.693147 AS meets_l
FROM cls
ORDER BY event_type, ub
"""
query(q_entropy_ldiv, SQL_ENTROPY_LDIV, bench=True)


def q_hw_forecast(spark, sf_dir):
    """Additive Holt-Winters (period 7) over per-user daily value sums
    (timeseries.holt_winters): level/trend/seasonal state after the
    full series + one-step forecast. Entities with < 14 days are
    omitted (nothing to init the weekly profile from) — mirrored by
    the oracle's HAVING. The DuckDB twin replays the recursion as a
    recursive CTE with LIST seasonal state, bit-identical because both
    engines fold the same sequential float expression tree (validated
    operand-for-operand; init means are sequential folds, not numpy
    pairwise sums)."""
    from mhm_data_pipelines_spark.operators.timeseries import (
        holt_winters,
    )

    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("value").isNotNull())
        .groupBy(
            F.col("user_id").cast("string").alias("u"),
            F.to_date("ts").alias("_d"),
        )
        .agg(F.round(F.sum("value"), 6).alias("y"))
        .select(
            "u",
            F.datediff(F.col("_d"), F.lit("2024-01-01").cast("date"))
            .cast("double")
            .alias("t"),
            "y",
        )
    )
    return holt_winters(
        daily, "u", "t", "y", period=7, alpha=0.4, beta=0.2, gamma=0.3
    ).orderBy("u")


SQL_HW_FORECAST = """
WITH RECURSIVE daily AS (
  SELECT CAST(user_id AS VARCHAR) AS u,
         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
              AS DOUBLE) AS t,
         round(sum(value), 6) AS y
  FROM events WHERE value IS NOT NULL
  GROUP BY user_id, CAST(ts AS DATE)
), ser AS (
  SELECT u, list(y ORDER BY t) AS xs, count(*) AS n
  FROM daily GROUP BY u HAVING count(*) >= 14
), init AS (
  SELECT u, xs, n, 7 AS t,
         list_sum(xs[1:7]) / 7 AS L,
         (list_sum(xs[8:14]) / 7 - list_sum(xs[1:7]) / 7) / 7 AS B,
         [x - list_sum(xs[1:7]) / 7 FOR x IN xs[1:7]] AS S
  FROM ser
), rec AS (
  SELECT * FROM init
  UNION ALL
  SELECT u, xs, n, t + 1,
         0.4 * (xs[t+1] - S[1]) + (1 - 0.4) * (L + B),
         0.2 * ((0.4 * (xs[t+1] - S[1]) + (1 - 0.4) * (L + B)) - L)
           + (1 - 0.2) * B,
         S[2:] || [0.3 * (xs[t+1]
                          - (0.4 * (xs[t+1] - S[1])
                             + (1 - 0.4) * (L + B)))
                   + (1 - 0.3) * S[1]]
  FROM rec WHERE t < n
)
SELECT u, CAST(n AS BIGINT) AS n_points,
       round(L, 6) AS level,
       round(B, 6) AS trend,
       round(S[1], 6) AS seasonal_next,
       round(L + B + S[1], 6) AS forecast_1
FROM rec WHERE t = n
ORDER BY u
"""
query(q_hw_forecast, SQL_HW_FORECAST, bench=True)


def q_changepoint_shift(spark, sf_dir):
    """Best single level-shift split per user daily series
    (timeseries.single_changepoint, min_seg=3): pure prefix-sum window
    algebra — the costs fold in identical ascending order in both
    engines, so the 6dp argmin grid is engine-exact."""
    from mhm_data_pipelines_spark.operators.timeseries import (
        single_changepoint,
    )

    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("value").isNotNull())
        .groupBy(
            F.col("user_id").cast("string").alias("u"),
            F.to_date("ts").alias("_d"),
        )
        .agg(F.round(F.sum("value"), 6).alias("y"))
        .select(
            "u",
            F.datediff(F.col("_d"), F.lit("2024-01-01").cast("date"))
            .cast("double")
            .alias("t"),
            "y",
        )
    )
    return single_changepoint(daily, "u", "t", "y", min_seg=3).orderBy("u")


SQL_CHANGEPOINT_SHIFT = """
WITH daily AS (
  SELECT CAST(user_id AS VARCHAR) AS u,
         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
              AS DOUBLE) AS t,
         round(sum(value), 6) AS y
  FROM events WHERE value IS NOT NULL
  GROUP BY user_id, CAST(ts AS DATE)
), scored AS (
  SELECT u, t,
         row_number() OVER w AS k,
         count(*) OVER (PARTITION BY u) AS n,
         sum(y) OVER (w ROWS UNBOUNDED PRECEDING) AS c1,
         sum(y * y) OVER (w ROWS UNBOUNDED PRECEDING) AS c2,
         sum(y) OVER (PARTITION BY u) AS T1,
         sum(y * y) OVER (PARTITION BY u) AS T2,
         lead(t) OVER w AS t_next
  FROM daily
  WINDOW w AS (PARTITION BY u ORDER BY t, y)
), cands AS (
  SELECT *,
         round((c2 - c1 * c1 / k)
               + ((T2 - c2) - (T1 - c1) * (T1 - c1) / (n - k)),
               6) AS cost
  FROM scored
  WHERE n >= 6 AND k >= 3 AND k <= n - 3
), best AS (
  SELECT *, row_number() OVER (PARTITION BY u
                               ORDER BY cost, k) AS rn
  FROM cands
)
SELECT u, CAST(n AS BIGINT) AS n_points,
       CAST(k AS INT) AS split_k,
       t_next AS split_order,
       cost AS sse_split,
       round(T2 - T1 * T1 / n, 6) AS sse_total,
       round(CASE WHEN T2 - T1 * T1 / n > 0
                  THEN 100.0 * (1.0 - cost / (T2 - T1 * T1 / n)) END,
             6) AS reduction_pct
FROM best WHERE rn = 1
ORDER BY u
"""
query(q_changepoint_shift, SQL_CHANGEPOINT_SHIFT, bench=True)


def q_grid_clusters(spark, sf_dir):
    """Grid-density clustering of the embedding map's first two
    coordinates (density.grid_density_clusters, cell 0.05, min_pts 3):
    dense cells -> 8-neighborhood region merge via iterative min-label
    CC; points in sparse cells are NULL-cluster noise. The DuckDB twin
    replays the grid exactly and resolves regions with a recursive-CTE
    reachability min — labels are exact integers, so the match is
    value-level."""
    from mhm_data_pipelines_spark.operators.density import (
        grid_density_clusters,
    )

    em = _t(spark, sf_dir, "embeddings")
    pts = em.select(
        "vec_id",
        F.element_at("embedding", 1).alias("x"),
        F.element_at("embedding", 2).alias("y"),
    )
    out = grid_density_clusters(
        pts, "x", "y", "vec_id", cell_size=0.05, min_pts=3
    )
    return out.orderBy("vec_id")


SQL_GRID_CLUSTERS = """
WITH RECURSIVE pts AS (
  SELECT vec_id,
         CAST(floor(CAST(embedding[1] AS DOUBLE) / 0.05) AS BIGINT)
           AS cx,
         CAST(floor(CAST(embedding[2] AS DOUBLE) / 0.05) AS BIGINT)
           AS cy
  FROM embeddings
  WHERE embedding[1] IS NOT NULL AND embedding[2] IS NOT NULL
), binned AS (
  SELECT vec_id, cx, cy,
         (cx + 1000000) * 2000000 + (cy + 1000000) AS cid
  FROM pts
), dense AS (
  SELECT cx, cy, cid, count(*) AS n
  FROM binned GROUP BY 1, 2, 3 HAVING count(*) >= 3
), edges AS (
  SELECT a.cid AS src, b.cid AS dst
  FROM dense a JOIN dense b
    ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
       AND a.cid <> b.cid
), reach(node, lab) AS (
  SELECT cid, cid FROM dense
  UNION
  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node
), comp AS (
  SELECT node, min(lab) AS cluster FROM reach GROUP BY node
)
SELECT b.vec_id, b.cx, b.cy, c.cluster
FROM binned b LEFT JOIN comp c ON c.node = b.cid
ORDER BY b.vec_id
"""
query(q_grid_clusters, SQL_GRID_CLUSTERS, bench=True)


def q_stream_cdc(spark, sf_dir):
    """§2.9 streaming CDC maintenance end-to-end
    (streaming.ingest.cdc_stream): the SAME deterministic changelog as
    cdc_snapshot — derived from orders (U for key%3, D for key%5, I
    under -k-1 for key%7) — but delivered through a file-source STREAM
    into the foreachBatch bucket-pruned snapshot merger. The drained
    snapshot must equal the batch operator's result, so the oracle is
    cdc_snapshot's own SQL twin."""
    from mhm_data_pipelines_spark.streaming.ingest import (
        cdc_stream,
        read_cdc_snapshot,
    )

    o = _t(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("total"),
    )

    def _stream_orders():
        schema = (
            spark.read.option("pathGlobFilter", "orders.parquet")
            .parquet(sf_dir)
            .schema
        )
        st = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "orders.parquet")
            .parquet(sf_dir)
        )
        return st.select(
            F.col("o_orderkey").alias("k"),
            F.col("o_orderstatus").alias("status"),
            F.col("o_totalprice").alias("total"),
        )

    upd = _stream_orders().filter(F.col("k") % 3 == 0).select(
        "k",
        F.lit("X").alias("status"),
        (F.col("total") + F.lit(1.0)).alias("total"),
        F.lit(1).alias("seq"),
        F.lit("U").alias("op"),
    )
    dele = _stream_orders().filter(F.col("k") % 5 == 0).select(
        "k",
        F.lit(None).cast("string").alias("status"),
        F.lit(None).cast("double").alias("total"),
        F.lit(2).alias("seq"),
        F.lit("D").alias("op"),
    )
    ins = _stream_orders().filter(F.col("k") % 7 == 0).select(
        (-F.col("k") - 1).alias("k"),
        F.lit("N").alias("status"),
        (F.col("total") + F.lit(1000.0)).alias("total"),
        F.lit(1).alias("seq"),
        F.lit("I").alias("op"),
    )
    changes = upd.unionByName(dele).unionByName(ins)
    root = _scratch("mhm_stream_cdc_")
    q = cdc_stream(
        changes,
        base,
        f"{root}/snapshot",
        ["k"],
        checkpoint_dir=f"{root}/ckpt",
        n_buckets=8,
    )
    _await_drain(q, "stream_cdc")
    return read_cdc_snapshot(spark, f"{root}/snapshot").orderBy("k")


query(q_stream_cdc, SQL_CDC_SNAPSHOT, bench=True)


def q_jaccard_linkpred(spark, sf_dir):
    """Jaccard-coefficient link prediction (graph.jaccard_links) over
    the urgent-order part co-occurrence graph — adamic_adar's
    normalized sibling on the identical graph and hub_cap=48, so the
    two keys differ ONLY in the scoring contract. Scores are exact
    integer ratios; ordering rides the integer (common, keys) sort."""
    from mhm_data_pipelines_spark.operators.graph import jaccard_links

    edges = _urgent_co_pairs(spark, sf_dir)
    out = jaccard_links(edges, hub_cap=48)
    return (
        out.select(
            F.col("node_a").cast("long").alias("node_a"),
            F.col("node_b").cast("long").alias("node_b"),
            F.col("common_neighbors").cast("long").alias(
                "common_neighbors"
            ),
            F.round("jaccard", 6).alias("jaccard"),
        )
        .orderBy(F.desc("common_neighbors"), "node_a", "node_b")
        .limit(200)
    )


SQL_JACCARD_LINKPRED = """
WITH li AS (
  SELECT DISTINCT l.l_orderkey AS o, l.l_partkey AS p
  FROM lineitem l
  JOIN orders r ON r.o_orderkey = l.l_orderkey
  WHERE r.o_orderpriority = '1-URGENT'
), e AS (
  SELECT DISTINCT a.p AS x, b.p AS y
  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
), sym AS (
  SELECT x AS s, y AS d FROM e UNION ALL SELECT y, x FROM e
), deg AS (
  SELECT s, count(*) AS dg FROM sym GROUP BY s
), adj AS (
  SELECT sym.s AS z, sym.d AS n
  FROM sym JOIN deg ON deg.s = sym.s
  WHERE deg.dg BETWEEN 2 AND 48
), common AS (
  SELECT a1.n AS node_a, a2.n AS node_b, count(*) AS cn
  FROM adj a1 JOIN adj a2 ON a1.z = a2.z AND a1.n < a2.n
  GROUP BY 1, 2
)
SELECT CAST(c.node_a AS BIGINT) AS node_a,
       CAST(c.node_b AS BIGINT) AS node_b,
       CAST(c.cn AS BIGINT) AS common_neighbors,
       round(c.cn * 1.0 / (dx.dg + dy.dg - c.cn), 6) AS jaccard
FROM common c
JOIN deg dx ON dx.s = c.node_a
JOIN deg dy ON dy.s = c.node_b
LEFT JOIN e ON e.x = c.node_a AND e.y = c.node_b
WHERE e.x IS NULL
ORDER BY c.cn DESC, c.node_a, c.node_b
LIMIT 200
"""
query(q_jaccard_linkpred, SQL_JACCARD_LINKPRED, bench=True)


def q_ipw_lift(spark, sf_dir):
    """Inverse-propensity-weighted treatment effect
    (stats_tests.ipw_report): arm = user parity, outcome = value,
    strata = event_type. Propensities are exact per-stratum integer
    ratios, so both engines weight identical doubles."""
    from mhm_data_pipelines_spark.operators.stats_tests import ipw_report

    ev = _t(spark, sf_dir, "events")
    df = ev.select(
        "event_type",
        F.when(F.col("user_id") % 2 == 1, "T").otherwise("C").alias("arm"),
        F.col("value").alias("y"),
    )
    return ipw_report(df, "arm", "y", ["event_type"], "T")


SQL_IPW_LIFT = """
WITH base AS (
  SELECT event_type AS s,
         (user_id % 2 = 1) AS t,
         value AS y
  FROM events
  WHERE value IS NOT NULL AND user_id IS NOT NULL
        AND event_type IS NOT NULL
), strata AS (
  SELECT s, count(*) AS n_s,
         sum(CASE WHEN t THEN 1 ELSE 0 END) AS nt_s
  FROM base GROUP BY s
), joined AS (
  SELECT b.t, b.y,
         st.nt_s > 0 AND st.nt_s < st.n_s AS ov,
         CASE WHEN b.t
              THEN 1.0 / (st.nt_s * 1.0 / st.n_s)
              ELSE 1.0 / (1.0 - st.nt_s * 1.0 / st.n_s) END AS w
  FROM base b JOIN strata st ON st.s = b.s
), agg AS (
  SELECT CAST(sum(CASE WHEN ov THEN 1 ELSE 0 END) AS BIGINT) AS n_used,
         CAST(sum(CASE WHEN ov AND t THEN 1 ELSE 0 END) AS BIGINT)
           AS n_treat,
         CAST(sum(CASE WHEN ov AND NOT t THEN 1 ELSE 0 END) AS BIGINT)
           AS n_control,
         CAST(sum(CASE WHEN NOT ov THEN 1 ELSE 0 END) AS BIGINT)
           AS n_no_overlap,
         sum(CASE WHEN ov AND t THEN y * w END) AS tyw,
         sum(CASE WHEN ov AND t THEN w END) AS tw,
         sum(CASE WHEN ov AND NOT t THEN y * w END) AS cyw,
         sum(CASE WHEN ov AND NOT t THEN w END) AS cw
  FROM joined
), ns AS (
  SELECT CAST(count(*) AS BIGINT) AS n_strata FROM strata
)
SELECT n_used, n_treat, n_control, n_no_overlap, ns.n_strata,
       round(tyw / tw, 6) AS mu_treat,
       round(cyw / cw, 6) AS mu_control,
       round(tyw / tw - cyw / cw, 6) AS ate
FROM agg CROSS JOIN ns
"""
query(q_ipw_lift, SQL_IPW_LIFT, bench=True)


#: RBO weight literals shared VERBATIM between the Spark operator and
#: the SQL twin: suf[m] = sum_{d=m..k} p^(d-1)/d accumulated
#: high-to-low (the operator pins the same fold order).
_RBO_P, _RBO_K = 0.9, 50
_rbo_suf: list[float] = [0.0] * (_RBO_K + 2)
_acc = 0.0
for _d in range(_RBO_K, 0, -1):
    _acc = _acc + _RBO_P ** (_d - 1) / _d
    _rbo_suf[_d] = _acc
_RBO_VALUES = ", ".join(
    f"({m}, {_rbo_suf[m]!r})" for m in range(1, _RBO_K + 1)
)


def q_rbo_rankers(spark, sf_dir):
    """Rank-biased overlap between two user rankers per event type
    (ranking.rank_biased_overlap, p=0.9, k=50): ranker A = mean value
    (6dp), ranker B = event count. The suffix-weight literals are
    generated once and embedded in BOTH engines' plans."""
    from mhm_data_pipelines_spark.operators.ranking import (
        rank_biased_overlap,
    )

    ev = _t(spark, sf_dir, "events")
    judged = (
        ev.filter(F.col("value").isNotNull())
        .groupBy(
            F.col("event_type").alias("q"),
            F.col("user_id").alias("it"),
        )
        .agg(
            F.round(F.avg("value"), 6).alias("sa"),
            F.count(F.lit(1)).cast("double").alias("sb"),
        )
    )
    out = rank_biased_overlap(
        judged, "q", "it", "sa", "sb", p=_RBO_P, k=_RBO_K
    )
    return out.orderBy("q")


SQL_RBO_RANKERS = f"""
WITH judged AS (
  SELECT event_type AS q, user_id AS it,
         round(avg(value), 6) AS sa,
         CAST(count(*) AS DOUBLE) AS sb
  FROM events WHERE value IS NOT NULL
  GROUP BY 1, 2
), ranked AS (
  SELECT q,
         row_number() OVER (PARTITION BY q ORDER BY sa DESC, it) AS ra,
         row_number() OVER (PARTITION BY q ORDER BY sb DESC, it) AS rb
  FROM judged
), wt(m, w) AS (
  SELECT * FROM (VALUES {_RBO_VALUES})
), contrib AS (
  SELECT r.q, wt.w
  FROM ranked r
  LEFT JOIN wt ON wt.m = greatest(r.ra, r.rb)
)
SELECT q, CAST(count(*) AS BIGINT) AS n_items,
       round({1.0 - _RBO_P!r} * coalesce(sum(w), 0.0), 6) AS rbo_k
FROM contrib
GROUP BY q
ORDER BY q
"""
query(q_rbo_rankers, SQL_RBO_RANKERS, bench=True)




def q_logrank_survival(spark, sf_dir):
    """Two-cohort log-rank churn test (survival.logrank_test): do
    users whose FIRST event was a click churn differently from users
    whose first event was a view? Spans from the same censoring-aware
    activity_spans agg as kaplan_meier; the whole test then runs on
    the metadata-sized per-duration table (one global hash agg, two
    horizon-bounded window sums, one final aggregate). p-value through
    the engine-portable normal_cdf polynomial at 1 dof."""
    from mhm_data_pipelines_spark.operators.survival import (
        activity_spans,
        logrank_test,
    )

    ev = _t(spark, sf_dir, "events")
    spans = activity_spans(ev, churn_horizon_days=14)
    cohorts = ev.groupBy("user_id").agg(
        F.min(F.struct("ts", "event_id", "event_type"))
        .getField("event_type")
        .alias("cohort")
    )
    subjects = spans.join(cohorts, "user_id")
    return logrank_test(
        subjects, "click", "view", group_col="cohort"
    )


SQL_LOGRANK_SURVIVAL = """
WITH cutoff AS (
  SELECT max(ts)::DATE AS cd FROM events
), first_ev AS (
  SELECT user_id, event_type AS cohort
  FROM events
  QUALIFY row_number() OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) = 1
), pu AS (
  SELECT e.user_id, f.cohort,
         date_diff('day', min(e.ts)::DATE, max(e.ts)::DATE) AS t,
         CASE WHEN max(e.ts)::DATE < (SELECT cd - 14 FROM cutoff)
              THEN 1 ELSE 0 END AS ev,
         CASE WHEN f.cohort = 'click' THEN 1 ELSE 0 END AS ia
  FROM events e JOIN first_ev f USING (user_id)
  WHERE f.cohort IN ('click', 'view')
  GROUP BY e.user_id, f.cohort
), per_t AS (
  SELECT t, sum(ev) AS d, sum(ev * ia) AS d_a,
         count(*) AS c, sum(ia) AS c_a
  FROM pu GROUP BY t
), risk AS (
  SELECT *, sum(c) OVER w AS n, sum(c_a) OVER w AS n_a
  FROM per_t
  WINDOW w AS (ORDER BY t DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), terms AS (
  SELECT d, d_a,
         d * (n_a * 1.0 / n) AS e_a,
         CASE WHEN n > 1
              THEN d * (n_a * 1.0 / n) * (1.0 - n_a * 1.0 / n)
                   * (n - d) * 1.0 / (n - 1)
              ELSE 0.0 END AS v
  FROM risk WHERE d > 0
), tot AS (
  SELECT CAST(sum(ia) AS BIGINT) AS na_subj,
         CAST(sum(1 - ia) AS BIGINT) AS nb_subj
  FROM pu
), s AS (
  SELECT CAST(coalesce(sum(d_a), 0) AS BIGINT) AS o_a,
         CAST(coalesce(sum(d - d_a), 0) AS BIGINT) AS o_b,
         coalesce(sum(e_a), 0.0) AS e_a,
         coalesce(sum(d - e_a), 0.0) AS e_b,
         coalesce(sum(v), 0.0) AS variance
  FROM terms
), c2 AS (
  SELECT *, CASE WHEN variance > 0
                 THEN (o_a - e_a) * (o_a - e_a) / variance
            END AS chi2
  FROM s
)
SELECT tot.na_subj AS n_a, tot.nb_subj AS n_b,
       c2.o_a AS observed_a, round(c2.e_a, 6) AS expected_a,
       c2.o_b AS observed_b, round(c2.e_b, 6) AS expected_b,
       round(c2.variance, 6) AS variance, round(c2.chi2, 6) AS chi2,
       round(2.0 * (1.0 - __PHI__), 6) AS p_value
FROM c2 CROSS JOIN tot
""".replace("__PHI__", _PHI.format(z="sqrt(chi2)"))
query(q_logrank_survival, SQL_LOGRANK_SURVIVAL, bench=True)


def q_kw_groups(spark, sf_dir):
    """Kruskal-Wallis across the five event types: are event values
    location-shifted by type? Rank-based k-group test; fractional
    ranks via the shared two-phase prefix sum, tie-corrected H,
    Wilson-Hilferty p at k-1 dof (stats_tests.kruskal_wallis)."""
    from mhm_data_pipelines_spark.operators.stats_tests import (
        kruskal_wallis,
    )

    ev = _t(spark, sf_dir, "events")
    return kruskal_wallis(ev, "value", "event_type")


_KW_WH_Z = (
    "((pow(h_c / (k - 1), 1.0 / 3.0)"
    " - (1.0 - 2.0 / (9.0 * (k - 1)))) / sqrt(2.0 / (9.0 * (k - 1))))"
)

SQL_KW_GROUPS = """
WITH base AS (
  SELECT CAST(value AS DOUBLE) AS v, event_type AS grp
  FROM events
  WHERE value IS NOT NULL AND event_type IS NOT NULL
), pv AS (
  SELECT v, count(*) AS t FROM base GROUP BY v
), r AS (
  SELECT v, t, sum(t) OVER (ORDER BY v) - t / 2.0 + 0.5 AS rk
  FROM pv
), gv AS (
  SELECT grp, v, count(*) AS c FROM base GROUP BY 1, 2
), pg AS (
  SELECT gv.grp, sum(gv.c) AS n_j, sum(gv.c * r.rk) AS r_j
  FROM gv JOIN r ON gv.v = r.v GROUP BY 1
), gs AS (
  SELECT CAST(sum(n_j) AS DOUBLE) AS n, count(*) AS k,
         sum(r_j * r_j / n_j) AS rr
  FROM pg
), tm AS (
  SELECT sum(CAST(t AS DOUBLE) * t * t - t) AS tie_mass FROM r
), hh AS (
  SELECT n, k,
         12.0 / (n * (n + 1)) * rr - 3.0 * (n + 1) AS h,
         1.0 - tie_mass / (n * n * n - n) AS corr
  FROM gs CROSS JOIN tm
), hc AS (
  SELECT n, k, h,
         CASE WHEN corr > 0 AND k >= 2 THEN h / corr END AS h_c
  FROM hh
)
SELECT CAST(n AS BIGINT) AS n, CAST(k AS INT) AS k,
       round(h, 6) AS h, round(h_c, 6) AS h_corrected,
       round(CASE WHEN k = 2 THEN 2.0 * (1.0 - __PHIA__)
                  ELSE 1.0 - __PHIB__ END, 6) AS p_value
FROM hc
""".replace("__PHIA__", _PHI.format(z="sqrt(h_c)")).replace(
    "__PHIB__", _PHI.format(z=_KW_WH_Z)
)
query(q_kw_groups, SQL_KW_GROUPS, bench=True)


def q_ca_trend(spark, sf_dir):
    """Cochran-Armitage dose-response: does the purchase share trend
    with the hour of day? Hour 0-23 as the ordered score, one hash
    agg to 24 rows, trend z + p through the engine-portable
    normal_cdf polynomial (stats_tests.cochran_armitage)."""
    from mhm_data_pipelines_spark.operators.stats_tests import (
        cochran_armitage,
    )

    ev = _t(spark, sf_dir, "events")
    dosed = ev.filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    ).select(
        F.hour("ts").cast("double").alias("dose"),
        (F.col("event_type") == "purchase").cast("int").alias("y"),
    )
    return cochran_armitage(dosed, "y", "dose")


SQL_CA_TREND = """
WITH base AS (
  SELECT CAST(hour(ts) AS DOUBLE) AS w,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events
  WHERE ts IS NOT NULL AND event_type IS NOT NULL
), lvl AS (
  SELECT w, count(*) AS n_i, sum(y) AS s_i FROM base GROUP BY w
), a AS (
  SELECT CAST(sum(n_i) AS DOUBLE) AS n, count(*) AS k,
         CAST(sum(s_i) AS DOUBLE) AS s,
         sum(w * s_i) AS ws, sum(w * n_i) AS wn,
         sum(w * w * n_i) AS wwn
  FROM lvl
), st AS (
  SELECT n, k, s / n AS pbar,
         ws - (s / n) * wn AS t_stat,
         (s / n) * (1.0 - s / n) * (wwn - wn * wn / n) AS var
  FROM a
), z AS (
  SELECT n, k, pbar,
         CASE WHEN var > 0 THEN t_stat / sqrt(var) END AS zv
  FROM st
)
SELECT CAST(n AS BIGINT) AS n, CAST(k AS INT) AS k,
       round(pbar, 6) AS rate, round(zv, 6) AS z,
       round(2.0 * (1.0 - __PHI__), 6) AS p_value
FROM z
""".replace("__PHI__", _PHI.format(z="abs(zv)"))
query(q_ca_trend, SQL_CA_TREND, bench=True)




def q_degree_assortativity(spark, sf_dir):
    """Degree assortativity of the urgent-order part co-occurrence
    graph (graph.degree_assortativity) — the same graph adamic_adar /
    jaccard_linkpred mine, summarized to Newman's mixing coefficient.
    All sufficient statistics are integer sums (exact in doubles), so
    the oracle reproduces r bit-identically."""
    from mhm_data_pipelines_spark.operators.graph import (
        degree_assortativity,
    )

    edges = _urgent_co_pairs(spark, sf_dir)
    return degree_assortativity(edges)


SQL_DEGREE_ASSORTATIVITY = """
WITH li AS (
  SELECT DISTINCT l.l_orderkey AS o, l.l_partkey AS p
  FROM lineitem l
  JOIN orders r ON r.o_orderkey = l.l_orderkey
  WHERE r.o_orderpriority = '1-URGENT'
), e AS (
  SELECT DISTINCT a.p AS x, b.p AS y
  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
), sym AS (
  SELECT x AS s, y AS d FROM e UNION ALL SELECT y, x FROM e
), deg AS (
  SELECT s, count(*) AS dg FROM sym GROUP BY s
), att AS (
  SELECT dx.dg AS dxv, dy.dg AS dyv
  FROM sym
  JOIN deg dx ON dx.s = sym.s
  JOIN deg dy ON dy.s = sym.d
), a AS (
  SELECT CAST(count(*) AS DOUBLE) AS m,
         CAST(sum(dxv) AS DOUBLE) AS sx,
         CAST(sum(dxv * dyv) AS DOUBLE) AS sxy,
         CAST(sum(dxv * dxv) AS DOUBLE) AS sxx
  FROM att
), nn AS (
  SELECT count(*) AS n_nodes FROM deg
)
SELECT CAST(nn.n_nodes AS BIGINT) AS n_nodes,
       CAST(a.m / 2 AS BIGINT) AS n_edges,
       round(CASE WHEN a.m * a.sxx - a.sx * a.sx > 0
                  THEN (a.m * a.sxy - a.sx * a.sx)
                       / (a.m * a.sxx - a.sx * a.sx)
             END, 6) AS assortativity
FROM a CROSS JOIN nn
"""
query(q_degree_assortativity, SQL_DEGREE_ASSORTATIVITY, bench=True)


def q_t_closeness(spark, sf_dir):
    """t-closeness audit (privacy.t_closeness_report): classes are
    (event_type, day-of-week), the ordered sensitive attribute is the
    event value clamped into ten width-20 buckets. Each class's EMD
    against the global bucket distribution runs on a literal-sequence
    grid (no class-times-bucket cross join); all probabilities are
    exact integer ratios."""
    from mhm_data_pipelines_spark.operators.privacy import (
        t_closeness_report,
    )

    ev = _t(spark, sf_dir, "events")
    # NULL value/ts are excluded BEFORE bucketing on both sides:
    # Spark's greatest/least SKIP null operands, so an unguarded
    # floor(NULL/20) would silently land in bucket 9 instead of
    # dropping — caught in review against the SQL twin's WHERE.
    pre = ev.filter(
        F.col("value").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_type").isNotNull()
    ).select(
        "event_type",
        F.dayofweek("ts").cast("int").alias("dow"),
        F.greatest(
            F.lit(0), F.least(F.lit(9), F.floor(F.col("value") / 20))
        ).alias("vbucket"),
    )
    out = t_closeness_report(
        pre, ["event_type", "dow"], "vbucket", n_buckets=10, t=0.2
    )
    return out.orderBy("event_type", "dow")


SQL_T_CLOSENESS = """
WITH base AS (
  SELECT event_type, CAST(dayofweek(ts) + 1 AS INT) AS dow,
         greatest(0, least(9, CAST(floor(value / 20) AS BIGINT)))
           AS b
  FROM events
  WHERE value IS NOT NULL AND ts IS NOT NULL
        AND event_type IS NOT NULL
), cb AS (
  SELECT event_type, dow, b, count(*) AS c FROM base GROUP BY 1, 2, 3
), cls AS (
  SELECT event_type, dow, sum(c) AS n FROM cb GROUP BY 1, 2
), gdist AS (
  SELECT b, count(*) * 1.0 / (SELECT count(*) FROM base) AS q
  FROM base GROUP BY b
), grid AS (
  SELECT cls.event_type, cls.dow, cls.n, g.range AS b
  FROM cls CROSS JOIN range(10) g
), filled AS (
  SELECT grid.event_type, grid.dow, grid.n, grid.b,
         coalesce(cb.c, 0) * 1.0 / grid.n - coalesce(gdist.q, 0.0)
           AS diff
  FROM grid
  LEFT JOIN cb ON cb.event_type = grid.event_type
              AND cb.dow = grid.dow AND cb.b = grid.b
  LEFT JOIN gdist ON gdist.b = grid.b
), cum AS (
  SELECT event_type, dow, n,
         sum(diff) OVER (PARTITION BY event_type, dow ORDER BY b
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS cdiff
  FROM filled
), emd AS (
  SELECT event_type, dow, CAST(max(n) AS BIGINT) AS n,
         round(sum(abs(cdiff)) / 9, 6) AS emd
  FROM cum GROUP BY 1, 2
)
SELECT event_type, dow, n, emd, emd <= 0.2 AS meets_t
FROM emd ORDER BY event_type, dow
"""
query(q_t_closeness, SQL_T_CLOSENESS, bench=True)


def q_item_neighbors(spark, sf_dir):
    """Item-based collaborative filtering readout
    (baskets.item_cosine_neighbors): top-5 cosine neighbors per part
    over order baskets — association_rules' machinery with the
    normalized neighbor-list contract. Deterministic tie order
    (cosine desc, pair count desc, neighbor asc); cosines are one
    integer division by one sqrt, bit-identical across engines."""
    from mhm_data_pipelines_spark.operators.baskets import (
        item_cosine_neighbors,
    )

    li = _t(spark, sf_dir, "lineitem")
    out = item_cosine_neighbors(
        li, "l_orderkey", "l_partkey", k=5, min_pair_count=2
    )
    return out.select(
        F.col("item").cast("long").alias("item"),
        F.col("neighbor").cast("long").alias("neighbor"),
        F.col("n_pair").cast("long").alias("n_pair"),
        "cosine",
        F.col("rank").cast("int").alias("rank"),
    ).orderBy("item", "rank")


SQL_ITEM_NEIGHBORS = """
WITH base AS (
  SELECT DISTINCT l_orderkey AS b, l_partkey AS it FROM lineitem
  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
), ok AS (
  SELECT b FROM base GROUP BY b HAVING count(*) <= 64
), sized AS (
  SELECT base.b, base.it FROM base JOIN ok USING (b)
), pairs AS (
  SELECT x.it AS ia, y.it AS ib, count(*) AS np
  FROM sized x JOIN sized y ON x.b = y.b AND x.it < y.it
  GROUP BY 1, 2 HAVING count(*) >= 2
), marg AS (
  SELECT it, count(*) AS ni FROM sized GROUP BY it
), sym AS (
  SELECT ia AS item, ib AS neighbor, np FROM pairs
  UNION ALL
  SELECT ib, ia, np FROM pairs
), scored AS (
  SELECT s.item, s.neighbor, s.np,
         s.np / sqrt(CAST(mi.ni AS DOUBLE) * mj.ni) AS cosine
  FROM sym s
  JOIN marg mi ON mi.it = s.item
  JOIN marg mj ON mj.it = s.neighbor
), rk AS (
  SELECT *, row_number() OVER (PARTITION BY item
             ORDER BY cosine DESC, np DESC, neighbor) AS rank
  FROM scored
)
SELECT CAST(item AS BIGINT) AS item,
       CAST(neighbor AS BIGINT) AS neighbor,
       CAST(np AS BIGINT) AS n_pair,
       round(cosine, 6) AS cosine,
       CAST(rank AS INT) AS rank
FROM rk WHERE rank <= 5
ORDER BY item, rank
"""
query(q_item_neighbors, SQL_ITEM_NEIGHBORS, bench=True)




def q_spatial_join(spark, sf_dir):
    """Grid-cell-blocked radius join (spatial.radius_neighbor_counts):
    click events against view events on a deterministic plane
    (x = value, y = user_id mod 97), radius 3 — candidate generation
    is an equi-join on cell id with a constant 9-cell neighborhood
    explode, never a cross join with a distance predicate. Aggregated
    per-left-point readout (the production path; pair emission is
    output-bound by nature)."""
    from mhm_data_pipelines_spark.operators.spatial import (
        radius_neighbor_counts,
    )

    ev = _t(spark, sf_dir, "events")

    def pts(kind):
        return ev.filter(
            (F.col("event_type") == kind) & F.col("value").isNotNull()
        ).select(
            F.col("event_id").alias("id"),
            F.col("value").cast("double").alias("x"),
            (F.col("user_id") % 97).cast("double").alias("y"),
        )

    out = radius_neighbor_counts(pts("click"), pts("view"), 3.0)
    return out.select(
        F.col("left_id").cast("long").alias("left_id"),
        F.col("n_neighbors").cast("long").alias("n_neighbors"),
        "min_dist",
    ).orderBy("left_id")


SQL_SPATIAL_JOIN = """
WITH lpt AS (
  SELECT event_id AS id, CAST(value AS DOUBLE) AS x,
         CAST(user_id % 97 AS DOUBLE) AS y
  FROM events WHERE event_type = 'click' AND value IS NOT NULL
), rpt AS (
  SELECT event_id AS id, CAST(value AS DOUBLE) AS x,
         CAST(user_id % 97 AS DOUBLE) AS y
  FROM events WHERE event_type = 'view' AND value IS NOT NULL
), offs AS (
  SELECT unnest([-1, 0, 1]) AS o
), lcell AS (
  SELECT l.id, l.x, l.y,
         CAST(floor(l.x / 3.0) AS BIGINT) + ox.o AS cx,
         CAST(floor(l.y / 3.0) AS BIGINT) + oy.o AS cy
  FROM lpt l CROSS JOIN offs ox CROSS JOIN offs oy
), rcell AS (
  SELECT id, x, y,
         CAST(floor(x / 3.0) AS BIGINT) AS cx,
         CAST(floor(y / 3.0) AS BIGINT) AS cy
  FROM rpt
), pairs AS (
  SELECT l.id AS left_id, r.id AS right_id,
         sqrt((l.x - r.x) * (l.x - r.x)
              + (l.y - r.y) * (l.y - r.y)) AS dist
  FROM lcell l JOIN rcell r ON l.cx = r.cx AND l.cy = r.cy
)
SELECT CAST(left_id AS BIGINT) AS left_id,
       CAST(count(*) AS BIGINT) AS n_neighbors,
       round(min(dist), 6) AS min_dist
FROM pairs WHERE dist <= 3.0
GROUP BY left_id ORDER BY left_id
"""
query(q_spatial_join, SQL_SPATIAL_JOIN, bench=True)


def q_mcnemar_pairs(spark, sf_dir):
    """McNemar paired-rate change (stats_tests.mcnemar_test): per
    user, did-purchase in H1 vs H2 of the corpus timeline — the
    paired binary contract (same subjects both measurements), so only
    discordant users drive the statistic. One pivot aggregate + one
    test aggregate."""
    from mhm_data_pipelines_spark.operators.stats_tests import (
        mcnemar_test,
    )

    ev = _t(spark, sf_dir, "events")
    paired = ev.groupBy("user_id").agg(
        F.max(
            (
                (F.col("event_type") == "purchase")
                & (F.month("ts") <= 6)
            ).cast("int")
        ).alias("h1"),
        F.max(
            (
                (F.col("event_type") == "purchase")
                & (F.month("ts") > 6)
            ).cast("int")
        ).alias("h2"),
    )
    return mcnemar_test(paired, "h1", "h2")


SQL_MCNEMAR_PAIRS = """
WITH paired AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'purchase'
                   AND month(ts) <= 6 THEN 1 ELSE 0 END) AS h1,
         max(CASE WHEN event_type = 'purchase'
                   AND month(ts) > 6 THEN 1 ELSE 0 END) AS h2
  FROM events GROUP BY user_id
), agg AS (
  SELECT count(*) AS n,
         sum(CASE WHEN h1 = 1 AND h2 = 0 THEN 1 ELSE 0 END) AS b10,
         sum(CASE WHEN h1 = 0 AND h2 = 1 THEN 1 ELSE 0 END) AS c01
  FROM paired
), st AS (
  SELECT n, b10, c01,
         CASE WHEN b10 + c01 > 0
              THEN greatest(abs(b10 - c01) - 1, 0)
                   * greatest(abs(b10 - c01) - 1, 0)
                   / CAST(b10 + c01 AS DOUBLE)
         END AS chi2
  FROM agg
)
SELECT CAST(n AS BIGINT) AS n, CAST(b10 AS BIGINT) AS b,
       CAST(c01 AS BIGINT) AS c, round(chi2, 6) AS chi2,
       round(2.0 * (1.0 - __PHI__), 6) AS p_value
FROM st
""".replace("__PHI__", _PHI.format(z="sqrt(chi2)"))
query(q_mcnemar_pairs, SQL_MCNEMAR_PAIRS, bench=True)


def q_cumulative_hazard(spark, sf_dir):
    """Nelson-Aalen cumulative hazard per first-event cohort
    (survival.nelson_aalen) — the additive twin of the kaplan_meier
    key over the identical censoring-aware spans, certifying H(t),
    its variance, and the Fleming-Harrington survival exp(-H)."""
    from mhm_data_pipelines_spark.operators.survival import (
        activity_spans,
        nelson_aalen,
    )

    ev = _t(spark, sf_dir, "events")
    spans = activity_spans(ev, churn_horizon_days=14)
    cohorts = ev.groupBy("user_id").agg(
        F.min(F.struct("ts", "event_id", "event_type"))
        .getField("event_type")
        .alias("cohort")
    )
    subjects = spans.join(cohorts, "user_id").select(
        "cohort", "duration", "event"
    )
    out = nelson_aalen(subjects, group_cols=["cohort"])
    return out.select(
        "cohort",
        F.col("t").cast("long").alias("t"),
        F.col("n_at_risk").cast("long").alias("n_at_risk"),
        F.col("n_events").cast("long").alias("n_events"),
        "cum_hazard",
        "hazard_var",
        "survival_na",
    ).orderBy("cohort", "t")


SQL_CUMULATIVE_HAZARD = """
WITH cutoff AS (
  SELECT max(ts)::DATE AS cd FROM events
), first_ev AS (
  SELECT user_id, event_type AS cohort
  FROM events
  QUALIFY row_number() OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) = 1
), pu AS (
  SELECT e.user_id, f.cohort,
         date_diff('day', min(e.ts)::DATE, max(e.ts)::DATE)
           AS duration,
         CASE WHEN max(e.ts)::DATE < (SELECT cd - 14 FROM cutoff)
              THEN 1 ELSE 0 END AS event
  FROM events e JOIN first_ev f USING (user_id)
  GROUP BY e.user_id, f.cohort
), per_t AS (
  SELECT cohort, duration AS t,
         CAST(sum(event) AS BIGINT) AS n_events,
         count(*) AS n_here
  FROM pu GROUP BY cohort, duration
), r AS (
  SELECT *, CAST(sum(n_here) OVER (
      PARTITION BY cohort ORDER BY t DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
    AS n_at_risk
  FROM per_t
), s AS (
  SELECT *,
    sum(n_events * 1.0 / n_at_risk) OVER w AS h,
    sum(n_events * 1.0 / (CAST(n_at_risk AS DOUBLE) * n_at_risk))
      OVER w AS hv
  FROM r
  WINDOW w AS (PARTITION BY cohort ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT cohort, t, n_at_risk, n_events,
       round(h, 6) AS cum_hazard, round(hv, 6) AS hazard_var,
       round(exp(-h), 6) AS survival_na
FROM s ORDER BY cohort, t
"""
query(q_cumulative_hazard, SQL_CUMULATIVE_HAZARD, bench=True)




def q_mobility_features(spark, sf_dir):
    """Per-user mobility summary (spatial.mobility_features) on the
    deterministic event plane (x = value, y = 7*event_id mod 50):
    step distances from one per-user lag window, radius of gyration
    from exact moment sums, cell-visit entropy via the one-aggregate
    entropy algebra. The trajectory order is (ts, event_id) — fully
    deterministic on ties."""
    from mhm_data_pipelines_spark.operators.spatial import (
        mobility_features,
    )

    ev = _t(spark, sf_dir, "events")
    pts = ev.filter(F.col("value").isNotNull()).select(
        "user_id",
        "ts",
        "event_id",
        F.col("value").cast("double").alias("x"),
        ((F.col("event_id") * 7) % 50).cast("double").alias("y"),
    )
    out = mobility_features(
        pts, cell_size=10.0, order_tiebreak="event_id"
    )
    return out.select(
        F.col("user_id").cast("long").alias("user_id"),
        "n_points",
        "total_distance",
        "radius_of_gyration",
        "n_cells",
        "cell_entropy",
    ).orderBy("user_id")


SQL_MOBILITY_FEATURES = """
WITH pts AS (
  SELECT user_id, ts, event_id,
         CAST(value AS DOUBLE) AS x,
         CAST((event_id * 7) % 50 AS DOUBLE) AS y,
         CAST(floor(value / 10.0) AS BIGINT) AS cx,
         CAST(floor(((event_id * 7) % 50) / 10.0) AS BIGINT) AS cy
  FROM events WHERE value IS NOT NULL
), stepped AS (
  SELECT user_id, x, y,
         x - lag(x) OVER w AS dx, y - lag(y) OVER w AS dy
  FROM pts
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), pu AS (
  SELECT user_id, count(*) AS n_points,
         coalesce(sum(sqrt(dx * dx + dy * dy)), 0.0) AS dist,
         sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(y * y) AS syy
  FROM stepped GROUP BY user_id
), cells AS (
  SELECT user_id, cx, cy, count(*) AS c
  FROM pts GROUP BY 1, 2, 3
), pc AS (
  SELECT user_id, count(*) AS n_cells,
         round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 6)
           AS cell_entropy
  FROM cells GROUP BY user_id
)
SELECT CAST(pu.user_id AS BIGINT) AS user_id,
       CAST(pu.n_points AS BIGINT) AS n_points,
       round(pu.dist, 6) AS total_distance,
       round(sqrt(greatest(
           (pu.sxx + pu.syy) / pu.n_points
           - (pu.sx / pu.n_points) * (pu.sx / pu.n_points)
           - (pu.sy / pu.n_points) * (pu.sy / pu.n_points),
           0.0)), 6) AS radius_of_gyration,
       CAST(pc.n_cells AS BIGINT) AS n_cells,
       pc.cell_entropy
FROM pu JOIN pc USING (user_id)
ORDER BY user_id
"""
query(q_mobility_features, SQL_MOBILITY_FEATURES, bench=True)


def q_stay_points(spark, sf_dir):
    """Stay-point detection (spatial.stay_points): maximal
    same-grid-cell runs per user on the event plane, kept at
    >= 3 points — the gaps-and-islands window pipeline. Timestamps
    emitted as epoch micros (exact integers) for hash parity."""
    from mhm_data_pipelines_spark.operators.spatial import stay_points

    ev = _t(spark, sf_dir, "events")
    pts = ev.filter(F.col("value").isNotNull()).select(
        "user_id",
        "ts",
        "event_id",
        F.col("value").cast("double").alias("x"),
        ((F.col("event_id") * 7) % 50).cast("double").alias("y"),
    )
    out = stay_points(
        pts, cell_size=20.0, min_points=3, order_tiebreak="event_id"
    )
    return out.select(
        F.col("user_id").cast("long").alias("user_id"),
        "cell_x",
        "cell_y",
        F.unix_micros("enter_ts").alias("enter_us"),
        F.unix_micros("exit_ts").alias("exit_us"),
        "n_points",
        "duration_s",
    ).orderBy("user_id", "enter_us")


SQL_STAY_POINTS = """
WITH pts AS (
  SELECT user_id, ts, event_id,
         CAST(floor(value / 20.0) AS BIGINT) AS cx,
         CAST(floor(((event_id * 7) % 50) / 20.0) AS BIGINT) AS cy
  FROM events WHERE value IS NOT NULL
), marked AS (
  SELECT *, CASE WHEN cx IS DISTINCT FROM lag(cx) OVER w
                   OR cy IS DISTINCT FROM lag(cy) OVER w
                 THEN 1 ELSE 0 END AS new_run
  FROM pts
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), runs AS (
  SELECT *, sum(new_run) OVER (PARTITION BY user_id
             ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS run_id
  FROM marked
), agg AS (
  SELECT user_id, run_id, min(cx) AS cell_x, min(cy) AS cell_y,
         min(ts) AS enter_ts, max(ts) AS exit_ts,
         count(*) AS n_points
  FROM runs GROUP BY 1, 2
)
SELECT CAST(user_id AS BIGINT) AS user_id, cell_x, cell_y,
       epoch_us(enter_ts) AS enter_us, epoch_us(exit_ts) AS exit_us,
       CAST(n_points AS BIGINT) AS n_points,
       CAST(date_diff('second', enter_ts, exit_ts) AS DOUBLE)
         AS duration_s
FROM agg WHERE n_points >= 3
ORDER BY user_id, enter_us
"""
query(q_stay_points, SQL_STAY_POINTS, bench=True)


def q_friedman_groups(spark, sf_dir):
    """Friedman repeated-measures test (stats_tests.friedman_test):
    are the five event types consistently ordered in VOLUME within
    user buckets? Blocks = user_id mod 40, one integer count per
    (block, type) — ranks are computed on exact integers, so both
    engines rank identically; complete blocks only."""
    from mhm_data_pipelines_spark.operators.stats_tests import (
        friedman_test,
    )

    ev = _t(spark, sf_dir, "events")
    cells = ev.filter(F.col("event_type").isNotNull()).groupBy(
        F.pmod(F.col("user_id"), F.lit(40)).alias("blk"),
        F.col("event_type").alias("trt"),
    ).agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    return friedman_test(cells, "blk", "trt", "cnt")


_FRIEDMAN_WH_Z = (
    "((pow(q / (k - 1), 1.0 / 3.0)"
    " - (1.0 - 2.0 / (9.0 * (k - 1)))) / sqrt(2.0 / (9.0 * (k - 1))))"
)

SQL_FRIEDMAN_GROUPS = """
WITH cells AS (
  SELECT user_id % 40 AS blk, event_type AS trt,
         CAST(count(*) AS DOUBLE) AS v
  FROM events WHERE event_type IS NOT NULL
  GROUP BY 1, 2
), ktot AS (
  SELECT count(DISTINCT trt) AS k FROM cells
), complete AS (
  SELECT blk FROM cells GROUP BY blk
  HAVING count(*) = (SELECT k FROM ktot)
), kept AS (
  SELECT c.* FROM cells c JOIN complete USING (blk)
), ranked AS (
  SELECT *,
         CAST(count(*) OVER (PARTITION BY blk ORDER BY v
              RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS DOUBLE)
         - (count(*) OVER (PARTITION BY blk, v) - 1) / 2.0 AS r
  FROM kept
), pt AS (
  SELECT trt, sum(r) AS rj, count(*) AS nb FROM ranked GROUP BY trt
), sq AS (
  SELECT sum(r * r) AS rr FROM ranked
), gs AS (
  SELECT count(*) AS k, CAST(max(nb) AS DOUBLE) AS n,
         sum(rj * rj) AS rjsq
  FROM pt
), qq AS (
  SELECT n, k,
         CASE WHEN (rr - n * k * (k + 1) * (k + 1) / 4) > 0
                   AND k >= 2
              THEN (k - 1)
                   * (rjsq - n * n * k * (k + 1) * (k + 1) / 4)
                   / (rr - n * k * (k + 1) * (k + 1) / 4)
         END AS q
  FROM gs CROSS JOIN sq
)
SELECT CAST(n AS BIGINT) AS n_blocks, CAST(k AS INT) AS k,
       round(q, 6) AS q,
       round(CASE WHEN k = 2 THEN 2.0 * (1.0 - __PHIA__)
                  ELSE 1.0 - __PHIB__ END, 6) AS p_value
FROM qq
""".replace("__PHIA__", _PHI.format(z="sqrt(q)")).replace(
    "__PHIB__", _PHI.format(z=_FRIEDMAN_WH_Z)
)
query(q_friedman_groups, SQL_FRIEDMAN_GROUPS, bench=True)




def q_funnel_latency(spark, sf_dir):
    """Step-transition latency percentiles over the ordered
    view->click->purchase funnel (timeseries.funnel_latencies):
    funnel_progress's per-user chain unpivots to (transition,
    latency) via a zero-shuffle stack, then ONE hash aggregate
    computes counts + exact interpolated percentiles (= DuckDB
    quantile_cont). Latencies are integer micros / 1e6 — identical
    doubles both engines."""
    from mhm_data_pipelines_spark.operators.timeseries import (
        funnel_latencies,
    )

    ev = _t(spark, sf_dir, "events")
    return funnel_latencies(
        ev, ["view", "click", "purchase"], within="3 days"
    )


SQL_FUNNEL_LATENCY = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
), s2 AS (
  SELECT s1.user_id, min(s1.t1) AS t1, min(e.ts) AS t2
  FROM s1 LEFT JOIN events e
    ON e.user_id = s1.user_id AND e.event_type = 'click'
   AND e.ts > s1.t1 AND e.ts <= s1.t1 + INTERVAL 3 DAY
  GROUP BY s1.user_id
), s3 AS (
  SELECT s2.user_id, min(s2.t1) AS t1, min(s2.t2) AS t2,
         min(e.ts) AS t3
  FROM s2 LEFT JOIN events e
    ON e.user_id = s2.user_id AND e.event_type = 'purchase'
   AND e.ts > s2.t2 AND e.ts <= s2.t1 + INTERVAL 3 DAY
  GROUP BY s2.user_id
), long AS (
  SELECT 1 AS pos, 'view' AS step_from, 'click' AS step_to,
         (epoch_us(t2) - epoch_us(t1)) / 1e6 AS lat_s
  FROM s3 WHERE t2 IS NOT NULL
  UNION ALL
  SELECT 2, 'click', 'purchase',
         (epoch_us(t3) - epoch_us(t2)) / 1e6
  FROM s3 WHERE t3 IS NOT NULL
)
SELECT step_from, step_to,
       CAST(count(*) AS BIGINT) AS n_converted,
       round(quantile_cont(lat_s, 0.5), 6) AS p50_s,
       round(quantile_cont(lat_s, 0.9), 6) AS p90_s,
       round(avg(lat_s), 6) AS mean_s
FROM long GROUP BY pos, step_from, step_to ORDER BY pos
"""
query(q_funnel_latency, SQL_FUNNEL_LATENCY, bench=True)


def q_fe_trend(spark, sf_dir):
    """Within-user fixed-effects regression of event value on hour of
    day (timeseries.fixed_effects_fit): entity intercepts absorbed by
    the demeaning algebra over ONE per-user hash aggregate — the
    panel-data answer to "does value move with hour, holding the user
    constant?"."""
    from mhm_data_pipelines_spark.operators.timeseries import (
        fixed_effects_fit,
    )

    ev = _t(spark, sf_dir, "events")
    pre = ev.select(
        "user_id",
        F.hour("ts").cast("double").alias("x"),
        F.col("value").alias("y"),
    )
    return fixed_effects_fit(pre, "y", "x", "user_id")


SQL_FE_TREND = """
WITH base AS (
  SELECT user_id AS e, CAST(hour(ts) AS DOUBLE) AS x,
         CAST(value AS DOUBLE) AS y
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
), pe AS (
  SELECT e, count(*) AS n_i, sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
  FROM base GROUP BY e
), a AS (
  SELECT CAST(sum(n_i) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) AS n_entities,
         sum(sxy) - sum(sx * sy / n_i) AS swxy,
         sum(sxx) - sum(sx * sx / n_i) AS swxx,
         sum(syy) - sum(sy * sy / n_i) AS swyy
  FROM pe
)
SELECT n, n_entities,
       round(CASE WHEN swxx > 0 THEN swxy / swxx END, 6) AS beta,
       round(CASE WHEN swxx > 0 AND swyy > 0
                  THEN swxy * swxy / (swxx * swyy) END, 6)
         AS r2_within
FROM a
"""
query(q_fe_trend, SQL_FE_TREND, bench=True)


def q_stream_anomaly(spark, sf_dir):
    """§2.9 stateful streaming: EWMA anomaly detection
    (streaming/stateful.ewma_anomaly_stream) drained availableNow —
    per-user EWMA mean/variance advanced in event order with
    pre-update scoring; batch-split bit-invariance is test-asserted,
    so the oracle replays the identical recursion (including the
    anomaly counter) in one recursive CTE."""
    from mhm_data_pipelines_spark.streaming.stateful import (
        ewma_anomaly_stream,
    )

    stream = _event_stream(spark, sf_dir)
    out = ewma_anomaly_stream(stream, alpha=0.25, threshold=3.0)
    snap = _drain_to_table(out, "_stream_anomaly_gate", "stream_anomaly")
    w = Window.partitionBy("user_id").orderBy(F.desc("n_points"))
    return (
        snap.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select(
            "user_id",
            F.col("n_points").cast("long").alias("n_points"),
            F.round("mean", 6).alias("mean"),
            F.round("var", 6).alias("var"),
            F.col("n_anomalies").cast("long").alias("n_anomalies"),
        )
        .orderBy("user_id")
    )


SQL_STREAM_ANOMALY = """
WITH RECURSIVE series AS (
  SELECT user_id AS u, value AS y,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM events
  WHERE value IS NOT NULL
), ew(u, rn, n, m, v, k) AS (
  SELECT u, 1, n, y, CAST(0.0 AS DOUBLE), CAST(0 AS BIGINT)
  FROM series WHERE rn = 1
  UNION ALL
  SELECT e.u, e.rn + 1, e.n,
         e.m + 0.25 * (sv.y - e.m),
         (1.0 - 0.25) * (e.v + 0.25 * (sv.y - e.m) * (sv.y - e.m)),
         e.k + CASE WHEN e.v > 0.0
                     AND (sv.y - e.m) * (sv.y - e.m) > 9.0 * e.v
                    THEN 1 ELSE 0 END
  FROM ew e
  JOIN series sv ON sv.u = e.u AND sv.rn = e.rn + 1
)
SELECT u AS user_id, CAST(n AS BIGINT) AS n_points,
       round(m, 6) AS mean, round(v, 6) AS var,
       CAST(k AS BIGINT) AS n_anomalies
FROM ew WHERE rn = n
ORDER BY user_id
"""
query(q_stream_anomaly, SQL_STREAM_ANOMALY, bench=True)




def q_weighted_percentiles(spark, sf_dir):
    """Mass-weighted size percentiles per source
    (profile.weighted_percentiles): the "half the corpus BYTES live
    in documents bigger than X" readout — value = n_chars weighted by
    n_chars, the lower weighted quantile over the per-(source, value)
    weight table. Exact integer weights; engine-identical."""
    from mhm_data_pipelines_spark.operators.profile import (
        weighted_percentiles,
    )

    docs = _t(spark, sf_dir, "documents")
    out = weighted_percentiles(
        docs,
        "n_chars",
        "n_chars",
        qs=(0.5, 0.9, 0.99),
        group_cols=["source"],
    )
    return out.orderBy("source")


SQL_WEIGHTED_PERCENTILES = """
WITH base AS (
  SELECT source, CAST(n_chars AS DOUBLE) AS v,
         CAST(n_chars AS DOUBLE) AS w
  FROM documents
  WHERE n_chars IS NOT NULL AND n_chars > 0
), wv AS (
  SELECT source, v, sum(w) AS wv FROM base GROUP BY 1, 2
), cum AS (
  SELECT *, sum(wv) OVER (PARTITION BY source ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS c,
         sum(wv) OVER (PARTITION BY source) AS tot
  FROM wv
)
SELECT source, round(sum(wv), 6) AS total_weight,
       min(CASE WHEN c >= 0.5 * tot THEN v END) AS p50,
       min(CASE WHEN c >= 0.9 * tot THEN v END) AS p90,
       min(CASE WHEN c >= 0.99 * tot THEN v END) AS p99
FROM cum GROUP BY source ORDER BY source
"""
query(q_weighted_percentiles, SQL_WEIGHTED_PERCENTILES, bench=True)


def q_interval_overlap(spark, sf_dir):
    """Interval-overlap join (temporal.interval_overlap_join):
    per-user DAILY activity spans of engagement events (view/click/
    purchase) against the same user's error-event spans — "how much
    of the active window was error-afflicted". Cell-quantized
    equi-join (1-hour cells), each overlapping pair emitted exactly
    once at the cell of its overlap start; aggregated to a per-user
    total overlap readout. Bounds emitted as epoch micros."""
    from mhm_data_pipelines_spark.operators.temporal import (
        interval_overlap_join,
    )

    ev = _t(spark, sf_dir, "events")

    def spans(pred, iid_alias):
        return (
            ev.filter(pred)
            .groupBy(
                "user_id", F.to_date("ts").alias("_d")
            )
            .agg(
                F.min("ts").alias("start_ts"),
                F.max("ts").alias("end_ts"),
            )
            .select(
                "user_id",
                F.datediff(
                    F.col("_d"), F.lit("1970-01-01").cast("date")
                ).cast("long").alias(iid_alias),
                "start_ts",
                "end_ts",
            )
        )

    eng = spans(
        F.col("event_type").isin(["view", "click", "purchase"]),
        "eng_day",
    )
    err = spans(F.col("event_type") == "error", "err_day")
    pairs = interval_overlap_join(
        eng,
        err,
        ["user_id"],
        "eng_day",
        "err_day",
        bucket="1 hour",
    )
    return (
        pairs.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_overlaps"),
            F.round(F.sum("overlap_s"), 6).alias("overlap_s_total"),
            F.min(F.unix_micros("overlap_start")).alias(
                "first_overlap_us"
            ),
        )
        .select(
            F.col("user_id").cast("long").alias("user_id"),
            F.col("n_overlaps").cast("long").alias("n_overlaps"),
            "overlap_s_total",
            "first_overlap_us",
        )
        .orderBy("user_id")
    )


SQL_INTERVAL_OVERLAP = """
WITH eng AS (
  SELECT user_id, min(ts) AS s, max(ts) AS e
  FROM events
  WHERE event_type IN ('view', 'click', 'purchase')
  GROUP BY user_id, ts::DATE
), err AS (
  SELECT user_id, min(ts) AS s, max(ts) AS e
  FROM events WHERE event_type = 'error'
  GROUP BY user_id, ts::DATE
), pairs AS (
  SELECT eng.user_id,
         greatest(eng.s, err.s) AS os, least(eng.e, err.e) AS oe
  FROM eng JOIN err ON eng.user_id = err.user_id
   AND greatest(eng.s, err.s) <= least(eng.e, err.e)
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(count(*) AS BIGINT) AS n_overlaps,
       round(sum((epoch_us(oe) - epoch_us(os)) / 1e6), 6)
         AS overlap_s_total,
       min(epoch_us(os)) AS first_overlap_us
FROM pairs GROUP BY user_id ORDER BY user_id
"""
query(q_interval_overlap, SQL_INTERVAL_OVERLAP, bench=True)


def q_group_sequential(spark, sf_dir):
    """O'Brien-Fleming group-sequential monitoring
    (stats_tests.group_sequential_ztest): per-user converted-ever
    outcome, parity arms, enrollment order = user_id, 4 looks cut at
    interpolated percentile quantiles (engine-portable). Cumulative
    pooled z per look vs the c*sqrt(K/k) boundary."""
    from mhm_data_pipelines_spark.operators.stats_tests import (
        group_sequential_ztest,
    )

    ev = _t(spark, sf_dir, "events")
    units = ev.groupBy("user_id").agg(
        F.max(
            (F.col("event_type") == "purchase").cast("int")
        ).alias("converted")
    ).select(
        "user_id",
        F.when(F.col("user_id") % 2 == 1, "T")
        .otherwise("C")
        .alias("arm"),
        "converted",
    )
    return group_sequential_ztest(
        units, "arm", "converted", "user_id", "C", "T", looks=4
    )


SQL_GROUP_SEQUENTIAL = """
WITH units AS (
  SELECT user_id,
         CASE WHEN user_id % 2 = 1 THEN 'T' ELSE 'C' END AS arm,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS y
  FROM events GROUP BY user_id
), cuts AS (
  SELECT quantile_cont(CAST(user_id AS DOUBLE), 0.25) AS c1,
         quantile_cont(CAST(user_id AS DOUBLE), 0.5) AS c2,
         quantile_cont(CAST(user_id AS DOUBLE), 0.75) AS c3
  FROM units
), looked AS (
  SELECT u.*,
         1 + CASE WHEN u.user_id > c.c1 THEN 1 ELSE 0 END
           + CASE WHEN u.user_id > c.c2 THEN 1 ELSE 0 END
           + CASE WHEN u.user_id > c.c3 THEN 1 ELSE 0 END AS lk
  FROM units u CROSS JOIN cuts c
), cells0 AS (
  SELECT lk,
         sum(CASE WHEN arm = 'T' THEN 1 ELSE 0 END) AS nt,
         sum(CASE WHEN arm = 'C' THEN 1 ELSE 0 END) AS nc,
         sum(CASE WHEN arm = 'T' THEN y ELSE 0 END) AS st,
         sum(CASE WHEN arm = 'C' THEN y ELSE 0 END) AS sc
  FROM looked GROUP BY lk
), cells AS (
  SELECT g.range + 1 AS lk,
         coalesce(c.nt, 0) AS nt, coalesce(c.nc, 0) AS nc,
         coalesce(c.st, 0) AS st, coalesce(c.sc, 0) AS sc
  FROM range(4) g LEFT JOIN cells0 c ON c.lk = g.range + 1
), cum AS (
  SELECT lk,
         sum(nt) OVER w AS cnt, sum(nc) OVER w AS cnc,
         sum(st) OVER w AS cst, sum(sc) OVER w AS csc
  FROM cells
  WINDOW w AS (ORDER BY lk
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), st AS (
  SELECT lk, cnt, cnc,
         CASE WHEN ((cst + csc) * 1.0 / (cnt + cnc))
                   * (1.0 - (cst + csc) * 1.0 / (cnt + cnc))
                   * (1.0 / cnt + 1.0 / cnc) > 0
              THEN (cst * 1.0 / cnt - csc * 1.0 / cnc)
                   / sqrt(((cst + csc) * 1.0 / (cnt + cnc))
                          * (1.0 - (cst + csc) * 1.0 / (cnt + cnc))
                          * (1.0 / cnt + 1.0 / cnc))
         END AS z,
         2.024 * sqrt(4.0 / lk) AS boundary
  FROM cum
)
SELECT CAST(lk AS INT) AS look,
       CAST(cnt + cnc AS BIGINT) AS n,
       CAST(cnt AS BIGINT) AS n_treat, CAST(cnc AS BIGINT) AS n_ctrl,
       round(z, 6) AS z, round(boundary, 6) AS boundary,
       CASE WHEN z IS NOT NULL THEN abs(z) > boundary END AS crossed
FROM st ORDER BY look
"""
query(q_group_sequential, SQL_GROUP_SEQUENTIAL, bench=True)




def q_geo_join(spark, sf_dir):
    """Great-circle radius join (spatial.geo_radius_join): click
    events vs view events on a deterministic globe (lat = value mod
    100 − 50, lon = 11·event_id mod 360 − 180), radius 100 km inside
    the declared ±50° band — degree-grid blocking sized for the worst
    latitude, 3x3 neighborhood equi-join, exact haversine filter.
    Aggregated per-left-point readout; the oracle mirrors the SAME
    blocking (the all-pairs twin would be quadratic), so antimeridian
    semantics match by construction."""
    from mhm_data_pipelines_spark.operators.spatial import (
        geo_radius_join,
    )

    ev = _t(spark, sf_dir, "events")

    def pts(kind):
        return ev.filter(
            (F.col("event_type") == kind) & F.col("value").isNotNull()
        ).select(
            F.col("event_id").alias("id"),
            ((F.col("value") % 100.0) - 50.0).alias("lat"),
            (((F.col("event_id") * 11) % 360) - 180)
            .cast("double")
            .alias("lon"),
        )

    pairs = geo_radius_join(
        pts("click"), pts("view"), 100.0, 50.0
    )
    return (
        pairs.groupBy("left_id")
        .agg(
            F.count(F.lit(1)).alias("n_neighbors"),
            F.round(F.min("dist_km"), 6).alias("min_dist_km"),
        )
        .select(
            F.col("left_id").cast("long").alias("left_id"),
            F.col("n_neighbors").cast("long").alias("n_neighbors"),
            "min_dist_km",
        )
        .orderBy("left_id")
    )


#: shared verbatim with spatial.KM_PER_DEG_LAT / EARTH_RADIUS_KM
_GEO_DLAT = "(100.0 / 111.19492664455873)"
_GEO_DLON = (
    "(100.0 / (111.19492664455873 * cos(radians(50.0))))"
)

SQL_GEO_JOIN = """
WITH lpt AS (
  SELECT event_id AS id, (value % 100.0) - 50.0 AS lat,
         CAST(((event_id * 11) % 360) - 180 AS DOUBLE) AS lon
  FROM events WHERE event_type = 'click' AND value IS NOT NULL
   AND abs((value % 100.0) - 50.0) <= 50.0
), rpt AS (
  SELECT event_id AS id, (value % 100.0) - 50.0 AS lat,
         CAST(((event_id * 11) % 360) - 180 AS DOUBLE) AS lon
  FROM events WHERE event_type = 'view' AND value IS NOT NULL
   AND abs((value % 100.0) - 50.0) <= 50.0
), offs AS (
  SELECT unnest([-1, 0, 1]) AS o
), lcell AS (
  SELECT l.id, l.lat, l.lon,
         CAST(floor(l.lat / __DLAT__) AS BIGINT) + ox.o AS cx,
         CAST(floor(l.lon / __DLON__) AS BIGINT) + oy.o AS cy
  FROM lpt l CROSS JOIN offs ox CROSS JOIN offs oy
), rcell AS (
  SELECT id, lat, lon,
         CAST(floor(lat / __DLAT__) AS BIGINT) AS cx,
         CAST(floor(lon / __DLON__) AS BIGINT) AS cy
  FROM rpt
), pairs AS (
  SELECT l.id AS left_id, r.id AS right_id,
         2.0 * 6371.0088 * asin(least(1.0, sqrt(
           sin((r.lat - l.lat) * pi() / 180.0 / 2)
             * sin((r.lat - l.lat) * pi() / 180.0 / 2)
           + cos(l.lat * pi() / 180.0) * cos(r.lat * pi() / 180.0)
             * sin((r.lon - l.lon) * pi() / 180.0 / 2)
             * sin((r.lon - l.lon) * pi() / 180.0 / 2)
         ))) AS dist_km
  FROM lcell l JOIN rcell r ON l.cx = r.cx AND l.cy = r.cy
)
SELECT CAST(left_id AS BIGINT) AS left_id,
       CAST(count(*) AS BIGINT) AS n_neighbors,
       round(min(dist_km), 6) AS min_dist_km
FROM pairs WHERE dist_km <= 100.0
GROUP BY left_id ORDER BY left_id
""".replace("__DLAT__", _GEO_DLAT).replace("__DLON__", _GEO_DLON)
query(q_geo_join, SQL_GEO_JOIN, bench=True)


def q_seasonal_anomalies(spark, sf_dir):
    """Composition certification: seasonal-adjusted anomaly scoring =
    seasonal_decompose's residual stream fed into rolling_zscore —
    "unusual FOR a Tuesday", not merely unusual. No new operator
    code; the key certifies that the two operators compose under ONE
    full-value oracle across both stages."""
    from mhm_data_pipelines_spark.operators.timeseries import (
        rolling_zscore,
        seasonal_decompose,
    )

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("value"))
    dec = seasonal_decompose(
        daily, ["event_type"], day_col="day", value_col="value",
        period=7,
    )
    scored = rolling_zscore(
        dec.filter(F.col("residual").isNotNull()).select(
            "event_type",
            F.col("day").alias("ts"),
            F.col("residual").alias("value"),
        ),
        ts="ts",
        key="event_type",
        value="value",
        window=14,
    )
    return scored.select(
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.round("value", 6).alias("residual"),
        F.round("z", 6).alias("z"),
    ).orderBy("event_type", "day")


def q_markov_chain(spark, sf_dir):
    """Stationary distribution of the event-type transition chain
    (graph.markov_stationary, 20 fixed power-iteration rounds):
    where does a random walk over consecutive per-user event types
    settle? Transitions from one per-user lead window; every round a
    state-sized join + aggregate, 12dp round-before-derive — the
    oracle unrolls the identical 20 rounds as chained CTEs."""
    from mhm_data_pipelines_spark.operators.graph import (
        markov_stationary,
    )

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    out = markov_stationary(pairs, n_iter=20)
    return out.select(F.col("state").alias("state"), "pi")


def _markov_sql() -> str:
    """DuckDB twin of q_markov_chain: 20 power-iteration steps. Every
    step reads the transition table p, so p and the CTEs it is built
    from are MATERIALIZED. The steps are too: inlined, the 20-join chain
    becomes one join-ordering problem that takes DuckDB's optimizer
    seconds to plan."""
    head = """
WITH pairs AS (
  SELECT event_type AS s,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS d
  FROM events
), agg AS MATERIALIZED (
  SELECT s, d, CAST(count(*) AS DOUBLE) AS w
  FROM pairs WHERE d IS NOT NULL GROUP BY 1, 2
), tot AS MATERIALIZED (
  SELECT s, sum(w) AS t FROM agg GROUP BY s
), states AS MATERIALIZED (
  SELECT DISTINCT s AS state FROM (
    SELECT s FROM agg UNION ALL SELECT d FROM agg
  )
), p AS MATERIALIZED (
  SELECT agg.s, agg.d, agg.w / tot.t AS p
  FROM agg JOIN tot USING (s)
  UNION ALL
  SELECT st.state, st.state, 1.0
  FROM states st
  WHERE st.state NOT IN (SELECT s FROM tot)
), pi0 AS (
  SELECT state, 1.0 / (SELECT count(*) FROM states) AS pi
  FROM states
)"""
    steps = []
    for i in range(1, 21):
        steps.append(
            f", pi{i} AS MATERIALIZED (\n"
            f"  SELECT p.d AS state,\n"
            f"         round(sum(pi{i - 1}.pi * p.p), 12) AS pi\n"
            f"  FROM pi{i - 1} JOIN p ON p.s = pi{i - 1}.state\n"
            f"  GROUP BY p.d\n)"
        )
    tail = """
SELECT s.state, round(coalesce(pi20.pi, 0.0), 6) AS pi
FROM states s LEFT JOIN pi20 ON pi20.state = s.state
ORDER BY s.state
"""
    return head + "".join(steps) + tail


SQL_MARKOV_CHAIN = _markov_sql()
query(q_markov_chain, SQL_MARKOV_CHAIN, bench=True)


def q_eb_rates(spark, sf_dir):
    """Empirical-Bayes shrinkage of per-user-bucket purchase rates
    (stats_tests.eb_rate_shrinkage): method-of-moments Beta prior
    over the 97 bucket rates, small buckets pulled hardest toward
    the grand mean — "this bucket has 1/1 = 100%" smoothing. One
    corpus agg + one group-sized moment broadcast."""
    from mhm_data_pipelines_spark.operators.stats_tests import (
        eb_rate_shrinkage,
    )

    ev = _t(spark, sf_dir, "events")
    pre = ev.select(
        F.pmod(F.col("user_id"), F.lit(97)).alias("bucket"),
        (F.col("event_type") == "purchase").cast("int").alias("y"),
    )
    out = eb_rate_shrinkage(pre, "bucket", "y")
    return out.select(
        F.col("bucket").cast("long").alias("bucket"),
        "n",
        "s",
        "rate",
        "shrunk_rate",
        "prior_strength",
    ).orderBy("bucket")


SQL_EB_RATES = """
WITH pg AS (
  SELECT user_id % 97 AS bucket, count(*) AS n,
         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS s
  FROM events GROUP BY 1
), pr AS (
  SELECT avg(s * 1.0 / n) AS m, var_pop(s * 1.0 / n) AS v FROM pg
), kk AS (
  SELECT m, v,
         CASE WHEN v > 0 AND m > 0 AND m < 1
                   AND (m * (1.0 - m) / v - 1.0) > 0
              THEN m * (1.0 - m) / v - 1.0 END AS k
  FROM pr
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(n AS BIGINT) AS n, CAST(s AS BIGINT) AS s,
       round(s * 1.0 / n, 6) AS rate,
       round(CASE WHEN k IS NOT NULL
                  THEN (s + m * k) / (n + k)
                  ELSE s * 1.0 / n END, 6) AS shrunk_rate,
       round(k, 6) AS prior_strength
FROM pg CROSS JOIN kk ORDER BY bucket
"""
query(q_eb_rates, SQL_EB_RATES, bench=True)


def q_negative_samples(spark, sf_dir):
    """Popularity-weighted negative sampling
    (sampling.popularity_negative_samples): 2 word2vec-style
    count^0.75 negatives per (customer, part) purchase pair —
    tempered weights as sqrt(c)*sqrt(sqrt(c)) (bit-identical where
    pow() is libm-dependent), md5-unit draws, interval lookup via the
    max-weight bucket equi-join. The oracle replays the identical
    draw arithmetic with DuckDB's inequality join."""
    from mhm_data_pipelines_spark.operators.sampling import (
        popularity_negative_samples,
    )

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    inter = (
        li.join(
            orders, li["l_orderkey"] == orders["o_orderkey"]
        )
        .select(
            F.col("o_custkey").alias("cust"),
            F.col("l_partkey").alias("part"),
        )
        .distinct()
    )
    out = popularity_negative_samples(
        inter, "cust", "part", k=2, seed=42
    )
    return out.select(
        F.col("cust").cast("long").alias("cust"),
        F.col("part").cast("long").alias("part"),
        F.col("draw").cast("int").alias("draw"),
        F.col("neg_item").cast("long").alias("neg_part"),
    ).orderBy("cust", "part", "draw")


SQL_NEGATIVE_SAMPLES = """
WITH inter AS (
  SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_custkey IS NOT NULL AND l.l_partkey IS NOT NULL
), pop AS (
  SELECT part AS neg_item, count(*) AS c FROM inter GROUP BY part
), iv AS (
  SELECT neg_item,
         sqrt(CAST(c AS DOUBLE)) * sqrt(sqrt(CAST(c AS DOUBLE)))
           AS w,
         sum(sqrt(CAST(c AS DOUBLE)) * sqrt(sqrt(CAST(c AS DOUBLE))))
           OVER (ORDER BY neg_item
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS hi
  FROM pop
), iv2 AS (
  SELECT neg_item, hi - w AS lo, hi FROM iv
), scal AS (
  SELECT max(hi) AS W_ FROM iv
), draws AS (
  SELECT cust, part, j AS draw,
         (CAST(('0x' || substr(
             md5(cust || ':' || part || ':' || j || ':42'), 1, 15))
           AS BIGINT) / 1152921504606846976.0) * scal.W_ AS tw
  FROM inter CROSS JOIN (SELECT unnest([1, 2]) AS j) js
  CROSS JOIN scal
)
SELECT CAST(d.cust AS BIGINT) AS cust,
       CAST(d.part AS BIGINT) AS part,
       CAST(d.draw AS INT) AS draw,
       CAST(iv2.neg_item AS BIGINT) AS neg_part
FROM draws d
JOIN iv2 ON d.tw >= iv2.lo AND d.tw < iv2.hi
WHERE iv2.neg_item <> d.part
ORDER BY cust, part, draw
"""
query(q_negative_samples, SQL_NEGATIVE_SAMPLES, bench=True)



def q_qini_uplift(spark, sf_dir):
    """Qini uplift-evaluation curve (stats_tests.qini_curve): score =
    first-half activity volume, parity arms, outcome = second-half
    purchase — does targeting by engagement beat random targeting?
    Decile cuts at engine-portable interpolated percentiles; the
    whole curve lives on a 10-row cumulative window."""
    from mhm_data_pipelines_spark.operators.stats_tests import (
        qini_curve,
    )

    ev = _t(spark, sf_dir, "events")
    units = ev.groupBy("user_id").agg(
        F.sum(
            (F.month("ts") <= 6).cast("long")
        ).alias("score"),
        F.max(
            (
                (F.col("event_type") == "purchase")
                & (F.month("ts") > 6)
            ).cast("int")
        ).alias("y"),
    ).select(
        F.col("score").cast("double").alias("score"),
        F.when(F.col("user_id") % 2 == 1, "T")
        .otherwise("C")
        .alias("arm"),
        "y",
    )
    return qini_curve(units, "score", "arm", "y", "C", "T", n_bins=10)


def _qini_sql() -> str:
    cut_cols = ", ".join(
        f"quantile_cont(score, {1.0 - i / 10!r}) AS c{i}"
        for i in range(1, 10)
    )
    bin_expr = "1" + "".join(
        f" + CASE WHEN u.score < c.c{i} THEN 1 ELSE 0 END"
        for i in range(1, 10)
    )
    return f"""
WITH units AS (
  SELECT CAST(sum(CASE WHEN month(ts) <= 6 THEN 1 ELSE 0 END)
              AS DOUBLE) AS score,
         CASE WHEN user_id % 2 = 1 THEN 'T' ELSE 'C' END AS arm,
         max(CASE WHEN event_type = 'purchase' AND month(ts) > 6
                  THEN 1 ELSE 0 END) AS y
  FROM events GROUP BY user_id
), cuts AS (
  SELECT {cut_cols} FROM units
), binned AS (
  SELECT ({bin_expr}) AS bin,
         CASE WHEN arm = 'T' THEN 1 ELSE 0 END AS it, y
  FROM units u CROSS JOIN cuts c
), cells AS (
  SELECT bin, sum(it) AS nt, sum(1 - it) AS nc,
         sum(it * y) AS st, sum((1 - it) * y) AS sc
  FROM binned GROUP BY bin
), cum AS (
  SELECT bin,
         sum(nt) OVER w AS cnt, sum(nc) OVER w AS cnc,
         sum(st) OVER w AS cst, sum(sc) OVER w AS csc,
         sum(nt) OVER () AS tnt, sum(nc) OVER () AS tnc,
         sum(st) OVER () AS tst, sum(sc) OVER () AS tsc
  FROM cells
  WINDOW w AS (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT CAST(bin AS INT) AS bin,
       CAST(cnt + cnc AS BIGINT) AS n_cum,
       CAST(cnt AS BIGINT) AS n_treat_cum,
       CAST(cnc AS BIGINT) AS n_ctrl_cum,
       round(CASE WHEN cnc > 0
                  THEN cst - csc * (cnt * 1.0) / cnc END, 6) AS qini,
       round(CASE WHEN tnc > 0
                  THEN (tst - tsc * (tnt * 1.0) / tnc)
                       * ((cnt + cnc) * 1.0) / (tnt + tnc)
             END, 6) AS random_line
FROM cum ORDER BY bin
"""


SQL_QINI_UPLIFT = _qini_sql()
query(q_qini_uplift, SQL_QINI_UPLIFT, bench=True)


def q_ht_readout(spark, sf_dir):
    """Horvitz-Thompson population estimates from an
    unequal-probability sample (sampling.ht_estimate): events kept by
    an md5-unit draw with per-type inclusion probabilities (purchases
    oversampled 5x vs views), then the HT total / Hájek mean / SE
    reconstruct population-scale numbers from the sample alone."""
    from mhm_data_pipelines_spark.operators.sampling import (
        ht_estimate,
        md5_unit_draw,
    )

    ev = _t(spark, sf_dir, "events")
    prob = F.when(
        F.col("event_type") == "purchase", F.lit(0.5)
    ).otherwise(F.lit(0.1))
    sampled = ev.withColumn("_p", prob).filter(
        md5_unit_draw("event_id", seed=7) < F.col("_p")
    )
    return ht_estimate(sampled, "value", "_p")


SQL_HT_READOUT = """
WITH sampled AS (
  SELECT value AS y,
         CASE WHEN event_type = 'purchase' THEN 0.5 ELSE 0.1 END
           AS p
  FROM events
  WHERE (CAST(('0x' || substr(md5(event_id || ':7'), 1, 15))
              AS BIGINT) / 1152921504606846976.0)
        < CASE WHEN event_type = 'purchase' THEN 0.5 ELSE 0.1 END
), base AS (
  SELECT CAST(y AS DOUBLE) AS y, CAST(p AS DOUBLE) AS p
  FROM sampled WHERE y IS NOT NULL AND p > 0 AND p <= 1
)
SELECT CAST(count(*) AS BIGINT) AS n_sample,
       round(sum(y / p), 6) AS est_total,
       round(sum(1.0 / p), 6) AS est_population,
       round(sum(y / p) / sum(1.0 / p), 6) AS ht_mean,
       round(sqrt(sum((1.0 - p) / (p * p) * y * y)), 6) AS se_total
FROM base
"""
query(q_ht_readout, SQL_HT_READOUT, bench=True)


def q_holt_backtest(spark, sf_dir):
    """Rolling-origin Holt forecast backtest
    (timeseries.holt_backtest): per-user 80/20 ordered prefix split,
    test points scored against level + h*trend from the 6dp train
    state — the oracle replays the identical recursion over the
    train prefix in one recursive CTE and aggregates the same
    errors."""
    from mhm_data_pipelines_spark.operators.timeseries import (
        holt_backtest,
    )

    ev = _t(spark, sf_dir, "events")
    out = holt_backtest(ev, "user_id", "event_id", "value")
    return out.select(
        F.col("user_id").cast("long").alias("user_id"),
        "n_train",
        "n_test",
        "mae",
        "rmse",
    )


SQL_HOLT_BACKTEST = """
WITH RECURSIVE series AS (
  SELECT user_id AS u, value AS y,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY event_id) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n,
         lead(value) OVER (PARTITION BY user_id
                           ORDER BY event_id) AS y_next
  FROM events
  WHERE value IS NOT NULL
), kk AS (
  SELECT u, CAST(floor(n * 0.8) AS BIGINT) AS k
  FROM series WHERE rn = 1
), hw(u, rn, k, s, b) AS (
  SELECT sv.u, CAST(1 AS BIGINT), kk.k, sv.y, sv.y_next - sv.y
  FROM series sv JOIN kk ON kk.u = sv.u
  WHERE sv.rn = 1 AND kk.k >= 2
  UNION ALL
  SELECT h.u, h.rn + 1, h.k,
         0.5 * sv.y + 0.5 * (h.s + h.b),
         0.3 * ((0.5 * sv.y + 0.5 * (h.s + h.b)) - h.s) + 0.7 * h.b
  FROM hw h JOIN series sv ON sv.u = h.u AND sv.rn = h.rn + 1
  WHERE h.rn + 1 <= h.k
), st AS (
  SELECT u, k, round(s, 6) AS level, round(b, 6) AS trend
  FROM hw WHERE rn = k
), errs AS (
  SELECT sv.u, st.k, st.level, st.trend,
         sv.y - (st.level + (sv.rn - st.k) * st.trend) AS e
  FROM series sv JOIN st ON st.u = sv.u AND sv.rn > st.k
)
SELECT CAST(u AS BIGINT) AS user_id, CAST(k AS BIGINT) AS n_train,
       CAST(count(*) AS BIGINT) AS n_test,
       round(CAST(sum(CAST(round(abs(e), 6) AS DECIMAL(28,6)))
                  AS DOUBLE) / count(*), 6) AS mae,
       round(sqrt(CAST(sum(CAST(round(e * e, 6) AS DECIMAL(28,6)))
                       AS DOUBLE) / count(*)), 6) AS rmse
FROM errs GROUP BY u, k ORDER BY user_id
"""
query(q_holt_backtest, SQL_HOLT_BACKTEST, bench=True)



def q_wilson_rates(spark, sf_dir):
    """Per-event-type purchase-share dashboard rates with Wilson
    score intervals (stats_tests.wilson_ci): the interval that stays
    inside [0, 1] and keeps width at the p = 0/1 edges where small
    groups live. One hash aggregate + a pure projection; z is an
    explicit literal, so both engines evaluate the identical closed
    form."""
    from mhm_data_pipelines_spark.operators.stats_tests import (
        wilson_ci,
    )

    ev = _t(spark, sf_dir, "events")
    units = ev.groupBy("user_id").agg(
        F.min(F.struct("ts", "event_id", "event_type"))
        .getField("event_type")
        .alias("first_type"),
        F.max(
            (F.col("event_type") == "purchase").cast("int")
        ).alias("converted"),
    )
    out = wilson_ci(units, "first_type", "converted")
    return out.orderBy("first_type")


SQL_WILSON_RATES = """
WITH firsts AS (
  SELECT user_id, event_type AS first_type
  FROM events
  QUALIFY row_number() OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) = 1
), conv AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS converted
  FROM events GROUP BY user_id
), pg AS (
  SELECT f.first_type AS g, count(*) AS n, sum(c.converted) AS s
  FROM firsts f JOIN conv c USING (user_id)
  GROUP BY 1
), w AS (
  SELECT g, n, s, s * 1.0 / n AS p,
         1.959964 AS z, CAST(n AS DOUBLE) AS nd
  FROM pg
)
SELECT g AS first_type, CAST(n AS BIGINT) AS n,
       CAST(s AS BIGINT) AS s, round(p, 6) AS rate,
       round(greatest(
         ((p + z * z / (2 * nd)) / (1 + z * z / nd))
         - (z * sqrt(p * (1.0 - p) / nd + z * z / (4 * nd * nd))
            / (1 + z * z / nd)), 0.0), 6) AS ci_low,
       round(least(
         ((p + z * z / (2 * nd)) / (1 + z * z / nd))
         + (z * sqrt(p * (1.0 - p) / nd + z * z / (4 * nd * nd))
            / (1 + z * z / nd)), 1.0), 6) AS ci_high
FROM w ORDER BY first_type
"""
query(q_wilson_rates, SQL_WILSON_RATES, bench=True)


def q_cliffs_effect(spark, sf_dir):
    """Cliff's delta effect size, purchase vs click event values
    (stats_tests.cliffs_delta): the "by how much" companion of the
    mwu_shift key on the identical rank machinery — pair dominance
    probability from rank sums, never pair enumeration."""
    from mhm_data_pipelines_spark.operators.stats_tests import (
        cliffs_delta,
    )

    ev = _t(spark, sf_dir, "events")
    return cliffs_delta(ev, "value", "event_type", "purchase", "click")


SQL_CLIFFS_EFFECT = """
WITH base AS (
  SELECT CAST(value AS DOUBLE) AS v,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ia
  FROM events
  WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')
), pv AS (
  SELECT v, count(*) AS t, sum(ia) AS ca FROM base GROUP BY v
), r AS (
  SELECT v, t, ca,
         sum(t) OVER (ORDER BY v) - t / 2.0 + 0.5 AS rk
  FROM pv
), s AS (
  SELECT CAST(sum(ca) AS DOUBLE) AS na,
         CAST(sum(t - ca) AS DOUBLE) AS nb,
         sum(ca * rk) AS ra
  FROM r
), d AS (
  SELECT na, nb,
         2.0 * (ra - na * (na + 1) / 2) / (na * nb) - 1.0 AS delta
  FROM s
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       round(delta, 6) AS delta,
       CASE WHEN abs(delta) < 0.147 THEN 'negligible'
            WHEN abs(delta) < 0.33 THEN 'small'
            WHEN abs(delta) < 0.474 THEN 'medium'
            ELSE 'large' END AS magnitude
FROM d
"""
query(q_cliffs_effect, SQL_CLIFFS_EFFECT, bench=True)



SQL_SEASONAL_ANOMALIES = """
WITH daily AS (
  SELECT event_type AS g, ts::DATE AS day,
         CAST(count(*) AS DOUBLE) AS v
  FROM events GROUP BY 1, 2
), t AS (
  SELECT g, day, v,
         CAST(day - DATE '1970-01-01' AS BIGINT) AS di,
         round(avg(v) OVER (
           PARTITION BY g
           ORDER BY CAST(day - DATE '1970-01-01' AS BIGINT)
           RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING
         ), 6) AS trend
  FROM daily
), s_raw AS (
  SELECT g, di % 7 AS pos, round(avg(v - trend), 6) AS s_raw
  FROM t GROUP BY g, di % 7
), s AS (
  SELECT g, pos,
         round(s_raw - avg(s_raw) OVER (PARTITION BY g), 6)
           AS seasonal
  FROM s_raw
), resid AS (
  SELECT t.g, t.day,
         round(t.v - t.trend - s.seasonal, 6) AS r
  FROM t JOIN s ON t.g = s.g AND t.di % 7 = s.pos
), zed AS (
  SELECT g, day, r,
         avg(r) OVER w AS mu, stddev_pop(r) OVER w AS sd,
         count(r) OVER w AS cnt
  FROM resid
  WINDOW w AS (PARTITION BY g ORDER BY day
               ROWS BETWEEN 14 PRECEDING AND 1 PRECEDING)
)
SELECT g AS event_type, strftime(day, '%Y-%m-%d') AS day,
       round(r, 6) AS residual,
       round(CASE WHEN cnt = 14 AND sd > 0
                  THEN (r - mu) / sd END, 6) AS z
FROM zed ORDER BY event_type, day
"""
query(q_seasonal_anomalies, SQL_SEASONAL_ANOMALIES, bench=True)


#: Driver-gate ordering, frozen. The driver verifies exactly the first
#: 50 entries of ``__spark_entry__.queries()`` against their DuckDB
#: oracles, and these are those 50 keys in that order. The remaining
#: keys follow in ``query()`` declaration order. Every key, in or out of
#: this list, is oracle-checked by tests/test_oracle_parity.py.
GATE_PRIORITY: list[str] = [
    "tpch_q1",
    "overview_stats",
    "summary_assembly",
    "embedding_centroids",
    "embedding_neardup",
    "embedding_quantize",
    "embedding_topk",
    "frame_samples",
    "grouping_sets",
    "ivf_topk",
    "lang_id",
    "lsh_topk",
    "multimodal_features",
    "neardup_dedup_keep",
    "pack_documents",
    "pii_redaction",
    "range_join",
    "rolling_1h",
    "source_mix",
    "stratified_counts",
    "tfidf_top_terms",
    "tiered_rollup",
    "top_terms_per_source",
    "unigram_jaccard_pairs",
    "users_except",
    "users_intersect",
    "vocab_stats",
    "zorder_layout",
    "variant_extract",
    "ann_recall",
    "bm25_topk",
    "bpe_encode",
    "bpe_pairs",
    "c4_filter_stats",
    "doc_bigram_lm",
    "doc_fingerprints",
    "doc_winnowing",
    "dsir_weights",
    "dup_spans",
    "event_pagerank",
    "fuzzy_pairs",
    "gopher_quality",
    "heatmap_render",
    "heavy_hitters",
    "hll_user_rollup",
    "ivf_recall",
    "jsonl_roundtrip",
    "llm_dataset_build",
    "minhash_exact_pairs",
    "minhash_incremental",
]


def gate_ordered_queries() -> dict[str, QuerySpec]:
    """QUERIES re-keyed so GATE_PRIORITY occupies the first slots."""
    rest = [k for k in QUERIES if k not in set(GATE_PRIORITY)]
    return {k: QUERIES[k] for k in [*GATE_PRIORITY, *rest]}
