"""SparkSession factory with scale-oriented defaults.

The reference runs single-process pandas (e.g.
``mhm-data-pipelines/merge-data.py:152-165`` is a sequential per-group
loop); here every job is a distributed Catalyst plan. Defaults chosen for
the 100 TB north-star but parameterized so tests run on ``local[*]``:

* AQE on (runtime coalescing of shuffle partitions + skew-join splitting —
  participants/users with wildly different data volumes are the expected
  skew shape).
* Arrow on (any unavoidable pandas interchange is vectorized).
* ``spark.sql.shuffle.partitions`` low for local test scale; on a real
  cluster leave the default / let AQE coalesce.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

_DEFAULTS: dict[str, str] = {
    # local-mode JVM hosts driver AND all executor threads: the 1g
    # default heap OOMs under local[32] task concurrency. Only takes
    # effect at JVM launch (no-op on an already-running session).
    "spark.driver.memory": "8g",
    # Runtime re-planning: coalesce small shuffle partitions, split skewed
    # ones. Critical at 100 TB where static partition counts are wrong.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow-accelerated pandas interchange for pandas_udf / toPandas.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # ANSI mode is INTENTIONALLY off: hash-mixing arithmetic (MinHash /
    # SimHash families) relies on wraparound LONG overflow, which ANSI
    # turns into runtime errors. Error semantics are owned explicitly
    # instead — try_cast / guards wherever null-on-bad-input is the
    # contract (see functions.timeutils), and every registry query is
    # also smoke-tested under a bare ANSI-on session.
    "spark.sql.ansi.enabled": "false",
    # Parquet: pushdown + schema-drift tolerance across files.
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.mergeSchema": "false",
    # TIMESTAMP(NANOS) parquet columns (pandas/arrow writers emit these)
    # surface as LongType nanos instead of erroring; loaders convert to
    # timestamp explicitly (see benchmarks.registry.load_table).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Session TZ pinned to UTC so calendar bucketing (time keys, distinct
    # days) is deterministic regardless of host TZ.
    "spark.sql.session.timeZone": "UTC",
    # Runtime Bloom-filter pushdown: a selective dimension filter prunes
    # the fact-side shuffle before it happens — big win on the
    # orders⋈lineitem shape when the dim filter is selective at 100 TB.
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # zstd beats snappy ~30% on size at comparable read speed — at 100 TB
    # that's tens of TB of I/O per full scan.
    "spark.sql.parquet.compression.codec": "zstd",
    # ContextCleaner only releases dead localCheckpoint/broadcast blocks
    # when a JVM GC runs; with a large driver heap GCs are rare, so a
    # long-lived session accumulates orphaned blocks and every later job
    # pays for them (measured: identical iterative queries drift ~2×
    # over one session). Default is 30min — too lazy for sessions that
    # run hundreds of plans. NOT shorter than 10min: a periodic FULL GC
    # firing inside a running query measurably inflates it (the bench's
    # 39-query criterion set ran 40% slower under a 1min interval), so
    # latency-sensitive harnesses should trigger System.gc() at their
    # own safe points instead (bench.py does, between queries).
    "spark.cleaner.periodicGC.interval": "10min",
}


def _buffer_conf(memory: str) -> dict[str, str]:
    """Tungsten page and broadcast chunk size for a JVM whose heap is
    ``memory`` (a ``spark.driver.memory`` value; a bare number is MiB):
    heap/8192, rounded up to a power of two (1 MiB at 8g).

    G1 allocates any array of half a heap region or more as a humongous
    object, outside the young generation: it claims whole regions and is
    freed only by a marking cycle. Its regions are heap/2048 rounded down
    to a power of two (4 MiB at 8g, capped at 32 MiB), so heap/8192 stays
    below half a region. Spark's own defaults do not: a 64 MiB page (from
    heap and cores) and a 4 MiB torrent chunk (one per stage's task
    binary, kept until cleanup) each take whole regions at 8g. 8192 is
    also the size of a task's page table, so 8192 pages still address
    the whole heap; for a heap that is not a power of two that coverage
    wins over the region bound, which is why the size rounds up."""
    m = re.fullmatch(r"(\d+)([bkmgt]?)b?", memory.strip().lower())
    if m is None:
        raise ValueError(f"spark.driver.memory: cannot parse {memory!r}")
    heap = int(m[1]) << {"b": 0, "k": 10, "m": 20, "g": 30, "t": 40}[m[2] or "m"]
    page = 1 << (-(-heap // 8192) - 1).bit_length()
    size = f"{page >> 10}k"
    return {"spark.buffer.pageSize": size, "spark.broadcast.blockSize": size}


def get_spark(
    app_name: str = "mhm-data-pipelines-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS|*]`` when no cluster
    master is configured in the environment; on a real cluster pass
    ``None`` and launch via spark-submit so the cluster manager decides.
    """
    # Python workers unpickle UDF closures (mapInPandas feature
    # extractors, applyInPandasWithState sessionizers) by importing this
    # package; when the engine is used from a checkout rather than a pip
    # install, make the package root importable for workers regardless
    # of the caller's cwd. Cluster deployments ship the package via
    # --py-files / pip instead — this is the local-mode analogue.
    #
    # Two channels, because each alone has a hole (ADVICE r3): the
    # os.environ mutation reaches workers only if the JVM gateway has
    # not launched yet, and the ``spark.executorEnv.PYTHONPATH`` conf
    # reaches them only if THIS builder creates the session. With a
    # session that already existed before this module was imported,
    # neither can help — create the session after importing the package
    # (getOrCreate reuse of a session built here is fine).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    py_path = os.environ.get("PYTHONPATH", "")
    if pkg_root not in py_path.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{py_path}" if py_path else pkg_root
        )

    builder = SparkSession.builder.appName(app_name)
    builder = builder.config(
        "spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"]
    )
    if master is None and "SPARK_MASTER" not in os.environ:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)

    conf = dict(_DEFAULTS)
    if shuffle_partitions is None:
        # Local-mode default: a few partitions per core is plenty at test
        # scale; AQE coalesces further. Cluster deployments override.
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    # Sized from the heap actually launched; an explicit value wins.
    conf = {**_buffer_conf(conf["spark.driver.memory"]), **conf}
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


def supports_jvm_access(spark: SparkSession) -> bool:
    """True on classic PySpark (py4j gateway available). Spark Connect
    sessions have no ``_jvm``/``_jsc`` — the genuinely JVM-bound op
    (the Hadoop-FS atomic renames of ``sources.io._swap_partitions``)
    checks this and raises a clear error instead of an
    AttributeError."""
    return getattr(spark, "_jvm", None) is not None


def default_parallelism(spark: SparkSession) -> int:
    """Cluster default parallelism via public-ish APIs: classic
    sessions report ``sparkContext.defaultParallelism``; Spark Connect
    has no SparkContext, so fall back to the session's shuffle
    partition count (the same knob cluster deployments tune)."""
    try:
        return spark.sparkContext.defaultParallelism
    except Exception:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
