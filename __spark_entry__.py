"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash).

All query definitions live in
``mhm_data_pipelines_spark/benchmarks/registry.py`` (one entry per
SURVEY.md §2 operator family + the training-data extensions); this
module just adapts them to the driver contract.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO)
# Python WORKERS import the package when unpickling UDF closures
# (mapInPandas / applyInPandasWithState); sys.path edits don't reach
# them, PYTHONPATH does — required when the harness drives this module
# from another cwd with a session not built by mdps.session.get_spark.
if _REPO not in os.environ.get("PYTHONPATH", "").split(os.pathsep):
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (_REPO, os.environ.get("PYTHONPATH", "")) if p
    )

from mhm_data_pipelines_spark.benchmarks.registry import (  # noqa: E402
    ORACLES,
    QUERIES,
    gate_ordered_queries,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the reference's core
    overview workflow (per-participant/metric row counts, date range,
    distinct days — process-overview.py semantics) on the events table."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return QUERIES["overview_stats"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2. The first
    50 are GATE_PRIORITY, the frozen set the driver verifies; the rest
    follow in the registry's ``query()`` declaration order."""

    def _wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            return fn(spark, sf_dir)

        return run

    return {name: _wrap(fn) for name, fn in gate_ordered_queries().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every query."""
    return dict(ORACLES)
