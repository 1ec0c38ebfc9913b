"""Driver-mimic comparison: run a Spark query and its DuckDB oracle on the
same parquet tables and compare row-count + schema + order-insensitive
values (TESTDATA.md)."""

from __future__ import annotations

import math

import duckdb
import pandas as pd

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    # One thread: parallel aggregation merges float partial sums in a
    # varying order, so an oracle that rounds an average at 6dp can land
    # on either side of a rounding boundary from run to run
    # (seasonal_anomalies did in about one run in eight).
    con = duckdb.connect(config={"threads": 1})
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return None
        return v
    return v


def _sort_key(row):
    return tuple("" if v is None else str(v) for v in row)


def compare_frames(got: pd.DataFrame, want: pd.DataFrame) -> None:
    assert sorted(got.columns) == sorted(want.columns), (
        f"column mismatch: {sorted(got.columns)} vs {sorted(want.columns)}"
    )
    cols = sorted(got.columns)
    assert len(got) == len(want), f"row count {len(got)} vs {len(want)}"
    g = [
        tuple(_norm_cell(v) for v in row)
        for row in got[cols].itertuples(index=False, name=None)
    ]
    w = [
        tuple(_norm_cell(v) for v in row)
        for row in want[cols].itertuples(index=False, name=None)
    ]
    g.sort(key=_sort_key)
    w.sort(key=_sort_key)
    for i, (gr, wr) in enumerate(zip(g, w)):
        for c, (gv, wv) in zip(cols, zip(gr, wr)):
            if isinstance(gv, float) and isinstance(wv, float):
                assert math.isclose(gv, wv, rel_tol=1e-9, abs_tol=1e-9), (
                    f"row {i} col {c}: {gv!r} != {wv!r}"
                )
            else:
                assert str(gv) == str(wv), f"row {i} col {c}: {gv!r} != {wv!r}"


#: ``executedPlan().toString()`` of each registry frame that
#: :func:`check_query` built, by ``(sf_dir, key)`` — test_plan_properties
#: reads these instead of building every key a second time.
PLANS: dict[tuple[str, str], str] = {}


def check_query(spark, sf_dir: str, name: str) -> None:
    from mhm_data_pipelines_spark.benchmarks.registry import (
        ORACLES,
        QUERIES,
        release_query_resources,
    )

    release_query_resources()  # no earlier build's cache enters the plan
    try:
        frame = QUERIES[name](spark, sf_dir)
        # The action below reuses this (lazily planned) physical plan.
        plan = frame._jdf.queryExecution().executedPlan().toString()
        got = frame.toPandas()
    finally:
        # Frames, scratch dirs and tables the builder registered are
        # only read by the now-materialized result.
        release_query_resources()
    PLANS[sf_dir, name] = plan
    con = duck_connection(sf_dir)
    want = con.sql(ORACLES[name]).df()
    compare_frames(got, want)
