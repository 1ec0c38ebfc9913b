"""Driver-style correctness gate, runnable standalone: every registry
query side-by-side with its DuckDB oracle (value-hash compare via
tests.oracle_utils).

Usage:
  python scripts/run_correctness.py [sf_dir] [--keys k1,k2,...]
      [--sf-list dir1,dir2,...] [--out FILE.json]

Default sf0.01, all keys; exit code 0 iff zero failures. ``--sf-list``
runs the same key set at EVERY listed scale directory (VERDICT r7 #5:
the sf0.001 degenerate-edge scale as a standing check, not a one-off).
``--out`` writes a driver-shaped JSON record — per key (per scale when
multi-scale) ``{rows_match, schema_match, hash_match, spark_rows,
err}`` — committable as a round artifact.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tests"))

from oracle_utils import check_query  # noqa: E402

from mhm_data_pipelines_spark.benchmarks.registry import (  # noqa: E402
    QUERIES,
    load_table_cache_clear,
    release_query_resources,
)
from mhm_data_pipelines_spark.session import get_spark  # noqa: E402


def run_scale(spark, sf: str, names: list[str]) -> tuple[dict, int]:
    """One full pass at one scale dir → (per-key records, failure count)."""
    results: dict[str, dict] = {}
    fails = 0
    for name in names:
        rec = {
            "rows_match": None,
            "schema_match": None,
            "hash_match": None,
            "spark_rows": None,
            "err": None,
        }
        try:
            check_query(spark, sf, name)
            rec.update(rows_match=True, schema_match=True, hash_match=True)
            print(f"OK    {name}")
        except Exception as e:  # noqa: BLE001
            fails += 1
            rec["err"] = str(e)[:300]
            print(f"FAIL  {name}: {str(e)[:200]}")
        results[name] = rec
    return results, fails


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--keys", default=None,
        help="comma-separated subset of registry keys",
    )
    ap.add_argument(
        "--sf-list", default=None,
        help="comma-separated scale dirs; overrides sf_dir and runs the "
        "key set at every scale",
    )
    ap.add_argument(
        "--out", default=None,
        help="write a driver-shaped JSON record of the run to this path",
    )
    args = ap.parse_args()

    names = sorted(QUERIES)
    if args.keys:
        only = set(args.keys.split(","))
        unknown = only - set(QUERIES)
        if unknown:
            print(f"unknown keys: {sorted(unknown)}")
            return 2
        names = [n for n in names if n in only]
    scales = (
        args.sf_list.split(",") if args.sf_list else [args.sf_dir]
    )

    spark = get_spark(app_name="correctness-gate")
    spark.sparkContext.setLogLevel("ERROR")
    total_fails = 0
    record: dict = {}
    for sf in scales:
        if len(scales) > 1:
            print(f"=== scale {sf} ===")
            # Fresh memoized plans per scale: the cache is keyed by
            # (sf_dir, table) so this is belt-and-braces, but scratch
            # dirs and persisted index frames from the previous scale
            # must be released before the next pass rebuilds them.
            release_query_resources()
            load_table_cache_clear()
        results, fails = run_scale(spark, sf, names)
        total_fails += fails
        record[sf] = results
        print(f"summary [{sf}]: {len(names)} queries, {fails} failures")
    if args.out:
        out = record if len(scales) > 1 else record[scales[0]]
        with open(args.out, "w") as f:
            json.dump(out, f, indent=1)
            f.write("\n")
        print(f"wrote {args.out}")
    if len(scales) > 1:
        print(
            f"overall: {len(scales)} scales x {len(names)} queries, "
            f"{total_fails} failures"
        )
    return 1 if total_fails else 0


if __name__ == "__main__":
    sys.exit(main())
