"""Dump full ``.explain("formatted")`` physical plans for named registry
queries to per-query text files — before/after plan evidence for an
optimization (``<out>/<key>_before.txt`` etc.; keep such dumps out of
the tree).

Usage:
  python scripts/dump_plans.py --out /tmp/plans --suffix _before \
      [--sf-dir /root/testdata/sf0.1] key1 key2 ...

Building a query may run bounded driver-side jobs (iterative operators
count per round); the dump itself never executes the final plan.
"""

from __future__ import annotations

import argparse
import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from mhm_data_pipelines_spark.benchmarks.registry import (  # noqa: E402
    QUERIES,
    release_query_resources,
)
from mhm_data_pipelines_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("keys", nargs="+")
    ap.add_argument("--out", required=True)
    ap.add_argument("--suffix", default="")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    args = ap.parse_args()
    os.makedirs(args.out, exist_ok=True)
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        app_name="mhm-dump-plans",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")
    for key in args.keys:
        if key not in QUERIES:
            raise SystemExit(f"unknown query key: {key}")
        df = QUERIES[key](spark, args.sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(args.out, f"{key}{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        release_query_resources()
        print(f"wrote {path}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
