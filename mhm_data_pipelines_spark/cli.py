"""Command-line entry point: the reference's argparse subcommand surface
(D5), dispatching to the engine's operators.

Reference UX: ``mhm-data-pipelines/summary.py:333-402`` defines argparse
subcommands (list_all_users, generate_summary_report,
update_summary_file, check_summary_file, get_measurements_for_user,
list_all_measurements, get_users_for_measurement, view_schema,
list_commands) over the pickled S3 object graph; ``main.py:309-330`` is
its dict-dispatch twin; ``merge-data.py`` / ``process-overview.py`` are
separate scripts. Here one CLI covers all three: catalog commands run as
DataFrame aggregates (operators.catalog_queries), ``merge`` is the
compaction job (operators.compact), ``overview`` the overview stats
report (operators.overview).

The catalog cache (``--cache``) replaces the reference's
``summary_data.pkl``: ``update_summary_file`` refreshes it,
``check_summary_file`` probes it, every read-only command uses it when
present (summary.py:266-298 parity).
"""

from __future__ import annotations

import argparse
import sys
from typing import Sequence

from pyspark.sql import SparkSession


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="mhm-spark",
        description="PySpark-native MHM data-pipeline commands",
    )
    p.add_argument(
        "--config",
        default=None,
        help=(
            "INI config file (reference config/config.ini parity): "
            "[lake] root/layout/cache, or the reference's "
            "[AWS] s3_bucket_path as the root. Explicit flags win."
        ),
    )
    p.add_argument("--root", default=None, help="lake root path")
    p.add_argument(
        "--layout", default=None, choices=["raw", "merged", "flat"]
    )
    p.add_argument("--cache", default=None, help="catalog cache parquet path")
    p.add_argument(
        "--limit", type=int, default=50, help="max rows printed per report"
    )
    sub = p.add_subparsers(dest="command", required=True)

    sub.add_parser("list_all_users", help="distinct users in the lake")
    sub.add_parser(
        "generate_summary_report",
        help="per (user, measurement): files, date range, shards",
    )
    sub.add_parser(
        "update_summary_file", help="refresh the catalog cache parquet"
    )
    sub.add_parser(
        "check_summary_file", help="probe the catalog cache parquet"
    )
    gm = sub.add_parser(
        "get_measurements_for_user", help="measurements one user has"
    )
    gm.add_argument("user_id")
    sub.add_parser("list_all_measurements", help="distinct measurements")
    gu = sub.add_parser(
        "get_users_for_measurement", help="users having a measurement"
    )
    gu.add_argument("measurement")
    vs = sub.add_parser("view_schema", help="print a measurement's schema doc")
    vs.add_argument("measurement")
    sub.add_parser("files_per_batch", help="file counts per batch timestamp")
    sub.add_parser("list_commands", help="list available commands")

    mg = sub.add_parser(
        "merge", help="compact the raw lake to partitioned parquet"
    )
    mg.add_argument("--out", required=True)
    mg.add_argument("--monthly", action="store_true")
    mg.add_argument("--include", nargs="*", default=None)
    mg.add_argument("--exclude", nargs="*", default=None)
    mg.add_argument("--update", action="store_true")

    ov = sub.add_parser(
        "overview", help="row/day overview stats per (site, participant, metric)"
    )
    ov.add_argument("--include", nargs="*", default=None)
    ov.add_argument("--exclude", nargs="*", default=None)
    return p


def _show(df, limit: int) -> None:
    df.show(limit, truncate=False)


def _apply_config(args) -> None:
    """Resolve --config INI values into unset args (reference
    ``summary.py:334-341`` parity: the reference reads
    ``config/config.ini`` ``[AWS] s3_bucket_path`` as its bucket root).
    Explicit command-line flags always win; ``--layout`` defaults to
    ``flat`` after the merge."""
    if args.config:
        import configparser

        cfg = configparser.ConfigParser()
        if not cfg.read(args.config):
            raise SystemExit(f"--config: cannot read {args.config}")
        lake = cfg["lake"] if cfg.has_section("lake") else {}
        if args.root is None:
            args.root = lake.get("root") or (
                cfg["AWS"].get("s3_bucket_path")
                if cfg.has_section("AWS")
                else None
            )
        if args.layout is None:
            args.layout = lake.get("layout")
        if args.cache is None:
            args.cache = lake.get("cache")
    if args.root is None:
        raise SystemExit("--root is required (flag or --config file)")
    if args.layout is None:
        args.layout = "flat"


def main(argv: Sequence[str] | None = None, spark: SparkSession | None = None) -> int:
    args = _build_parser().parse_args(argv)
    _apply_config(args)
    if spark is None:
        from mhm_data_pipelines_spark.session import get_spark

        spark = get_spark(app_name="mhm-spark-cli")

    from mhm_data_pipelines_spark.operators.catalog_queries import (
        files_per_batch,
        measurements_across_users,
        summary_report,
        user_overview,
    )
    from mhm_data_pipelines_spark.sources.catalog import build_catalog

    def catalog(refresh: bool = False):
        return build_catalog(
            spark,
            args.root,
            layout=args.layout,
            cache_path=args.cache,
            refresh=refresh,
        )

    cmd = args.command
    if cmd == "list_all_users":
        _show(
            catalog().select("user_id").distinct().orderBy("user_id"),
            args.limit,
        )
    elif cmd == "generate_summary_report":
        _show(summary_report(catalog()), args.limit)
    elif cmd == "update_summary_file":
        if not args.cache:
            print("update_summary_file requires --cache", file=sys.stderr)
            return 2
        n = catalog(refresh=True).count()
        print(f"catalog cache refreshed: {n} objects -> {args.cache}")
    elif cmd == "check_summary_file":
        if not args.cache:
            print("check_summary_file requires --cache", file=sys.stderr)
            return 2
        try:
            n = spark.read.parquet(args.cache).count()
            print(f"catalog cache OK: {n} objects at {args.cache}")
        except Exception:
            print(f"no catalog cache at {args.cache}")
            return 1
    elif cmd == "get_measurements_for_user":
        from pyspark.sql import functions as F

        _show(
            catalog()
            .filter(F.col("user_id") == args.user_id)
            .select("measurement")
            .distinct()
            .orderBy("measurement"),
            args.limit,
        )
    elif cmd == "list_all_measurements":
        _show(measurements_across_users(catalog()), args.limit)
    elif cmd == "get_users_for_measurement":
        from pyspark.sql import functions as F

        _show(
            catalog()
            .filter(F.col("measurement") == args.measurement)
            .select("user_id")
            .distinct()
            .orderBy("user_id"),
            args.limit,
        )
    elif cmd == "view_schema":
        from pyspark.sql import functions as F

        docs = (
            catalog()
            .filter(F.col("is_schema") & (F.col("measurement") == args.measurement))
            .select("path")
            .limit(1)
            .collect()
        )
        if not docs:
            print(f"No schema found for measurement '{args.measurement}'.")
            return 1
        content = (
            spark.read.format("binaryFile").load(docs[0].path).first()["content"]
        )
        print(bytes(content).decode("utf-8", errors="replace"))
    elif cmd == "files_per_batch":
        _show(files_per_batch(catalog()).orderBy("date", "time"), args.limit)
    elif cmd == "list_commands":
        print("Available commands:")
        for c in [
            "check_summary_file", "files_per_batch",
            "generate_summary_report", "get_measurements_for_user",
            "get_users_for_measurement", "list_all_measurements",
            "list_all_users", "list_commands", "merge", "overview",
            "update_summary_file", "view_schema",
        ]:
            print(f"  - {c}")
    elif cmd == "merge":
        from mhm_data_pipelines_spark.operators.compact import compact_lake

        compact_lake(
            spark,
            args.root,
            args.out,
            layout=args.layout,
            include=args.include,
            exclude=args.exclude,
            update=args.update,
            monthly=args.monthly,
        )
        print(f"compacted {args.root} -> {args.out}")
    elif cmd == "overview":
        from mhm_data_pipelines_spark.operators.overview import overview_stats
        from mhm_data_pipelines_spark.sources.lake import (
            _partition_columns,
            read_lake_unified,
        )

        df = read_lake_unified(
            spark,
            args.root,
            layout=args.layout,
            include=args.include,
            exclude=args.exclude,
        )
        from mhm_data_pipelines_spark.functions.timeutils import (
            coalesce_event_time,
        )

        _show(
            overview_stats(
                df,
                ts=coalesce_event_time(df.columns),
                group_cols=_partition_columns(args.layout),
            ),
            args.limit,
        )
    else:  # pragma: no cover - argparse enforces choices
        return 2
    return 0


if __name__ == "__main__":  # pragma: no cover
    raise SystemExit(main())
