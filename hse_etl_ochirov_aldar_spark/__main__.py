"""CLI entry point — the 'switch from the reference' surface.

    python -m hse_etl_ochirov_aldar_spark list
    python -m hse_etl_ochirov_aldar_spark run <query> [--sf-dir DIR] [-n 20]
    python -m hse_etl_ochirov_aldar_spark pipeline [--sf-dir DIR] --out DIR
    python -m hse_etl_ochirov_aldar_spark sql "SELECT ..." [--sf-dir DIR]
    python -m hse_etl_ochirov_aldar_spark profile <table> [--sf-dir DIR]
    python -m hse_etl_ochirov_aldar_spark optimize <path> [--zorder x,y]

`run` executes any catalog query and shows the result; `pipeline`
materializes the layered raw -> clean -> mart flow (the reference's
end-to-end DAG output) as partitioned parquet under --out; `sql` runs
an arbitrary SQL string against the registered table views (the
migration path for the reference's SQL-first users); `profile` prints
the one-scan per-column profile of a table; `optimize` compacts a
parquet dataset with optional sort or z-order clustering.
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="hse_etl_ochirov_aldar_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)
    sub.add_parser("list", help="list catalog queries")
    p_run = sub.add_parser("run", help="run one catalog query")
    p_run.add_argument("query")
    p_run.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    p_run.add_argument("-n", type=int, default=20, help="rows to show")
    p_pipe = sub.add_parser("pipeline", help="materialize raw->clean->mart")
    p_pipe.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    p_pipe.add_argument("--out", required=True)
    p_sql = sub.add_parser("sql", help="run SQL against the table views")
    p_sql.add_argument("statement")
    p_sql.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    p_sql.add_argument("-n", type=int, default=20, help="rows to show")
    p_prof = sub.add_parser("profile", help="per-column table profile")
    p_prof.add_argument("table")
    p_prof.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    p_prof.add_argument("--approx", action="store_true",
                        help="HLL distincts (the 100 TB path)")
    p_opt = sub.add_parser(
        "optimize", help="compact a parquet dataset (sort or z-order)"
    )
    p_opt.add_argument("path")
    p_opt.add_argument("--target-file-mb", type=int, default=128)
    p_opt.add_argument("--sort-col")
    p_opt.add_argument("--zorder", help="comma-separated columns")
    args = ap.parse_args(argv)

    from .queries import ORACLES, QUERIES

    if args.cmd == "list":
        for name in QUERIES:
            kind = "oracle" if name in ORACLES else "rows-only"
            print(f"{name}\t[{kind}]")
        return 0

    from .session import get_spark

    spark = get_spark(app_name=f"cli-{args.cmd}")
    spark.sparkContext.setLogLevel("ERROR")

    if args.cmd == "run":
        if args.query not in QUERIES:
            print(f"unknown query {args.query!r}; see `list`", file=sys.stderr)
            return 2
        df = QUERIES[args.query](spark, args.sf_dir)
        df.show(args.n, truncate=False)
        print(f"rows: {df.count()}")
        return 0

    if args.cmd == "sql":
        from .sources.views import sql_query

        df = sql_query(spark, args.sf_dir, args.statement)
        df.show(args.n, truncate=False)
        print(f"rows: {df.count()}")
        return 0

    if args.cmd == "profile":
        from .operators.profile import profile_table
        from .sources.readers import TABLES, load_table

        if args.table not in TABLES:
            print(f"unknown table {args.table!r}; one of {TABLES}",
                  file=sys.stderr)
            return 2
        profile_table(
            load_table(spark, args.sf_dir, args.table), approx=args.approx
        ).show(truncate=False)
        return 0

    if args.cmd == "optimize":
        from .sources.sinks import compact_parquet

        zcols = args.zorder.split(",") if args.zorder else None
        n = compact_parquet(
            spark,
            args.path,
            target_file_mb=args.target_file_mb,
            sort_col=args.sort_col,
            zorder_cols=zcols,
        )
        print(f"compacted to {n} file(s)")
        return 0

    # pipeline: events -> clean (percentile-trimmed, month-partitioned)
    # -> daily mart + extremes mart, with validation gates
    from pyspark.sql import functions as F

    from .operators.aggregates import daily_avg
    from .operators.topk import topk_extremes
    from .plans.quality import expect_nonempty
    from .queries import _events_base
    from .operators.percentile import percentile_trim
    from .sources.sinks import read_table, write_overwrite, write_partitioned

    base = _events_base(spark, args.sf_dir)
    clean = percentile_trim(base, "value").withColumn(
        "month", F.date_format("day", "yyyy-MM")
    )
    write_partitioned(expect_nonempty(clean, "clean"), f"{args.out}/clean_events", "month")
    daily = daily_avg(read_table(spark, f"{args.out}/clean_events"))
    write_overwrite(expect_nonempty(daily, "daily"), f"{args.out}/daily_avg")
    extremes = topk_extremes(read_table(spark, f"{args.out}/daily_avg"))
    write_overwrite(expect_nonempty(extremes, "extremes"), f"{args.out}/daily_extremes")
    for layer in ("clean_events", "daily_avg", "daily_extremes"):
        n = read_table(spark, f"{args.out}/{layer}").count()
        print(f"{layer}: {n} rows")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
