"""CLI — the reference user's two entry points, re-expressed
(/root/reference/README.md: run the DAG; type ad-hoc SQL in PGAdmin).

    # the ETL (reference: the 5-minute Airflow DAG)
    python -m openweathermapapi_etl_spark etl --table /tmp/weather \\
        [--fixture docs.jsonl | --live] [--interval "5 minutes"]

    # ad-hoc SQL over the loaded data (reference: PGAdmin, README.md:62-78)
    python -m openweathermapapi_etl_spark sql "SELECT * FROM weather" \\
        --table /tmp/weather [--sf-dir /root/testdata/sf0.01]

`--fixture` loads a JSONL document file in one pass and one commit
(no API key needed); `--live` starts the streaming query against the
real OpenWeatherMap API (requires OPENWEATHERMAP_API_KEY, A14).
"""

from __future__ import annotations

import argparse
import sys

from .catalog import register_views
from .operators.merge import VersionedParquetTable
from .pipeline.weather import run_batch_pipeline
from .session import get_session
from .streaming.source import http_microbatch_query, make_requests_fetcher


def _cmd_etl(args: argparse.Namespace) -> int:
    spark = get_session("weather-etl")
    if args.fixture:
        table = run_batch_pipeline(spark, args.fixture, args.table)
        n = table.read(spark).count()
        print(f"ETL complete: {n} rows in weather table at {args.table}")
        return 0
    if args.live:
        q = http_microbatch_query(
            spark,
            make_requests_fetcher(),
            args.table,
            interval=args.interval,
        )
        print(f"streaming ETL started (trigger every {args.interval}); Ctrl-C stops")
        q.awaitTermination()
        return 0
    print("etl: pass --fixture <docs.jsonl> or --live", file=sys.stderr)
    return 2


def _cmd_sql(args: argparse.Namespace) -> int:
    spark = get_session("weather-sql")
    if args.sf_dir:
        register_views(spark, args.sf_dir)
    if args.table:
        t = VersionedParquetTable(args.table)
        if t.exists():
            t.read(spark).createOrReplaceTempView("weather")
    spark.sql(args.query).show(args.rows, truncate=False)
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="openweathermapapi_etl_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    etl = sub.add_parser("etl", help="run the weather ETL (the reference DAG)")
    etl.add_argument("--table", required=True, help="weather table root dir")
    etl.add_argument("--fixture", help="JSONL raw-document file to replay")
    etl.add_argument("--live", action="store_true", help="fetch from the real API")
    etl.add_argument("--interval", default="5 minutes")
    etl.set_defaults(fn=_cmd_etl)

    sql = sub.add_parser("sql", help="ad-hoc SQL (the reference PGAdmin surface)")
    sql.add_argument("query")
    sql.add_argument("--table", help="weather table root dir (view: weather)")
    sql.add_argument("--sf-dir", help="also register the testdata tables")
    sql.add_argument("--rows", type=int, default=50)
    sql.set_defaults(fn=_cmd_sql)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
