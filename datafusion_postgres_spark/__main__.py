"""CLI: serve data files over the Postgres wire protocol.

Reference parity: ``datafusion-postgres-cli`` ("SimpleHTTPServer for data
files", ``datafusion-postgres-cli/src/main.rs:126-221``).

    python -m datafusion_postgres_spark --directory /data --port 5432
    python -m datafusion_postgres_spark --csv climate=/data/climate.csv \
        --parquet sales=/data/sales.parquet
"""

from __future__ import annotations

import argparse


def main() -> None:
    ap = argparse.ArgumentParser(
        prog="datafusion-postgres-spark",
        description="Serve CSV/JSON/Parquet/Arrow/Avro files as SQL tables "
                    "over the PostgreSQL wire protocol, on Spark.")
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("-p", "--port", type=int, default=5432)
    ap.add_argument("-d", "--directory",
                    help="register every recognized file in this directory")
    for fmt in ("csv", "json", "parquet", "arrow", "avro"):
        ap.add_argument(f"--{fmt}", action="append", default=[],
                        metavar="NAME=PATH",
                        help=f"register a {fmt} file as table NAME")
    ap.add_argument("--master", default=None,
                    help="Spark master (default local[$SPARK_GRAFT_CPUS])")
    args = ap.parse_args()

    from datafusion_postgres_spark.server.pgwire import PgWireServer
    from datafusion_postgres_spark.session import build_spark
    from datafusion_postgres_spark.sources.registry import (
        read_file, register_directory)

    # the files become temp views of the root session, which the server
    # uses as its template: every connection's clone starts with them
    spark = build_spark(master=args.master)
    registered = []
    if args.directory:
        registered += register_directory(spark, args.directory)
    for fmt in ("csv", "json", "parquet", "arrow", "avro"):
        for spec in getattr(args, fmt):
            name, _, path = spec.partition("=")
            if not path:
                ap.error(f"--{fmt} expects NAME=PATH, got {spec!r}")
            read_file(spark, path, fmt).createOrReplaceTempView(name)
            registered.append(name)

    server = PgWireServer(spark, host=args.host, port=args.port)
    print(f"serving {len(registered)} table(s) "
          f"({', '.join(registered) or 'none'}) "
          f"on postgresql://{server.host}:{server.port}")
    try:
        server.serve_forever()
    except KeyboardInterrupt:
        server.shutdown()


if __name__ == "__main__":
    main()
