"""CLI parity with the reference's ``dump_data_to_clickhouse`` management
command (``management/commands/dump_data_to_clickhouse.py:84-207``):

    python -m openedx_event_sink_clickhouse_spark.cli \
        --object events --sf-dir /root/testdata/sf0.001 \
        --output /tmp/dump_out \
        [--ids 1 2] [--ids_to_skip 3] [--force] [--limit N] \
        [--batch_size 10000] [--sleep_time 1.0] \
        [--url http://ch:8123 --database event_sink]

Option names, validation messages, and semantics mirror the reference
(limit>0, limit×force mutually exclusive, --object required). The sink is
parquet by default, so the command runs without a ClickHouse server;
passing ``--url`` switches to the ClickHouse HTTP sink, matching the
reference's connection overrides (lines 96-136). ``--sleep_time`` is a
pause after each ClickHouse POST only: the parquet sink ignores it and
writes ``--batch_size`` as each file's ``maxRecordsPerFile``.
"""

from __future__ import annotations

import argparse
import sys

from .plans.backfill import BackfillOptions, run_backfill
from .session import get_spark
from .sources.tables import load_table


class _ParquetSink:
    """Directory-append sink with the ClickHouseSink.insert_df surface."""

    def __init__(self, path: str):
        self.path = path

    def insert_df(self, df, table: str, throttle_secs: float = 0.0,
                  max_rows_per_post: int | None = None) -> int:
        # parquet files are the "POSTs" here; maxRecordsPerFile gives the
        # same rows-per-batch bound without a count pass. Row count comes
        # from an Observation riding the write action itself (JVM-side,
        # zero extra passes) — no O(table) re-scan, and concurrent
        # appends to the same path can't skew the number.
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = Observation()
        writer = df.observe(obs, F.count(F.lit(1)).alias("rows")) \
                   .write.mode("append")
        if max_rows_per_post:
            writer = writer.option("maxRecordsPerFile", max_rows_per_post)
        writer.parquet(f"{self.path}/{table}")
        return obs.get["rows"]


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="dump_data_to_clickhouse",
        description="Bulk-dump a source table through the incremental "
                    "sink pipeline (EP3).")
    p.add_argument("--object", required=True, dest="object_name",
                   help="source table name (e.g. events, orders)")
    p.add_argument("--sf-dir", default=None, help="scale-factor directory")
    p.add_argument("--output", default="/tmp/spark_sink_out",
                   help="parquet sink root (ignored with --url)")
    p.add_argument("--ids", nargs="*", type=int, default=None)
    p.add_argument("--ids_to_skip", nargs="*", type=int, default=None)
    p.add_argument("--force", action="store_true")
    p.add_argument("--limit", type=int, default=None)
    p.add_argument("--batch_size", type=int, default=10_000,
                   help="rows per ClickHouse POST, or per parquet file")
    p.add_argument("--sleep_time", type=float, default=1.0,
                   help="seconds to sleep after each ClickHouse POST "
                        "(ignored by the parquet sink)")
    p.add_argument("--url", default=None, help="ClickHouse HTTP endpoint")
    p.add_argument("--database", default="event_sink")
    return p


# F2 for the backfill: each source table's key and modified column (None:
# the table has none), which the reference reads from its sink class
# attributes (base_sink.py:82-131)
TABLE_KEYS = {
    "events": ("event_id", "ts"),
    "orders": ("o_orderkey", "o_orderdate"),
    "lineitem": ("l_orderkey", "l_shipdate"),
    "customer": ("c_custkey", None),
    "documents": ("doc_id", None),
}


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    if args.object_name not in TABLE_KEYS:
        print(f"unknown --object {args.object_name!r}; "
              f"known: {sorted(TABLE_KEYS)}", file=sys.stderr)
        return 2

    opts = BackfillOptions(ids=args.ids, skip_ids=args.ids_to_skip,
                           force=args.force, limit=args.limit,
                           batch_size=args.batch_size,
                           sleep_time=args.sleep_time)
    try:
        opts.validate()
    except ValueError as e:
        print(str(e), file=sys.stderr)
        return 2

    spark = get_spark("dump-cli")
    key, modified = TABLE_KEYS[args.object_name]
    source = load_table(spark, args.object_name, args.sf_dir)

    if args.url:
        from .sinks.clickhouse import ClickHouseConfig, ClickHouseSink
        sink = ClickHouseSink(ClickHouseConfig(url=args.url,
                                               database=args.database))
    else:
        sink = _ParquetSink(args.output)

    n = run_backfill(source, None, sink, args.object_name, key=key,
                     modified_col=modified, sink_ts_col="time_last_dumped",
                     opts=opts)
    print(f"dumped {n} rows of {args.object_name}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
