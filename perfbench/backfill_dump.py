"""``backfill_dump`` — the bulk backfill CLI path (EP3).

One unit of work is a backfill cycle: ``plans.backfill.run_backfill`` for
each table of the CLI's ``TABLE_KEYS``, change-detected against the
generated prior sink history and written by ``ClickHouseSink`` (default
``requests`` transport) to the loopback receiver. Every cycle redoes the
same work, because the history is the same input each time.

Check: rows the receiver acknowledged for a table, and the count
``run_backfill`` returns, both equal the eligible count DuckDB computes
independently over the same parquet and history.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from openedx_event_sink_clickhouse_spark.cli import TABLE_KEYS
from openedx_event_sink_clickhouse_spark.plans.backfill import (
    BackfillOptions,
    classify_targets,
    run_backfill,
    select_dump_batch,
)
from openedx_event_sink_clickhouse_spark.sinks.csv_encode import encode_csv_lines
from openedx_event_sink_clickhouse_spark.sources.tables import load_table

from .common import Ctx, Ops, noop_write_s, run_concurrently, run_units

# The CLI's --batch_size default; no inter-POST sleep, so the benchmark
# measures the pipeline, not the throttle.
BATCH_SIZE = 10_000
SINK_TS_COL = "time_last_dumped"
# Warm-up cycles over the measured inputs, after the small concurrent
# one. Cycle time falls over the first cycles of a fresh JVM (5.6 s to
# 3.9 s over six cycles on a shared 4-vCPU host, while small-input cycles
# leave the first full-size ones 20% slow), so the warm-up runs that
# descent and the measured cycles start near their steady time.
WARM_CYCLES = 2


def _opts() -> BackfillOptions:
    return BackfillOptions(batch_size=BATCH_SIZE, sleep_time=0.0)


def eligible_counts(paths: dict) -> dict[str, int]:
    """Rows per table that a backfill must send, computed by DuckDB with
    the reference's tri-state rule: never dumped → dump; dumped with no
    modified time → skip; else dump when modified after the last dump.
    Tables without a modified column use the backfill time, which is
    later than any history row, so all their rows are eligible."""
    import duckdb

    con = duckdb.connect()
    out = {}
    for name, (key, mod) in TABLE_KEYS.items():
        cond = "TRUE" if mod is None else (
            f"h.last_dump IS NULL OR (s.{mod} IS NOT NULL "
            f"AND s.{mod} > h.last_dump)")
        out[name] = con.execute(f"""
            SELECT count(*) FROM read_parquet('{paths[name]}') s
            LEFT JOIN (SELECT {key}, max({SINK_TS_COL}) AS last_dump
                       FROM read_parquet('{paths["history/" + name]}')
                       GROUP BY {key}) h USING ({key})
            WHERE {cond}""").fetchone()[0]
    con.close()
    return out


def _frames(ctx: Ctx, name: str):
    """Source and history frames for one table, the way the CLI builds the
    source (a table with no modified column gets the backfill time)."""
    key, mod = TABLE_KEYS[name]
    src = load_table(ctx.spark, name, os.path.dirname(ctx.paths[name]))
    if mod is None:
        src = src.withColumn("_modified", F.current_timestamp())
        mod = "_modified"
    hist = ctx.spark.read.parquet(ctx.paths["history/" + name])
    return src, hist, key, mod


class BackfillDump:
    name = "backfill_dump"
    part = "backfill"
    # a tenth of the sf0.1 sizes (~87k candidate rows): a table's dump is
    # dominated by its fixed per-job cost, so a cycle takes a few seconds
    scale = 0.1
    min_units = 1

    def prepare(self, paths: dict, warm_paths: dict) -> None:
        self.paths = paths
        self.expected = eligible_counts(paths)
        self.warm_expected = eligible_counts(warm_paths)

    def warm(self, ctx: Ctx) -> None:
        """One backfill of every table over the small inputs, the tables
        concurrently, then ``WARM_CYCLES`` cycles over the measured
        inputs, as measured."""
        small = ctx.paths

        def dump(name, expected):
            src, hist, key, mod = _frames(ctx, name)
            n = run_backfill(src, hist, ctx.sink, name, key=key,
                             modified_col=mod, sink_ts_col=SINK_TS_COL,
                             opts=_opts())
            if n != expected[name]:
                raise RuntimeError(f"warm-up backfill of {name} sent {n} "
                                   f"rows, expected {expected[name]}")

        run_concurrently(lambda n=name: dump(n, self.warm_expected)
                         for name in TABLE_KEYS)
        ctx.paths = self.paths
        try:
            for _ in range(WARM_CYCLES):
                for name in TABLE_KEYS:
                    dump(name, self.expected)
        finally:
            ctx.paths = small

    def _cycle(self, ctx: Ctx, expected: dict, ops: Ops) -> None:
        tr, rec = ctx.tracer, ctx.receiver
        start, rows = time.perf_counter(), 0
        with tr.span("backfill.cycle"):
            for name in TABLE_KEYS:
                ops.attempted += 1
                before = rec.snapshot()["table_rows"].get(name, 0)
                t = time.perf_counter()
                try:
                    with tr.span("backfill.table", table=name):
                        with tr.span("sources.load"):
                            src, hist, key, mod = _frames(ctx, name)
                        n = run_backfill(src, hist, ctx.sink, name, key=key,
                                         modified_col=mod,
                                         sink_ts_col=SINK_TS_COL, opts=_opts())
                except Exception as e:  # noqa: BLE001 — counted as failed
                    ops.fail(f"{name}: {type(e).__name__}: {e}")
                    continue
                elapsed = time.perf_counter() - t
                got = rec.snapshot()["table_rows"].get(name, 0) - before
                rows += got
                if n != expected[name] or got != expected[name]:
                    ops.fail(f"{name}: sent {n}, received {got}, "
                             f"expected {expected[name]}")
                    continue
                ops.latencies_ms.append(elapsed * 1000.0)
        ops.rates.append(rows / (time.perf_counter() - start))

    def measure(self, ctx: Ctx, seconds: float, ops: Ops) -> int:
        """Backfill cycles for about ``seconds``; returns their number."""
        return run_units(seconds, lambda: self._cycle(ctx, self.expected, ops),
                         self.min_units)

    def layers(self, ctx: Ctx) -> dict:
        """``noop``-write timings at each stage boundary of one cycle's
        plans, and the rows and bytes each stage handles."""
        m = {}
        load = scan = classify = batch_s = enc_s = 0.0
        cand = elig = enc_bytes = src_bytes = 0
        for name in TABLE_KEYS:
            t = time.perf_counter()
            src, hist, key, mod = _frames(ctx, name)
            load += time.perf_counter() - t
            scan += noop_write_s(src) + noop_write_s(hist)
            classified = classify_targets(src, hist, key=key, modified_col=mod,
                                          sink_ts_col=SINK_TS_COL, opts=_opts())
            classify += noop_write_s(classified)
            c, e = classified.agg(
                F.count(F.lit(1)),
                F.sum(F.col("should_dump").cast("long"))).first()
            cand, elig = cand + c, elig + e
            batch = select_dump_batch(classified, key, _opts()).hint("rebalance")
            batch_s += noop_write_s(batch)
            enc_s += noop_write_s(encode_csv_lines(batch))
            enc_bytes += encode_csv_lines(batch).agg(
                F.sum(F.length("csv_line") + 1)).first()[0]
            src_bytes += (os.path.getsize(ctx.paths[name]) +
                          os.path.getsize(ctx.paths["history/" + name]))
        m.update({
            "sources.load_s": load, "sources.scan_s": scan,
            "sources.bytes": src_bytes,
            "backfill.classify_s": classify - scan,
            "backfill.candidates": cand, "backfill.eligible": elig,
            "backfill.eligible_ratio": elig / cand if cand else 0.0,
            "csv_encode.self_s": enc_s - batch_s,
            "csv_encode.bytes": enc_bytes,
        })
        return m
