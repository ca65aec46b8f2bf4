"""``analytics_read`` — the north-star operators over at-rest tables, no
sink and no stream.

Not a workload of its own: on a shared 4-vCPU host a workload's run
needs tens of seconds of measurement to be steady, and a benchmark round
affords two such workloads, the sink's two entry modes. The query set
runs as a probe in the traced run of ``backfill_dump``, after its traced
pass, and gives the ``analytics.*`` layer figures. Its inputs have
backfill_dump's size, a tenth of sf0.1 (500 documents, 200 embeddings):
the DuckDB oracle of dedup_minhash_lsh grows fast with corpus size, and
every traced run computes it.

One unit of work is a query set: each query below, through
``__spark_entry__.queries()``, collected into this process. Check: every
result hash-equals its DuckDB twin from ``__spark_entry__.oracle_sql()``,
compared with the order-insensitive value hash of
``tools/check_correctness.py`` (bitwise floats, ``tools/strictcmp.py``).
"""

from __future__ import annotations

import os
import sys

from .common import Ctx, Ops, median, run_concurrently

QUERIES = ("dedup_minhash_lsh", "dedup_simhash_pairs", "sim_ivf_topk",
           "ret_bm25_topk", "text_quality_signals", "llm_prepare_corpus")
# the table each query reads
INPUT_TABLE = {q: "documents" for q in QUERIES} | {"sim_ivf_topk": "embeddings"}
# query sets per probe; a layer figure is a query's median over them
SETS = 3


def _entry(root: str):
    """``__spark_entry__`` and the correctness tools' table hash."""
    tools = os.path.join(root, "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import __spark_entry__
    from check_correctness import table_hash

    return __spark_entry__, table_hash


def oracle(root: str, tables_dir: str) -> dict[str, tuple]:
    """Per query: (sorted column names, row count, value hash) from
    DuckDB over the generated tables."""
    import duckdb

    entry, table_hash = _entry(root)
    con = duckdb.connect()
    for t in set(INPUT_TABLE.values()):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{tables_dir}/{t}.parquet')")
    sql = entry.oracle_sql()
    out = {}
    for q in QUERIES:
        res = con.execute(sql[q])
        cols = [d[0] for d in res.description]
        rows = res.fetchall()
        out[q] = (sorted(cols), len(rows), table_hash(rows, cols))
    con.close()
    return out


class AnalyticsRead:
    part = "analytics"

    def __init__(self, root: str):
        self.root = root

    def prepare(self, paths: dict, warm_paths: dict) -> None:
        self.tables_dir = os.path.dirname(paths["documents"])
        self.warm_dir = os.path.dirname(warm_paths["documents"])
        self.expected = oracle(self.root, self.tables_dir)
        self.result_rows = {}

    def check_set(self, ctx: Ctx, ops: Ops) -> None:
        """One query set, each result checked against the oracle."""
        entry, table_hash = _entry(self.root)
        qs = entry.queries()
        with ctx.tracer.span("analytics.set"):
            for q in QUERIES:
                ops.attempted += 1
                try:
                    with ctx.tracer.span(f"analytics.{q}"):
                        df = qs[q](ctx.spark, self.tables_dir)
                        rows = [tuple(r) for r in df.collect()]
                except Exception as e:  # noqa: BLE001 — counted as failed
                    ops.fail(f"{q}: {type(e).__name__}: {e}")
                    continue
                self.result_rows[q] = len(rows)
                got = (sorted(df.columns), len(rows), table_hash(rows, df.columns))
                if got != self.expected[q]:
                    ops.fail(f"{q}: spark {got} != oracle {self.expected[q]}")

    def probe(self, ctx: Ctx, ops: Ops) -> dict:
        """Warm up (every query once over the small inputs, concurrently),
        run ``SETS`` query sets with the tracer on, and return each
        query's median time and result rows."""
        qs = _entry(self.root)[0].queries()
        run_concurrently(lambda q=q: qs[q](ctx.spark, self.warm_dir).collect()
                         for q in QUERIES)
        for _ in range(SETS):
            self.check_set(ctx, ops)
        m = {}
        for q in QUERIES:
            m[f"analytics.{q}_s"] = median(ctx.tracer.durations(f"analytics.{q}"))
            m[f"analytics.{q}_rows"] = self.result_rows.get(q, 0)
        return m
