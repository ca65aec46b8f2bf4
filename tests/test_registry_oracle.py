"""Every registry query must hash-match its DuckDB oracle at sf0.001.

This is the same comparison the driver runs at sf0.01 (see
``tools/check_correctness.py``), kept in the suite at the smallest scale
factor so a regression in any operator/oracle pair fails fast."""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pytest

from openedx_event_sink_clickhouse_spark import registry
from openedx_event_sink_clickhouse_spark.sources.tables import TABLES

# this checkout's tool, whichever checkout the suite runs from
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
from tools.check_correctness import table_hash  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(registry.REGISTRY))
def test_query_matches_oracle(spark, duck, name):
    fn, sql = registry.REGISTRY[name]
    sdf = fn(spark, SF_DIR)
    srows = [tuple(r) for r in sdf.collect()]
    if sql is None:
        assert len(srows) >= 0  # rows-only contract: must at least execute
        return
    res = duck.execute(sql)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    assert sorted(sdf.columns) == sorted(ocols)
    assert len(srows) == len(orows)
    assert table_hash(srows, sdf.columns) == table_hash(orows, ocols)
