"""The sink-pipeline benchmark (``perfbench/``) imports the package's
sink-path names, at module level and lazily inside its runner; a change to
the package that removes or renames one of them must fail here, not only
when the benchmark runs."""

from __future__ import annotations

import importlib
import inspect
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_benchmark_modules_import(monkeypatch):
    # perfbench.run points sys.path[0] at the repository root on import
    monkeypatch.setattr(sys, "path", list(sys.path))
    run = importlib.import_module("perfbench.run")
    importlib.import_module("perfbench.backfill_dump")
    importlib.import_module("perfbench.publish_stream")
    # the workload and metric tables the runner builds lazily
    assert set(run.WORKLOADS) == {"backfill_dump", "publish_stream"}
    assert "spark.jobs" in run.per_layer()


def test_benchmark_lazy_imports_resolve(monkeypatch):
    # names perfbench/run.py and perfbench/analytics_read.py import inside
    # functions, called the way they call them
    from openedx_event_sink_clickhouse_spark.session import get_spark
    from openedx_event_sink_clickhouse_spark.sinks.clickhouse import (
        ClickHouseConfig,
        ClickHouseSink,
        _requests_transport,
    )

    inspect.signature(get_spark).bind(
        "perfbench", master="local[1]", extra_conf={})
    sink = ClickHouseSink(ClickHouseConfig(url="http://localhost:8123"))
    assert sink.transport is _requests_transport
    inspect.signature(_requests_transport).bind(
        "POST", "http://localhost:8123", {}, b"", ("default", ""), 5.0)

    monkeypatch.setattr(sys, "path", [os.path.join(ROOT, "tools"), ROOT]
                        + sys.path)
    from check_correctness import table_hash
    assert table_hash([(1, "a")], ["n", "s"]) == \
        table_hash([("a", 1)], ["s", "n"])

    import __spark_entry__
    from perfbench.analytics_read import QUERIES
    assert set(QUERIES) <= set(__spark_entry__.queries())
    assert set(QUERIES) <= set(__spark_entry__.oracle_sql())
