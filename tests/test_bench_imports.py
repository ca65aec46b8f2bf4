"""The sink-pipeline benchmark (``perfbench/``) imports the package's
sink-path names at module level; a change to the package that removes or
renames one of them must fail here, not only when the benchmark runs."""

from __future__ import annotations

import importlib
import sys


def test_benchmark_modules_import(monkeypatch):
    # perfbench.run points sys.path[0] at the repository root on import
    monkeypatch.setattr(sys, "path", list(sys.path))
    run = importlib.import_module("perfbench.run")
    importlib.import_module("perfbench.backfill_dump")
    importlib.import_module("perfbench.publish_stream")
    # the workload and metric tables the runner builds lazily
    assert set(run.WORKLOADS) == {"backfill_dump", "publish_stream"}
    assert "spark.jobs" in run.per_layer()
