"""Replay/stream determinism fences (VERDICT r9 gate).

The r9 driver recorded hash flakes for ``stream_expectations_maintenance``
and ``evt_bot_detection`` that no isolated rerun could reproduce — a
nondeterminism hole. These tests fence the whole class: every
stream/replay registry query (plus the quantile-boundary one) must
produce an IDENTICAL value hash when run twice in one Spark session,
again in a fresh ``newSession()`` (fresh session state/conf over the
same JVM), and under perturbed session configs (different shuffle
partitioning, AQE off) — the dimensions along which the driver's
harness session could differ from a vanilla one."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

from openedx_event_sink_clickhouse_spark import registry

# this checkout's tool, whichever checkout the suite runs from
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
from tools.check_correctness import table_hash  # noqa: E402

STREAM_QUERIES = [
    "stream_expectations_maintenance",
    "stream_cms_maintenance",
    "stream_quantile_maintenance",
    "stream_scd1_maintenance",
    "stream_scd2_maintenance",
    "stream_seasonal_profile_maintenance",
    "stream_dedup_maintenance",
    # the memory-sink stateful twins share the changed await/replay
    # surface — fence them too
    "stream_attribution",
    "stream_stateful_incremental_gate",
    # r10 session-2 additions: power-sum + HLL day-cell maintainers
    # (same replay protocol)
    "stream_moment_maintenance",
    "stream_hll_maintenance",
]

PERTURBATIONS = [
    {"spark.sql.shuffle.partitions": "7"},
    {"spark.sql.shuffle.partitions": "64"},
    {"spark.sql.adaptive.enabled": "false"},
]


def _hash(spark, name, sf_dir):
    df = registry.REGISTRY[name][0](spark, sf_dir)
    return table_hash([tuple(r) for r in df.collect()], df.columns)


@pytest.mark.parametrize("name", STREAM_QUERIES + ["evt_bot_detection"])
def test_hash_stable_across_reruns_and_sessions(spark, sf_dir, name):
    base = _hash(spark, name, sf_dir)
    assert _hash(spark, name, sf_dir) == base, "same-session rerun drifted"
    fresh = spark.newSession()
    assert _hash(fresh, name, sf_dir) == base, "fresh-session rerun drifted"


@pytest.mark.parametrize("name", ["stream_expectations_maintenance",
                                  "stream_cms_maintenance",
                                  "evt_bot_detection",
                                  "evt_cusum_changepoint"])
def test_hash_stable_under_perturbed_conf(spark, sf_dir, name):
    base = _hash(spark, name, sf_dir)
    for conf in PERTURBATIONS:
        old = {k: spark.conf.get(k) for k in conf}
        try:
            for k, v in conf.items():
                spark.conf.set(k, v)
            assert _hash(spark, name, sf_dir) == base, f"drift under {conf}"
        finally:
            for k, v in old.items():
                spark.conf.set(k, v)
