"""Covariance via sufficient statistics against numpy
(sim_embedding_covariance carries the DuckDB-hash-checked moment path)."""

from __future__ import annotations

import numpy as np
import pytest

from openedx_event_sink_clickhouse_spark.operators.pca import (
    embedding_covariance,
)


def _emb(spark, sf_dir):
    from openedx_event_sink_clickhouse_spark.sources.tables import load_table
    return load_table(spark, "embeddings", sf_dir)


def _np_matrix(spark, sf_dir):
    rows = _emb(spark, sf_dir).select("vec_id", "embedding").collect()
    rows.sort(key=lambda r: r["vec_id"])
    return (np.array([r["embedding"] for r in rows], dtype="float64"),
            [r["vec_id"] for r in rows])


def test_covariance_operator_matches_numpy(spark, sf_dir):
    m, _ = _np_matrix(spark, sf_dir)
    cov = np.cov(m[:, :8], rowvar=False)
    got = {(r["dim_i"], r["dim_j"]): r["cov"]
           for r in embedding_covariance(_emb(spark, sf_dir))
           .collect()}
    assert len(got) == 36
    for (i, j), c in got.items():
        # decimal(12,8) component quantization bounds the drift
        assert c == pytest.approx(cov[i, j], abs=2e-6)
