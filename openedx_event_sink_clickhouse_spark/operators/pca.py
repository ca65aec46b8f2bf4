"""Distributed covariance via sufficient statistics.

:func:`embedding_covariance` reduces an embedding corpus to
(n, Σx, ΣxxT) over a caller-chosen dim slice — one map-side-combinable
pass — and derives the sample covariance from those moments. The moments
stay EXACT decimals (order-independent sums), so a DuckDB oracle can
reproduce the hash bit-for-bit; the registry's ``sim_embedding_covariance``
query runs it.

100 TB: the only data-scale pass is the moment aggregation, which
partial-aggregates per partition before anything shuffles; what the
driver ever holds is one row of O(d²) sums.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def embedding_covariance(emb: DataFrame) -> DataFrame:
    """Upper-triangle sample covariance of the first 8 vector
    components, oracle-exact: each component is cast float→double→
    DECIMAL(12,8) (a float can never land on a decimal rounding
    tie — an exact half at the 9th digit is non-dyadic — so the
    cast is engine-agnostic), the moment sums are exact decimals, and
    the single double formula ``(pij - si*sj/n)/(n-1)`` is written with
    the same association the oracle uses. One groupBy-less aggregate:
    map-side partials, a 1-row result, then a literal struct explode —
    no per-pair shuffle of row data."""
    v = F.col("embedding").cast("array<double>")
    dec = "decimal(12,8)"
    base = emb.select(*[F.element_at(v, i + 1).cast(dec).alias(f"x{i}")
                        for i in range(8)])
    aggs = [F.count("*").alias("n")]
    aggs += [F.sum(f"x{i}").alias(f"s{i}") for i in range(8)]
    aggs += [F.sum(F.col(f"x{i}") * F.col(f"x{j}")).alias(f"p{i}_{j}")
             for i in range(8) for j in range(i, 8)]
    g = base.agg(*aggs)
    n = F.col("n").cast("double")
    cell = [F.struct(
        F.lit(i).alias("dim_i"), F.lit(j).alias("dim_j"),
        F.round((F.col(f"p{i}_{j}").cast("double")
                 - F.col(f"s{i}").cast("double")
                 * F.col(f"s{j}").cast("double") / n)
                / (n - F.lit(1.0)), 6).alias("cov"))
        for i in range(8) for j in range(i, 8)]
    return (g.select("n", F.explode(F.array(*cell)).alias("c"))
            .select(F.col("c.dim_i"), F.col("c.dim_j"),
                    F.col("n"), F.col("c.cov")))


