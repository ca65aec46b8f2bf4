"""Scan/filter operators S1–S6 (reference ``sinks/base_sink.py:159-167,
220-224, 284-306``).

Each is a one-expression DataFrame transform on purpose: the value is the
*plan* Catalyst produces, not the Python. Filters here are all
source-pushable (``PushedFilters`` in the parquet scan), so at 100 TB they
prune row groups before any byte reaches an executor — the Spark-native
replacement for the ORM pushing ``pk > x`` / ``pk IN (...)`` into SQL.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def full_scan(df: DataFrame) -> DataFrame:
    """S1 — full table scan; ordered only when the consumer needs order
    (``Model.objects.all().order_by('pk')``, ``base_sink.py:159-167``).
    Global sort is a range-partition exchange — skip it unless required."""
    return df


def range_scan(df: DataFrame, key: str, start_after) -> DataFrame:
    """S2 — keyset-resume scan: rows with ``key > start_after``
    (``base_sink.py:163-165``). Pushed to the parquet reader; with
    key-sorted files this prunes whole row groups via min/max stats."""
    return df.filter(F.col(key) > start_after)


def in_list(df: DataFrame, key: str, ids: Sequence) -> DataFrame:
    """S3 — explicit-ids filter (``filter(pk__in=ids)``,
    ``base_sink.py:289-291``). Literal IN for small lists (pushed down);
    for huge id sets prefer :func:`semi_join_ids`."""
    return df.filter(F.col(key).isin(list(ids)))


def not_in_list(df: DataFrame, key: str, ids: Sequence) -> DataFrame:
    """S4 — skip-ids filter (``exclude(pk__in=ids)``,
    ``base_sink.py:293-295``). NOT IN over literals; NULL-safe because
    sink keys are non-null by construction."""
    return df.filter(~F.col(key).isin(list(ids)))


def semi_join_ids(df: DataFrame, key: str, ids_df: DataFrame, anti: bool = False) -> DataFrame:
    """S3/S4 at scale — when the id set is itself big data, a broadcast
    left-semi (or left-anti) join beats a literal IN list."""
    how = "left_anti" if anti else "left_semi"
    return df.join(F.broadcast(ids_df), on=key, how=how)


def limited(df: DataFrame, n: int, order_by: str | None = None) -> DataFrame:
    """S5/L1 — bounded output. The reference paginates client-side
    (``Paginator``, ``base_sink.py:297-306``) and applies ``limit`` after
    the skip-filter (``dump_data_to_clickhouse.py:70-74``); in Spark,
    partitioned execution replaces pagination and ``limit`` plans as
    CollectLimit/LocalLimit (early-out per partition, no full scan).
    ``order_by`` makes the result deterministic (top-n via sort+limit)."""
    return (df.orderBy(order_by) if order_by else df).limit(n)


def point_lookup(df: DataFrame, key: str, value) -> DataFrame:
    """S6 — one row by id (``objects.get(id=…)``, ``base_sink.py:220-224``).
    Equality pushed to the scan; with sorted/partitioned data this reads
    one row group."""
    return df.filter(F.col(key) == value)
