"""Error-tolerant reads — the read-side half of K2.

The reference's inserts ride with ``input_format_allow_errors_num=1`` and
``input_format_allow_errors_ratio=0.1`` (base_sink.py:25-28): ClickHouse
keeps parsing while bad rows stay within EITHER limit and fails the whole
insert once BOTH are exceeded. This module applies the same policy to
Spark reads: PERMISSIVE parsing routes malformed rows to a corrupt-record
column, and the load fails only when bad rows exceed both the absolute
and the ratio limit — otherwise bad rows are dropped and reported.

At scale the two counts come from one cached pass (a countByValue-style
aggregate), never a driver-side scan of the data.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

CORRUPT_COL = "_corrupt_record"


class TooManyErrors(Exception):
    """Raised when bad rows exceed BOTH the row and the ratio limit."""


@dataclass
class ToleranceReport:
    total: int
    bad: int

    @property
    def ratio(self) -> float:
        return self.bad / self.total if self.total else 0.0


def read_csv_tolerant(spark: SparkSession, path: str, schema: T.StructType,
                      **csv_options) -> tuple[DataFrame, ToleranceReport]:
    """PERMISSIVE CSV read with the reference's tolerance policy.

    Returns (clean rows, report). Raises :class:`TooManyErrors` when the
    bad-row count exceeds 1 AND the bad-row fraction exceeds 0.1 — the
    ClickHouse AND-of-limits rule.
    """
    full = T.StructType(schema.fields + [T.StructField(CORRUPT_COL,
                                                       T.StringType())])
    df = (spark.read.schema(full)
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", CORRUPT_COL)
          .options(**csv_options)
          .csv(path))
    # one pass for both counters (cache → two cheap counts)
    df = df.cache()
    total = df.count()
    bad = df.filter(F.col(CORRUPT_COL).isNotNull()).count()
    report = ToleranceReport(total=total, bad=bad)
    if bad > 1 and report.ratio > 0.1:
        df.unpersist()
        raise TooManyErrors(
            f"{bad}/{total} malformed rows exceed both 1 row and 10%")
    return (df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL),
            report)


def read_jsonl_tolerant(spark: SparkSession, path: str, schema: T.StructType,
                        **json_options) -> tuple[DataFrame, ToleranceReport]:
    """PERMISSIVE JSON-lines read under the same AND-of-limits
    tolerance policy as :func:`read_csv_tolerant`. JSONL is the lingua
    franca of LLM corpus interchange (one document object per line), so
    the engine's source axis carries it first-class: explicit schema
    (no inference pass over 100 TB), malformed lines routed to the
    corrupt column (dead-letterable, never silently dropped), load
    failure only when bad rows exceed BOTH the absolute and ratio
    limits."""
    full = T.StructType(schema.fields + [T.StructField(CORRUPT_COL,
                                                       T.StringType())])
    df = (spark.read.schema(full)
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", CORRUPT_COL)
          .options(**json_options)
          .json(path))
    df = df.cache()
    total = df.count()
    bad = df.filter(F.col(CORRUPT_COL).isNotNull()).count()
    report = ToleranceReport(total=total, bad=bad)
    if bad > 1 and report.ratio > 0.1:
        df.unpersist()
        raise TooManyErrors(
            f"{bad}/{total} malformed rows exceed both 1 row and 10%")
    return (df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL),
            report)
