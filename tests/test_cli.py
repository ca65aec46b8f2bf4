"""CLI parity tests: option validation messages and an end-to-end dump
to a parquet sink (mirrors the reference's command option matrix,
tests/commands/test_dump_data_to_clickhouse.py:100-192)."""

from __future__ import annotations

import pytest

from openedx_event_sink_clickhouse_spark.cli import build_parser, main


def test_limit_zero_rejected(capsys, tmp_path):
    rc = main(["--object", "events", "--limit", "0",
               "--sf-dir", "/root/testdata/sf0.001",
               "--output", str(tmp_path)])
    assert rc == 2
    assert "'limit' must be greater than 0!" in capsys.readouterr().err


def test_limit_with_force_rejected(capsys, tmp_path):
    rc = main(["--object", "events", "--limit", "5", "--force",
               "--sf-dir", "/root/testdata/sf0.001",
               "--output", str(tmp_path)])
    assert rc == 2
    assert "cannot be used with 'force'" in capsys.readouterr().err


def test_object_required():
    with pytest.raises(SystemExit):
        build_parser().parse_args([])


def test_unknown_object_rejected(capsys, tmp_path):
    rc = main(["--object", "nope", "--output", str(tmp_path)])
    assert rc == 2


def test_end_to_end_dump_with_ids_and_limit(spark, tmp_path, capsys):
    rc = main(["--object", "events", "--sf-dir", "/root/testdata/sf0.001",
               "--output", str(tmp_path), "--limit", "7",
               "--sleep_time", "0"])
    assert rc == 0
    assert "dumped 7 rows of events" in capsys.readouterr().out
    dumped = spark.read.parquet(str(tmp_path / "events"))
    assert dumped.count() == 7


def test_dump_of_table_without_modified_column_keeps_its_columns(
        spark, sf_dir, tmp_path, capsys):
    # customer has no modified column: the CLI sends the source's own
    # columns, so every CSV field lines up with the ClickHouse table
    from openedx_event_sink_clickhouse_spark.sources.tables import load_table
    rc = main(["--object", "customer", "--sf-dir", sf_dir,
               "--output", str(tmp_path), "--limit", "3",
               "--sleep_time", "0"])
    assert rc == 0
    assert "dumped 3 rows of customer" in capsys.readouterr().out
    dumped = spark.read.parquet(str(tmp_path / "customer"))
    assert dumped.columns == load_table(spark, "customer", sf_dir).columns
    assert dumped.count() == 3


def test_get_spark_returns_live_session_untouched(spark):
    # Library entry points must not re-apply builder confs onto a live
    # session (Spark merges a reused builder's runtime SQL confs into
    # it): resetting shuffle.partitions mid-session silently flips
    # bucketed-scan planning for every later query.
    from openedx_event_sink_clickhouse_spark.session import get_spark
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    again = get_spark("someone-elses-app")
    assert again is spark
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
