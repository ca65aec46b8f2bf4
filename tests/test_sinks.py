"""Sink framework K1-K3, D1 wire parity, F2/F3 registry/gating, EP3
backfill — mirroring the reference's wire-boundary golden tests
(``test_utils/helpers.py:179-194,240-336``, ``tests/test_user_retire.py``)."""

from __future__ import annotations

import csv
import io

import pytest
from pyspark.sql import Row

from openedx_event_sink_clickhouse_spark.plans.backfill import (
    BackfillOptions,
    classify_targets,
    run_backfill,
    select_dump_batch,
)
from openedx_event_sink_clickhouse_spark.sinks import (
    ClickHouseConfig,
    ClickHouseSink,
    SinkRegistry,
    encode_csv_lines,
)
from openedx_event_sink_clickhouse_spark.sinks.registry import SinkSpec


class CaptureTransport:
    """Driver-side capture (for control-plane calls like D1 deletes)."""

    def __init__(self):
        self.calls = []

    def __call__(self, method, url, params, data, auth, timeout):
        self.calls.append({"method": method, "url": url, "params": params,
                           "data": data, "auth": auth, "timeout": timeout})


def file_capture_transport(capture_dir):
    """Executor-safe capture: insert_df sends from Spark worker processes,
    so captured calls must cross process boundaries — one JSON file per
    POST. The closure is pickled by value (stdlib only)."""
    def transport(method, url, params, data, auth, timeout):
        import json
        import os
        import uuid
        payload = {"method": method, "params": params,
                   "data": data.decode("utf-8") if data else None}
        path = os.path.join(capture_dir, f"{uuid.uuid4()}.json")
        with open(path, "w", encoding="utf-8") as f:
            json.dump(payload, f)
    return transport


def read_captures(capture_dir):
    import json
    import os
    return [json.load(open(os.path.join(capture_dir, p), encoding="utf-8"))
            for p in os.listdir(capture_dir)]


def test_csv_encode_matches_python_csv_quote_nonnumeric(spark):
    # K1 golden: our JVM-side encoding == csv.writer(QUOTE_NONNUMERIC),
    # the reference's exact wire format (base_sink.py:265-272).
    rows = [("plain", 'with "quotes"', 7, 2.5, True, None),
            ("comma, inside", "unicode ’", -1, 0.0, False, "x")]
    df = spark.createDataFrame(rows, ["a", "b", "i", "f", "flag", "n"])
    got = [r["csv_line"] for r in encode_csv_lines(df).collect()]

    buf = io.StringIO()
    w = csv.writer(buf, quoting=csv.QUOTE_NONNUMERIC, lineterminator="\n")
    for r in rows:
        w.writerow(["" if v is None else v for v in r])
    expected = buf.getvalue().splitlines()
    assert sorted(got) == sorted(expected)


def test_insert_wire_format(spark, tmp_path):
    sink = ClickHouseSink(ClickHouseConfig(database="cool_data"),
                          file_capture_transport(str(tmp_path)))
    df = spark.createDataFrame([Row(a="x", n=1)]).coalesce(1)
    sink.insert_df(df, "course_overviews")
    [call] = [c for c in read_captures(str(tmp_path)) if c["data"]]
    # K2: error-tolerance params (base_sink.py:25-28); K1: query param
    assert call["params"]["input_format_allow_errors_num"] == 1
    assert call["params"]["input_format_allow_errors_ratio"] == 0.1
    assert call["params"]["query"] == \
        "INSERT INTO cool_data.course_overviews FORMAT CSV"
    assert call["data"] == '"x",1\n'
    assert call["method"] == "POST"


def test_retire_delete_wire_format():
    # D1 golden: exact ALTER TABLE DELETE strings
    # (user_retire.py:39-49, tests/test_user_retire.py:37-56).
    transport = CaptureTransport()
    sink = ClickHouseSink(ClickHouseConfig(database="cool_data"), transport)
    issued = sink.delete_where_user_ids(
        [42, 7, 42, "13"], ["user_profile", "external_id"])
    assert issued == [
        "ALTER TABLE cool_data.user_profile DELETE WHERE user_id in (13,42,7)",
        "ALTER TABLE cool_data.external_id DELETE WHERE user_id in (13,42,7)",
    ]
    assert all(c["method"] == "POST" and c["data"] is None
               for c in transport.calls)


def test_connection_overrides():
    cfg = ClickHouseConfig().with_overrides(
        {"url": "http://other:8123", "timeout_secs": 3, "nonsense": 1})
    assert cfg.url == "http://other:8123"
    assert cfg.timeout_secs == 3
    assert cfg.database == "event_sink"


def test_connection_overrides_insert_params():
    base = ClickHouseConfig()
    params = {"input_format_allow_errors_num": 0}
    cfg = base.with_overrides({"insert_params": params})
    assert cfg.insert_params == params
    assert cfg.insert_params is not params
    assert base.insert_params == {"input_format_allow_errors_num": 1,
                                  "input_format_allow_errors_ratio": 0.1}
    # without an insert_params override the copy is still private
    other = base.with_overrides({"url": "http://other:8123"})
    assert other.insert_params == base.insert_params
    assert other.insert_params is not base.insert_params


def test_registry_dispatch_and_gating():
    reg = SinkRegistry(settings={
        "EVENT_SINK_CLICKHOUSE_COURSE_OVERVIEWS_ENABLED": True,
        "event_sink_clickhouse.user_profile.enabled": True,
    })
    reg.register(SinkSpec("course_overviews", "course_key",
                          "course_overviews", "time_last_dumped", "Course Overview"))
    reg.register(SinkSpec("user_profile", "id", "user_profile",
                          "time_last_dumped", "User Profile"))
    reg.register(SinkSpec("external_id", "id", "external_id",
                          "time_last_dumped", "External ID"))
    assert reg.get_by_model_name("user_profile").table_name == "user_profile"
    assert reg.get_by_model_name("nope") is None          # F2: unknown → None
    assert reg.is_enabled("course_overviews")             # static flag
    assert reg.is_enabled("user_profile")                 # dynamic flag
    assert not reg.is_enabled("external_id")              # default False
    assert set(reg.enabled_models()) == {"course_overviews", "user_profile"}


@pytest.fixture()
def backfill_frames(spark):
    import datetime as dt
    t = lambda d: dt.datetime(2024, 1, d)  # noqa: E731
    source = spark.createDataFrame(
        [Row(pk=i, modified=t(5) if i % 2 else t(1)) for i in range(1, 11)])
    history = spark.createDataFrame(
        [Row(pk=i, time_last_dumped=t(3)) for i in range(1, 6)])
    return source, history


def test_classify_targets_reasons(spark, backfill_frames):
    source, history = backfill_frames
    out = classify_targets(source, history, key="pk", modified_col="modified",
                           sink_ts_col="time_last_dumped",
                           opts=BackfillOptions())
    by_pk = {r["pk"]: r for r in out.collect()}
    assert by_pk[6]["should_dump"] and \
        by_pk[6]["dump_reason"] == "Course is not present in ClickHouse"
    assert by_pk[1]["should_dump"] and "has been published" in by_pk[1]["dump_reason"]
    assert not by_pk[2]["should_dump"] and "NOT been published" in by_pk[2]["dump_reason"]


def test_backfill_options_validation():
    with pytest.raises(ValueError, match="greater than 0"):
        BackfillOptions(limit=0).validate()
    with pytest.raises(ValueError, match="cannot be used with 'force'"):
        BackfillOptions(limit=5, force=True).validate()


def test_limit_counts_eligible_items_only(spark, backfill_frames):
    source, history = backfill_frames
    opts = BackfillOptions(limit=3)
    classified = classify_targets(source, history, key="pk",
                                  modified_col="modified",
                                  sink_ts_col="time_last_dumped", opts=opts)
    batch = select_dump_batch(classified, "pk", opts)
    # eligible = odd pks (modified t5 > t3) + never-dumped 6..10 → limit 3 of them
    assert batch.count() == 3
    assert all(r["pk"] in {1, 3, 5, 6, 7, 8, 9, 10} for r in batch.collect())


def test_run_backfill_end_to_end(spark, backfill_frames, tmp_path):
    source, history = backfill_frames
    sink = ClickHouseSink(ClickHouseConfig(),
                          file_capture_transport(str(tmp_path)))
    n = run_backfill(source, history, sink, "course_overviews",
                     key="pk", modified_col="modified",
                     sink_ts_col="time_last_dumped",
                     opts=BackfillOptions(batch_size=4, sleep_time=0))
    assert n == 8  # odd-modified (1,3,5) + never-dumped (6..10)
    posts = [c for c in read_captures(str(tmp_path)) if c["data"]]
    assert sum(c["data"].count("\n") for c in posts) == 8
    # S5 batching invariant: no POST exceeds batch_size rows (the count
    # comes back from the SAME action — no separate count() pass)
    assert all(c["data"].count("\n") <= 4 for c in posts)
    assert len(posts) >= 2


def test_force_dump_reason(spark, backfill_frames):
    source, history = backfill_frames
    out = classify_targets(source, history, key="pk", modified_col="modified",
                           sink_ts_col="time_last_dumped",
                           opts=BackfillOptions(force=True))
    rows = out.collect()
    assert all(r["should_dump"] and r["dump_reason"] == "Force is set"
               for r in rows)
    # ids / skip_ids filters compose (S3/S4)
    out2 = classify_targets(source, history, key="pk", modified_col="modified",
                            sink_ts_col="time_last_dumped",
                            opts=BackfillOptions(ids=[1, 2, 3], skip_ids=[2],
                                                 force=True))
    assert {r["pk"] for r in out2.collect()} == {1, 3}


def test_timestamp_wire_format_matches_python_str(spark):
    # Reference datetime wire format = str(tz-aware datetime)
    # ("2023-05-03 15:47:39.331024+00:00", base_sink.py:331 comment);
    # fractional seconds omitted when zero, exactly like Python str().
    import datetime as dt
    rows = [
        (dt.datetime(2023, 5, 3, 15, 47, 39, 331024),),
        (dt.datetime(2024, 1, 1, 0, 0, 0, 0),),
        (None,),
    ]
    df = spark.createDataFrame(rows, "ts timestamp")
    got = sorted(r["csv_line"] for r in encode_csv_lines(df).collect())
    expected = sorted([
        '"' + str(dt.datetime(2023, 5, 3, 15, 47, 39, 331024,
                              tzinfo=dt.timezone.utc)) + '"',
        '"' + str(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)) + '"',
        '""',
    ])
    assert got == expected
