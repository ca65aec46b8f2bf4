"""Incremental-load operators A1/A2 (reference ``base_sink.py:314-335``,
``course_published.py:154-198``): watermark read + change-detection truth
table, mirroring the reference's tests at
``tests/test_course_published.py:138-262``."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Row

from openedx_event_sink_clickhouse_spark.operators.incremental import (
    changed_since_dump,
    classify_changes,
    watermarks,
)
from openedx_event_sink_clickhouse_spark.plans.backfill import (
    BackfillOptions,
    classify_targets,
    run_backfill,
    select_dump_batch,
)
from openedx_event_sink_clickhouse_spark.plans.pipelines import (
    flagship_events_incremental,
)
from openedx_event_sink_clickhouse_spark.sources.tables import load_table

T0 = dt.datetime(2024, 1, 1)
T1 = dt.datetime(2024, 1, 2)
T2 = dt.datetime(2024, 1, 3)


def _sink(spark):
    return spark.createDataFrame([
        Row(key="a", time_last_dumped=T0),
        Row(key="a", time_last_dumped=T1),   # two historical dumps: max wins
        Row(key="b", time_last_dumped=T1),
    ])


def test_watermarks_is_max_per_key(spark):
    got = {r["key"]: r["last_dump"]
           for r in watermarks(_sink(spark), "key", "time_last_dumped").collect()}
    assert got == {"a": T1, "b": T1}


NEVER = "Course is not present in ClickHouse"
NO_MTIME = "No last modified date in CourseOverview"


def _newer(last, mod):
    return ("Course has been published since last dump time - last dumped "
            f"{last} < last published {mod}")


def _not_newer(last, mod):
    return ("Course has NOT been published since last dump time - last "
            f"dumped {last} >= last published {mod}")


def _truth_table(spark):
    """Candidates ``(payload, key, modified)`` and a history covering each
    case of the tri-state rule (``course_published.py:154-198``), with
    the ``(should_dump, dump_reason)`` the rule gives each payload."""
    candidates = spark.createDataFrame([
        ("nullkey", None, T2),      # NULL key matches nothing -> dump
        ("nullkey0", None, None),   # ... with NULL modified too -> dump
        ("fresh", "new", None),     # no history, NULL modified -> dump
        ("newer", "a", T2),         # newer than max(T0, T1) -> dump
        ("newer2", "a", T2),        # duplicate source key -> both dumped
        ("equal", "a", T1),         # equal to the max -> skip
        ("between", "a", T0),       # older than the max -> skip
        ("nomod", "b", None),       # dumped, NULL modified -> skip
        ("allnull", "c", T0),       # history ts all NULL -> dump
        ("allnull0", "c", None),    # ... with NULL modified -> dump
        ("older", "d", T0),         # older than its one dump -> skip
    ], "payload string, key string, modified timestamp")
    history = spark.createDataFrame([
        ("a", T0), ("a", T1), ("a", T1),    # duplicate history rows
        ("b", T0), ("c", None), ("c", None), ("d", T1), (None, T2),
    ], "key string, time_last_dumped timestamp")
    t0, t1, t2 = (str(t) for t in (T0, T1, T2))
    expected = {
        "nullkey": (True, NEVER), "nullkey0": (True, NEVER),
        "fresh": (True, NEVER),
        "newer": (True, _newer(t1, t2)), "newer2": (True, _newer(t1, t2)),
        "equal": (False, _not_newer(t1, t1)),
        "between": (False, _not_newer(t1, t0)),
        "nomod": (False, NO_MTIME),
        "allnull": (True, NEVER), "allnull0": (True, NEVER),
        "older": (False, _not_newer(t1, t0)),
    }
    return candidates, history, expected


ARGS = dict(key="key", modified_col="modified", sink_ts_col="time_last_dumped")


def test_change_detection_truth_table(spark):
    # classify_changes on every row: each of should_dump_item's four
    # branches, with the reference's reason string for it.
    candidates, history, expected = _truth_table(spark)
    out = classify_changes(candidates, history, **ARGS)
    assert out.columns == ["key", "payload", "modified", "should_dump",
                           "dump_reason"]
    got = {r["payload"]: (r["should_dump"], r["dump_reason"])
           for r in out.collect()}
    assert got == expected


def test_change_detection_forms_agree(spark):
    # The dump path's anti join, the backfill's classified batch and the
    # flagship's filter select the same rows in the same column order.
    candidates, history, expected = _truth_table(spark)
    anti = changed_since_dump(candidates, history, **ARGS)
    classified = select_dump_batch(
        classify_targets(candidates, history, opts=BackfillOptions(), **ARGS),
        "key", BackfillOptions())
    filtered = classify_changes(candidates, history, **ARGS) \
        .filter("should_dump").drop("should_dump", "dump_reason")
    rows = [sorted(map(tuple, df.collect()), key=str)
            for df in (anti, classified, filtered)]
    assert rows[0] == rows[1] == rows[2]
    assert sorted(r[1] for r in rows[0]) == \
        sorted(p for p, (dump, _) in expected.items() if dump)
    # the USING join's order: key first, then the candidate's columns
    assert anti.columns == classified.columns == filtered.columns == \
        ["key", "payload", "modified"]


class _Jobs:
    """Spark jobs started by this thread inside the ``with`` block."""

    def __init__(self, spark):
        self.sc, self.ids = spark.sparkContext, []

    def __enter__(self):
        import uuid
        self.group = f"jobs-{uuid.uuid4()}"
        self.sc.setJobGroup(self.group, self.group)
        return self

    def __exit__(self, *exc):
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        self.ids = self.sc.statusTracker().getJobIdsForGroup(self.group)


def _write_events(path, n, extra=False):
    import pyarrow as pa
    import pyarrow.parquet as pq
    cols = {"event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array([T0 + dt.timedelta(hours=i) for i in range(n)],
                           pa.timestamp("us"))}
    if extra:
        cols["note"] = pa.array([f"n{i}" for i in range(n)])
    pq.write_table(pa.table(cols), path)


def test_backfill_table_runs_two_jobs(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    from openedx_event_sink_clickhouse_spark.sinks import (
        ClickHouseConfig, ClickHouseSink)

    _write_events(str(tmp_path / "events.parquet"), 40)
    hist = str(tmp_path / "history.parquet")
    pq.write_table(pa.table({
        "event_id": pa.array(range(0, 40, 2), pa.int64()),
        "time_last_dumped": pa.array([T2] * 20, pa.timestamp("us"))}), hist)
    source = load_table(spark, "events", str(tmp_path))
    history = spark.read.parquet(hist)

    def noop(method, url, params, data, auth, timeout):
        pass

    with _Jobs(spark) as jobs:
        n = run_backfill(source, history, ClickHouseSink(ClickHouseConfig(),
                                                         noop),
                         "events", key="event_id", modified_col="ts",
                         sink_ts_col="time_last_dumped",
                         opts=BackfillOptions(sleep_time=0))
    assert n == 20                 # the odd ids were never dumped
    assert len(jobs.ids) <= 2      # the history's broadcast, the POSTs
    plan = changed_since_dump(source, history, "event_id", "ts",
                              "time_last_dumped") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "HashAggregate" not in plan and "ShuffleExchange" not in plan


def test_load_table_infers_a_file_schema_once(spark, tmp_path):
    path = str(tmp_path / "events.parquet")
    _write_events(path, 10)
    first = load_table(spark, "events", str(tmp_path))
    with _Jobs(spark) as jobs:
        again = load_table(spark, "events", str(tmp_path))
    assert jobs.ids == []
    assert again.schema == first.schema
    assert again.count() == 10

    _write_events(path, 12, extra=True)   # rewritten with a new column
    with _Jobs(spark) as jobs:
        rewritten = load_table(spark, "events", str(tmp_path))
    assert len(jobs.ids) >= 1
    assert rewritten.columns == ["event_id", "ts", "note"]
    assert rewritten.count() == 12


def test_flagship_runs_and_is_incremental(spark, sf_dir):
    from openedx_event_sink_clickhouse_spark.sources.tables import load_table
    events = load_table(spark, "events", sf_dir)
    out = flagship_events_incremental(events, "2024-01-05 00:00:00")
    n_total = events.count()
    n_out = out.count()
    assert 0 < n_out < n_total
    cols = out.columns
    assert cols == ["event_id", "user_id", "event_type", "modified",
                    "event_data_json", "dump_id", "time_last_dumped"]
    row = out.orderBy("event_id").first()
    assert len(row["dump_id"]) == 36 and row["dump_id"].count("-") == 4


def test_incremental_join_view_matches_full_join(spark):
    # Split both sides; the maintained view must equal the full join —
    # including cross-quadrant matches (old order x delta line, delta
    # order x old line) and the true-incremental path where view_old is
    # the materialized old x old quadrant.
    from openedx_event_sink_clickhouse_spark.operators.incremental import (
        incremental_join_view)
    a = spark.createDataFrame(
        [(1, "old"), (2, "old"), (3, "new"), (4, "new")], "k long, ta string")
    b = spark.createDataFrame(
        [(1, 10, "old"), (3, 30, "old"), (2, 20, "new"), (3, 31, "new"),
         (4, 40, "new")],
        "k long, v long, tb string")
    a_old, da = a.filter("ta = 'old'"), a.filter("ta = 'new'")
    b_old, db = b.filter("tb = 'old'"), b.filter("tb = 'new'")
    full = {(r.k, r.v) for r in a.join(b, "k").collect()}

    boot = incremental_join_view(None, a_old, da, b_old, db, on="k")
    assert {(r.k, r.v) for r in boot.collect()} == full

    view_old = a_old.join(b_old, "k")
    incr = incremental_join_view(view_old, a_old, da, b_old, db, on="k")
    assert {(r.k, r.v) for r in incr.collect()} == full
    # and row multiplicity matches too (no doubled quadrant)
    assert incr.count() == a.join(b, "k").count()
