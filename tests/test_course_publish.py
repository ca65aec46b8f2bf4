"""EP1 course-publish pipeline: overview serializer golden row + shared
dump metadata on both tables (reference ``serializers.py:103-153``,
``base_sink.py:169-203``)."""

from __future__ import annotations

import datetime as dt
import json

from pyspark.sql import functions as F

from openedx_event_sink_clickhouse_spark.plans.course_publish import (
    course_publish_pipeline,
    serialize_course_blocks,
    serialize_course_overviews,
)
from openedx_event_sink_clickhouse_spark.sinks import (
    ClickHouseConfig,
    ClickHouseSink,
)
from openedx_event_sink_clickhouse_spark.sinks.csv_encode import (
    encode_csv_lines,
)

from tests.test_incremental import _Jobs
from tests.test_tree import COLUMNS, COURSE_KEY, course_factory_rows

OVERVIEW_COLUMNS = [
    "id", "org", "display_name", "start", "end", "enrollment_start",
    "enrollment_end", "self_paced", "created", "modified",
    "advertised_start", "announcement", "lowest_passing_grade",
    "invitation_only", "max_student_enrollments_allowed", "effort",
    "enable_proctored_exams", "entrance_exam_enabled", "external_id",
    "language",
]

T = dt.datetime(2023, 9, 1, 12, 0, 0)


def _overview_row(course_id=COURSE_KEY):
    return (course_id, "TestOrg", "Test Course", T, T, T, T, False, T, T,
            "2023-10-01", "announced", 0.7, True, 100, "2 hours",
            False, False, "ext-1", "en")


def test_overview_serializer_golden(spark):
    df = spark.createDataFrame([_overview_row()], OVERVIEW_COLUMNS)
    out = serialize_course_overviews(df, F.lit("dump-1"), F.lit(T))
    row = out.collect()[0]
    # field list and order = serializer Meta.fields (serializers.py:115-129)
    assert list(row.asDict()) == [
        "org", "course_key", "display_name", "course_start", "course_end",
        "enrollment_start", "enrollment_end", "self_paced",
        "course_data_json", "created", "modified", "dump_id",
        "time_last_dumped"]
    assert row["course_key"] == COURSE_KEY
    assert row["course_start"] == T and row["self_paced"] is False
    j = json.loads(row["course_data_json"])
    # JSON key order = get_course_data_json (serializers.py:131-149)
    assert list(j) == [
        "advertised_start", "announcement", "lowest_passing_grade",
        "invitation_only", "max_student_enrollments_allowed", "effort",
        "enable_proctored_exams", "entrance_exam_enabled", "external_id",
        "language"]
    assert j["lowest_passing_grade"] == 0.7
    assert j["max_student_enrollments_allowed"] == 100
    assert j["invitation_only"] is True


def test_pipeline_blocks_inherit_overview_dump_metadata(spark):
    overviews = spark.createDataFrame([_overview_row()], OVERVIEW_COLUMNS)
    blocks = spark.createDataFrame(course_factory_rows(), COLUMNS)
    ov, bl = course_publish_pipeline(
        overviews, blocks, F.lit("dump-xyz"), F.lit(T))
    assert ov.count() == 1
    rows = bl.collect()
    assert len(rows) == 37
    assert {r["dump_id"] for r in rows} == {"dump-xyz"}
    assert {r["time_last_dumped"] for r in rows} == {T}
    assert bl.columns == ["org", "course_key", "location", "display_name",
                          "xblock_data_json", "order", "edited_on",
                          "dump_id", "time_last_dumped"]
    alone = serialize_course_blocks(blocks, F.lit("dump-xyz"), F.lit(T))
    assert alone.columns == bl.columns
    assert sorted(rows) == sorted(alone.collect())


def test_pipeline_blocks_plan_has_no_join(spark):
    # the dump metadata is a per-call literal, stamped on the block rows
    # directly rather than joined in from the overview rows
    overviews = spark.createDataFrame([_overview_row()], OVERVIEW_COLUMNS)
    blocks = spark.createDataFrame(course_factory_rows(), COLUMNS)
    _, bl = course_publish_pipeline(overviews, blocks, F.lit("d"), F.lit(T))
    plan = bl._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan


def test_course_publish_handler_runs_at_most_eight_jobs(spark, tmp_path):
    # The publish stream's course handler: restrict both sources to the
    # published ids, then insert both tables.
    other = "course-v1:OtherOrg+Other+Run"
    ov_path, bl_path = str(tmp_path / "ov"), str(tmp_path / "bl")
    spark.createDataFrame([_overview_row(), _overview_row(other)],
                          OVERVIEW_COLUMNS).write.parquet(ov_path)
    spark.createDataFrame(course_factory_rows(), COLUMNS) \
        .write.parquet(bl_path)
    sink = ClickHouseSink(ClickHouseConfig(), lambda *call: None)
    ids = spark.createDataFrame([(COURSE_KEY,)], ["id"])
    overviews, blocks = spark.read.parquet(ov_path), spark.read.parquet(bl_path)

    with _Jobs(spark) as jobs:
        ov = overviews.join(ids, "id", "left_semi")
        bl = blocks.join(ids.withColumnRenamed("id", "course_key"),
                         "course_key", "left_semi")
        ov_rows, bl_rows = course_publish_pipeline(ov, bl, F.lit("d"),
                                                   F.lit(T))
        n_ov = sink.insert_df(ov_rows, "course_overviews")
        n_bl = sink.insert_df(bl_rows, "course_blocks")
    assert (n_ov, n_bl) == (1, 37)
    assert len(jobs.ids) <= 8


def test_course_blocks_new_dump_time_compiles_no_class(spark):
    # the dump metadata differs on every publish; a warm call with a new
    # dump time must reuse the generated classes of the last one
    blocks = spark.createDataFrame(course_factory_rows(), COLUMNS)
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def encode(i):
        when = T + dt.timedelta(seconds=i)
        rows = serialize_course_blocks(blocks, F.lit(f"d{i}"), F.lit(when))
        before = codegen.METRIC_COMPILATION_TIME().getCount()
        assert len(encode_csv_lines(rows).collect()) == 37
        return codegen.METRIC_COMPILATION_TIME().getCount() - before

    encode(0)
    assert encode(1) == 0
