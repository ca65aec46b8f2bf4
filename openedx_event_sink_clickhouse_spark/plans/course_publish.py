"""EP1 — the course-publish pipeline (reference flagship path).

Reference flow (``sinks/course_published.py``): COURSE_PUBLISHED signal →
serialize the course overview row → walk the modulestore block tree,
assign hierarchy ordinals, JSON-pack block metadata, dedup by canonical
location → bulk-insert ``course_blocks`` with the parent dump's
``dump_id``/``time_last_dumped``.

Here the whole flow is one declarative plan over a blocks DataFrame:

    tree_ordinals (T1, windows)  →  projections P4-P8  →
    last_wins_dedup (T2, max_by)

The input contract is a DataFrame of blocks in depth-first pre-order:
(course_key, org, location, display_name, block_type, graded,
completion_mode, order, edited_on) — ``order`` is the 1-based traversal
index the modulestore yields (``course_published.py:60-66``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.derivations import (
    DETACHED_XBLOCK_TYPES,
    bool_flag,
    json_pack,
    member_flag,
    normalize_apostrophes,
    strip_branch_and_version,
)
from ..operators.tree import last_wins_dedup, tree_ordinals


def serialize_course_overviews(overviews: DataFrame, dump_id: Column,
                               time_last_dumped: Column) -> DataFrame:
    """Produce ``course_overviews`` sink rows (FIXTURES.md §1).

    Mirrors ``CourseOverviewSerializer`` (``serializers.py:103-153``):
    projection + rename (P1: ``start``→``course_start``, ``end``→
    ``course_end``, ``id``→``course_key``), ten "extra" fields JSON-packed
    into ``course_data_json`` (P4, key order preserved), dump metadata
    appended (P2/P3). Input contract: one row per course with the model's
    source column names.
    """
    course_data_json = json_pack(
        "advertised_start",
        "announcement",
        F.col("lowest_passing_grade").cast("double").alias("lowest_passing_grade"),
        "invitation_only",
        "max_student_enrollments_allowed",
        "effort",
        "enable_proctored_exams",
        "entrance_exam_enabled",
        "external_id",
        "language",
    )
    return overviews.select(
        F.col("org"),
        F.col("id").cast("string").alias("course_key"),
        F.col("display_name"),
        F.col("start").alias("course_start"),
        F.col("end").alias("course_end"),
        F.col("enrollment_start"),
        F.col("enrollment_end"),
        F.col("self_paced"),
        course_data_json.alias("course_data_json"),
        F.col("created"),
        F.col("modified"),
        dump_id.alias("dump_id"),
        time_last_dumped.alias("time_last_dumped"),
    )


def serialize_course_blocks(blocks: DataFrame, dump_id: Column,
                            time_last_dumped: Column) -> DataFrame:
    """Produce the ``course_blocks`` sink rows (FIXTURES.md §2) from a
    depth-ordered blocks DataFrame.

    Mirrors ``XBlockSink.serialize_item``/``serialize_xblock``
    (``course_published.py:47-127``): ordinals stamped on every row, JSON
    key order (course, run, block_type, detached, graded, completion_mode,
    section, subsection, unit) preserved, later duplicate locations win.
    """
    with_ordinals = tree_ordinals(blocks)

    # course-v1:ORG+COURSE+RUN → course / run (the reference reads these
    # off the typed CourseKey, course_published.py:106-107).
    key_body = F.regexp_replace(F.col("course_key"), r"^[^:]*:", "")
    course = F.split(key_body, r"\+").getItem(1)
    run = F.split(key_body, r"\+").getItem(2)

    xblock_json = json_pack(
        course.alias("course"),
        run.alias("run"),
        "block_type",
        member_flag(F.col("block_type"), DETACHED_XBLOCK_TYPES).alias("detached"),
        bool_flag(F.coalesce(F.col("graded"), F.lit(False))).alias("graded"),
        F.coalesce(F.col("completion_mode"), F.lit("unknown"))
         .alias("completion_mode"),
        "section", "subsection", "unit",
    )

    serialized = with_ordinals.select(
        F.col("org"),
        F.col("course_key"),
        strip_branch_and_version(F.col("location")).alias("location"),
        normalize_apostrophes(F.col("display_name")).alias("display_name"),
        xblock_json.alias("xblock_data_json"),
        F.col("order"),
        # str(edited_on) at the wire edge (course_published.py:122)
        F.col("edited_on").cast("string").alias("edited_on"),
    )
    # T2: duplicate canonical locations — later traversal index wins
    # (course_published.py:90-94 dict overwrite). Reselect to the sink CSV
    # column order (course_published.py:115-125) after the dedup agg. The
    # dump metadata is one value per call, so it is stamped after the
    # dedup, where the wire encoding folds it into a constant; inside the
    # aggregate's payload a timestamp literal is compiled into generated
    # code, so every call (every epoch) would compile a class again.
    deduped = last_wins_dedup(serialized, ["course_key", "location"], "order")
    return deduped.select("org", "course_key", "location", "display_name",
                          "xblock_data_json", "order", "edited_on",
                          dump_id.alias("dump_id"),
                          time_last_dumped.alias("time_last_dumped"))


def course_publish_pipeline(overviews: DataFrame, blocks: DataFrame,
                            dump_id: Column, time_last_dumped: Column,
                            ) -> tuple[DataFrame, DataFrame]:
    """EP1 end-to-end: one call produces both sink tables for a batch of
    published courses, so a micro-batch of N courses is two writes, not
    2·N requests.

    ``dump_id`` and ``time_last_dumped`` are per-call values (literals in
    every caller) that both tables share: the reference dumps the
    overview row, then hands the nested XBlockSink the SAME two values as
    plain arguments (``base_sink.py:184-203``, ``course_published.py:39-45``),
    so each serializer stamps them directly. A block whose course has no
    row in ``overviews`` is still serialized; restrict ``blocks`` to the
    published courses before the call.
    """
    return (serialize_course_overviews(overviews, dump_id, time_last_dumped),
            serialize_course_blocks(blocks, dump_id, time_last_dumped))
