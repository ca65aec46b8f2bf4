"""K2 read-side tolerance: the ClickHouse AND-of-limits rule — a load
survives while bad rows stay within the absolute OR the ratio limit, and
fails once both are exceeded."""

from __future__ import annotations

import pytest

from pyspark.sql import types as T

from openedx_event_sink_clickhouse_spark.sources.tolerant import (
    TooManyErrors,
    read_csv_tolerant,
)

SCHEMA = T.StructType([
    T.StructField("id", T.IntegerType()),
    T.StructField("name", T.StringType()),
    T.StructField("score", T.DoubleType()),
])


def _csv(tmp_path, lines):
    p = tmp_path / "in.csv"
    p.write_text("\n".join(lines) + "\n")
    return str(p)


GOOD = [f"{i},n{i},{i}.5" for i in range(20)]


def test_clean_file_passes(spark, tmp_path):
    df, rep = read_csv_tolerant(spark, _csv(tmp_path, GOOD), SCHEMA)
    assert rep.bad == 0 and df.count() == 20


def test_one_bad_row_tolerated_by_num(spark, tmp_path):
    df, rep = read_csv_tolerant(
        spark, _csv(tmp_path, GOOD + ["oops,not,a,row,at,all"]), SCHEMA)
    assert (rep.total, rep.bad) == (21, 1)
    assert df.count() == 20  # bad row dropped, not poisoned to NULLs


def test_small_ratio_tolerated_even_above_num(spark, tmp_path):
    # 2 bad of 22 ≈ 9% ≤ 10%: num exceeded but ratio holds → tolerated
    lines = GOOD + ["bad,x", "also,bad,y,z"]
    df, rep = read_csv_tolerant(spark, _csv(tmp_path, lines), SCHEMA)
    assert rep.bad == 2
    assert df.count() == 20


def test_both_limits_exceeded_raises(spark, tmp_path):
    lines = GOOD[:4] + ["b1,x", "b2,x", "b3,x"]  # 3/7 ≈ 43%, num > 1
    with pytest.raises(TooManyErrors):
        read_csv_tolerant(spark, _csv(tmp_path, lines), SCHEMA)


def test_jsonl_tolerant_routes_malformed_lines(spark, tmp_path):
    import json as _json
    from openedx_event_sink_clickhouse_spark.sources.tolerant import (
        TooManyErrors, read_jsonl_tolerant)
    from pyspark.sql import types as T
    import pytest
    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("text", T.StringType())])
    p = tmp_path / "docs.jsonl"
    lines = [_json.dumps({"id": i, "text": f"doc {i}"}) for i in range(9)]
    lines.insert(4, '{"id": 99, "text": "unterminated')   # malformed
    p.write_text("\n".join(lines))
    df, rep = read_jsonl_tolerant(spark, str(p), schema)
    assert rep.total == 10 and rep.bad == 1
    got = {r.id for r in df.collect()}
    assert got == set(range(9))          # bad line dead-lettered, not kept
    # AND-of-limits: 1 bad of 10 passes num=1; push both limits over
    many = [ "not json at all" ] * 5 + lines[:5]
    (tmp_path / "bad.jsonl").write_text("\n".join(many))
    with pytest.raises(TooManyErrors):
        read_jsonl_tolerant(spark, str(tmp_path / "bad.jsonl"), schema)
