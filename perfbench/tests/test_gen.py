"""The input generator: same seed, same bytes; and the benchmark's
description agrees with what run.py prints."""

from __future__ import annotations

import glob
import hashlib
import json
import os

import pyarrow.parquet as pq

from openedx_event_sink_clickhouse_spark.cli import TABLE_KEYS
from perfbench import gen
from perfbench.run import END_TO_END, ROOT, WORKLOADS, per_layer


def _digests(root: str) -> dict[str, str]:
    return {os.path.relpath(f, root): hashlib.sha256(open(f, "rb").read()).hexdigest()
            for f in sorted(glob.glob(f"{root}/**/*.parquet", recursive=True))}


def test_same_seed_gives_identical_bytes(tmp_path):
    gen.generate(str(tmp_path / "a"), 7, 0.02)
    gen.generate(str(tmp_path / "b"), 7, 0.02)
    gen.generate(str(tmp_path / "c"), 8, 0.02)
    a, b, c = (_digests(str(tmp_path / x)) for x in "abc")
    assert a == b and len(a) == 18
    differ = [k for k in a if a[k] != c[k]]
    assert "tables/events.parquet" in differ and "publish/blocks.parquet" in differ


def test_parts_do_not_change_content(tmp_path):
    whole = gen.generate(str(tmp_path / "all"), 3, 0.02)
    only = gen.generate(str(tmp_path / "bf"), 3, 0.02, ("backfill",))
    assert set(only) == set(TABLE_KEYS) | {"region"} | {
        f"history/{t}" for t in TABLE_KEYS}
    for k, p in only.items():
        assert open(p, "rb").read() == open(whole[k], "rb").read()


def test_course_trees_are_preorder_with_repeated_locations(tmp_path):
    paths = gen.generate(str(tmp_path), 5, 0.1, ("publish",))
    blocks = pq.read_table(paths["publish/blocks"]).to_pylist()
    by_course: dict[str, list] = {}
    for b in blocks:
        by_course.setdefault(b["course_key"], []).append(b)
    repeated = 0
    for rows in by_course.values():
        assert [r["order"] for r in rows] == list(range(1, len(rows) + 1))
        assert rows[0]["block_type"] == "course"
        canon = [r["location"].replace("+branch@draft-branch", "") for r in rows]
        repeated += len(canon) - len(set(canon))
    assert repeated > 0


def test_schedule_is_seeded_and_skewed(tmp_path):
    ids = gen.publish_ids(gen.generate(str(tmp_path), 5, 0.1, ("publish",)))
    s1 = gen.publish_schedule(9, ids, 2.0, 10, 10)
    assert s1 == gen.publish_schedule(9, ids, 2.0, 10, 10)
    assert s1 != gen.publish_schedule(10, ids, 2.0, 10, 10)
    assert [due for due, _ in s1] == [i / 10 for i in range(20)]
    events = [e for _, evs in s1 for e in evs]
    assert {m for m, _ in events} == set(gen.PUBLISH_MODELS)
    assert len(set(events)) < len(events)       # popular entities repeat


def test_benchmark_json_matches_run_py():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        doc = json.load(f)
    assert [w["name"] for w in doc["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in doc["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in doc["per_layer"]} == per_layer()
    bounds = {m["name"]: m["bound"] for m in doc["end_to_end"]}
    assert max(bounds.values()) == bounds["setup_s"] <= 0.25
