"""Publish latency attribution: an event counts only against the POSTs of
the epoch that read its file."""

from __future__ import annotations

from perfbench.publish_stream import event_latencies
from perfbench.receiver import Receiver


def _receipts(times: dict[tuple[str, str], list[float]]):
    r = Receiver(max_concurrency=1)
    r.seen.update(times)
    return r.first_between


def test_earlier_epoch_post_after_due_time_does_not_count():
    # file 0 is read by epoch 0 (starts at 10.0), file 1 by epoch 1
    # (starts at 20.0). Epoch 0 posts course X at 12.0, after file 1 was
    # due (11.0); file 1's X only counts from epoch 1's POST at 23.0.
    schedule = [(0.0, [("course_overviews", "X")]),
                (1.0, [("course_overviews", "X")])]
    latencies = event_latencies(
        schedule, [9.0, 11.0],
        {"e000000.parquet": 0, "e000001.parquet": 1}, {0: 10.0, 1: 20.0},
        _receipts({("course_overviews", "X"): [12.0, 23.0]}))
    assert latencies == [[3000.0], [12000.0]]


def test_unread_file_and_missing_row_are_not_received():
    schedule = [(0.0, [("user_profile", "1"), ("user_profile", "2")]),
                (1.0, [("user_profile", "1")])]
    latencies = event_latencies(
        schedule, [9.0, 11.0], {"e000000.parquet": 0}, {0: 10.0},
        # "1" is posted by epoch 0 and again later, but file 1 was never
        # read by any epoch; "2" was never posted
        _receipts({("user_profile", "1"): [12.0, 30.0]}))
    assert latencies == [[3000.0, None], [None]]
