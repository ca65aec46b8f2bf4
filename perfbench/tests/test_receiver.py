"""The loopback receiver: CSV checking, counters, concurrency cap."""

from __future__ import annotations

import math
import sys
import threading
import time

import pytest
import requests

from openedx_event_sink_clickhouse_spark.sinks.clickhouse import (
    _requests_transport,
)
from perfbench.receiver import Receiver, parse_body

INSERT = {"query": "INSERT INTO event_sink.t FORMAT CSV",
          "input_format_allow_errors_num": 1}


def _post(url, body: bytes, params=INSERT):
    _requests_transport("POST", url, params, body, ("default", ""), 5.0)


@pytest.fixture
def receiver():
    r = Receiver(max_concurrency=4, track={"t": (0, 2, 3)})
    r.url = r.start()
    yield r
    r.stop()


def test_parse_body_quote_nonnumeric():
    rows = parse_body('1,"a ""q"", b",2.5\n"x",True,NaN\n-1.0E10,"",False\n')
    assert rows[0] == [1.0, 'a "q", b', 2.5]
    assert rows[1][:2] == ["x", True] and math.isnan(rows[1][2])
    assert rows[2] == [-1e10, "", False]


@pytest.mark.parametrize("body", [
    "1,abc,2\n",          # bare non-numeric field
    '1,"a",2',            # no trailing newline
    '"a"b,1\n',           # text after a closing quote
])
def test_parse_body_rejects(body):
    with pytest.raises(ValueError):
        parse_body(body)


def test_counts_rows_bytes_posts_and_tracks_keys(receiver):
    b1 = b'1,"x","d1","2024-01-01 00:00:00+00:00"\n2,"y","d1","t"\n'
    b2 = b'3,"z","",""\n'            # no dump metadata: not tracked
    t0 = time.time()
    _post(receiver.url, b1)
    _post(receiver.url, b2)
    snap = receiver.snapshot()
    assert snap["posts"] == 2 and snap["rows"] == 3
    assert snap["bytes"] == len(b1) + len(b2)
    assert snap["table_rows"] == {"t": 3}
    assert 1 <= snap["connections"] <= 2
    assert snap["failures"] == 0
    assert receiver.table_widths["t"] == {4}
    t1 = time.time()
    assert t0 <= receiver.first_between("t", "1", t0, t1) <= t1
    assert receiver.first_between("t", "3", t0, t1) is None
    assert receiver.first_between("t", "1", t1, t1 + 60) is None


@pytest.mark.parametrize("params,body", [
    ({"query": "SELECT 1"}, b"1\n"),
    (INSERT, b"1,not a number\n"),
])
def test_malformed_insert_is_refused(receiver, params, body):
    with pytest.raises(requests.HTTPError):
        _post(receiver.url, body, params)
    snap = receiver.snapshot()
    assert snap["failures"] == 1 and snap["posts"] == 0 and snap["rows"] == 0


class _SlowReceiver(Receiver):
    """Records how many requests are inside the handler at once."""

    def __init__(self, cap):
        super().__init__(max_concurrency=cap)
        self.inside = self.peak = 0
        self.guard = threading.Lock()

    def _handle(self, req):
        with self.guard:
            self.inside += 1
            self.peak = max(self.peak, self.inside)
        time.sleep(0.02)
        try:
            return super()._handle(req)
        finally:
            with self.guard:
                self.inside -= 1


def test_concurrency_cap_and_no_lost_updates():
    r = _SlowReceiver(cap=2)
    url = r.start()
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        def client():
            for _ in range(5):
                _post(url, b'1,"a"\n2,"b"\n')

        threads = [threading.Thread(target=client) for _ in range(12)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
        r.stop()
    snap = r.snapshot()
    assert snap["posts"] == 60 and snap["rows"] == 120
    assert r.peak == 2
