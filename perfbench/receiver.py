"""Loopback ClickHouse-protocol receiver for the benchmark.

Stands in for a ClickHouse HTTP endpoint on ``127.0.0.1``: it accepts the
sink's ``POST /?query=INSERT INTO {db}.{table} FORMAT CSV`` requests,
checks every body line as ClickHouse-CSV (``csv`` ``QUOTE_NONNUMERIC``
parsing: quoted fields are strings, bare fields must be numbers — or the
``True``/``False`` the reference's writer emits for booleans), and records
posts, connections, rows, bytes and receive times. A malformed request is
answered ``400``, which the sink's transport raises on.

Request handling runs on one thread per connection (stdlib
``http.server``), capped at ``max_concurrency`` requests in flight.
"""

from __future__ import annotations

import csv
import re
import threading
import time
from collections import Counter, defaultdict
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlsplit

_INSERT = re.compile(r"INSERT INTO (\w+)\.(\w+) FORMAT CSV")
_FIELD = re.compile(r'"((?:[^"]|"")*)"|([^,"]*)')


def parse_line_slow(line: str) -> list:
    """One CSV line, field by field: quoted → ``str``, bare ``True``/
    ``False`` → ``bool``, any other bare field → ``float`` (raises
    ``ValueError`` when it is not a number). Used for the lines the fast
    ``QUOTE_NONNUMERIC`` reader rejects."""
    out, pos = [], 0
    while True:
        m = _FIELD.match(line, pos)
        quoted, bare = m.group(1), m.group(2)
        if quoted is not None:
            out.append(quoted.replace('""', '"'))
        elif bare in ("True", "False"):
            out.append(bare == "True")
        else:
            out.append(float(bare))
        pos = m.end()
        if pos == len(line):
            return out
        if line[pos] != ",":
            raise ValueError(f"stray character at column {pos}: {line[:80]!r}")
        pos += 1


def parse_body(text: str) -> list[list]:
    """All rows of one INSERT body; every line must end with ``\\n``."""
    if not text.endswith("\n"):
        raise ValueError("body does not end with a newline")
    lines = text[:-1].split("\n")
    reader = csv.reader(lines, quoting=csv.QUOTE_NONNUMERIC, strict=True)
    rows = []
    for _ in lines:
        try:
            rows.append(next(reader))
        except (ValueError, csv.Error):
            rows.append(parse_line_slow(lines[reader.line_num - 1]))
    return rows


class Receiver:
    """The receiver and its counters.

    ``track`` names, per table, the position of the entity key and of the
    ``dump_id``/``time_last_dumped`` fields; for those tables the receiver
    keeps every receive time of each key whose dump metadata is set
    (``seen[(table, key)]``).
    """

    def __init__(self, max_concurrency: int,
                 track: dict[str, tuple[int, int, int]] | None = None):
        self.track = dict(track or {})
        self._slots = threading.BoundedSemaphore(max_concurrency)
        self._lock = threading.Lock()
        self.posts = 0
        self.connections = 0
        self.rows = 0
        self.bytes = 0
        self.failures = 0
        self.errors: list[str] = []
        self.table_rows: Counter = Counter()
        self.table_widths: dict[str, set] = defaultdict(set)
        self.seen: dict[tuple[str, str], list[float]] = defaultdict(list)
        self._server = None
        self._thread = None

    # -- lifecycle ---------------------------------------------------------
    def start(self) -> str:
        receiver = self

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"      # keep-alive when the client asks
            timeout = 5

            def setup(self):
                super().setup()
                with receiver._lock:
                    receiver.connections += 1

            def do_POST(self):
                with receiver._slots:
                    status, msg = receiver._handle(self)
                self.send_response(status)
                body = msg.encode()
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *args):
                pass

        self._server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self._server.daemon_threads = True
        self._thread = threading.Thread(target=self._server.serve_forever,
                                        name="perfbench-receiver", daemon=True)
        self._thread.start()
        return f"http://127.0.0.1:{self._server.server_address[1]}"

    def stop(self) -> None:
        if self._server is not None:
            self._server.shutdown()
            self._server.server_close()
            self._thread.join(timeout=10)
            self._server = None

    # -- request handling ---------------------------------------------------
    def _handle(self, req) -> tuple[int, str]:
        try:
            query = parse_qs(urlsplit(req.path).query).get("query", [""])[0]
            m = _INSERT.fullmatch(query)
            if m is None:
                raise ValueError(f"not an INSERT ... FORMAT CSV: {query!r}")
            length = int(req.headers.get("Content-Length", "0"))
            raw = req.rfile.read(length)
            received = time.time()
            rows = parse_body(raw.decode("utf-8"))
        except (ValueError, UnicodeDecodeError) as e:
            with self._lock:
                self.failures += 1
                self.errors.append(str(e)[:300])
            return 400, f"Code: 27. Cannot parse input: {e}\n"
        table = m.group(2)
        tracked = self.track.get(table)
        seen = []
        if tracked is not None:
            key_i, dump_i, time_i = tracked
            for row in rows:
                if len(row) > max(tracked) and row[dump_i] and row[time_i]:
                    k = row[key_i]
                    seen.append(str(int(k)) if isinstance(k, float) else k)
        with self._lock:
            self.posts += 1
            self.rows += len(rows)
            self.bytes += len(raw)
            self.table_rows[table] += len(rows)
            self.table_widths[table].update(len(r) for r in rows)
            for k in seen:
                self.seen[(table, k)].append(received)
        return 200, ""

    def first_between(self, table: str, key: str, lo: float,
                      hi: float) -> float | None:
        """Earliest receive time in ``[lo, hi)`` of a tracked key, or None."""
        with self._lock:
            times = [x for x in self.seen.get((table, key), ()) if lo <= x < hi]
        return min(times) if times else None

    def snapshot(self) -> dict:
        """Counters as of now (copies; safe to diff later)."""
        with self._lock:
            return {"posts": self.posts, "connections": self.connections,
                    "rows": self.rows, "bytes": self.bytes,
                    "failures": self.failures,
                    "table_rows": dict(self.table_rows)}
