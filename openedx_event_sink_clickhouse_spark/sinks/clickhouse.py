"""K2/K3 — ClickHouse-parity HTTP sink + D1 bulk delete.

Wire-format parity with the reference (``sinks/base_sink.py:251-282``):
INSERT is a POST whose ``query`` param is ``INSERT INTO {db}.{table}
FORMAT CSV`` with the CSV body, plus the error-tolerance params
``input_format_allow_errors_num=1`` / ``ratio=0.1`` (``base_sink.py:25-28``);
retirement is ``ALTER TABLE {db}.{table} DELETE WHERE user_id in (...)``
per PII table (``sinks/user_retire.py:39-49``).

Spark execution model:
- ``insert_df`` ships the work to executors via ``foreachPartition`` —
  HTTP streaming INSERTs per partition (optionally chunked to
  ``max_rows_per_post`` rows each, the reference's S5 batch size), so
  throughput scales with the cluster and the driver never materializes
  rows; the row count comes back through an accumulator in the same
  action. Each partition's POSTs run inside one Python-worker task.
- Delivery is at-least-once, as in ``streaming/dispatch.py``: the
  transport does not retry, so a failed POST fails its task, which local
  mode does not re-run, and with it the whole call. Whatever re-runs a
  task (a cluster's task retry) or the whole call (a replayed epoch)
  re-sends rows already POSTed. A replayed call rebuilds its frame, whose
  ``dump_id`` (``functions.derivations.dump_id_expr``, a uuid4 per plan)
  is then fresh, so the dump_id-versioned schema (reference
  ``serializers.py:25-31``) keeps both copies rather than collapsing them.
- ``delete_where`` is a control-plane mutation: one driver-side request
  per table, mirroring the reference exactly.

The HTTP transport is injectable (and ``requests`` is imported lazily) so
tests capture wire calls without a network; this mirrors how the
reference's own tests intercept POSTs with the ``responses`` library.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from .csv_encode import encode_csv_lines

BULK_INSERT_PARAMS = {
    "input_format_allow_errors_num": 1,
    "input_format_allow_errors_ratio": 0.1,
}

# transport(method, url, params, data, auth, timeout) -> None (raises on error)
Transport = Callable[[str, str, dict, bytes | None, tuple, float], None]


def _requests_transport(method: str, url: str, params: dict,
                        data: bytes | None, auth: tuple, timeout: float) -> None:
    import requests  # lazy: not needed for parquet/test sinks

    prepared = requests.Request(method, url, data=data, params=params,
                                auth=auth).prepare()
    # one connection per POST, released when the session closes
    with requests.Session() as session:
        response = session.send(prepared, timeout=timeout)
    response.raise_for_status()


@dataclass
class ClickHouseConfig:
    """Connection settings (reference ``settings/common.py:9-19`` +
    per-call ``connection_overrides``, ``base_sink.py:43-53``)."""

    url: str = "http://localhost:8123"
    username: str = "default"
    password: str = ""
    database: str = "event_sink"
    timeout_secs: float = 5.0
    insert_params: dict = field(default_factory=lambda: dict(BULK_INSERT_PARAMS))

    def with_overrides(self, overrides: dict | None) -> "ClickHouseConfig":
        if not overrides:
            return self
        merged = {**self.__dict__, **{k: v for k, v in overrides.items()
                                      if k in self.__dict__}}
        merged["insert_params"] = dict(merged["insert_params"])  # never share the dict
        return ClickHouseConfig(**merged)


class ClickHouseSink:
    """Batch sink with the reference's wire protocol."""

    def __init__(self, config: ClickHouseConfig | None = None,
                 transport: Transport | None = None):
        self.config = config or ClickHouseConfig()
        self.transport = transport or _requests_transport

    def _insert_query(self, table: str) -> dict:
        params = dict(self.config.insert_params)
        params["query"] = (f"INSERT INTO {self.config.database}.{table} "
                           f"FORMAT CSV")
        return params

    def insert_df(self, df: DataFrame, table: str, columns: list[str] | None = None,
                  throttle_secs: float = 0.0,
                  max_rows_per_post: int | None = None) -> int:
        """Bulk INSERT, streaming POSTs from the executors; returns the
        number of rows sent (accumulator-counted inside the same action,
        so callers need no separate ``count()`` pass over the batch).

        ``throttle_secs`` is the reference's inter-batch sleep
        (L2, ``dump_data_to_clickhouse.py:68,158-163``) applied per POST.
        ``max_rows_per_post`` chunks WITHIN each partition (the
        reference's rows-per-insert batch size, S5) — partition sizing
        controls parallelism, the chunk size controls POST payloads, and
        neither requires knowing the total row count up front.

        Each partition's POSTs run in one Python-worker task, so a call
        pays at least one task's fixed cost (see ``session.py`` on the
        worker daemon).

        Delivery/count semantics: the return value counts LOGICAL rows
        exactly once (Spark folds accumulator updates from re-run tasks),
        but the POSTs are at-least-once per chunk. A failed POST fails the
        task and the call (local mode does not re-run tasks); a re-run
        task re-sends the chunks it already POSTed, and a replayed call
        re-sends every row under whatever ``dump_id`` its frame carries,
        fresh per call today. Do not read the return value as "rows
        landed exactly once".
        """
        params = self._insert_query(table)
        cfg, transport = self.config, self.transport
        acc = df.sparkSession.sparkContext.accumulator(0)

        def send_partition(lines: Iterable) -> None:
            def post(buf: list) -> None:
                if not buf:
                    return
                body = "\n".join(buf) + "\n"
                transport("POST", cfg.url, params, body.encode("utf-8"),
                          (cfg.username, cfg.password), cfg.timeout_secs)
                acc.add(len(buf))
                if throttle_secs:
                    time.sleep(throttle_secs)

            buf: list = []
            for row in lines:
                buf.append(row["csv_line"])
                if max_rows_per_post and len(buf) >= max_rows_per_post:
                    post(buf)
                    buf = []
            post(buf)

        encode_csv_lines(df, columns).foreachPartition(send_partition)
        return acc.value

    def delete_where_user_ids(self, user_ids: Iterable, pii_tables: list[str]) -> list[str]:
        """D1 — PII retirement. Builds the exact reference mutation per
        table (sorted, distinct, comma-joined ids — ``user_retire.py:33-49``)
        and sends it driver-side. Returns the issued queries (testability)."""
        ids_str = ",".join(sorted({str(u) for u in user_ids}))
        if not ids_str:
            # The reference would emit "... in ()" here (user_retire.py:34)
            # and let ClickHouse reject it; an empty retirement set is a
            # no-op, so don't issue a malformed mutation.
            return []
        issued = []
        for table in pii_tables:
            query = (f"ALTER TABLE {self.config.database}.{table} "
                     f"DELETE WHERE user_id in ({ids_str})")
            self.transport("POST", self.config.url, {"query": query}, None,
                           (self.config.username, self.config.password),
                           self.config.timeout_secs)
            issued.append(query)
        return issued
