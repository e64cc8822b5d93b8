"""ClickHouse sink (S4/S5) — the reference's insert path re-expressed
as a foreachBatch writer.

Reference behavior (anonymizer/src/sink.rs):

- DDL bootstrap with retry, gated by CH__CREATE_TABLE (sink.rs:255-262,
  400-418; DDL text http_log.rs:91-111)           -> ``ensure_table``
- rows encoded as JSONCompactEachRow positional arrays with the
  timestamp truncated to unix seconds (http_log.rs:71-86, sink.rs:318)
                                                   -> ``encode_compact_json_row``
- one block per request, rate-limited (sink.rs:303-331)
                                                   -> one request per PARTITION,
                                                      per-endpoint token bucket with the
                                                      interval scaled by partition count
- commit follows durable write (sink.rs:337-349)   -> foreachBatch +
                                                      checkpoint ordering (built-in)
- no insert retry (documented tradeoff lib.rs:213-218)
                                                   -> surface the exception;
                                                      Spark replays the batch

Inserts run EXECUTOR-SIDE (mapInPandas over the batch, one HTTP POST
per partition): the driver never materializes the batch, so throughput
scales with executors instead of hitting a driver OOM/network wall at
100 TB. The reference's single-connection pacing generalizes as a rate
share: each partition waits ``interval x n_partitions`` (this batch's
count) after its endpoint's last request, so the aggregate request rate
stays at the configured ceiling; within a partition, row order (and
therefore block order) is preserved.

No ClickHouse server or client library exists in this container, so the
HTTP insert is import/connection-gated; encoding, DDL and pacing logic
are pure and unit-tested (tests/test_streaming.py drives the partition
insert function with a recording poster).
"""

from __future__ import annotations

import json
import urllib.request
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from http_log_anonymizer_spark.config import ClickHouseConfig
from http_log_anonymizer_spark.schema import (
    HTTP_LOG_SCHEMA,
    clickhouse_insert_ddl,
    clickhouse_table_ddl,
)


def encode_compact_json_row(row: dict) -> str:
    """One HttpLog row -> positional JSONCompactEachRow array
    (http_log.rs:71-86). Column order matches the insert DDL; the
    timestamp serializes as whole unix seconds (http_log.rs:75 —
    sub-second precision is truncated at the sink, SURVEY §1.2)."""
    ts = row["timestamp"]
    epoch_s = int(pd.Timestamp(ts).timestamp()) if not isinstance(ts, (int, float)) else int(ts)
    return json.dumps(
        [
            epoch_s,
            row["resource_id"],
            row["bytes_sent"],
            row["request_time_milli"],
            row["response_status"],
            row["cache_status"],
            row["method"],
            row["remote_addr"],
            row["url"],
        ],
        separators=(",", ":"),
    )


def _http_post(url: str, user: str, query: str, body: str) -> None:  # pragma: no cover
    """One HTTP request (sink.rs:40-41's single-connection client:
    urllib opens/closes per call, serializing requests per caller)."""
    data = (query + "\n" + body).encode()
    req = urllib.request.Request(url, data=data, headers={"X-ClickHouse-User": user})
    with urllib.request.urlopen(req, timeout=30) as resp:
        if resp.status >= 300:
            raise RuntimeError(f"ClickHouse HTTP {resp.status}")


def partition_insert_fn(
    url: str,
    user: str,
    insert_query: str,
    interval_s: float,
    post=_http_post,
):
    """Build the executor-side mapInPandas function: encode this
    partition's rows as JSONCompactEachRow and POST them as ONE block,
    paced by the per-endpoint token bucket (interval pre-scaled by the
    caller to the batch's partition count so the aggregate rate matches
    the reference's single-connection ceiling). The wait uses THIS
    batch's interval: a reused Python worker keeps the endpoint's
    last-request time across batches, not the interval of the first
    batch it served. Yields a 1-row stats frame so the driver can assert
    delivery without touching the data."""

    def insert(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import time as _time

        from http_log_anonymizer_spark.streaming.limiter import shared_limiter

        lines: list[str] = []
        for pdf in batches:
            lines.extend(encode_compact_json_row(r) for r in pdf.to_dict("records"))
        requests = 0
        if lines:
            # interval <= 0 disables pacing (the limiter itself rejects
            # non-positive rates by design, limiter.rs:65-69)
            limiter = shared_limiter(url, interval_s) if interval_s > 0 else None
            if limiter is not None:
                wait = limiter.time_left()
                if wait > 0:
                    _time.sleep(wait)
            post(url, user, insert_query, "\n".join(lines))
            if limiter is not None:
                limiter.record_request()
            requests = 1
        yield pd.DataFrame({"rows_inserted": [len(lines)], "requests": [requests]})

    return insert


_INSERT_STATS_SCHEMA = StructType(
    [StructField("rows_inserted", LongType()), StructField("requests", LongType())]
)


class ClickHouseSink:
    """foreachBatch writer targeting ClickHouse over HTTP.

    Usage: ``PipelineSpec(writer=ClickHouseSink(cfg).write, ...)``.
    """

    def __init__(self, cfg: ClickHouseConfig | None = None) -> None:
        self.cfg = cfg or ClickHouseConfig.from_env()
        self._table_ready = False
        self.last_batch_stats: tuple[int, int] | None = None  # (rows, requests)

    # -- DDL bootstrap (S5) -------------------------------------------------
    def ensure_table(self, tries: int = 3, delay_s: float = 2.0) -> None:
        """CREATE TABLE IF NOT EXISTS with fixed-delay retry
        (async_retry analog, error.rs:76-89)."""
        if self._table_ready or not self.cfg.create_table:
            return
        import time as _time

        ddl = clickhouse_table_ddl(self.cfg.table)
        last: Exception | None = None
        for _ in range(tries):
            try:
                self._execute(ddl)
                self._table_ready = True
                return
            except Exception as exc:  # pragma: no cover - needs live server
                last = exc
                _time.sleep(delay_s)
        raise RuntimeError(f"DDL bootstrap failed after {tries} tries") from last

    # -- insert (S4) --------------------------------------------------------
    def write(self, batch_df: DataFrame, batch_id: int) -> None:
        """Insert one micro-batch: one JSONCompactEachRow request PER
        PARTITION, sent from the executors (no driver collect). Raises
        on failure — Spark retries/replays the batch and the checkpoint
        only commits after we return (F5/F8)."""
        self.ensure_table()
        n_parts = max(1, batch_df.rdd.getNumPartitions())
        interval = (self.cfg.rate_limit_s or self.cfg.default_rate_limit_s) * n_parts
        query = f"{clickhouse_insert_ddl(self.cfg.table)} FORMAT JSONCompactEachRow"
        stats = batch_df.mapInPandas(
            partition_insert_fn(self.cfg.url, self.cfg.user, query, interval),
            _INSERT_STATS_SCHEMA,
        )
        # The aggregate is the action that runs the inserts; it moves one
        # stats row per partition, never the data.
        totals = stats.agg(
            F.sum("rows_inserted").alias("rows"), F.sum("requests").alias("reqs")
        ).collect()[0]
        self.last_batch_stats = (totals["rows"], totals["reqs"])

    def _execute(self, query: str, body: str = "") -> None:  # pragma: no cover
        """Driver-side request (DDL bootstrap only; inserts go through
        partition_insert_fn on the executors)."""
        _http_post(self.cfg.url, self.cfg.user, query, body)
