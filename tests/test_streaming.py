"""Streaming pipeline tests: limiter golden cases (limiter.rs:49-69),
JSON row encoding (http_log.rs:71-86), end-to-end file-stream pipeline
with invalid-record drop (T3), dedup exactly-once upgrade (F9), and
checkpoint replay without reprocessing (F3/F5/F8)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from http_log_anonymizer_spark.sinks.clickhouse import encode_compact_json_row
from http_log_anonymizer_spark.sinks.parquet import ParquetSink
from http_log_anonymizer_spark.streaming import (
    PipelineSpec,
    RequestLimiter,
    build_streaming_query,
    json_decoder,
)
from http_log_anonymizer_spark.streaming.pipeline import anonymize_transform

# ---------------------------------------------------------------------------
# RequestLimiter (limiter.rs:49-69 golden cases, fake clock instead of sleeps)
# ---------------------------------------------------------------------------


class FakeClock:
    def __init__(self) -> None:
        self.t = 0.0

    def __call__(self) -> float:
        return self.t


def test_limiter_tracks_time_left():
    clock = FakeClock()
    lim = RequestLimiter(10, clock=clock)
    assert lim.time_left() == 0.0  # no request yet -> allowed
    lim.record_request()
    assert lim.time_left() == pytest.approx(10.0)
    clock.t = 4.0
    assert lim.time_left() == pytest.approx(6.0)
    clock.t = 10.0
    assert lim.time_left() == 0.0
    lim.record_request()
    assert lim.time_left() == pytest.approx(10.0)


def test_limiter_rejects_zero_rate():
    with pytest.raises(ValueError):
        RequestLimiter(0)


def test_limiter_try_acquire():
    clock = FakeClock()
    lim = RequestLimiter(5, clock=clock)
    assert lim.try_acquire()
    assert not lim.try_acquire()
    clock.t = 5.0
    assert lim.try_acquire()


# ---------------------------------------------------------------------------
# JSONCompactEachRow encoding (http_log.rs:71-86)
# ---------------------------------------------------------------------------


def test_compact_json_row_truncates_timestamp_to_seconds():
    import pandas as pd

    row = {
        "timestamp": pd.Timestamp("2024-01-01 00:00:07.999", tz="UTC"),
        "resource_id": 1,
        "bytes_sent": 2,
        "request_time_milli": 3,
        "response_status": 200,
        "cache_status": "HIT",
        "method": "GET",
        "remote_addr": "1.2.3.x",
        "url": "/r/1",
    }
    out = json.loads(encode_compact_json_row(row))
    # epoch of 2024-01-01T00:00:07Z — millis truncated (http_log.rs:75)
    assert out == [1704067207, 1, 2, 3, 200, "HIT", "GET", "1.2.3.x", "/r/1"]


def test_partition_insert_posts_one_block_per_partition():
    """The executor-side insert must send this partition's rows as ONE
    JSONCompactEachRow block (order preserved), record a token-bucket
    request, and emit a 1-row stats frame; an empty partition must not
    POST at all."""
    import pandas as pd

    from http_log_anonymizer_spark.sinks.clickhouse import partition_insert_fn

    posted = []

    def fake_post(url, user, query, body):
        posted.append((url, user, query, body))

    fn = partition_insert_fn(
        "http://ch:8123", "default", "INSERT INTO t FORMAT JSONCompactEachRow",
        interval_s=0.0, post=fake_post,
    )
    pdf = pd.DataFrame(
        [
            {
                "timestamp": pd.Timestamp("2024-01-01 00:00:07", tz="UTC"),
                "resource_id": i, "bytes_sent": 2, "request_time_milli": 3,
                "response_status": 200, "cache_status": "HIT", "method": "GET",
                "remote_addr": "1.2.3.x", "url": "/r/1",
            }
            for i in range(3)
        ]
    )
    stats = list(fn(iter([pdf.iloc[:2], pdf.iloc[2:]])))
    assert len(posted) == 1  # one block per partition, not per Arrow batch
    body_rows = [json.loads(line) for line in posted[0][3].splitlines()]
    assert [r[1] for r in body_rows] == [0, 1, 2]  # order preserved
    assert stats[0].iloc[0].to_dict() == {"rows_inserted": 3, "requests": 1}

    empty_stats = list(fn(iter([])))
    assert len(posted) == 1  # no POST for an empty partition
    assert empty_stats[0].iloc[0].to_dict() == {"rows_inserted": 0, "requests": 0}


def test_partition_insert_paces_at_the_current_batch_interval():
    """A reused Python worker keeps its endpoint's last-request time
    across batches, but each batch's interval is scaled by THAT batch's
    partition count: a wider batch after a narrower one must wait its
    own, longer interval — not the first batch's."""
    import time
    import uuid

    import pandas as pd

    from http_log_anonymizer_spark.sinks.clickhouse import partition_insert_fn

    url = f"http://ch-pacing-{uuid.uuid4().hex}:8123"
    sent = []

    def fake_post(url, user, query, body):
        sent.append(time.monotonic())

    pdf = pd.DataFrame(
        [
            {
                "timestamp": pd.Timestamp("2024-01-01 00:00:07", tz="UTC"),
                "resource_id": 1, "bytes_sent": 2, "request_time_milli": 3,
                "response_status": 200, "cache_status": "HIT", "method": "GET",
                "remote_addr": "1.2.3.x", "url": "/r/1",
            }
        ]
    )
    for interval in (0.001, 0.5):
        fn = partition_insert_fn(url, "default", "INSERT", interval, post=fake_post)
        list(fn(iter([pdf])))
    assert len(sent) == 2
    assert sent[1] - sent[0] >= 0.5


# ---------------------------------------------------------------------------
# End-to-end streaming pipeline over a file source
# ---------------------------------------------------------------------------


def _http_log_json(i: int, addr: str = "1.2.3.4") -> str:
    return json.dumps(
        {
            "timestamp": f"2024-01-01 00:00:{i % 60:02d}",
            "resource_id": i % 5,
            "bytes_sent": 100 + i,
            "request_time_milli": i,
            "response_status": 200,
            "cache_status": "HIT",
            "method": "GET",
            "remote_addr": addr,
            "url": f"/r/{i % 5}",
        }
    )


def _run_pipeline(spark, src_dir, out_dir, ckpt, dedup=False):
    source = spark.readStream.format("text").load(src_dir)
    sink = ParquetSink(out_dir, dedup=dedup)
    spec = PipelineSpec(
        decoder=json_decoder(),
        transform=anonymize_transform,
        writer=sink.write,
    )
    q = build_streaming_query(
        source, spec, checkpoint_dir=ckpt, trigger={"availableNow": True}
    )
    q.awaitTermination(120)
    return q


def test_pipeline_end_to_end(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    lines = [_http_log_json(i) for i in range(20)] + ["this is not json", "{bad"]
    (src / "batch1.txt").write_text("\n".join(lines))

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _run_pipeline(spark, str(src), out, ckpt)

    got = spark.read.parquet(out)
    assert got.count() == 20  # 2 invalid records dropped (T3)
    addrs = {r[0] for r in got.select("remote_addr").distinct().collect()}
    assert addrs == {"1.2.3.x"}  # anonymized (T4/T5)
    assert "month" in got.columns  # monthly partitioning (A4)


def test_pipeline_dedup_exactly_once(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    # same record replayed 3x inside one batch — at-least-once duplicates
    lines = [_http_log_json(1) for _ in range(3)] + [_http_log_json(2)]
    (src / "replay.txt").write_text("\n".join(lines))

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _run_pipeline(spark, str(src), out, ckpt, dedup=True)

    got = spark.read.parquet(out)
    assert got.count() == 2  # collapsed on the ReplacingMergeTree sort key (F9)


def test_pipeline_checkpoint_no_reprocessing(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    (src / "a.txt").write_text("\n".join(_http_log_json(i) for i in range(10)))

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _run_pipeline(spark, str(src), out, ckpt)
    assert spark.read.parquet(out).count() == 10

    # restart with a new file: only the new data is processed (F8 —
    # resume from committed offsets; file1 not replayed)
    (src / "b.txt").write_text("\n".join(_http_log_json(100 + i) for i in range(5)))
    _run_pipeline(spark, str(src), out, ckpt)
    got = spark.read.parquet(out)
    assert got.count() == 15
    assert got.filter(F.col("bytes_sent") >= 200).count() == 5
