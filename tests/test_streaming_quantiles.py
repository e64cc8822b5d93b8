"""Streaming HDR histogram (streaming/quantiles.py): the persisted
bucket table must be BIT-EQUAL to bucketing everything streamed so far
in one batch, quantile readouts must respect the 2^-m relative-error
bound, and the epoch protocol must survive replays and torn writes."""

from __future__ import annotations

import math
import random

from pyspark.sql import functions as F

from http_log_anonymizer_spark.streaming.quantiles import StreamingHdrHistogramSink


def _bdf(spark, vals):
    return spark.createDataFrame([(v,) for v in vals], "v bigint")


def _ref_bucket(v: int, m: int) -> int:
    if v < (1 << m):
        return v
    s = int(math.floor(math.log2(v))) - m
    return (v >> s) << s


def _ref_hist(vals, m):
    h: dict[int, int] = {}
    for v in vals:
        b = _ref_bucket(v, m)
        h[b] = h.get(b, 0) + 1
    return h


def _state(spark, sink):
    return {r.lb: r.cnt for r in sink.current(spark).collect()}


def test_histogram_parity_and_quantile_bound(spark, tmp_path):
    rng = random.Random(3)
    m = 3
    sink = StreamingHdrHistogramSink(str(tmp_path / "state"), m=m)
    batches = [
        [rng.randrange(0, 100_000) for _ in range(500)] for _ in range(5)
    ]
    for i, b in enumerate(batches):
        sink.write(_bdf(spark, b), i)

    everything = [v for b in batches for v in b]
    assert _state(spark, sink) == _ref_hist(everything, m)

    qs = (0.5, 0.9, 0.99)
    est = sink.quantiles(spark, qs)
    srt = sorted(everything)
    for q in qs:
        exact = srt[max(1, math.ceil(q * len(srt))) - 1]
        assert est[q] <= exact
        # relative error bound: est is the lower bound of exact's bucket
        assert 8 * (exact - est[q]) <= exact + 8, (q, est[q], exact)


def test_replay_and_torn_epoch(spark, tmp_path):
    rng = random.Random(17)
    base = tmp_path / "state"
    sink = StreamingHdrHistogramSink(str(base), m=3)
    b0 = [rng.randrange(0, 5_000) for _ in range(300)]
    b1 = [rng.randrange(0, 5_000) for _ in range(300)]
    sink.write(_bdf(spark, b0), 0)
    sink.write(_bdf(spark, b1), 1)
    clean = _state(spark, sink)

    # replaying batch 1 recomputes from the pre-batch epoch: no
    # double-count despite addition-merge
    sink.write(_bdf(spark, b1), 1)
    assert _state(spark, sink) == clean

    # torn epoch
    (base / "_batch=b1" / "_SUCCESS").unlink()
    sink.write(_bdf(spark, b1), 1)
    assert _state(spark, sink) == clean

    b2 = [rng.randrange(0, 5_000) for _ in range(300)]
    sink.write(_bdf(spark, b2), 2)
    assert _state(spark, sink) == _ref_hist(b0 + b1 + b2, 3)

    from http_log_anonymizer_spark.streaming.epoch_state import _subdirs

    assert len(_subdirs(str(base))) <= 2


def test_batch_query_bucket_lockstep(spark):
    """The sink's bucket function must equal the batch query's for the
    shared m — a drift here would silently break the bit-parity
    contract."""
    from http_log_anonymizer_spark.plans.analytics import _HDR_M, _hdr_bucket_spark

    vals = [0, 1, 7, 8, 9, 15, 16, 100, 999, 12345, 2**20 + 7]
    df = _bdf(spark, vals)
    a = df.select(_hdr_bucket_spark("v").alias("b")).collect()
    sink = StreamingHdrHistogramSink("/tmp/unused-lockstep", m=_HDR_M)
    b = df.select(sink._bucket().alias("b")).collect()
    assert [r.b for r in a] == [r.b for r in b]
    assert [r.b for r in a] == [_ref_bucket(v, _HDR_M) for v in vals]
