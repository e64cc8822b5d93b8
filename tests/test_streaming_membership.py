"""Streaming Bloom filter (streaming/membership.py): the persisted bit
set must be BIT-EQUAL to the batch construction over everything
streamed so far, never produce a false negative, stay idempotent under
replays and duplicate delivery, and survive torn epochs."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from http_log_anonymizer_spark.streaming.membership import StreamingBloomSink

M, K = 1024, 3


def _bdf(spark, keys):
    return spark.createDataFrame([(k,) for k in keys], "key bigint")


def _batch_bits(spark, keys):
    """The batch-side bit construction (plans/analytics.py
    bloom_membership_report math) over the full key list."""
    from http_log_anonymizer_spark.functions.text import hash64

    df = _bdf(spark, keys)
    out = None
    for j in range(K):
        bj = df.select(
            (hash64(F.col("key").cast("string"), f"bloom{j}") % M).alias("b")
        )
        out = bj if out is None else out.unionByName(bj)
    return {r.b for r in out.distinct().collect()}


def _state(spark, sink):
    return {r.b for r in sink.current(spark).collect()}


def test_bit_parity_and_no_false_negatives(spark, tmp_path):
    rng = random.Random(23)
    sink = StreamingBloomSink(str(tmp_path / "state"), m=M, k=K)
    batches = [[rng.randrange(50_000) for _ in range(300)] for _ in range(4)]
    for i, b in enumerate(batches):
        sink.write(_bdf(spark, b), i)

    everything = [k for b in batches for k in b]
    assert _state(spark, sink) == _batch_bits(spark, everything)

    # no false negatives: every inserted key probes positive
    inserted = list(set(everything))
    res = {
        r.key: r.positive
        for r in sink.probe(spark, _bdf(spark, inserted)).collect()
    }
    assert all(res[k] for k in inserted)


def test_replay_duplicate_delivery_and_torn_epoch(spark, tmp_path):
    rng = random.Random(31)
    base = tmp_path / "state"
    sink = StreamingBloomSink(str(base), m=M, k=K)
    b0 = [rng.randrange(3_000) for _ in range(200)]
    b1 = [rng.randrange(3_000) for _ in range(200)]
    sink.write(_bdf(spark, b0), 0)
    sink.write(_bdf(spark, b1), 1)
    clean = _state(spark, sink)

    sink.write(_bdf(spark, b1), 1)  # replay, same id
    assert _state(spark, sink) == clean
    sink.write(_bdf(spark, b1), 2)  # same rows, new id: OR-idempotent
    assert _state(spark, sink) == clean

    (base / "_batch=b2" / "_SUCCESS").unlink()  # torn epoch
    sink.write(_bdf(spark, b1), 2)
    assert _state(spark, sink) == clean

    from http_log_anonymizer_spark.streaming.epoch_state import _subdirs

    assert len(_subdirs(str(base))) <= 2


def test_cold_probe_and_fp_behavior(spark, tmp_path):
    sink = StreamingBloomSink(str(tmp_path / "state"), m=M, k=K)
    cold = sink.probe(spark, _bdf(spark, [1, 2, 3])).collect()
    assert all(not r.positive for r in cold)

    rng = random.Random(41)
    members = [rng.randrange(10_000) for _ in range(400)]
    sink.write(_bdf(spark, members), 0)
    # non-members: FP rate must stay far below 1 (fill-factor bound)
    non = [k for k in range(20_000, 21_000)]
    res = sink.probe(spark, _bdf(spark, non)).collect()
    fp = sum(1 for r in res if r.positive)
    # fill ~ 1-(1-1/M)^(K*400) ~ 0.69 -> fp_rate ~ 0.33; assert sane ceiling
    assert fp / len(non) < 0.6


def test_probe_returns_one_row_per_distinct_key_both_paths(spark, tmp_path):
    # ADVICE r04: cold and warm probes must agree on shape — one row
    # per DISTINCT key, input multiplicity ignored.
    sink = StreamingBloomSink(str(tmp_path / "state"), m=M, k=K)
    dup_keys = [1, 1, 2, 2, 2, 3]
    cold = sink.probe(spark, _bdf(spark, dup_keys)).collect()
    assert len(cold) == 3 and all(not r.positive for r in cold)

    sink.write(_bdf(spark, [1, 2]), 0)
    warm = sink.probe(spark, _bdf(spark, dup_keys)).collect()
    assert len(warm) == 3
