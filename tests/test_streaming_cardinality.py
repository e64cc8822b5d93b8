"""Streaming HLL cardinality (streaming/cardinality.py): the persisted
register table must be BIT-EQUAL to the batch construction over
everything streamed so far, be insensitive to duplicate delivery and
replays, survive torn epochs, and estimate within the HLL error bound."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from http_log_anonymizer_spark.streaming.cardinality import StreamingCardinalitySink


def _bdf(spark, keys):
    return spark.createDataFrame([(k,) for k in keys], "user_id bigint")


def _batch_registers(spark, keys, b=6, seed="hll"):
    """The batch-side register construction (plans/analytics.py
    hll_user_cardinality math) over the full key list."""
    from http_log_anonymizer_spark.functions.text import hash64

    m = 1 << b
    df = _bdf(spark, keys).select(
        hash64(F.col("user_id").cast("string"), seed).alias("h")
    )
    parts = df.select(
        F.col("h").bitwiseAND(m - 1).alias("bucket"),
        F.shiftright("h", b).alias("v"),
    )
    low = F.col("v").bitwiseAND(-F.col("v"))
    # all-zero suffix saturates at (60-b)+1 — 55 for the batch query's b=6
    rank = F.when(F.col("v") == 0, F.lit(61 - b)).otherwise(
        F.bit_count(low.bitwiseXOR(low - 1))
    )
    return {
        r.bucket: r.m_j
        for r in parts.select("bucket", rank.alias("r"))
        .groupBy("bucket")
        .agg(F.max("r").alias("m_j"))
        .collect()
    }


def _state(spark, sink):
    return {r.bucket: r.m_j for r in sink.current(spark).collect()}


def test_register_parity_and_estimate(spark, tmp_path):
    rng = random.Random(7)
    sink = StreamingCardinalitySink(str(tmp_path / "state"), b=6)
    batches = [[rng.randrange(100_000) for _ in range(700)] for _ in range(5)]
    for i, b in enumerate(batches):
        sink.write(_bdf(spark, b), i)

    everything = [k for b in batches for k in b]
    # bit-parity: streaming fold == batch construction over the union
    assert _state(spark, sink) == _batch_registers(spark, everything)

    exact = len(set(everything))
    est = sink.estimate(spark)
    # 3 sigma at m=64 is ~40% relative error
    assert abs(est - exact) <= 0.4 * exact


def test_duplicate_delivery_and_replay_are_noops(spark, tmp_path):
    rng = random.Random(13)
    sink = StreamingCardinalitySink(str(tmp_path / "state"), b=6)
    b0 = [rng.randrange(5_000) for _ in range(400)]
    b1 = [rng.randrange(5_000) for _ in range(400)]
    sink.write(_bdf(spark, b0), 0)
    sink.write(_bdf(spark, b1), 1)
    clean = _state(spark, sink)

    # replaying batch 1 (same id) reconstructs identical state
    sink.write(_bdf(spark, b1), 1)
    assert _state(spark, sink) == clean

    # the SAME ROWS arriving again under a NEW batch id (at-least-once
    # upstream duplication) is also a no-op — max-merge idempotence
    sink.write(_bdf(spark, b1), 2)
    assert _state(spark, sink) == clean

    # distinct count over the union is what the registers encode
    assert _state(spark, sink) == _batch_registers(spark, b0 + b1)


def test_torn_epoch_and_gc(spark, tmp_path):
    rng = random.Random(29)
    base = tmp_path / "state"
    sink = StreamingCardinalitySink(str(base), b=6)
    b0 = [rng.randrange(2_000) for _ in range(300)]
    b1 = [rng.randrange(2_000) for _ in range(300)]
    sink.write(_bdf(spark, b0), 0)
    sink.write(_bdf(spark, b1), 1)
    clean = _state(spark, sink)

    # torn epoch 1 (no _SUCCESS): replay reconstructs identically
    (base / "_batch=b1" / "_SUCCESS").unlink()
    sink.write(_bdf(spark, b1), 1)
    assert _state(spark, sink) == clean

    b2 = [rng.randrange(2_000) for _ in range(300)]
    sink.write(_bdf(spark, b2), 2)
    assert _state(spark, sink) == _batch_registers(spark, b0 + b1 + b2)

    # epochs are garbage-collected: newest committed + in-flight only
    from http_log_anonymizer_spark.streaming.epoch_state import _subdirs

    assert len(_subdirs(str(base))) <= 2


def test_non_default_register_bits_stay_in_lockstep(spark, tmp_path):
    # ADVICE r04: the all-zero-suffix rank must be 61-b, not a b=6
    # hardcode — with b=8 the streaming fold must still equal its own
    # batch construction (and the estimate must be sane).
    rng = random.Random(41)
    sink = StreamingCardinalitySink(str(tmp_path / "state"), b=8)
    batches = [[rng.randrange(50_000) for _ in range(600)] for _ in range(3)]
    for i, b in enumerate(batches):
        sink.write(_bdf(spark, b), i)
    everything = [k for b in batches for k in b]
    assert _state(spark, sink) == _batch_registers(spark, everything, b=8)
    exact = len(set(everything))
    assert abs(sink.estimate(spark) - exact) <= 0.25 * exact  # 3σ at m=256


def test_empty_batch_and_cold_estimate(spark, tmp_path):
    sink = StreamingCardinalitySink(str(tmp_path / "state"), b=6)
    assert sink.estimate(spark) == 0.0
    sink.write(_bdf(spark, []), 0)
    assert sink.current(spark) is None
    sink.write(_bdf(spark, [1, 2, 3]), 1)
    assert _state(spark, sink) == _batch_registers(spark, [1, 2, 3])
