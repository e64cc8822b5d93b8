"""Streaming Count-Min sketch (streaming/frequency.py): the persisted
counter table must be BIT-EQUAL to the batch construction over
everything streamed so far, replays must not double-add (the epoch
protocol is the ONLY replay defense for an addition-merged sketch),
torn epochs must repair, and point estimates must keep the CMS
guarantees (never underestimate, 2N/width overestimate bound)."""

from __future__ import annotations

import random
from collections import Counter

from pyspark.sql import functions as F

from http_log_anonymizer_spark.streaming.frequency import StreamingCMSSink, _hash64_py


def _bdf(spark, keys):
    return spark.createDataFrame([(k,) for k in keys], "user_id bigint")


def _batch_counters(spark, keys, depth=4, width=64, seed_prefix="cms"):
    """Single-pass batch construction over the full key list (the
    cms_user_frequency math)."""
    from http_log_anonymizer_spark.functions.text import hash64

    key = F.col("user_id").cast("string")
    pairs = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(j).alias("j"),
                    (hash64(key, f"{seed_prefix}{j}") % width).alias("bucket"),
                )
                for j in range(depth)
            ]
        )
    )
    rows = (
        _bdf(spark, keys)
        .select(pairs.alias("p"))
        .select("p.j", "p.bucket")
        .groupBy("j", "bucket")
        .agg(F.count("*").alias("c"))
        .collect()
    )
    return {(r.j, r.bucket): r.c for r in rows}


def _state(spark, sink):
    return {(r.j, r.bucket): r.c for r in sink.current(spark).collect()}


def test_counter_parity_and_estimates(spark, tmp_path):
    rng = random.Random(7)
    sink = StreamingCMSSink(str(tmp_path / "state"))
    # zipf-ish stream: a few heavy keys + uniform tail
    batches = [
        [rng.choice([1, 1, 1, 2, 2, rng.randrange(1_000)]) for _ in range(500)]
        for _ in range(4)
    ]
    for i, b in enumerate(batches):
        sink.write(_bdf(spark, b), i)

    everything = [k for b in batches for k in b]
    assert _state(spark, sink) == _batch_counters(spark, everything)

    exact = Counter(everything)
    probe = [1, 2, 999_999]  # heavy, heavy, never-seen
    est = sink.estimate(spark, probe)
    n, w = len(everything), sink.width
    for k in probe:
        assert est[k] >= exact.get(k, 0)  # never underestimates
        assert est[k] - exact.get(k, 0) <= 2 * n / w  # the classic bound


def test_replay_does_not_double_add(spark, tmp_path):
    rng = random.Random(13)
    sink = StreamingCMSSink(str(tmp_path / "state"))
    b0 = [rng.randrange(500) for _ in range(300)]
    b1 = [rng.randrange(500) for _ in range(300)]
    sink.write(_bdf(spark, b0), 0)
    sink.write(_bdf(spark, b1), 1)
    clean = _state(spark, sink)

    # replaying batch 1 under the SAME id recomputes from the pre-batch
    # state — addition-merge would double-count without the epoch
    # protocol, so this is the load-bearing assertion of the file
    sink.write(_bdf(spark, b1), 1)
    assert _state(spark, sink) == clean

    # the same rows under a NEW id are two deliveries = two occurrences
    # (the documented at-least-once counting contract)
    sink.write(_bdf(spark, b1), 2)
    assert _state(spark, sink) == _batch_counters(spark, b0 + b1 + b1)


def test_torn_epoch_repair_and_gc(spark, tmp_path):
    rng = random.Random(29)
    base = tmp_path / "state"
    sink = StreamingCMSSink(str(base))
    b0 = [rng.randrange(200) for _ in range(200)]
    b1 = [rng.randrange(200) for _ in range(200)]
    sink.write(_bdf(spark, b0), 0)
    sink.write(_bdf(spark, b1), 1)
    clean = _state(spark, sink)

    (base / "_batch=b1" / "_SUCCESS").unlink()
    sink.write(_bdf(spark, b1), 1)
    assert _state(spark, sink) == clean

    b2 = [rng.randrange(200) for _ in range(200)]
    sink.write(_bdf(spark, b2), 2)
    assert _state(spark, sink) == _batch_counters(spark, b0 + b1 + b2)

    from http_log_anonymizer_spark.streaming.epoch_state import _subdirs

    assert len(_subdirs(str(base))) <= 2


def test_python_hash_twin_matches_engine(spark):
    from http_log_anonymizer_spark.functions.text import hash64

    df = spark.createDataFrame([(k,) for k in [0, 1, 42, 10**9]], "k bigint")
    rows = df.select(
        "k", hash64(F.col("k").cast("string"), "cms0").alias("h")
    ).collect()
    for r in rows:
        assert r.h == _hash64_py(str(r.k), "cms0")
