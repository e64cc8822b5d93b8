"""Streaming Misra-Gries heavy hitters (streaming/frequent.py): the
persisted counter summary must satisfy the MG guarantees over
everything streamed so far, survive checkpoint restarts and torn epoch
writes, and replay the deterministic fold exactly."""

from __future__ import annotations

import collections
import json
import random

from http_log_anonymizer_spark.streaming.frequent import StreamingFrequentItemsSink


def _zipf_items(rng: random.Random, n: int) -> list[str]:
    # skewed stream: heavy hitters h0..h4 plus a long random tail
    out = []
    for _ in range(n):
        r = rng.random()
        if r < 0.45:
            out.append(f"h{rng.randrange(5)}")
        else:
            out.append(f"t{rng.randrange(500)}")
    return out


def _bdf(spark, items):
    return spark.createDataFrame([(i,) for i in items], "item string")


def _reference_fold(batches: list[list[str]], m: int) -> dict[str, int]:
    """The same deterministic fold, in plain Python."""
    state: dict[str, int] = {}
    for batch in batches:
        for item, c in collections.Counter(batch).items():
            state[item] = state.get(item, 0) + c
        if len(state) > m:
            ordered = sorted(state.items(), key=lambda kv: (-kv[1], kv[0]))
            t = ordered[m][1]
            state = {k: v - t for k, v in ordered if v - t > 0}
    return state


def _state(spark, sink) -> dict[str, int]:
    cur = sink.current(spark)
    return {r.item: r.cnt for r in cur.collect()}


def test_mg_guarantees_and_reference_parity(spark, tmp_path):
    rng = random.Random(5)
    m = 20
    sink = StreamingFrequentItemsSink(str(tmp_path / "state"), m=m)
    batches = [_zipf_items(rng, 400) for _ in range(6)]
    for b, items in enumerate(batches):
        sink.write(_bdf(spark, items), b)

    got = _state(spark, sink)
    # deterministic fold parity with the plain-Python reference
    assert got == _reference_fold(batches, m)

    all_items = [i for b in batches for i in b]
    exact = collections.Counter(all_items)
    n = len(all_items)
    assert len(got) <= m
    for item, est in got.items():
        assert est <= exact[item]  # underestimates only
        assert exact[item] - est <= n // (m + 1) + 1  # MG error bound
    # completeness: every true heavy hitter is present
    for item, c in exact.items():
        if c > n / (m + 1):
            assert item in got, (item, c)


def test_restart_and_torn_epoch(spark, tmp_path):
    import shutil

    rng = random.Random(11)
    m = 10
    base = tmp_path / "state"
    sink = StreamingFrequentItemsSink(str(base), m=m)
    b0, b1 = _zipf_items(rng, 300), _zipf_items(rng, 300)
    sink.write(_bdf(spark, b0), 0)
    sink.write(_bdf(spark, b1), 1)
    clean = _state(spark, sink)
    assert clean == _reference_fold([b0, b1], m)

    # torn epoch 1 (no _SUCCESS): replay must reconstruct identically
    (base / "_batch=b1" / "_SUCCESS").unlink()
    sink.write(_bdf(spark, b1), 1)
    assert _state(spark, sink) == clean

    # a later batch after the repair continues the fold
    b2 = _zipf_items(rng, 300)
    sink.write(_bdf(spark, b2), 2)
    assert _state(spark, sink) == _reference_fold([b0, b1, b2], m)

    # epochs are garbage-collected
    from http_log_anonymizer_spark.streaming.epoch_state import _subdirs

    assert len(_subdirs(str(base))) <= 2

    # empty batch: no-op
    sink.write(_bdf(spark, []), 3)
    assert _state(spark, sink) == _reference_fold([b0, b1, b2], m)
