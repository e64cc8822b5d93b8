"""Streaming k-anonymity monitor (streaming/kanon.py): the persisted
class table must equal one batch groupBy over everything streamed so
far, k must track the smallest class, replays/torn epochs must not
double-count, and the histogram must match the batch query's shape."""

from __future__ import annotations

import collections
import random

from http_log_anonymizer_spark.streaming.kanon import StreamingKAnonymityMonitor

QI = ("ip", "url")


def _rows(rng, n):
    # anonymized-shaped QI: coarse ip prefixes x few urls
    return [
        (f"198.51.{rng.randrange(8)}.x", f"/r/{rng.randrange(5)}")
        for _ in range(n)
    ]


def _bdf(spark, rows):
    return spark.createDataFrame(rows, "ip string, url string")


def _state(spark, mon):
    return {(r.ip, r.url): r.sz for r in mon.classes(spark).collect()}


def test_class_parity_k_and_report(spark, tmp_path):
    rng = random.Random(7)
    mon = StreamingKAnonymityMonitor(str(tmp_path / "state"), QI)
    assert mon.k(spark) is None and mon.report(spark) is None

    batches = [_rows(rng, 200) for _ in range(4)]
    for i, b in enumerate(batches):
        mon.write(_bdf(spark, b), i)

    everything = [r for b in batches for r in b]
    exact = collections.Counter(everything)
    assert _state(spark, mon) == dict(exact)
    assert mon.k(spark) == min(exact.values())

    rep = {r.class_size_bucket: (r.n_classes, r.n_rows) for r in mon.report(spark).collect()}
    ref: dict[int, list[int]] = {}
    for sz in exact.values():
        b = min(sz, 10)
        n_c, n_r = ref.get(b, (0, 0))
        ref[b] = (n_c + 1, n_r + sz)
    assert rep == ref


def test_replay_and_torn_epoch_no_double_count(spark, tmp_path):
    rng = random.Random(19)
    base = tmp_path / "state"
    mon = StreamingKAnonymityMonitor(str(base), QI)
    b0, b1 = _rows(rng, 150), _rows(rng, 150)
    mon.write(_bdf(spark, b0), 0)
    mon.write(_bdf(spark, b1), 1)
    clean = _state(spark, mon)

    mon.write(_bdf(spark, b1), 1)  # replay: additive merge must not double
    assert _state(spark, mon) == clean

    (base / "_batch=b1" / "_SUCCESS").unlink()
    mon.write(_bdf(spark, b1), 1)
    assert _state(spark, mon) == clean

    b2 = _rows(rng, 150)
    mon.write(_bdf(spark, b2), 2)
    assert _state(spark, mon) == dict(collections.Counter(b0 + b1 + b2))

    from http_log_anonymizer_spark.streaming.epoch_state import _subdirs

    assert len(_subdirs(str(base))) <= 2


def test_k_regression_is_visible_within_one_batch(spark, tmp_path):
    """The monitor's purpose: a leaky new QI value drops k to 1
    immediately."""
    mon = StreamingKAnonymityMonitor(str(tmp_path / "state"), QI)
    mon.write(_bdf(spark, [("198.51.0.x", "/r/1")] * 50), 0)
    assert mon.k(spark) == 50
    # a single overly-specific row arrives (e.g. an unmasked path)
    mon.write(_bdf(spark, [("198.51.0.x", "/r/1?user=42")]), 1)
    assert mon.k(spark) == 1


def test_dedup_key_drops_intra_batch_duplicates(spark, tmp_path):
    # ADVICE r04: additive merge counts redelivered rows again. With a
    # stable row key, intra-batch duplicates are counted once; without
    # it, the same duplicated batch inflates class sizes.
    rows = [(f"198.51.{i % 2}.x", "/r/0", i % 3) for i in range(6)]
    dup = rows + rows  # every row delivered twice inside one batch
    bdf = spark.createDataFrame(dup, "ip string, url string, rid bigint")

    plain = StreamingKAnonymityMonitor(str(tmp_path / "plain"), QI)
    plain.write(bdf, 0)
    assert sum(_state(spark, plain).values()) == len(dup)  # inflated

    keyed = StreamingKAnonymityMonitor(
        str(tmp_path / "keyed"), QI, dedup_key="rid"
    )
    keyed.write(bdf, 0)
    assert sum(_state(spark, keyed).values()) == 3  # 3 distinct rids
