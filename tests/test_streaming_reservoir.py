"""Streaming reservoir sample (streaming/reservoir.py): the persisted
sample after any prefix of the stream must be BIT-IDENTICAL to the
batch reservoir operator applied to the union of all rows seen so far —
across micro-batches, duplicate re-arrivals, a checkpoint restart, and
a torn epoch write."""

from __future__ import annotations

import json
import shutil

from pyspark.sql import functions as F

from http_log_anonymizer_spark.functions.text import hash64
from http_log_anonymizer_spark.operators.reservoir import reservoir_per_group
from http_log_anonymizer_spark.streaming.reservoir import StreamingReservoirSink


def _rows(lo: int, hi: int) -> list[dict]:
    return [{"doc_id": i, "lang": ["en", "de", "fr"][i % 3]} for i in range(lo, hi)]


def _write(path, rows) -> None:
    path.write_text("\n".join(json.dumps(r) for r in rows))


def _drain(spark, src, sink, ckpt) -> None:
    rows = (
        spark.readStream.schema("doc_id long, lang string")
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    q = (
        rows.writeStream.foreachBatch(sink.write)
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)


def _batch_expected(spark, rows, k):
    df = spark.createDataFrame(rows, "doc_id long, lang string").select(
        "doc_id", "lang", hash64(F.col("doc_id").cast("string"), "res").alias("pri")
    )
    got = reservoir_per_group(
        df, group_cols=["lang"], k=k, priority_col="pri", tiebreak_cols=["doc_id"]
    )
    return {(r.lang, r.doc_id, r.rnk) for r in got.collect()}


def _state(spark, sink):
    cur = sink.current(spark)
    return {(r.lang, r.doc_id, r.rnk) for r in cur.collect()}


def test_streaming_reservoir_matches_batch_across_restarts(spark, tmp_path):
    src, base, ckpt = tmp_path / "src", tmp_path / "state", tmp_path / "ck"
    src.mkdir()
    sink = StreamingReservoirSink(str(base), k=5, key_col="doc_id", group_cols=("lang",))

    # three arrivals, each drained by a FRESH query on the same
    # checkpoint (= restart between every batch); batch 1 replays rows
    # 40..60 (at-least-once upstream) which must not perturb the sample
    _write(src / "b0.txt", _rows(0, 60))
    _drain(spark, src, sink, ckpt)
    assert _state(spark, sink) == _batch_expected(spark, _rows(0, 60), k=5)

    _write(src / "b1.txt", _rows(40, 120))
    _drain(spark, src, sink, ckpt)
    assert _state(spark, sink) == _batch_expected(spark, _rows(0, 120), k=5)

    _write(src / "b2.txt", _rows(120, 200))
    _drain(spark, src, sink, ckpt)
    assert _state(spark, sink) == _batch_expected(spark, _rows(0, 200), k=5)

    # uniformity sanity: hash-priority order is unrelated to arrival
    # order, so the final sample must not be simply the first/last k ids
    ids = sorted(i for (_, i, _) in _state(spark, sink))
    assert ids != list(range(15)) and ids != list(range(185, 200))


def _bdf(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, lang string")


def test_torn_epoch_write_is_repaired_by_replay(spark, tmp_path):
    base = tmp_path / "state"
    sink = StreamingReservoirSink(str(base), k=3, group_cols=("lang",))
    sink.write(_bdf(spark, _rows(0, 30)), 0)
    sink.write(_bdf(spark, _rows(30, 60)), 1)
    clean = _state(spark, sink)

    # tear batch 1's epoch (no _SUCCESS -> uncommitted garbage), then
    # checkpoint-replay it: state must reconstruct exactly
    (base / "_batch=b1" / "_SUCCESS").unlink()
    sink.write(_bdf(spark, _rows(30, 60)), 1)
    assert _state(spark, sink) == clean

    # a torn epoch must also never be READ as state by a later batch
    shutil.rmtree(base / "_batch=b1")
    (base / "_batch=b1").mkdir()
    (base / "_batch=b1" / "part-garbage.parquet").write_bytes(b"junk")
    sink.write(_bdf(spark, _rows(60, 90)), 2)
    assert _state(spark, sink) == _batch_expected(
        spark, _rows(0, 30) + _rows(60, 90), k=3
    )


def test_empty_batch_and_bounded_state_dirs(spark, tmp_path):
    from http_log_anonymizer_spark.streaming.epoch_state import _subdirs

    base = tmp_path / "state"
    sink = StreamingReservoirSink(str(base), k=4, group_cols=())
    for b in range(12):
        sink.write(_bdf(spark, _rows(b * 10, b * 10 + 10)), b)
    sink.write(_bdf(spark, []), 12)  # empty: no-op, state intact

    cur = sink.current(spark)
    assert cur.count() == 4
    # epochs are garbage-collected: newest committed + at most the
    # in-flight leftover survive
    assert len(_subdirs(str(base))) <= 2
    # global (ungrouped) sample equals the batch operator's
    df = _bdf(spark, _rows(0, 120)).select(
        "*", hash64(F.col("doc_id").cast("string"), "res").alias("pri")
    )
    expect = {
        r.doc_id
        for r in reservoir_per_group(
            df, group_cols=[], k=4, priority_col="pri", tiebreak_cols=["doc_id"]
        ).collect()
    }
    assert {r.doc_id for r in cur.collect()} == expect
