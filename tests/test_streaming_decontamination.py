"""Streaming decontamination monitor: fed the training split in
micro-batches its flagged table must EQUAL batch decontaminate_docs
row for row; redeliveries and batch boundaries must not change it; a
screened feed that admits benchmark text must page through a real
availableNow stream."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from http_log_anonymizer_spark.plans import REGISTRY
from http_log_anonymizer_spark.sources.batch import load_table
from http_log_anonymizer_spark.streaming.decontamination import (
    StreamingDecontaminationMonitor,
)

_BENCH = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
_CLEAN = "one two three four five six seven eight nine ten eleven twelve"


def _write_corpus(spark, tmp_path):
    """documents table where ids % 20 == 0 are the benchmark: id 0 and
    20 carry benchmark text; id 1 is a near-copy of the benchmark
    (contaminated), ids 2-3 are clean."""
    rows = [
        (0, _BENCH),
        (20, "mu nu xi omicron pi rho sigma tau upsilon phi"),
        (1, _BENCH + " extra tail"),
        (2, _CLEAN),
        (3, _CLEAN + " thirteen"),
    ]
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))


def _train(spark, tmp_path):
    return load_table(spark, str(tmp_path), "documents").filter(
        F.col("doc_id") % 20 != 0
    )


def test_stream_fold_equals_batch_query(spark, tmp_path):
    _write_corpus(spark, tmp_path)
    d = _train(spark, tmp_path).persist()
    mon = StreamingDecontaminationMonitor(
        str(tmp_path / "state"), str(tmp_path)
    )
    for b in range(3):
        mon.write(d.filter(F.col("doc_id") % 3 == b), b)
    d.unpersist()
    got = [tuple(r) for r in mon.report(spark).collect()]
    want = [
        tuple(r)
        for r in REGISTRY["decontaminate_docs"]
        .spark_fn(spark, str(tmp_path))
        .collect()
    ]
    assert got == want
    assert len(got) == 1 and got[0][0] == 1  # doc 1 is the contaminated one


def test_redelivery_and_boundaries_do_not_change_the_table(spark, tmp_path):
    _write_corpus(spark, tmp_path)
    d = _train(spark, tmp_path).persist()
    one = StreamingDecontaminationMonitor(str(tmp_path / "one"), str(tmp_path))
    one.write(d, 0)
    many = StreamingDecontaminationMonitor(
        str(tmp_path / "many"), str(tmp_path)
    )
    first = d.filter(F.col("doc_id") <= 1)
    # doc 1 delivered twice inside one batch
    many.write(first.unionByName(first.filter(F.col("doc_id") == 1)), 0)
    many.write(d, 1)  # full redelivery: doc 1 already in state
    many.write(d.filter(F.lit(False)), 2)  # empty slice
    assert [tuple(r) for r in one.report(spark).collect()] == [
        tuple(r) for r in many.report(spark).collect()
    ]
    d.unpersist()


def test_contaminated_feed_alarms_through_real_stream(spark, tmp_path):
    _write_corpus(spark, tmp_path)
    src = tmp_path / "src"
    src.mkdir()
    (src / "f0.json").write_text(
        "\n".join(
            json.dumps({"doc_id": 100 + i, "text": _CLEAN}) for i in range(4)
        )
    )
    (src / "f1.json").write_text(
        json.dumps({"doc_id": 200, "text": _BENCH})  # leaked eval text
    )
    mon = StreamingDecontaminationMonitor(
        str(tmp_path / "state"), str(tmp_path)
    )
    assert mon.report(spark) is None
    assert mon.alarms(spark) == []
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    q = (
        stream.writeStream.foreachBatch(mon.write)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert mon.alarms(spark) == ["benchmark_contamination:1"]
    row = mon.report(spark).collect()[0]
    assert row.doc_id == 200 and row.overlap == 1.0
