"""The container lacks pycapnp/Pillow/ClickHouse — the gated paths must
fail loudly and informatively, never crash at import time."""

from __future__ import annotations

import pytest


def test_capnp_decoder_works_without_pycapnp(spark):
    """The decoder needs no pycapnp: the pure-Python wire codec
    decodes the stream and rejects the malformed payload."""
    from http_log_anonymizer_spark.sources.capnp import decode_capnp_stream

    df = spark.createDataFrame([(b"\x00\x01",)], ["value"])
    assert decode_capnp_stream(df).count() == 0  # rejected, no crash


def test_real_media_decode_gated():
    from http_log_anonymizer_spark.functions.multimodal import _real_decode

    with pytest.raises(NotImplementedError, match="Pillow"):
        _real_decode(b"\x89PNG")


def test_clickhouse_ddl_bootstrap_retries_then_raises():
    from http_log_anonymizer_spark.config import ClickHouseConfig
    from http_log_anonymizer_spark.sinks.clickhouse import ClickHouseSink

    cfg = ClickHouseConfig(url="http://127.0.0.1:1")  # nothing listens
    sink = ClickHouseSink(cfg)
    with pytest.raises(RuntimeError, match="DDL bootstrap failed"):
        sink.ensure_table(tries=2, delay_s=0.01)


def test_kafka_source_requires_connector(spark):
    """Without spark-sql-kafka on the classpath the reader must raise a
    clear AnalysisException at load(), not silently misbehave."""
    from http_log_anonymizer_spark.sources.kafka import kafka_source

    with pytest.raises(Exception, match="[Kk]afka"):
        kafka_source(spark).printSchema()
