"""Streaming pipeline factory — the Spark re-expression of the
reference's generic ETL (anonymizer/src/source.rs:80-190: a pipeline
parameterized by decoder + transform + sink-encoder typeclasses,
instantiated once with HttpLog).

Reference hot path (source.rs:86-168) -> Spark mapping:

  decode (TryFrom<BorrowedMessage>)  -> decoder(df): raw -> typed rows,
                                        unparsable rows dropped + counted
                                        via observe() (T3 dead-letter)
  anonymize (Anonymize trait)        -> transform(df): column expression
  sink.output + offset commit        -> foreachBatch writer + checkpoint
                                        (commit follows durable write,
                                        sink.rs:337-349 / F5/F8)
  block size cap (F1)                -> maxOffsetsPerTrigger
  rate pacing (F4, limiter.rs)       -> trigger(processingTime=rate)

Delivery contract: checkpointed foreachBatch gives at-least-once into
the sink; a deduplicating writer (``ParquetSink(dedup=True)``) upgrades
the materialized table to exactly-once semantics (the
ReplacingMergeTree argument, lib.rs:99-125).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from http_log_anonymizer_spark.schema import HTTP_LOG_SCHEMA

REJECTED_METRIC = "decode"  # observation name carrying the rejected count


def json_decoder(schema: StructType = HTTP_LOG_SCHEMA) -> Callable[[DataFrame], DataFrame]:
    """Decoder for JSON-encoded payloads in a ``value: string`` column.

    The test-harness stand-in for the capnp decoder (SURVEY §7 hard
    part 1: keep a JSON input path so correctness doesn't depend on
    capnp plumbing). Unparsable payloads decode to NULL and are dropped
    after being counted — the reference's reject-and-continue semantics
    (source.rs:109-123, rationale lib.rs:127-140).
    """

    # PERMISSIVE from_json yields an all-null struct (not NULL) for
    # malformed payloads; a record is valid iff its required fields
    # decoded (all columns are NOT NULL in the reference schema,
    # http_log.rs:95-103).
    required = [schema.fields[0].name, schema.fields[-1].name]

    def decode(df: DataFrame) -> DataFrame:
        parsed = df.withColumn("r", F.from_json(F.col("value").cast("string"), schema))
        valid = F.col("r").isNotNull()
        for name in required:
            valid = valid & F.col(f"r.{name}").isNotNull()
        parsed = parsed.withColumn("_valid", valid)
        observed = parsed.observe(
            REJECTED_METRIC,
            F.count(F.when(~F.col("_valid"), 1)).alias("rejected"),
            F.count(F.lit(1)).alias("received"),
        )
        return observed.filter(F.col("_valid")).select("r.*")

    return decode


@dataclass
class PipelineSpec:
    """decoder + transform + sink writer (the three typeclasses of the
    reference: TryFrom<BorrowedMessage> / Anonymize / SinkRow)."""

    decoder: Callable[[DataFrame], DataFrame]
    transform: Callable[[DataFrame], DataFrame]
    writer: Callable[[DataFrame, int], None]


def build_streaming_query(
    source: DataFrame,
    spec: PipelineSpec,
    checkpoint_dir: str,
    trigger: dict | None = None,
    query_name: str = "http-log-pipeline",
) -> StreamingQuery:
    """Assemble and start the streaming query.

    ``trigger``: e.g. ``{"processingTime": "65 seconds"}`` for the
    reference's rate pacing (CH__RATE_LIMIT), or
    ``{"availableNow": True}`` for drain-and-stop test runs.
    """
    rows = spec.transform(spec.decoder(source))
    writer = (
        rows.writeStream.queryName(query_name)
        .foreachBatch(spec.writer)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def anonymize_transform(df: DataFrame) -> DataFrame:
    """The reference's only row transform (T5): anonymize remote_addr,
    keep everything else (http_log.rs:31-37)."""
    from http_log_anonymizer_spark.functions import anonymize_ip

    return df.withColumn("remote_addr", anonymize_ip("remote_addr"))
