"""Cap'n Proto decoder (S3) — wire schema http_log.capnp:3-13.

The reference decodes zero-copy in Rust (http_log.rs:39-69,
read_message_from_flat_slice_no_alloc at http_log.rs:45). In Spark the
decode must cross into Python, so it is Arrow-batched via mapInPandas
to amortize per-row overhead (SURVEY §7 hard part 1: per-row decode is
slow; batch it).

The decoder is the pure-Python wire-format codec in capnp_codec.py,
which implements the public Cap'n Proto encoding for this message
shape.

Invalid payloads decode to nothing and are dropped — the reference's
reject-and-continue semantics (source.rs:109-123).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from http_log_anonymizer_spark.schema import HTTP_LOG_SCHEMA
from http_log_anonymizer_spark.sources.capnp_codec import decode_http_log_record

_COLUMNS = [f.name for f in HTTP_LOG_SCHEMA.fields]


def decode_capnp_stream(df: DataFrame, value_col: str = "value") -> DataFrame:
    """Decode a binary column of Cap'n Proto HttpLogRecord messages into
    HTTP_LOG_SCHEMA rows (T1+T2: projection + epoch-millis -> timestamp,
    http_log.rs:49-67). Works on batch and streaming DataFrames."""

    # received counter (telemetry.rs messages_total{status=received});
    # rejected is received - sink rows for this decoder since invalid
    # payloads are dropped inside the Arrow batch.
    df = df.observe("decode", F.count(F.lit(1)).alias("received"))

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for payload in pdf[value_col]:
                rec = decode_http_log_record(bytes(payload)) if payload is not None else None
                if rec is None:
                    continue  # reject record, keep stream alive (T3)
                rows.append(
                    (
                        pd.Timestamp(rec["timestamp_epoch_milli"], unit="ms"),
                        rec["resource_id"],
                        rec["bytes_sent"],
                        rec["request_time_milli"],
                        rec["response_status"],
                        rec["cache_status"],
                        rec["method"],
                        rec["remote_addr"],
                        rec["url"],
                    )
                )
            yield pd.DataFrame(rows, columns=_COLUMNS)

    return df.mapInPandas(decode_batches, HTTP_LOG_SCHEMA)


__all__ = ["decode_capnp_stream"]
