"""Schemas for the http_log row and schema->DDL generation.

Three layers in the reference (SURVEY.md §1.2): wire (http_log.capnp:3-13),
in-memory (anonymizer/src/http_log.rs:17-29) and ClickHouse storage DDL
(anonymizer/src/http_log.rs:91-111). Here the single source of truth is a
Spark ``StructType``; the DDL generator mirrors the ``SinkRow`` trait's
``table_ddl`` / ``insert_ddl`` (anonymizer/src/sink.rs:64-72).
"""

from __future__ import annotations

from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# In-flight row schema (anonymizer/src/http_log.rs:17-29).  Spark has no
# unsigned types: u64 -> LongType (values are epoch millis / byte counts,
# far below 2^63), u16 response_status -> IntegerType (ShortType would be
# unsafe for hypothetical values >= 32768).
HTTP_LOG_SCHEMA = StructType(
    [
        StructField("timestamp", TimestampType(), nullable=False),
        StructField("resource_id", LongType(), nullable=False),
        StructField("bytes_sent", LongType(), nullable=False),
        StructField("request_time_milli", LongType(), nullable=False),
        StructField("response_status", IntegerType(), nullable=False),
        StructField("cache_status", StringType(), nullable=False),
        StructField("method", StringType(), nullable=False),
        StructField("remote_addr", StringType(), nullable=False),
        StructField("url", StringType(), nullable=False),
    ]
)

# ClickHouse dedup/sort key (anonymizer/src/http_log.rs:107); also the key
# for ReplacingMergeTree eventual dedup (lib.rs:99-125).
SORT_KEY = ["resource_id", "response_status", "remote_addr", "timestamp"]

# Monthly partitioning expression analog of toYYYYMM(timestamp)
# (anonymizer/src/http_log.rs:106).
PARTITION_FORMAT = "yyyyMM"

_CH_TYPES = {
    "timestamp": "DateTime",
    "resource_id": "UInt64",
    "bytes_sent": "UInt64",
    "request_time_milli": "UInt64",
    "response_status": "UInt16",
    "cache_status": "LowCardinality(String)",
    "method": "LowCardinality(String)",
    "remote_addr": "String",
    "url": "String",
}


def clickhouse_table_ddl(table: str = "http_log") -> str:
    """CREATE TABLE DDL equivalent to anonymizer/src/http_log.rs:91-111."""
    cols = ",\n  ".join(f"{name} {_CH_TYPES[name]} NOT NULL" for name in _CH_TYPES)
    return (
        f"CREATE TABLE IF NOT EXISTS {table} (\n  {cols}\n)\n"
        "ENGINE = ReplacingMergeTree\n"
        "PARTITION BY toYYYYMM(timestamp)\n"
        f"ORDER BY ({', '.join(SORT_KEY)})"
    )


def clickhouse_insert_ddl(table: str = "http_log") -> str:
    """INSERT header for JSONCompactEachRow (anonymizer/src/sink.rs:318)."""
    return f"INSERT INTO {table} ({', '.join(_CH_TYPES)})"
