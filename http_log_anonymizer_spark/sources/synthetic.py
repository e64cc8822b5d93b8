"""Synthetic http_log producer (S6) — Spark-native analog of the
reference's Java producer container (docker/http-log-kafka-producer,
docker-compose.yml:133-142: one capnp record every
KAFKA_PRODUCER_DELAY_MS).

Every field is derived from a row index — deterministic and fully
JVM-side, no Python row generation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _derive(value: F.Column) -> list[F.Column]:
    """Deterministic http_log fields from a monotonically increasing
    row index (mirrors the shape of FIXTURES.md §1: valid IPv4 with
    planted sort-key duplicates and a few non-IP/IPv6 values)."""
    ts = F.timestamp_seconds(F.lit(1704067200) + (value % 2592000))  # Jan 2024, 30 days
    return [
        ts.alias("timestamp"),
        (value % 50).alias("resource_id"),
        (value * 97 % 100000).alias("bytes_sent"),
        (value % 1000).alias("request_time_milli"),
        F.when(value % 17 == 0, 500)
        .when(value % 13 == 0, 404)
        .otherwise(200)
        .cast("int")
        .alias("response_status"),
        F.when(value % 3 == 0, "HIT").when(value % 3 == 1, "MISS").otherwise("EXPIRED").alias(
            "cache_status"
        ),
        F.when(value % 5 == 0, "POST").otherwise("GET").alias("method"),
        F.when(value % 101 == 0, F.lit("not-an-ip"))
        .when(value % 103 == 0, F.lit("2001:0db8:85a3:0000:0000:8a2e:0370:7334"))
        .otherwise(
            F.concat(
                F.lit("10."),
                (value % 256).cast("string"),
                F.lit("."),
                (value * 7 % 256).cast("string"),
                F.lit("."),
                (value * 13 % 256).cast("string"),
            )
        )
        .alias("remote_addr"),
        F.concat(F.lit("/r/"), (value % 50).cast("string")).alias("url"),
    ]


def synthetic_http_log_batch(spark: SparkSession, n_rows: int = 10_000) -> DataFrame:
    """Deterministic batch http_log table of ``n_rows`` rows."""
    return spark.range(n_rows).select(*_derive(F.col("id")))
