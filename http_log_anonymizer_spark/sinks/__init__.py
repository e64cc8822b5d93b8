from http_log_anonymizer_spark.sinks.parquet import ParquetSink
from http_log_anonymizer_spark.sinks.clickhouse import ClickHouseSink

__all__ = ["ParquetSink", "ClickHouseSink"]
