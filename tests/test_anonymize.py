"""Golden-vector tests for anonymize_ip, verbatim from the reference's
parametrized rstest (anonymizer/src/lib.rs:273-288) plus edge cases."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from http_log_anonymizer_spark.functions import (
    anonymize_ip,
    anonymize_ip_fast,
    anonymize_ip_py,
)

GOLDEN = [
    # (input, expected) — lib.rs:278-284
    ("1.2.3.4", "1.2.3.x"),
    ("2001:0db8:85a3:0000:0000:8a2e:0370:7334", "2001:db8:85a3::8a2e:370:7334:xxxx"),
    ("a.b.c.d", "a.b.c.d"),
]

EDGE = [
    ("0.0.0.0", "0.0.0.x"),
    ("255.255.255.255", "255.255.255.x"),
    ("256.1.1.1", "256.1.1.1"),  # octet out of range -> not an IP -> pass through
    ("01.2.3.4", "01.2.3.4"),  # leading zero -> rejected by parser -> pass through
    ("1.2.3", "1.2.3"),
    ("", ""),
    ("::1", "::1:xxxx"),
    ("fe80::", "fe80:::xxxx"),
]

# A trailing line terminator makes the value no IP (Rust's IpAddr parse,
# Python's ipaddress and DuckDB agree); Java's `$` matches before it.
LINE_END = [(f"1.2.3.4{end}", f"1.2.3.4{end}") for end in ("\n", "\r\n", "\u0085", "\u2028")]


@pytest.mark.parametrize("value,expected", GOLDEN + EDGE + LINE_END)
def test_anonymize_py(value, expected):
    assert anonymize_ip_py(value) == expected


def test_anonymize_py_none():
    assert anonymize_ip_py(None) is None


def test_anonymize_column_full(spark):
    rows = [(v,) for v, _ in GOLDEN + EDGE + LINE_END]
    df = spark.createDataFrame(rows, ["addr"])
    got = [r[0] for r in df.select(anonymize_ip("addr")).collect()]
    assert got == [e for _, e in GOLDEN + EDGE + LINE_END]


def test_anonymize_column_fast_v4(spark):
    # fast path: exact on v4 + non-IP; v6 passes through un-canonicalized
    rows = [("1.2.3.4",), ("a.b.c.d",), ("256.1.1.1",), ("01.2.3.4",), ("10.0.0.255",)]
    rows += [(v,) for v, _ in LINE_END]
    df = spark.createDataFrame(rows, ["addr"])
    got = [r[0] for r in df.select(anonymize_ip_fast("addr")).collect()]
    assert got == ["1.2.3.x", "a.b.c.d", "256.1.1.1", "01.2.3.4", "10.0.0.x"] + [
        e for _, e in LINE_END
    ]


def test_fast_path_stays_jvm_side(spark):
    """anonymize_ip_fast must not introduce a Python UDF node."""
    df = spark.createDataFrame([("1.2.3.4",)], ["addr"]).select(
        anonymize_ip_fast("addr").alias("a")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PythonUDF" not in plan and "ArrowEvalPython" not in plan


def test_full_path_preserves_other_columns(spark):
    df = spark.createDataFrame([("1.2.3.4", 7)], ["remote_addr", "resource_id"])
    out = df.withColumn("remote_addr", anonymize_ip("remote_addr")).collect()[0]
    assert out.remote_addr == "1.2.3.x" and out.resource_id == 7
