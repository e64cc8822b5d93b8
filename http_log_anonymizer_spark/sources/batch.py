"""Batch parquet sources over the driver-generated test tables.

TESTDATA.md: ``/root/testdata/sf{0.001,0.01,0.1}/{table}.parquet``.
Column pruning and predicate pushdown are left to Catalyst — callers
``select``/``filter`` and the parquet scan prunes (verify with
``.explain``: PushedFilters / ReadSchema).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# The driver's parquet has shipped timestamps in two physical shapes
# across rounds, and the loader normalizes both to session-TZ-pinned
# TimestampType (LTZ) so every downstream plan sees ONE timestamp type:
#
# - TIMESTAMP(NANOS): Spark's vectorized reader rejects it by default
#   (PARQUET_TYPE_ILLEGAL). We read nanos as LongType (runtime-settable
#   legacy conf) and convert to microsecond TimestampType ourselves —
#   integer `div` (not `/`, which routes through double and loses
#   precision above 2^53) and floor-truncation, matching how DuckDB
#   reads the same files.
# - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark infers
#   TIMESTAMP_NTZ, which forbids numeric casts (epoch arithmetic) and
#   collects differently from the LTZ type the plans were written for.
#   With the session TZ pinned to UTC below, NTZ -> LTZ is a pure
#   relabeling (identical wall values, identical DuckDB-naive parity).
_TIMESTAMP_NS_COLS = {
    "events": ["ts"],
    "orders": ["o_orderdate"],
    "lineitem": ["l_shipdate"],
}


def _spread(
    spark: SparkSession,
    df: DataFrame,
    input_bytes: int | None = None,
    bytes_per_task: int = 256 * 1024,
) -> DataFrame:
    """Widen a scan to at least the cluster's core count — ONLY if the
    source provides fewer splits than that.

    A parquet file is splittable at row-group granularity: a
    single-row-group file (exactly what the small test tables are)
    yields ONE input partition, so every downstream narrow transform —
    tokenization, per-shingle md5, minhash folds, embedding dot
    products — runs single-threaded no matter how many cores exist.
    AQE cannot fix this (it only re-plans post-shuffle stages), so the
    engine rebalances explicitly: a round-robin exchange of the raw
    rows (bytes ~ the file itself, trivially small when this triggers)
    buys full map-side parallelism.

    At 100 TB this is a structural no-op: a large scan has thousands of
    splits, `getNumPartitions() >= defaultParallelism`, and no exchange
    is added — the guard exists precisely so the local fix cannot
    become a cluster regression (it would otherwise COALESCE a wide
    scan).

    Spreading is OPT-IN (``load_table(..., spread=True)``) and only for
    consumers whose map stage is JVM-CPU-bound (per-shingle md5,
    minhash/simhash folds). Do NOT spread inputs headed into
    mapInPandas: those stages are Python-worker-bound, and multiplying
    tiny partitions multiplies worker spawns + Arrow round-trips
    (measured: 3-6x slower on the multimodal decode and blocked-GEMM
    queries at sf0.1). Such operators size their own partitioning by
    rows (see operators/gemm.py).

    ``bytes_per_task`` bounds the fan-out by DATA SIZE: the partition
    count becomes ``min(cores, ceil(input_bytes / bytes_per_task))``
    instead of the full core count. Consumers whose per-row CPU is
    moderate (vector dots/folds) use this so a small input doesn't
    shatter into near-empty partitions whose per-task scheduling
    overhead exceeds the work (measured r04: 32-way spread of the
    800 KB sf0.1 embeddings costs +0.2-0.4 s per warm ANN query vs a
    3-way spread, while sf1's 8 MB still fans out to all cores).
    Shingle-md5-bound consumers keep the unbounded default — their
    per-byte CPU is high enough that even KB-sized partitions pay off
    (measured: minhash 2.4 s -> 1.1 s with full spread at sf0.1)."""
    target = spark.sparkContext.defaultParallelism
    if input_bytes is not None:
        target = min(target, max(1, -(-input_bytes // bytes_per_task)))
    if target <= 1:
        return df
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _table_bytes(sf_dir: str, name: str) -> int:
    p = os.path.join(sf_dir, f"{name}.parquet")
    for ext in ("parquet", "orc", "json"):
        cand = os.path.join(sf_dir, f"{name}.{ext}")
        if os.path.exists(cand):
            p = cand
            break
    if os.path.isdir(p):
        return sum(
            os.path.getsize(os.path.join(root, f))
            for root, _, files in os.walk(p)
            for f in files
        )
    try:
        return os.path.getsize(p)
    except OSError:
        return 0


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    spread: bool = False,
    bytes_per_task: int | None = None,
) -> DataFrame:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Timestamps in the oracle (DuckDB) are naive; pin the session TZ so
    # hour()/date_trunc()/window() agree regardless of the host TZ of
    # whoever created the SparkSession (the driver does, not us).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    pq_path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.exists(pq_path):
        df = spark.read.parquet(pq_path)
    else:
        # Format fallback (sources/formats.py): a corpus exported as
        # ORC or JSON lines answers every registry query unchanged.
        from http_log_anonymizer_spark.sources.formats import read_fallback

        df = read_fallback(spark, sf_dir, name)
        if df is None:
            df = spark.read.parquet(pq_path)  # raise parquet's error
    for c in _TIMESTAMP_NS_COLS.get(name, []):
        if c in df.columns and dict(df.dtypes)[c] == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    for c, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    # Vector-table contract: a row with a NULL embedding carries no
    # payload any vector operator can use (distances, signatures,
    # centroids are all undefined over it), so it is dropped AT SCAN —
    # the T3 invalid-record-drop discipline applied to the batch side.
    # Without this, NULL vectors crash the numpy kernels (len(None))
    # and fold into degenerate LSH/ADC codes (examples/
    # hostile_nulls_audit.py). Every registered oracle scanning
    # `embeddings` carries the matching WHERE embedding IS NOT NULL.
    if name == "embeddings" and "embedding" in df.columns:
        df = df.filter(F.col("embedding").isNotNull())
    if spread:
        size = _table_bytes(sf_dir, name) if bytes_per_task else None
        df = _spread(spark, df, size, bytes_per_task or 256 * 1024)
    return df


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}
