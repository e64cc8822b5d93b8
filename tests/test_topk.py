"""operators/topk.py — brute-force top-k without a driver-side query
collect (VERDICT r03 item 1): the query set streams to the scoring
kernel as hash-sharded parquet (operators/side_input.py), so these
tests pin (a) parity between the single-shard and multi-shard kernel
paths, (b) the empty-query early return (ADVICE r03: the old kernel
crashed on shape-(0,)), and (c) in-process shard reuse via cache_key.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from http_log_anonymizer_spark.operators import side_input
from http_log_anonymizer_spark.operators.topk import brute_topk


def _units(spark, n=60, dim=6, seed=7):
    rng = np.random.default_rng(seed)
    mat = rng.normal(size=(n, dim))
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    rows = [(int(i), [float(x) for x in mat[i]], int(i % 3)) for i in range(n)]
    return spark.createDataFrame(
        rows, "vec_id long, ue array<double>, label long"
    )


def _queries(u, label=False):
    cols = [F.col("vec_id").alias("query_id"), F.col("ue").alias("qe")]
    if label:
        cols.append(F.col("label").alias("xlabel"))
    return u.filter(F.col("vec_id") % 10 == 0).select(*cols)


def test_brute_topk_empty_query_set(spark):
    u = _units(spark)
    q = _queries(u).filter(F.lit(False))
    out = brute_topk(u, q, k=3)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "query_id",
        "neighbor_id",
        "rank",
        "cos",
    ]


def test_brute_topk_multi_shard_parity(spark):
    """Forcing the query set into many tiny shards must not change the
    result: a query lives in exactly one shard, so the per-partition
    partial top-k is shard-independent."""
    u = _units(spark)
    q = _queries(u)
    one = brute_topk(u, q, k=4).collect()
    # dim=6 doubles -> 48 bytes/row; 96-byte shards = 2 rows per shard
    many = brute_topk(u, q, k=4, shard_bytes=96).collect()
    assert [tuple(r) for r in one] == [tuple(r) for r in many]
    # sanity: every query got exactly k ranked neighbors
    per_q = {}
    for r in one:
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == [1, 2, 3, 4] for v in per_q.values())


def test_brute_topk_exclude_label_multi_shard(spark):
    u = _units(spark)
    q = _queries(u, label=True)
    out = brute_topk(u, q, k=3, exclude_label=True, shard_bytes=96).collect()
    labels = {r["vec_id"]: r["label"] for r in u.collect()}
    for r in out:
        assert labels[r["neighbor_id"]] != labels[r["query_id"]]


def test_brute_topk_matches_catalyst_fold(spark):
    """Bit-parity with the Catalyst fold the operator replaces."""
    u = _units(spark, n=40)
    q = _queries(u)
    got = brute_topk(u, q, k=3).collect()
    dot = F.aggregate(
        F.zip_with("qe", "ue", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    from pyspark.sql import Window

    scored = (
        q.crossJoin(u)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(dot, 4).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    want = (
        scored.select("*", F.row_number().over(w).alias("rank"))
        .filter(F.col("rank") <= 3)
        .select("query_id", "neighbor_id", "rank", "cos")
        .orderBy("query_id", "rank")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_cache_key_reuses_shard_materialization(spark, tmp_path):
    u = _units(spark)
    q = _queries(u)
    key = f"test-topk-{tmp_path.name}"
    assert key not in side_input._CACHE
    first = brute_topk(u, q, k=3, cache_key=key).collect()
    root, n_shards = side_input._CACHE[key]
    again = brute_topk(u, q, k=3, cache_key=key).collect()
    assert side_input._CACHE[key] == (root, n_shards)
    assert [tuple(r) for r in first] == [tuple(r) for r in again]


def test_scratch_dir_not_clobbered(spark, tmp_path):
    """ADVICE r03: a configured scratch root (spark.graft.scratchDir)
    must keep its pre-existing contents — materializations land in
    subdirectories."""
    marker = tmp_path / "precious.txt"
    marker.write_text("keep me")
    u = _units(spark, n=20)
    spark.conf.set("spark.graft.scratchDir", str(tmp_path))
    try:
        root, n = side_input.shard_vectors(u, 20, 6)
    finally:
        spark.conf.unset("spark.graft.scratchDir")
    assert marker.read_text() == "keep me"
    assert root.startswith(str(tmp_path))
    ids, mat, _ = side_input.read_shard(
        f"{root}/_shard=0", 6
    )
    assert mat.shape[1] == 6
