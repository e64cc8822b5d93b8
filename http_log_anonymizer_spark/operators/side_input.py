"""Executor-side parquet side-inputs for blocked vector kernels.

Blocked GEMM (operators/gemm.py) and the brute-force top-k scorer
(operators/topk.py) both need one side of the computation available to
every task as size-bounded numpy matrices. Broadcasting through the
driver caps the side at driver memory — a scale-killer when the side is
corpus-proportional (VERDICT r03 item 1). Instead both operators
materialize the side EXECUTOR-SIDE with one partitioned parquet write
(one shuffle on the shard key, one ~``shard_bytes`` file per shard) and
every kernel task streams shard files straight from storage: driver
memory stays O(1) and peak task memory is one Arrow batch plus one
shard.

Lifecycle: shards are written to a fresh path under the process's
scratch root (operators/materialize.py, removed at exit), and repeated
materializations of the SAME logical input within one process reuse
the first write via ``cache_key`` — so a bench's best-of-2 + count
passes pay the shuffle once and scratch does not accumulate
corpus-sized copies.

``cache_key`` contract: keys must uniquely identify the input *within
this process* (callers embed the source path and row count). Reuse is
in-process only — a new process always rewrites — so immutable source
tables (the bench/test contract) can never serve stale shards.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from http_log_anonymizer_spark.operators.materialize import scratch_path

DEFAULT_SHARD_BYTES = 128 << 20

# cache_key -> (root_dir, n_shards); in-process only (see module doc).
_CACHE: dict[str, tuple[str, int]] = {}


def shard_vectors(
    df: DataFrame,
    n: int,
    dim: int,
    key_col: str = "vec_id",
    vec_col: str = "ue",
    extra: list[str] | None = None,
    shard_bytes: int = DEFAULT_SHARD_BYTES,
    cache_key: str | None = None,
) -> tuple[str, int]:
    """Materialize ``df`` as hash-sharded parquet readable by executors;
    returns ``(root_dir, n_shards)``. Shard k holds the rows with
    ``pmod(hash(key_col), n_shards) == k`` as the single file
    ``root/_shard=k`` — deterministic assignment, each row in exactly
    one shard, each shard at most ~``shard_bytes`` of vector data.
    ``cache_key`` reuses an existing materialization of the same input
    within this process.
    """
    if cache_key is not None and cache_key in _CACHE:
        return _CACHE[cache_key]
    rows_per_shard = max(1, shard_bytes // (dim * 8))
    n_shards = max(1, -(-n // rows_per_shard))
    root = scratch_path(df.sparkSession, "side-")
    cols = [key_col, F.col(vec_col).cast("array<double>").alias(vec_col)]
    cols += list(extra or [])
    (
        df.select(*cols, F.pmod(F.hash(key_col), F.lit(n_shards)).alias("_shard"))
        # repartition by _shard before partitionBy so a shard is ONE
        # ~shard_bytes parquet file, not task-count fragments
        .repartition(n_shards, F.col("_shard"))
        .write.partitionBy("_shard")
        .mode("overwrite")
        .parquet(root)
    )
    if cache_key is not None:
        _CACHE[cache_key] = (root, n_shards)
    return root, n_shards


def shard_dirs(root: str, n_shards: int) -> list[str]:
    return [f"{root}/_shard={k}" for k in range(n_shards)]


# Worker-side parsed-shard cache (r10 optimization, guide §4.5):
# Python workers are reused across tasks (spark.python.worker.reuse
# default), and every kernel task re-reads the same shard files — at
# sf1 the gemm kernel's 64 tasks each re-parsed the single 10 MB shard
# (~6.5 CPU-seconds of pure parquet decode per query). A small
# byte-capped LRU keyed on the shard path makes re-reads free within a
# worker while bounding memory: the cap is per Python worker, so size
# it with (cores x cap) against executor overhead on a cluster
# (SPARK_GRAFT_SHARD_CACHE_MB, default 256 — 32 local workers x
# 256 MB worst-case 8 GB, a fraction of this sandbox; set 0 to
# disable). Source shards are immutable within a run (side_input
# materializations are write-once directories), so staleness cannot
# occur; a fresh process starts with an empty cache.
_SHARD_CACHE: dict[tuple, tuple] = {}
_SHARD_CACHE_ORDER: list[tuple] = []


def _shard_cache_cap() -> int:
    import os

    return int(os.environ.get("SPARK_GRAFT_SHARD_CACHE_MB", "256")) << 20


def read_shard(
    shard_dir: str,
    dim: int,
    key_col: str = "vec_id",
    vec_col: str = "ue",
    extra: list[str] | None = None,
) -> tuple[np.ndarray, np.ndarray, list[np.ndarray]]:
    """(ids, matrix, extra_arrays) from one shard's parquet — runs
    inside the Python worker, reading directly from storage. A shard
    directory that no key hashed into is legitimately empty. Parsed
    shards are memoized per worker (see _SHARD_CACHE above)."""
    import pyarrow.dataset as ds

    extra = list(extra or [])
    ckey = (shard_dir, dim, key_col, vec_col, tuple(extra))
    if ckey in _SHARD_CACHE:
        return _SHARD_CACHE[ckey]
    try:
        dataset = ds.dataset(shard_dir, format="parquet")
    except FileNotFoundError:
        return (
            np.empty(0, dtype=np.int64),
            np.empty((0, dim), dtype=np.float64),
            [np.empty(0, dtype=np.int64) for _ in extra],
        )
    table = dataset.to_table(columns=[key_col, vec_col, *extra])
    ids = table[key_col].to_numpy(zero_copy_only=False).astype(np.int64)
    flat = table[vec_col].combine_chunks().flatten().to_numpy(zero_copy_only=False)
    mat = np.asarray(flat, dtype=np.float64).reshape(-1, dim)
    extras = [
        table[c].to_numpy(zero_copy_only=False).astype(np.int64) for c in extra
    ]
    result = (ids, mat, extras)
    cap = _shard_cache_cap()
    nbytes = mat.nbytes + ids.nbytes + sum(e.nbytes for e in extras)
    if 0 < nbytes <= cap:
        _SHARD_CACHE[ckey] = result
        _SHARD_CACHE_ORDER.append(ckey)
        total = sum(
            _SHARD_CACHE[k][1].nbytes + _SHARD_CACHE[k][0].nbytes
            for k in _SHARD_CACHE
        )
        while total > cap and len(_SHARD_CACHE_ORDER) > 1:
            old = _SHARD_CACHE_ORDER.pop(0)
            ev = _SHARD_CACHE.pop(old, None)
            if ev is not None:
                total -= ev[1].nbytes + ev[0].nbytes
    return result
