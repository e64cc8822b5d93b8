"""Exact brute-force cosine top-k — vectorized, order-preserving.

The Catalyst formulation (broadcast the queries, `dot()` fold per
(candidate, query) pair, global per-query window) is exact but pays two
scale taxes: the zip_with/aggregate fold is interpreted (CodegenFallback
— ~30 s for 200 queries x 20k candidates at sf1), and the rank window
shuffles ALL corpus x queries scored rows. This operator fixes both
while staying BIT-IDENTICAL to the fold:

- numpy computes the score block one DIMENSION at a time —
  ``acc += outer(Q[:, d], C[:, d])`` — so every (query, candidate)
  element accumulates ``0.0 + t0 + t1 + ...`` in exactly the fold's
  (and the SQL sum chain's) IEEE order, just vectorized across pairs
  instead of across dimensions. A BLAS matmul would be ~2x faster but
  pairwise-sums, breaking bit-parity with the oracle; see
  operators/gemm.py for that tradeoff (threshold work tolerates it,
  rank boundaries don't).
- each Arrow batch emits only its LOCAL top-k per query (selected with
  the same rounded-cos + neighbor-id comparator the final rank uses),
  so the shuffle carries partitions x queries x k candidate rows — not
  corpus x queries — and the final window ranks a tiny set.

Scale shape (VERDICT r03 item 1): the registered callers pass a
CORPUS-PROPORTIONAL query set (``vec_id % 100 == 0``), so the query
side must not transit the driver. It materializes executor-side as
hash-sharded parquet (operators/side_input.py — the gemm.py pattern)
and each kernel task streams query shards straight from storage:
driver memory is O(1), peak task memory is one corpus Arrow batch plus
one ~128 MiB query shard, and total read traffic is
corpus-partitions x query-set-size — the standard blocked tradeoff,
served by the storage layer in parallel. A query appears in exactly
one shard, so per-(partition, query) partial top-k is unchanged.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from http_log_anonymizer_spark.operators.side_input import (
    read_shard,
    shard_dirs,
    shard_vectors,
)

_CAND_SCHEMA = StructType(
    [
        StructField("query_id", LongType()),
        StructField("neighbor_id", LongType()),
        StructField("cos_raw", DoubleType()),
    ]
)

_RESULT_SCHEMA = "query_id long, neighbor_id long, rank int, cos double"


def _round_half_away(x: np.ndarray, decimals: int) -> np.ndarray:
    """Spark/DuckDB ``round()`` semantics (half away from zero) —
    np.round is half-even. Used only to ORDER partial candidates; the
    emitted value is the raw double and the final F.round canonicalizes
    it, so a scaling ulp here can at worst swap equal-rounded
    candidates, which the k-margin absorbs."""
    p = 10.0**decimals
    return np.where(x >= 0, np.floor(x * p + 0.5), np.ceil(x * p - 0.5)) / p


def rank_neighbors(scored: DataFrame, k: int, score: str = "cos") -> DataFrame:
    """Rows of ``scored`` whose per-query ``rank`` is at most ``k``: the
    one neighbour-ranking rule of every top-k tier. ``rank`` is the
    row_number over ``score`` desc, ``neighbor_id`` asc within each
    ``query_id``, so ties on the rounded score resolve the same way in
    Spark and in the SQL oracles."""
    w = Window.partitionBy("query_id").orderBy(F.desc(score), "neighbor_id")
    return scored.select("*", F.row_number().over(w).alias("rank")).filter(
        F.col("rank") <= k
    )


def brute_topk(
    units: DataFrame,
    queries: DataFrame,
    k: int,
    round_decimals: int = 4,
    margin: int = 8,
    exclude_label: bool = False,
    cache_key: str | None = None,
    shard_bytes: int | None = None,
) -> DataFrame:
    """(query_id, neighbor_id, rank, cos): exact top-k cosine neighbors
    of every query over a (vec_id, ue) unit-vector corpus, excluding
    self-pairs. Ranking: rounded cos desc, neighbor_id asc — identical
    to the Catalyst/SQL formulation, bit-for-bit.

    ``margin`` extra candidates per (partition, query) absorb rounding
    ties at the k boundary.

    ``exclude_label=True`` additionally drops candidates whose
    ``label`` equals the query's ``xlabel`` (hard-negative mining:
    nearest neighbors from OTHER classes); both sides must then carry
    those columns.

    ``cache_key`` (optional) reuses the query-shard materialization
    across repeated runs on the same immutable input within one
    process (see operators/side_input.py)."""
    spark = units.sparkSession
    nq = queries.count()
    if nq == 0:
        return spark.createDataFrame([], _RESULT_SCHEMA)
    dim = len(queries.select("qe").limit(1).first()["qe"])
    q_extra = ["xlabel"] if exclude_label else []
    shard_kw = {"shard_bytes": shard_bytes} if shard_bytes else {}
    q_root, n_qshards = shard_vectors(
        queries,
        nq,
        dim,
        key_col="query_id",
        vec_col="qe",
        extra=q_extra,
        cache_key=cache_key,
        **shard_kw,
    )
    q_dirs = shard_dirs(q_root, n_qshards)
    take = k + margin

    # Spread SMALL corpora across the cores: a replica-scaled or
    # single-file table arrives as one scan split, serializing the
    # whole scoring pass (measured 5.7 s -> ~1 s at sf1). Sized from n
    # and defaultParallelism — never by probing .rdd.getNumPartitions()
    # (AQE finalization; see operators/gemm.py). Large scans keep their
    # natural ~128 MiB splits.
    sc = spark.sparkContext
    n = units.count()
    if n <= 4096 * sc.defaultParallelism:
        units = units.repartition(min(sc.defaultParallelism, max(1, n // 512)))

    # Per-task ceiling for the (query-chunk x candidate-batch) score
    # matrix: a full query SHARD can hold ~262k vectors (128 MiB / dim),
    # which against a 10k-row Arrow batch would materialize a ~21 GB
    # accumulator. Sub-chunk the query rows instead — FLOPs, fold order
    # and output are unchanged.
    _acc_bytes = 128 << 20

    def _score_shard(qids, qmat, qlab, cids, cmat, clab):
        out_q, out_n, out_c = [], [], []
        step = max(1, _acc_bytes // (max(1, len(cids)) * 8))
        for s in range(0, len(qids), step):
            q_ids, q_mat = qids[s : s + step], qmat[s : s + step]
            acc = np.zeros((len(q_ids), len(cids)))
            for d in range(dim):  # fold order: (0.0 + t0) + t1 + ...
                acc += np.multiply.outer(q_mat[:, d], cmat[:, d])
            r = _round_half_away(acc, round_decimals)
            for qi in range(len(q_ids)):
                mask = cids != q_ids[qi]
                if clab is not None:
                    mask &= clab != qlab[s + qi]
                row_ids, row_r, row_raw = cids[mask], r[qi][mask], acc[qi][mask]
                sel = np.lexsort((row_ids, -row_r))[:take]
                out_q.append(np.full(len(sel), q_ids[qi], dtype=np.int64))
                out_n.append(row_ids[sel])
                out_c.append(row_raw[sel])
        return out_q, out_n, out_c

    def gen(batches):
        # One query shard in memory at a time; a single-shard query set
        # (the common small-SF case) is loaded once per task, not once
        # per Arrow batch.
        cached = None
        for pdf in batches:
            cids = pdf["vec_id"].to_numpy(dtype=np.int64)
            cmat = np.array(list(pdf["ue"]), dtype=np.float64)
            clab = (
                pdf["label"].to_numpy(dtype=np.int64) if exclude_label else None
            )
            out_q, out_n, out_c = [], [], []
            for qdir in q_dirs:
                if len(q_dirs) == 1:
                    if cached is None:
                        cached = read_shard(
                            qdir, dim, key_col="query_id", vec_col="qe", extra=q_extra
                        )
                    qids, qmat, qex = cached
                else:
                    qids, qmat, qex = read_shard(
                        qdir, dim, key_col="query_id", vec_col="qe", extra=q_extra
                    )
                if len(qids) == 0:
                    continue
                qlab = qex[0] if exclude_label else None
                oq, on, oc = _score_shard(qids, qmat, qlab, cids, cmat, clab)
                out_q += oq
                out_n += on
                out_c += oc
            if not out_q:
                continue
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "cos_raw": np.concatenate(out_c),
                }
            )

    cand = units.mapInPandas(gen, _CAND_SCHEMA).select(
        "query_id",
        "neighbor_id",
        F.round("cos_raw", round_decimals).alias("cos"),
    )
    return (
        rank_neighbors(cand, k)
        .select("query_id", "neighbor_id", "rank", "cos")
        .orderBy("query_id", "rank")
    )
