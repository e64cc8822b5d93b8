"""IVF search kernels — the probe and per-cell scan of an inverted-file
ANN index, vectorized with the fold-order-exact numpy discipline of
operators/topk.py so results stay bit-comparable with the DuckDB
oracle's sequential-fold SQL.

Why these exist: the Catalyst formulation (crossJoin + zip_with d2 for
the probe; equi-join + `dot()` fold + global rank window for the scan)
is exact but pays two scale taxes at data-scaled cell counts
(k ~ sqrt(n), see plans/similarity.py:ann_ivf_sqrt_topk):

- the higher-order-function fold drops to interpreted eval (~10 us per
  pair — measured 8.7 s for the 0.9M-pair probe and ~25 s for the
  7.2M-pair scan at n=200k, k=447, nprobe=8);
- the rank window shuffles EVERY scored candidate row, although only
  topk + margin per (query, cell) can ever reach the global top-k.

The kernels fix both: scoring accumulates one DIMENSION at a time
(``acc += Q[:, d, None] * C[None, :, d]`` — each element sums
``0.0 + t1 + t2 + ...`` in the fold's / the SQL sum chain's IEEE
order, just vectorized across pairs; a BLAS matmul would pairwise-sum
and break rank-boundary parity), and each cell emits only its local
top-(k + margin) per probing query, selected with the same
rounded-cos + neighbor-id comparator the final rank uses — so the
global window ranks q * nprobe * (k + margin) rows, not the full
candidate set.

Scale shape: ``ivf_scan_topk`` is one cogrouped shuffle of the corpus
by cell id (the IVF layout a production index stores bucketed anyway,
making the shuffle free) plus a window over the tiny partial-top-k
set. Per-cell work is (cell_rows x probing_queries x dim) — with
k = sqrt(n) cells and a fixed nprobe, total scan work is
O(q * nprobe * sqrt(n) * d), sub-linear in the corpus. No driver-side
materialization anywhere.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from http_log_anonymizer_spark.operators.topk import _round_half_away, rank_neighbors

_PROBE_SCHEMA = StructType(
    [
        StructField("query_id", LongType()),
        StructField("qe", ArrayType(DoubleType())),
        StructField("label", IntegerType()),
    ]
)

_SCAN_SCHEMA = StructType(
    [
        StructField("query_id", LongType()),
        StructField("neighbor_id", LongType()),
        StructField("cos_raw", DoubleType()),
    ]
)


def ivf_probe_cells(
    q: DataFrame, centroids: list[list[float]], nprobe: int
) -> DataFrame:
    """(query_id, qe, label): the ``nprobe`` nearest cells per query,
    ranked by (round-half-away(L2 d2, 6), label) — the same comparator
    as plans/similarity.py:_probe_cells and the SQL replay, with d2
    accumulated dimension-at-a-time for fold parity. ``q`` must carry
    (query_id, qemb raw-double, qe unit). Centroids ship once per
    executor via a broadcast variable (k x dim doubles — 16 MB even at
    k = 32768, d = 64)."""
    spark = q.sparkSession
    bc = spark.sparkContext.broadcast(np.array(centroids, dtype=np.float64))
    take = min(nprobe, len(centroids))

    def gen(batches):
        cmat = bc.value
        dim = cmat.shape[1]
        for pdf in batches:
            if not len(pdf):
                continue
            qmat = np.array(list(pdf["qemb"]), dtype=np.float64)
            acc = np.zeros((len(pdf), cmat.shape[0]))
            for d in range(dim):
                t = qmat[:, d, None] - cmat[None, :, d]
                acc += t * t
            rounded = _round_half_away(acc, 6)
            # argsort on (d2, label): labels are the natural column
            # order, and numpy's stable sort keeps ascending-label ties
            order = np.argsort(rounded, axis=1, kind="stable")[:, :take]
            nq = len(pdf)
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(
                        pdf["query_id"].to_numpy(dtype="int64"), take
                    ),
                    "qe": [
                        pdf["qe"].iloc[i] for i in range(nq) for _ in range(take)
                    ],
                    "label": order.reshape(-1).astype("int32"),
                }
            )

    return q.mapInPandas(gen, _PROBE_SCHEMA)


def ivf_scan_topk(
    u: DataFrame,
    probed: DataFrame,
    k: int,
    round_decimals: int = 4,
    margin: int = 8,
) -> DataFrame:
    """(query_id, neighbor_id, rank, cos): scan each probed cell,
    scoring its vectors against the cell's probing queries and keeping
    the local top-(k + margin) per (query, cell); a final window ranks
    the union. ``u`` is the (vec_id, ue, label) inverted file,
    ``probed`` the (query_id, qe, label) probe list. Bit-identical to
    the equi-join + fold + global-window formulation: scores accumulate
    in fold order, local selection uses the final comparator
    (rounded cos desc, neighbor_id asc), and ``margin`` absorbs
    rounding ties at the k boundary exactly as in operators/topk.py."""
    take = k + margin

    def scan(key, cells: pd.DataFrame, probes: pd.DataFrame):
        if not len(cells) or not len(probes):
            return pd.DataFrame(
                {"query_id": [], "neighbor_id": [], "cos_raw": []}
            ).astype({"query_id": "int64", "neighbor_id": "int64", "cos_raw": "float64"})
        cmat = np.array(list(cells["ue"]), dtype=np.float64)
        qmat = np.array(list(probes["qe"]), dtype=np.float64)
        nc, dim = cmat.shape
        acc = np.zeros((nc, len(probes)))
        for d in range(dim):
            acc += cmat[:, d, None] * qmat[None, :, d]
        rounded = _round_half_away(acc, round_decimals)
        vec_ids = cells["vec_id"].to_numpy(dtype="int64")
        out_q: list[np.ndarray] = []
        out_n: list[np.ndarray] = []
        out_c: list[np.ndarray] = []
        for j, qid in enumerate(probes["query_id"].to_numpy(dtype="int64")):
            keep = vec_ids != qid  # exclude self-pair
            ids = vec_ids[keep]
            r = rounded[keep, j]
            # comparator: rounded cos DESC, neighbor_id ASC (ids are
            # not sorted, so order by the (-r, ids) composite key)
            sel = np.lexsort((ids, -r))[:take]
            out_q.append(np.full(len(sel), qid, dtype="int64"))
            out_n.append(ids[sel])
            out_c.append(acc[keep, j][sel])
        return pd.DataFrame(
            {
                "query_id": np.concatenate(out_q),
                "neighbor_id": np.concatenate(out_n),
                "cos_raw": np.concatenate(out_c),
            }
        )

    partial = (
        u.select("label", "vec_id", "ue")
        .groupBy("label")
        .cogroup(probed.select("label", "query_id", "qe").groupBy("label"))
        .applyInPandas(scan, _SCAN_SCHEMA)
    )
    return rank_neighbors(
        partial.select(
            "query_id",
            "neighbor_id",
            F.round("cos_raw", round_decimals).alias("cos"),
        ),
        k,
    ).orderBy("query_id", "rank")
