"""Streaming ANN index maintenance — an IVF inverted file kept
up-to-date by ``foreachBatch`` as embeddings arrive, served by the
SAME search kernels the batch tier uses (operators/ivf.py). This is
the FAISS ``train() once, add() forever`` lifecycle as a streaming
sink: the coarse quantizer (centroids) is trained offline — e.g. by
``operators/kmeans.py:kmeans_quantized_table`` on a bootstrap corpus —
and every micro-batch assigns its vectors to cells with the identical
fold-order-exact numpy argmin, appending (vec_id, label, ue) rows to
the persisted inverted file.

State machinery is the partitioned-state protocol of
``streaming/epoch_state.py``: per-batch overwrite partitions (a
replayed batch replaces any torn attempt) and tiered marker-protocol
compaction bounding file counts.

``probe()`` answers top-k queries against everything indexed so far
by running the batch tier's own kernels — cell ranking via
:func:`~http_log_anonymizer_spark.operators.ivf.ivf_probe_cells` and
the per-cell cogrouped scan via
:func:`~http_log_anonymizer_spark.operators.ivf.ivf_scan_topk` — so a
stream-built index and a batch-built index over the same rows return
BIT-IDENTICAL results (asserted in tests/test_streaming_ann_index.py).

Delivery contract: same-batch-id replays are safe (overwrite
partitions). Rows REDELIVERED under a NEW batch id insert duplicate
index entries — duplicate (vec_id, neighbor) rows can then appear in
probe results; when the upstream is at-least-once across batch ids,
dedup the stream first (watermarked ``dropDuplicates`` on vec_id,
streaming/aggregates.py), exactly as for the additive k-anonymity
sink.

Reference parity: the reference pipeline has no ANN tier at all; this
sink belongs to the engine-grade training-data extension surface
(SURVEY.md §2 gap families) — ingest-time embedding indexing is what
makes the retrieval tiers usable on a live corpus.
"""

from __future__ import annotations

import posixpath

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from http_log_anonymizer_spark.streaming.epoch_state import PartitionedStateSink

_INDEX_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("label", IntegerType()),
        StructField("ue", ArrayType(DoubleType())),
    ]
)


def assign_rows(df: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """(vec_id, label, ue): cell assignment + unit vector for every
    (vec_id, embedding) row — the index-entry transform, shared by the
    streaming sink and the batch-parity test. Assignment replays the
    quantized trainer's comparator exactly (qscale=1000 integer
    quantization, round-half-away(d2, 6) + lowest-cluster tie-break via
    operators/kmeans.py:_km_argmin), so an index built in N batches
    equals one built in one."""
    from http_log_anonymizer_spark.operators.kmeans import _km_argmin

    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(np.array(centroids, dtype=np.float64))

    def gen(batches):
        cmat = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            emb = np.array(list(pdf["embedding"]), dtype=np.float64)
            qmat = np.floor(emb * 1000.0)  # the trainer's quantization
            labels = _km_argmin(qmat, cmat, 1000.0)
            # fold-order-exact norm (dimension at a time), matching the
            # Catalyst norm() left fold ulp-for-ulp
            sq = np.zeros(len(emb))
            for d in range(emb.shape[1]):
                sq += emb[:, d] * emb[:, d]
            norms = np.sqrt(sq)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].astype("int64"),
                    "label": labels.astype("int32"),
                    "ue": list(emb / norms[:, None]),
                }
            )

    return df.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding")).mapInPandas(
        gen, _INDEX_SCHEMA
    )


class StreamingIVFIndexSink(PartitionedStateSink):
    """foreachBatch writer maintaining an IVF inverted file over a
    (vec_id, embedding) stream against a FIXED pre-trained coarse
    quantizer."""

    def __init__(
        self, base_dir: str, centroids: list[list[float]], compact_every: int = 16
    ) -> None:
        super().__init__()
        self.base_dir = base_dir
        self.index_dir = posixpath.join(base_dir, "index")
        self.centroids = [list(map(float, c)) for c in centroids]
        self.compact_every = max(2, compact_every)
        self._roots = (self.index_dir,)

    def write(self, batch_df: DataFrame, batch_id: int) -> None:
        tag = self._begin(batch_df, batch_id)
        if tag is not None:
            self._commit(assign_rows(batch_df, self.centroids), self.index_dir, tag)

    # -- readout ---------------------------------------------------------

    def index(self, spark: SparkSession) -> DataFrame | None:
        """The (vec_id, label, ue) inverted file over everything
        COMMITTED so far, or None before the first batch. Reads are
        committed-only (ADVICE r05): a torn in-flight ``_batch=b*``
        write (crash mid-batch, no restart yet) has no ``_SUCCESS``
        and is excluded, so readouts never surface partial rows — the
        replay of that batch will overwrite it."""
        return self._read_state(
            spark, self.index_dir, exclude_tag="", committed_only=True
        )

    def probe(
        self, spark: SparkSession, queries: DataFrame, nprobe: int = 8, k: int = 5
    ) -> DataFrame:
        """(query_id, neighbor_id, rank, cos): top-k neighbors of each
        query over the stream-built index, using the batch tier's own
        kernels (ivf_probe_cells + ivf_scan_topk — identical
        comparators, identical results as a batch-built index).
        ``queries`` must carry (query_id, qemb raw-double, qe unit).
        Empty index -> empty typed result."""
        from http_log_anonymizer_spark.operators.ivf import (
            ivf_probe_cells,
            ivf_scan_topk,
        )

        u = self.index(spark)
        if u is None:
            return spark.createDataFrame(
                [], "query_id long, neighbor_id long, rank int, cos double"
            )
        probed = ivf_probe_cells(queries, self.centroids, nprobe)
        return ivf_scan_topk(u, probed, k)
