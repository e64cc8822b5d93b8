"""Streaming ingest-time near-duplicate dedup over EMBEDDINGS — the
vector twin of :mod:`http_log_anonymizer_spark.streaming.neardup`
(which keys on shingle MinHash). An embedding stream (vec_id,
embedding, ...) is deduped AS IT ARRIVES against every previously
accepted vector, using the same multi-table random-hyperplane LSH the
batch registry proves in ``embed_neardup_lsh`` (plans/similarity.py):

per micro-batch
  1. unit-normalize the batch and derive its bucket key in each of the
     {n_tables} independent hyperplane tables (sign of plane dots —
     norm-invariant, computed on the raw embedding; one narrow pass,
     all JVM-side);
  2. drop within-batch near-dups: candidate pairs share a bucket in
     ANY table (OR-construction equi-join), verified by exact cosine
     of the unit vectors; keep-lowest-vec_id, one-pass greedy (same
     chain caveat as the shingle sink: cross-batch drops compare
     against ACCEPTED vectors only, so batch boundaries never drop
     more than sequential arrival would);
  3. probe the persisted bucket index with the survivors' keys
     (equi-join on (table, bucket): cost O(batch x collisions), never
     O(corpus)); verify exact cosine against the persisted unit-vector
     store; drop hits — first-seen wins across the stream's history;
  4. write accepted rows + their index keys + unit vectors, one
     ``_batch=b{id}`` overwrite partition per root.

Crash consistency and small-files control are the partitioned-state
protocol of ``streaming/epoch_state.py``: a replayed batch recomputes
against exactly the pre-batch state and overwrites any torn attempt
(no tear shape survives), and committed partitions fold by geometric
tiering under the marker protocol.

At scale the state is three columnar tables of O(accepted vectors) —
the index is (vec_id, table, bucket) longs, the vector store one unit
vector per accepted id — and the probe is the same bucketed equi-join
the batch tier uses, so ingest cost stays linear in batch size times
bucket collision rate. The SAME parquet state serves the nightly
backfill (``embed_neardup_lsh`` semantics), keeping ingest-time and
batch dedup policy-identical (asserted in
tests/test_streaming_embed_neardup.py).
"""

from __future__ import annotations

import posixpath

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from http_log_anonymizer_spark.functions.vectors import dot, norm_column, unit_from
from http_log_anonymizer_spark.plans.similarity import (
    _NDL_PLANES,
    _NDL_TABLES,
    _bucket_spark,
)
from http_log_anonymizer_spark.streaming.epoch_state import PartitionedStateSink

DEFAULT_THRESHOLD = 0.45  # same operating point as the batch family


def bucket_keys(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """(vec_id, t, bucket): one row per hyperplane table — the
    OR-construction key set of ``embed_neardup_lsh``."""
    tables = F.array(
        *[
            F.struct(
                F.lit(t).alias("t"),
                _bucket_spark(vec_col, _NDL_PLANES[t]).alias("bucket"),
            )
            for t in range(_NDL_TABLES)
        ]
    )
    return df.select("vec_id", F.explode(tables).alias("k")).select(
        "vec_id", "k.t", "k.bucket"
    )


class EmbedNearDupSink(PartitionedStateSink):
    """foreachBatch writer: near-dedup a (vec_id, embedding, ...)
    stream against all previously ACCEPTED vectors."""

    def __init__(
        self,
        base_dir: str,
        threshold: float = DEFAULT_THRESHOLD,
        compact_every: int = 16,
    ) -> None:
        super().__init__()
        self.base_dir = base_dir
        self.threshold = threshold
        self.docs_dir = posixpath.join(base_dir, "docs")
        self.index_dir = posixpath.join(base_dir, "index")
        self.vecs_dir = posixpath.join(base_dir, "vecs")
        self.compact_every = max(2, compact_every)
        self._roots = (self.docs_dir, self.index_dir, self.vecs_dir)

    def _verified(self, pairs: DataFrame, ua: DataFrame, ub: DataFrame) -> DataFrame:
        """Candidate (a, b) pairs whose exact unit-vector cosine clears
        the threshold; ua/ub are (vec_id, ue) lookups for each side."""
        return (
            pairs.join(ua.select(F.col("vec_id").alias("a"), F.col("ue").alias("ua")), "a")
            .join(ub.select(F.col("vec_id").alias("b"), F.col("ue").alias("ub")), "b")
            .filter(F.round(dot("ua", "ub"), 6) >= self.threshold)
            .select("a", "b")
        )

    def write(self, batch_df: DataFrame, batch_id: int) -> None:
        tag = self._begin(batch_df, batch_id)
        if tag is None:
            return
        spark = batch_df.sparkSession
        batch = batch_df.persist()

        u = (
            batch.select("vec_id", "embedding", norm_column("embedding").alias("nrm"))
            .select("vec_id", unit_from("embedding", "nrm").alias("ue"))
            .persist()
        )
        keys = bucket_keys(batch).persist()

        # 1) within-batch: candidates share a bucket in any table
        ka, kb = keys.alias("ka"), keys.alias("kb")
        intra = (
            ka.join(
                kb,
                (F.col("ka.t") == F.col("kb.t"))
                & (F.col("ka.bucket") == F.col("kb.bucket"))
                & (F.col("ka.vec_id") < F.col("kb.vec_id")),
            )
            .select(F.col("ka.vec_id").alias("a"), F.col("kb.vec_id").alias("b"))
            .distinct()
        )
        dropped_intra = self._verified(intra, u, u).select(
            F.col("b").alias("vec_id")
        ).distinct()
        keep_keys = keys.join(dropped_intra, "vec_id", "left_anti")

        # 2) vs the persisted corpus: probe the index, verify against
        #    the unit-vector store (first-seen wins)
        corpus_keys = self._read_state(spark, self.index_dir, tag)
        if corpus_keys is not None:
            corpus_vecs = self._read_state(spark, self.vecs_dir, tag)
            cross = (
                keep_keys.alias("ka")
                .join(
                    corpus_keys.alias("kc"),
                    (F.col("ka.t") == F.col("kc.t"))
                    & (F.col("ka.bucket") == F.col("kc.bucket")),
                )
                .select(F.col("ka.vec_id").alias("a"), F.col("kc.vec_id").alias("b"))
                .distinct()
            )
            dropped_cross = self._verified(cross, u, corpus_vecs).select(
                F.col("a").alias("vec_id")
            ).distinct()
            keep_keys = keep_keys.join(dropped_cross, "vec_id", "left_anti")

        accepted = keep_keys.select("vec_id").distinct()
        # 3) per-batch partitions, overwrite semantics (replay repairs
        #    any tear shape)
        for df, root in (
            (u.join(accepted, "vec_id"), self.vecs_dir),
            (keep_keys, self.index_dir),
            (batch.join(accepted, "vec_id"), self.docs_dir),
        ):
            self._commit(df, root, tag)

        for df in (keys, u, batch):
            df.unpersist()
