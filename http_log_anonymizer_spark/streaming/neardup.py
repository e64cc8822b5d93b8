"""Streaming ingest-time near-duplicate dedup — MinHash-LSH against a
persisted band index.

The batch registry proves the pieces (dedup_minhash_lsh end-to-end,
dedup_incremental_batch for the new-vs-corpus probe, the append-only
index contract in tests/test_incremental_dedup.py); this module wires
them into a Structured Streaming ``foreachBatch`` sink so a document
stream is near-deduped AS IT ARRIVES:

per micro-batch
  1. hash-shingle + MinHash-sign the batch (one narrow pass — the same
     ``hashed_shingle_transform``/``minhash_signatures`` the batch
     queries use, so streaming and backfill agree bit-for-bit);
  2. drop within-batch near-dups (keep-lowest-doc_id policy: a doc is
     dropped if it verifies against ANY lower-id batch doc — greedy,
     deterministic, no iteration; note this is a one-pass
     overapproximation on chains: in a batch where a~b and b~c but NOT
     a~c, c drops against the already-dropped b, whereas a sequential
     arrival would have kept it. Cross-batch drops compare against
     ACCEPTED docs only, so batch boundaries never drop more than
     sequential arrival would);
  3. probe the persisted band index with the survivors' band keys
     (equi-join: cost is O(batch x collisions), never O(corpus));
     verify exact Jaccard against the persisted shingle store and drop
     hits — first-seen wins across the whole stream history;
  4. write the accepted documents and their index + shingle rows to
     the state dirs, one subdirectory per micro-batch.

State is three parquet roots (docs/, index/, shingles/) — plain
columnar tables, so the SAME index serves the nightly backfill jobs,
and state size is O(accepted docs), independent of stream length.

Crash consistency and small-files control are the partitioned-state
protocol of ``streaming/epoch_state.py``: every output goes to its own
per-batch overwrite partition, the corpus probe excludes the in-flight
batch, and partitions fold by geometric tiering.
"""

from __future__ import annotations

import posixpath

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from http_log_anonymizer_spark.plans.dedup import (
    band_candidates,
    band_index,
    hashed_shingle_transform,
    minhash_signatures,
    verify_pairs,
)
from http_log_anonymizer_spark.streaming.epoch_state import PartitionedStateSink


class NearDupDedupSink(PartitionedStateSink):
    """foreachBatch writer: near-dedup a (doc_id, text, ...) stream
    against all previously ACCEPTED documents."""

    def __init__(self, base_dir: str, compact_every: int = 16) -> None:
        super().__init__()
        self.base_dir = base_dir
        self.docs_dir = posixpath.join(base_dir, "docs")
        self.index_dir = posixpath.join(base_dir, "index")
        self.shingle_dir = posixpath.join(base_dir, "shingles")
        self.compact_every = max(2, compact_every)
        self._roots = (self.docs_dir, self.index_dir, self.shingle_dir)

    # -- the sink ------------------------------------------------------

    def write(self, batch_df: DataFrame, batch_id: int) -> None:
        tag = self._begin(batch_df, batch_id)
        if tag is None:
            return
        spark = batch_df.sparkSession
        batch = batch_df.persist()

        sh = hashed_shingle_transform(batch).persist()
        bands = band_index(minhash_signatures(sh)).persist()

        # 1) within-batch: drop any doc verifying against a lower id
        intra = verify_pairs(band_candidates(bands, bands), sh)
        dropped_intra = intra.select(F.col("doc_b").alias("doc_id")).distinct()
        keep_bands = bands.join(dropped_intra, "doc_id", "left_anti")

        # 2) vs the persisted corpus: probe the index, verify against
        #    the shingle store (first-seen wins)
        corpus_bands = self._read_state(spark, self.index_dir, tag)
        if corpus_bands is not None:
            corpus_sh = self._read_state(spark, self.shingle_dir, tag)
            cross = band_candidates(keep_bands, corpus_bands, ordered=False)
            hits = verify_pairs(cross, sh.unionByName(corpus_sh))
            dropped_vs_corpus = hits.select(
                F.col("doc_a").alias("doc_id")
            ).distinct()
            keep_bands = keep_bands.join(dropped_vs_corpus, "doc_id", "left_anti")

        accepted = keep_bands.select("doc_id").distinct()
        # 3) per-batch partitions, overwrite semantics: a replayed batch
        #    deterministically replaces any torn prior attempt
        for df, root in (
            (sh.join(accepted, "doc_id"), self.shingle_dir),
            (keep_bands, self.index_dir),
            (batch.join(accepted, "doc_id"), self.docs_dir),
        ):
            self._commit(df, root, tag)

        for df in (bands, sh, batch):
            df.unpersist()
