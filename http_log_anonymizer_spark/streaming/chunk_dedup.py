"""Streaming ingest-time LINE (chunk) dedup — the C4 removal rule
applied as the stream arrives, the exact-chunk counterpart of the
MinHash near-dup sink (streaming/neardup.py).

Policy: a chunk's FIRST occurrence in stream order wins; every later
occurrence — in the same batch or any later batch — is removed from its
document. Within a micro-batch, "first" is the batch operator's
``(doc_id, chunk_idx)`` order, so a stream that delivers documents in
doc_id order produces EXACTLY the batch ``line_dedup_report`` policy
over everything arrived — asserted chunk-for-chunk in
tests/test_streaming_chunk_dedup.py against a plain-Python reference.

Per micro-batch:
  1. chunk the batch with the SAME construction the batch query uses
     (plans/dedup.py:line_chunk_table — shared code, not a copy);
  2. within-batch keep-first: one groupBy(h).min(occ_key);
  3. cross-batch: hash anti-join against the persisted seen-chunk set
     (cost O(batch chunks), never O(corpus));
  4. write per-doc output rows (doc_id, n_chunks, n_kept, kept_text —
     the document with removed chunks dropped, chunk order preserved)
     and the batch's NEW chunk hashes, each to its own
     ``_batch=b{id}`` partition.

State is one parquet root of 8-byte chunk hashes — O(distinct chunks),
mergeable, shared with backfill jobs. Crash consistency and
small-files control are the partitioned-state protocol of
``streaming/epoch_state.py``: replay-excluded reads repair any torn
batch, and geometric (LSM) tiering bounds every compaction fold by its
tier.

At-least-once note: a redelivered DOCUMENT under a new batch id
dedups against itself (its chunks are already in the seen set) and is
then SUPPRESSED from the docs output (anti-join on the already-emitted
doc-id set), so ``deduped_docs`` carries exactly one row per doc_id —
the first delivery's — and aggregate readers are correct by default
(ADVICE r06).

CONTRACT (ADVICE r07): under at-least-once delivery ``doc_id`` must
uniquely identify CONTENT — the standard Kafka-key discipline the
reference relies on too (ReplacingMergeTree collapses on the sort
key). If an upstream redelivers a doc_id with CHANGED text, the new
text's novel chunks still enter the seen set and the chunks output
(chunk-level dedup state stays correct), but the docs output keeps
the FIRST delivery's row: ``deduped_docs`` reflects first-delivery
content, by design, and will not re-describe the mutated document.
Mutable documents need a versioned key (doc_id, revision) upstream;
in-place mutation under one key is indistinguishable from redelivery
at this layer, and silently replacing the docs row would break the
exactly-one-row-per-key guarantee aggregate readers depend on.

Reference parity: the reference pipeline dedups whole
records in ClickHouse (ReplacingMergeTree, http_log.rs:105-107); this
sink is the intra-document streaming generalization.
"""

from __future__ import annotations

import posixpath

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from http_log_anonymizer_spark.functions.text import hash64
from http_log_anonymizer_spark.plans.dedup import cdc_chunk_table, line_chunk_table
from http_log_anonymizer_spark.streaming.epoch_state import PartitionedStateSink

_CHUNKERS = {"line": line_chunk_table, "cdc": cdc_chunk_table}


class StreamingChunkDedupSink(PartitionedStateSink):
    """foreachBatch writer line-deduping a (doc_id, text, ...) stream
    against all previously seen chunks. ``chunker`` picks the grain:
    ``"line"`` (fixed 10-token grid — the C4 rule) or ``"cdc"``
    (content-defined rolling-hash boundaries — shift-robust; see
    plans/dedup.py:cdc_dedup_report); both share the batch queries'
    chunk constructions so stream and backfill agree chunk for chunk."""

    def __init__(
        self, base_dir: str, compact_every: int = 16, chunker: str = "line"
    ) -> None:
        if chunker not in _CHUNKERS:
            raise ValueError(f"unknown chunker {chunker!r}; use one of {sorted(_CHUNKERS)}")
        super().__init__()
        self.base_dir = base_dir
        self.docs_dir = posixpath.join(base_dir, "docs")
        self.chunks_dir = posixpath.join(base_dir, "chunks")
        self.compact_every = max(2, compact_every)
        self.chunker = chunker
        self._roots = (self.docs_dir, self.chunks_dir)

    def write(self, batch_df: DataFrame, batch_id: int) -> None:
        tag = self._begin(batch_df, batch_id)
        if tag is None:
            return
        spark = batch_df.sparkSession

        occ = _CHUNKERS[self.chunker](batch_df).select(
            "doc_id",
            "chunk_idx",
            "chunk",
            hash64("chunk").alias("h"),
            # struct min, not an int64 packing (ADVICE r06): works for
            # ANY doc_id type/magnitude the stream delivers.
            F.struct(
                F.col("doc_id").alias("d"), F.col("chunk_idx").alias("i")
            ).alias("occ_key"),
        ).persist()

        # within-batch keep-first
        first = occ.groupBy("h").agg(F.min("occ_key").alias("keep_key"))
        kept = occ.join(first, "h").filter(F.col("occ_key") == F.col("keep_key"))

        # cross-batch: drop chunks already seen by earlier batches
        seen = self._read_state(spark, self.chunks_dir, tag)
        if seen is not None:
            kept = kept.join(seen.select("h").distinct(), "h", "left_anti")

        kept_set = kept.select("h", "doc_id", "chunk_idx", "chunk")
        per_doc = (
            occ.select("doc_id", "chunk_idx")
            .join(
                kept_set.select("doc_id", "chunk_idx", F.lit(1).alias("is_kept")),
                ["doc_id", "chunk_idx"],
                "left",
            )
            .groupBy("doc_id")
            .agg(
                F.count("*").alias("n_chunks"),
                F.sum(F.coalesce("is_kept", F.lit(0))).alias("n_kept"),
            )
        )
        kept_text = (
            kept_set.groupBy("doc_id")
            .agg(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("chunk_idx", "chunk"))
                        ),
                        lambda s: s["chunk"],
                    ),
                    " ",
                ).alias("kept_text")
            )
        )
        docs_out = per_doc.join(kept_text, "doc_id", "left").select(
            "doc_id",
            "n_chunks",
            "n_kept",
            F.coalesce("kept_text", F.lit("")).alias("kept_text"),
        )

        # At-least-once redelivery (ADVICE r06): a document redelivered
        # under a NEW batch id dedups against itself and would emit a
        # second, all-removed docs row — aggregate readers would then
        # double-count it. Emit only doc_ids not already in the docs
        # root, so ``deduped_docs`` holds exactly one row per doc_id
        # (the first delivery's) and aggregates are correct by default.
        # Replays of the SAME batch id are unaffected: _read_state
        # excludes the in-flight tag, so the replay re-emits its rows.
        prior_docs = self._read_state(spark, self.docs_dir, tag)
        if prior_docs is not None:
            docs_out = docs_out.join(
                prior_docs.select("doc_id").distinct(), "doc_id", "left_anti"
            )

        self._commit(docs_out, self.docs_dir, tag)
        self._commit(kept.select("h").distinct(), self.chunks_dir, tag)
        occ.unpersist()

    # -- readout -------------------------------------------------------

    def deduped_docs(self, spark) -> DataFrame | None:
        """All per-doc output rows as of the last committed batch."""
        return self._read_state(
            spark, self.docs_dir, exclude_tag="", committed_only=True
        )

    def seen_chunks(self, spark) -> DataFrame | None:
        """The persisted chunk-hash set (committed partitions only)."""
        return self._read_state(
            spark, self.chunks_dir, exclude_tag="", committed_only=True
        )
