"""Streaming k-anonymity monitor — per-quasi-identifier class counts
maintained in ``foreachBatch``, the unbounded-stream twin of the batch
``k_anonymity_report`` query (plans/http_log.py).

This is the audit a privacy team wants DURING ingestion, not after:
as anonymized rows stream out, the monitor folds each micro-batch's
(QI tuple -> count) into a persisted class table (addition-merge on
the :class:`~http_log_anonymizer_spark.streaming.epoch_state.EpochStateSink`
crash-safe epoch protocol — a replayed batch recomputes from the
pre-batch epoch, so addition never double-counts), and ``report()``
reads the current release k (the smallest class size) plus the same
class-size histogram the batch query hashes. A regression — a new
code path leaking a too-specific QI combination — shows up as k
dropping to 1 within one micro-batch instead of at the next nightly
audit.

State is one row per DISTINCT QI class. That is bounded by the QI
domain, not the stream length — the whole point of k-anonymity QI
design is a coarse domain (the anonymized IP has 256x fewer values
than the raw one); a monitor over an unbounded-domain tuple would be
misconfigured (documented contract, mirrored from the batch query's
QI choice).

Delivery contract (unlike the idempotent max/OR sketch sinks): the
class-count merge is ADDITIVE, so rows REDELIVERED under a NEW batch
id (an at-least-once upstream retrying across triggers, not a replay
of the same batch) are counted again and inflate class sizes — the
optimistic direction for a privacy audit (k reads HIGHER than the
release's true k; a leak can hide behind phantom classmates). Same-
batch-id replays are always safe (the epoch protocol recomputes from
the pre-batch state). When the upstream is at-least-once across batch
ids, pass ``dedup_key`` (a stable per-row key) so each batch drops
intra-batch duplicates, and dedup the stream itself upstream with a
watermarked ``dropDuplicates`` (streaming/aggregates.py) so a row
cannot span two batch ids — with both in place the additive merge
counts each physical row once.

Parity asserted in tests/test_streaming_kanon.py: the persisted class
table equals one batch groupBy over everything that ever arrived, the
histogram matches the batch query's bucketing, and torn epochs repair.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from http_log_anonymizer_spark.streaming.epoch_state import EpochStateSink


class StreamingKAnonymityMonitor(EpochStateSink):
    """foreachBatch writer maintaining per-class row counts over the
    ``qi_cols`` quasi-identifier tuple. Epoch protocol:
    ``streaming/epoch_state.py``."""

    def __init__(
        self,
        base_dir: str,
        qi_cols: tuple[str, ...],
        cap: int = 10,
        dedup_key: str | None = None,
    ) -> None:
        if not qi_cols:
            raise ValueError("need at least one quasi-identifier column")
        self.base_dir = base_dir
        self.qi_cols = list(qi_cols)
        self.cap = cap
        self.dedup_key = dedup_key

    def _base(self, batch_df: DataFrame) -> DataFrame:
        if self.dedup_key is not None:
            # intra-batch half of the at-least-once contract (see module
            # docstring); cross-batch dedup belongs upstream where the
            # watermark bounds the key state.
            batch_df = batch_df.dropDuplicates([self.dedup_key])
        return batch_df.groupBy(*self.qi_cols).agg(F.count("*").alias("sz"))

    def _merge(self, states: DataFrame) -> DataFrame:
        return states.groupBy(*self.qi_cols).agg(F.sum("sz").alias("sz"))

    # -- readout -------------------------------------------------------

    def classes(self, spark: SparkSession) -> DataFrame | None:
        """The (qi..., sz) class table as of the last committed batch."""
        return self.current(spark)

    def k(self, spark: SparkSession) -> int | None:
        """The release's current k: the smallest class size, or None
        before the first batch. One tiny aggregate over the class
        table."""
        c = self.current(spark)
        if c is None:
            return None
        row = c.agg(F.min("sz").alias("k")).collect()[0]
        return None if row.k is None else int(row.k)

    def report(self, spark: SparkSession) -> DataFrame | None:
        """Class-size histogram in the batch query's shape:
        (class_size_bucket, n_classes, n_rows, pct_rows) with sizes
        capped at ``cap`` — directly comparable against the 'anon'
        stage of plans/http_log.py:k_anonymity_report."""
        c = self.current(spark)
        if c is None:
            return None
        hist = c.groupBy(
            F.least("sz", F.lit(self.cap)).alias("class_size_bucket")
        ).agg(F.count("*").alias("n_classes"), F.sum("sz").alias("n_rows"))
        tot = c.agg(F.sum("sz").alias("n"))
        return (
            hist.crossJoin(F.broadcast(tot))
            .select(
                "class_size_bucket",
                "n_classes",
                "n_rows",
                F.round(F.col("n_rows") * 1.0 / F.col("n"), 4).alias("pct_rows"),
            )
            .orderBy("class_size_bucket")
        )
