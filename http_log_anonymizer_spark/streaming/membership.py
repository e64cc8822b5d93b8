"""Streaming membership — an explicit Bloom filter maintained in
``foreachBatch``, the unbounded-stream twin of the batch
``bloom_membership_report`` query (plans/analytics.py) and the fourth
member of the streaming sketch family (frequent.py: frequencies,
cardinality.py: cardinality, quantiles.py: quantiles).

Bloom filters merge by bitwise OR — here the bit set is stored as
distinct (b) position rows, so the merge is a plain DISTINCT union.
Like the HLL sink (and unlike the additive MG/HDR sinks), the merge is
IDEMPOTENT and insensitive to duplicate delivery: replayed batches and
upstream retries re-set the same bits. The epoch protocol is still
used for crash-consistent state files and garbage collection.

The bit positions are md5-derived exactly like the batch query's
(:func:`~http_log_anonymizer_spark.functions.text.hash64` with seeds
``bloom{j}``), so the persisted bit set is BIT-EQUAL to building the
batch filter over everything that ever arrived — asserted in
tests/test_streaming_membership.py — and a batch job can PROBE the
stream-built filter (or vice versa) with zero translation. That is
the production use: an ingest stream maintains the filter; batch
backfills and other streams consult it as a cheap pre-join membership
gate (the explicit form of the runtime bloom semi-join reduction in
SCALE.md).

Guarantees: no false negatives ever (every inserted key has all its
bits set — bits are never cleared); false-positive rate grows with
fill factor exactly as in the batch analysis. State is <= m rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from http_log_anonymizer_spark.streaming.epoch_state import EpochStateSink


class StreamingBloomSink(EpochStateSink):
    """foreachBatch writer maintaining an ``m``-bit / ``k``-hash Bloom
    filter over ``key_col``. Epoch protocol:
    ``streaming/epoch_state.py``."""

    def __init__(
        self, base_dir: str, m: int = 4096, k: int = 3, key_col: str = "key"
    ) -> None:
        if m < 8 or k < 1:
            raise ValueError(f"degenerate filter: m={m}, k={k}")
        self.base_dir = base_dir
        self.m = m
        self.k = k
        self.key_col = key_col

    def _base(self, df: DataFrame) -> DataFrame:
        """Distinct bit positions for every key in ``df`` — keep in
        lockstep with plans/analytics.py:bloom_membership_report."""
        from http_log_anonymizer_spark.functions.text import hash64

        out = None
        for j in range(self.k):
            bj = df.select(
                (
                    hash64(F.col(self.key_col).cast("string"), f"bloom{j}") % self.m
                ).alias("b")
            )
            out = bj if out is None else out.unionByName(bj)
        return out.distinct()

    @staticmethod
    def _merge(states: DataFrame) -> DataFrame:
        return states.distinct()

    # -- readout -------------------------------------------------------

    def bits(self, spark: SparkSession) -> DataFrame | None:
        """The distinct (b) position table as of the last committed
        batch."""
        return self.current(spark)

    def probe(self, spark: SparkSession, keys: DataFrame) -> DataFrame:
        """(key, positive): membership probe of ``keys`` (single
        column named ``key_col``) against the persisted filter. A key
        is positive iff ALL its bit positions are set. Returns ONE row
        per DISTINCT key regardless of input multiplicity — the same
        shape on the cold path (no state yet: everything negative) as
        on the warm path, so callers see a stable cardinality."""
        from http_log_anonymizer_spark.functions.text import hash64

        state = self.current(spark)
        kb = None
        for j in range(self.k):
            pj = keys.select(
                self.key_col,
                (
                    hash64(F.col(self.key_col).cast("string"), f"bloom{j}") % self.m
                ).alias("b"),
            )
            kb = pj if kb is None else kb.unionByName(pj)
        kb = kb.distinct()
        kd = kb.groupBy(self.key_col).agg(F.count("*").alias("kd"))
        if state is None:
            # distinct to match the warm path's one-row-per-key contract
            return (
                keys.select(self.key_col)
                .distinct()
                .select(self.key_col, F.lit(False).alias("positive"))
            )
        hits = (
            kb.join(F.broadcast(state), "b", "left_semi")
            .groupBy(self.key_col)
            .agg(F.count("*").alias("hit"))
        )
        return (
            keys.select(self.key_col)
            .distinct()
            .join(hits, self.key_col, "left")
            .join(kd, self.key_col)
            .select(
                self.key_col,
                (F.coalesce("hit", F.lit(0)) == F.col("kd")).alias("positive"),
            )
        )
