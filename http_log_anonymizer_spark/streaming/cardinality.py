"""Streaming distinct-count — an explicit HyperLogLog register table
maintained in ``foreachBatch``, the unbounded-stream twin of the batch
``hll_user_cardinality`` query (plans/analytics.py).

HLL registers are the canonical MERGEABLE summary (Agarwal et al.,
Mergeable Summaries, PODS 2012): the register table of a union of
streams is the register-wise MAX of the per-stream tables. This sink
folds each micro-batch's registers into the persisted table by one
``groupBy(bucket).max`` — and because max-merge is IDEMPOTENT and
insensitive to duplicate delivery, the sink's state is correct under
every at-least-once anomaly without any dedup bookkeeping:

- a replayed micro-batch re-merges the same registers — a no-op;
- rows delivered twice (upstream retry) hash to the same
  (bucket, rank) — a no-op;
- two streams folded into the same state dir estimate their union.

The construction is byte-identical to the batch query's (same
md5-derived :func:`~http_log_anonymizer_spark.functions.text.hash64`,
same low-``b``-bits bucket split, same integer-only tail-rank), so the
persisted register table is BIT-EQUAL to running the batch HLL over
everything that ever arrived — asserted in
tests/test_streaming_cardinality.py, alongside torn-epoch repair and
restart parity on the
:class:`~http_log_anonymizer_spark.streaming.epoch_state.EpochStateSink`
crash-safe epoch protocol.

State is exactly ``<= 2^b`` rows regardless of stream length; the
estimate is the standard alpha_m bias-corrected harmonic mean with
small-range linear counting (Flajolet et al., AofA 2007).

Reference parity: the reference pipeline has no streaming sketch tier
(its dedup is ClickHouse-side, `sink.rs:316-356`); this sink is part of
the engine-grade extension surface (SURVEY.md §2's training-data
pipeline families) that gives the stream the same cardinality
capability the batch registry already verifies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from http_log_anonymizer_spark.streaming.epoch_state import EpochStateSink


class StreamingCardinalitySink(EpochStateSink):
    """foreachBatch writer maintaining a ``2^b``-register HyperLogLog
    over ``key_col``. Epoch protocol: ``streaming/epoch_state.py``."""

    def __init__(
        self, base_dir: str, b: int = 6, key_col: str = "user_id", seed: str = "hll"
    ) -> None:
        if not 4 <= b <= 16:
            raise ValueError(f"register bits b={b} outside [4, 16]")
        self.base_dir = base_dir
        self.b = b
        self.m = 1 << b
        self.key_col = key_col
        self.seed = seed

    def _base(self, batch_df: DataFrame) -> DataFrame:
        """(bucket, m_j) registers for ONE batch — the same integer-only
        construction as the batch query: md5 hash, low-b-bits bucket,
        tail rank = trailing zeros of the suffix + 1. The all-zero
        suffix saturates at 61-b (the suffix is the top 60-b bits of a
        60-bit hash, so rank can reach at most (60-b)+1) — for the
        batch query's fixed b=6 that is 55; parameterizing keeps any
        b in [4,16] in lockstep with its own batch construction. Keep
        in lockstep with plans/analytics.py:hll_user_cardinality."""
        from http_log_anonymizer_spark.functions.text import hash64

        hashed = batch_df.select(
            hash64(F.col(self.key_col).cast("string"), self.seed).alias("h")
        )
        parts = hashed.select(
            F.col("h").bitwiseAND(self.m - 1).alias("bucket"),
            F.shiftright("h", self.b).alias("v"),
        )
        low = F.col("v").bitwiseAND(-F.col("v"))
        rank = F.when(F.col("v") == 0, F.lit(61 - self.b)).otherwise(
            F.bit_count(low.bitwiseXOR(low - 1))
        )
        return (
            parts.select("bucket", rank.alias("m_j"))
            .groupBy("bucket")
            .agg(F.max("m_j").alias("m_j"))
        )

    @staticmethod
    def _merge(states: DataFrame) -> DataFrame:
        return states.groupBy("bucket").agg(F.max("m_j").alias("m_j"))

    # -- readout -------------------------------------------------------

    def registers(self, spark: SparkSession) -> DataFrame | None:
        """The (bucket, m_j) table as of the last committed batch."""
        return self.current(spark)

    def estimate(self, spark: SparkSession) -> float:
        """Bias-corrected cardinality estimate from the persisted
        registers (alpha_m harmonic mean + linear counting for the
        small range), 0.0 before the first batch. The register read is
        <= 2^b rows — a driver-side constant."""
        regs = self.current(spark)
        if regs is None:
            return 0.0
        rows = regs.collect()
        if not rows:
            return 0.0
        m = self.m
        alpha = {16: 0.673, 32: 0.697, 64: 0.709}.get(m, 0.7213 / (1 + 1.079 / m))
        import math

        s = sum(2.0 ** -r.m_j for r in rows) + (m - len(rows))
        raw = alpha * m * m / s
        # a present bucket always has rank >= 1, so empty == absent
        zeros = m - len(rows)
        if raw < 2.5 * m and zeros > 0:
            return m * math.log(m / zeros)
        return raw
