"""Streaming DP-histogram monitor — per-release-key additive counts
maintained in ``foreachBatch``, the unbounded-stream twin of the batch
``dp_histogram_report`` (plans/http_log.py) and the release end of the
ingest-time privacy suite (k-anonymity, l-diversity, t-closeness
monitors audit the rows; this one RELEASES noisy counts with no rows
at all).

Why this composes with differential privacy at all: the true counts are
additive state — exact, never noised — and the two-sided geometric
noise (Ghosh et al., STOC 2009) is applied only at ``dp_report()``
readout, from the SAME Python-computed CDF boundaries the batch query
inlines (``plans.http_log.dp_noise_col`` — one formula, two callers).
Noise-at-readout is the standard continual-release simplification: each
readout is one eps-DP release of the counts-so-far; a deployment doing
many readouts composes budgets across them (sequential composition) and
would rotate the seed nonce per release. Fed the same rows, the readout
is asserted EQUAL row-for-row to the batch report
(tests/test_streaming_dp.py) — exactly because state stays exact and
noise is a pure function of (key, seed).

Delivery contract: identical to the k-anon/l-div/t-closeness monitors
(additive merge — same-batch-id replays safe via the epoch protocol;
cross-batch-id redelivery needs upstream watermarked dedup, and
``dedup_key`` covers the intra-batch half).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from http_log_anonymizer_spark.functions.text import hash64
from http_log_anonymizer_spark.plans.http_log import _DP_EPS, dp_noise_col
from http_log_anonymizer_spark.streaming.epoch_state import EpochStateSink


class StreamingDPHistogram(EpochStateSink):
    """foreachBatch writer maintaining exact (key..., n) counts; DP
    noise enters only in the readout. Epoch protocol:
    ``streaming/epoch_state.py``."""

    def __init__(
        self,
        base_dir: str,
        key_cols: tuple[str, ...],
        seed: str = "dp",
        dedup_key: str | None = None,
    ) -> None:
        if not key_cols:
            raise ValueError("need at least one release-key column")
        self.base_dir = base_dir
        self.key_cols = list(key_cols)
        self.seed = seed
        self.dedup_key = dedup_key

    def _base(self, batch_df: DataFrame) -> DataFrame:
        if self.dedup_key is not None:
            batch_df = batch_df.dropDuplicates([self.dedup_key])
        return batch_df.groupBy(*self.key_cols).agg(
            F.count("*").cast("long").alias("n")
        )

    def _merge(self, states: DataFrame) -> DataFrame:
        return states.groupBy(*self.key_cols).agg(F.sum("n").cast("long").alias("n"))

    # -- readout -------------------------------------------------------

    def dp_report(self, spark: SparkSession) -> DataFrame | None:
        """One eps-DP release of the counts-so-far: (key..., noisy_n,
        epsilon), truncated-two-sided-geometric noise from the batch
        report's inlined CDF boundaries, clamped at 0. True counts
        never leave the method; repeated releases compose budgets
        sequentially and should rotate ``seed``."""
        cs = self.current(spark)
        if cs is None:
            return None
        u = hash64(F.concat_ws("|", *[F.col(c) for c in self.key_cols]), self.seed)
        noisy = F.greatest(
            F.lit(0).cast("long"), (F.col("n") + dp_noise_col(u)).cast("long")
        )
        return cs.select(
            *self.key_cols,
            noisy.alias("noisy_n"),
            F.lit(float(_DP_EPS)).alias("epsilon"),
        ).orderBy(*self.key_cols)
