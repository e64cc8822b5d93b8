"""Streaming embedding-spectrum monitor — per-dimension exact integer
moments maintained in ``foreachBatch``, the online twin of the batch
``embedding_spectrum_report`` (plans/similarity.py). An embedding
pipeline's covariance spectrum is a DEPLOY-TIME decision input (it
picks prefix-truncation vs rotation ANN tiers — SCALE.md r08
anisotropic ladder), and it drifts when the upstream encoder changes:
this monitor keeps the spectrum current as vectors arrive, so a
re-encoded feed that flattens (or steepens) the spectrum is visible at
ingest time, not at the next index rebuild.

State is one row per dimension — (dim, n, s1, s2) with the moment
sums as decimal(38,0) on the 1e-6 component grid — bounded by the
embedding WIDTH, never stream length, and purely additive, so arrival
order, batch boundaries and same-batch-id replays cannot change the
readout (the epoch protocol handles the latter). ``spectrum()``
reuses the batch query's exact edge arithmetic
(plans/similarity.py:spectrum_from_moments), so fed the same rows the
readout is EQUAL row for row to the batch report — asserted in
tests/test_streaming_spectrum.py.

Reference parity: the reference pipeline has no monitoring tier; this
extends the engine-grade streaming surface alongside the PSI/KS drift
and privacy monitors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from http_log_anonymizer_spark.plans.similarity import (
    spectrum_from_moments,
    spectrum_moments,
)
from http_log_anonymizer_spark.streaming.epoch_state import EpochStateSink


class StreamingSpectrumMonitor(EpochStateSink):
    """foreachBatch writer accumulating per-dimension moments of an
    ``embedding`` array column. Epoch protocol:
    ``streaming/epoch_state.py``."""

    def __init__(self, base_dir: str, embedding_col: str = "embedding") -> None:
        self.base_dir = base_dir
        self.embedding_col = embedding_col

    def _base(self, batch_df: DataFrame) -> DataFrame:
        return spectrum_moments(
            batch_df.select(F.posexplode(self.embedding_col).alias("dim", "val"))
        )

    @staticmethod
    def _merge(states: DataFrame) -> DataFrame:
        return states.groupBy("dim").agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("s1").cast("decimal(38,0)").alias("s1"),
            F.sum("s2").cast("decimal(38,0)").alias("s2"),
        )

    # -- readout -------------------------------------------------------

    def spectrum(self, spark: SparkSession) -> DataFrame | None:
        """(dim, subspace, var, cum_energy_share) over everything
        committed — the batch report's exact arithmetic over the
        accumulated moments, or None before the first batch."""
        st = self.current(spark)
        if st is None:
            return None
        return spectrum_from_moments(st)

    def prefix_energy(self, spark: SparkSession, d: int) -> float | None:
        """Energy share the first ``d`` dims currently hold — the
        Matryoshka-prefilter retention number; None before the first
        batch or on a zero-energy stream."""
        sp = self.spectrum(spark)
        if sp is None:
            return None
        row = sp.filter(F.col("dim") == d - 1).collect()
        if not row or row[0].cum_energy_share is None:
            return None
        return float(row[0].cum_energy_share)
