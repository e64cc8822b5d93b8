"""Streaming Benford first-digit monitor — the online twin of the
batch ``benford_first_digit_report`` (plans/analytics.py): the
forensic digit-law screen belongs at ingest, where a fraudulent or
misconfigured upstream (a capped generator, a unit mix-up, fabricated
amounts) shifts the first-digit distribution within a few batches.

State is nine exact BIGINT digit counts, so arrival order and batch
boundaries cannot change the readout, incremental merges equal the
one-shot batch aggregate bit for bit, and the epoch protocol absorbs
same-batch-id replays. ``report()`` is the batch query's own readout
(bf_readout over bf_merge_rollups), asserted EQUAL row for row to
benford_first_digit_report over arrived rows in
tests/test_streaming_benford.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from http_log_anonymizer_spark.plans.analytics import (
    _BENFORD_MAD,
    bf_digit_counts,
    bf_merge_rollups,
    bf_readout,
)
from http_log_anonymizer_spark.streaming.epoch_state import EpochStateSink


class StreamingBenfordMonitor(EpochStateSink):
    """foreachBatch writer accumulating first-digit counts over rows
    carrying ``amount_col`` (epoch protocol:
    ``streaming/epoch_state.py``). ``alarm_mad_micro``: page when the
    pooled MAD (on the 1e-6 grid) exceeds this; the default is Nigrini's
    nonconformity line ({_BENFORD_MAD[2]} = 0.015)."""

    def __init__(
        self,
        base_dir: str,
        amount_col: str = "o_totalprice",
        alarm_mad_micro: int = _BENFORD_MAD[2],
    ) -> None:
        self.base_dir = base_dir
        self.amount_col = amount_col
        self.alarm_mad_micro = alarm_mad_micro

    def _base(self, batch_df: DataFrame) -> DataFrame:
        return bf_digit_counts(batch_df, self.amount_col)

    _merge = staticmethod(bf_merge_rollups)

    # -- readout -------------------------------------------------------

    def report(self, spark: SparkSession) -> DataFrame | None:
        """The benford_first_digit_report table over everything
        committed, or None before the first batch."""
        st = self.current(spark)
        if st is None:
            return None
        return bf_readout(st)

    def alarms(self, spark: SparkSession) -> list[str]:
        """``["benford_deviation:<conformity>"]`` when the pooled MAD
        exceeds the configured budget."""
        st = self.current(spark)
        if st is None:
            return []
        pooled = bf_readout(st).filter("digit = 0").collect()[0]
        mad_micro = round(pooled.abs_dev * 1_000_000)
        if mad_micro > self.alarm_mad_micro:
            return [f"benford_deviation:{pooled.conformity}"]
        return []
