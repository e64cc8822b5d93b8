"""Streaming quantiles — an explicit HDR histogram maintained in
``foreachBatch``, the unbounded-stream twin of the batch
``hdr_latency_quantiles`` query (plans/analytics.py).

HDR histograms are the production mergeable quantile summary: buckets
are a pure function of the value (power-of-two ranges with ``m``
mantissa sub-buckets, relative error <= 2^-m), so two histograms merge
by ADDING counts per bucket — across partitions, micro-batches,
streams or days. The sink folds each batch with one
``groupBy(lb).sum`` against the persisted table, on the
:class:`~http_log_anonymizer_spark.streaming.epoch_state.EpochStateSink`
crash-safe epoch protocol (a replayed batch recomputes from exactly
the pre-batch epoch, so addition never double-counts).

The bucket function is byte-identical to the batch query's
(plans/analytics.py:_hdr_bucket_spark — keep in lockstep), so the
persisted histogram is BIT-EQUAL to bucketing everything that ever
arrived in one batch job, and quantile readouts carry the same
guaranteed relative error. Asserted in
tests/test_streaming_quantiles.py alongside torn-epoch repair and a
plain-Python fold parity check.

State is bounded by the bucket-space size (<= (64 - m) * 2^m rows for
long inputs) regardless of stream length. Input domain must stay
below 2^45 (the floor(log2) ulp contract of the batch query).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from http_log_anonymizer_spark.streaming.epoch_state import EpochStateSink


class StreamingHdrHistogramSink(EpochStateSink):
    """foreachBatch writer maintaining an HDR histogram (``m`` mantissa
    bits) over ``value_col`` (non-negative integers). Epoch protocol:
    ``streaming/epoch_state.py``."""

    def __init__(self, base_dir: str, m: int = 3, value_col: str = "v") -> None:
        if not 1 <= m <= 8:
            raise ValueError(f"mantissa bits m={m} outside [1, 8]")
        self.base_dir = base_dir
        self.m = m
        self.value_col = value_col

    def _bucket(self) -> F.Column:
        from http_log_anonymizer_spark.plans.analytics import _hdr_bucket_spark

        # the batch query's bucket function, parameterized on m via a
        # local twin when m differs from the batch constant
        from http_log_anonymizer_spark.plans.analytics import _HDR_M

        if self.m == _HDR_M:
            return _hdr_bucket_spark(self.value_col)
        sh = f"CAST(floor(log2({self.value_col})) AS INT) - {self.m}"
        return F.when(
            F.col(self.value_col) < (1 << self.m), F.col(self.value_col)
        ).otherwise(F.expr(f"shiftleft(shiftright({self.value_col}, {sh}), {sh})"))

    def _base(self, batch_df: DataFrame) -> DataFrame:
        return batch_df.groupBy(self._bucket().alias("lb")).agg(
            F.count("*").alias("cnt")
        )

    @staticmethod
    def _merge(states: DataFrame) -> DataFrame:
        return states.groupBy("lb").agg(F.sum("cnt").alias("cnt"))

    # -- readout -------------------------------------------------------

    def histogram(self, spark: SparkSession) -> DataFrame | None:
        """The (lb, cnt) table as of the last committed batch."""
        return self.current(spark)

    def quantiles(self, spark: SparkSession, qs: tuple[float, ...]) -> dict[float, int]:
        """Quantile estimates (bucket lower bounds) from the persisted
        histogram — the driver-side read is bucket-space sized, a
        constant. Empty state -> empty dict."""
        h = self.current(spark)
        if h is None:
            return {}
        rows = sorted((r.lb, r.cnt) for r in h.collect())
        if not rows:
            return {}
        import math

        n = sum(c for _, c in rows)
        out: dict[float, int] = {}
        for q in qs:
            r = max(1, math.ceil(q * n))  # same rank statistic as the batch query
            acc = 0
            for lb, c in rows:
                acc += c
                if acc >= r:
                    out[q] = lb
                    break
        return out
