"""Streaming changepoint monitor — the ONLINE twin of the batch
``changepoint_revenue`` query (plans/analytics.py): binary-segmentation
mean-shift detection kept current as order rows arrive, paging the
moment a regime shift in daily revenue becomes the best split of the
observed series instead of at the next offline scan.

State is the batch query's own map half — the per-day (sum-of-cents,
count) table from ``changepoint_daily_base`` — which is
ADDITION-MERGEABLE by day: arrival order and batch boundaries cannot
change the fold, incremental merges equal the one-shot batch aggregate
bit for bit, and the calendar bounds the state size no matter how many
rows arrive (the same argument that makes the batch reduce half
scale-exempt). The epoch protocol absorbs same-batch-id replays.

``report()`` replays the batch query's own reduce half
(``changepoint_scan``) over the folded state — asserted row-equal to
``changepoint_revenue`` over arrived rows in
tests/test_streaming_changepoint.py — and ``alarms()`` pages when the
best split's SSE gain meets a configured threshold.

Reference parity: the reference pipeline has no sequential-analytics
tier; this sink extends the engine-grade streaming surface (SURVEY.md
§2 families) alongside the CUSUM monitor — CUSUM watches a KNOWN
baseline for drift, this monitor finds an UNKNOWN shift point.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from http_log_anonymizer_spark.plans.analytics import (
    changepoint_daily_base,
    changepoint_scan,
    theilsen_scan,
)
from http_log_anonymizer_spark.streaming.epoch_state import EpochStateSink

_EMPTY = "d date, s decimal(38,0), n decimal(38,0)"


class StreamingChangepointMonitor(EpochStateSink):
    """foreachBatch writer accumulating the daily (sum, count) revenue
    base over order-shaped rows (o_orderdate, o_totalprice). Epoch
    protocol: ``streaming/epoch_state.py``."""

    def __init__(self, base_dir: str) -> None:
        self.base_dir = base_dir

    # unlike CUSUM, a batch is NOT a time step here — event time comes
    # from o_orderdate, so an empty batch changes nothing
    _base = staticmethod(changepoint_daily_base)

    @staticmethod
    def _merge(states: DataFrame) -> DataFrame:
        return states.groupBy("d").agg(
            F.expr("CAST(sum(s) AS DECIMAL(38,0))").alias("s"),
            F.expr("CAST(sum(n) AS DECIMAL(38,0))").alias("n"),
        )

    # -- readout -------------------------------------------------------

    def report(self, spark: SparkSession) -> DataFrame:
        """The batch changepoint report over all arrived rows: the
        query's own reduce half replayed on the folded daily state."""
        st = self.current(spark)
        if st is None or not st.take(1):
            return changepoint_scan(spark.createDataFrame([], _EMPTY))
        return changepoint_scan(st)

    def trend(self, spark: SparkSession) -> DataFrame:
        """The theilsen_trend_report readout over all arrived rows —
        the SAME (d, s, n) state feeds both detectors: the day index
        and cents sum the trend scan needs are derivable from it, so
        one monitor answers both "did the level shift?" (report) and
        "what is the robust slope?" (trend). Asserted row-equal to the
        batch query in tests."""
        st = self.current(spark)
        if st is None or not st.take(1):
            return theilsen_scan(
                spark.createDataFrame([], "x bigint, y bigint")
            )
        return theilsen_scan(
            st.select(
                F.expr("CAST(datediff(d, DATE '1992-01-01') AS BIGINT)").alias("x"),
                F.col("s").cast("long").alias("y"),
            )
        )

    def alarms(self, spark: SparkSession, min_gain_cents2: int) -> DataFrame:
        """Split candidates whose SSE gain meets the page threshold —
        empty until a shift large enough to matter has been observed."""
        return self.report(spark).filter(
            F.col("sse_gain_cents2") >= int(min_gain_cents2)
        )
