"""Streaming CUSUM change detection — Page's statistic maintained in
``foreachBatch``, the ONLINE twin of the batch ``cusum_spend_monitor``
query (plans/analytics.py, Spark 4.1 recursive CTE). Sequential change
detection is the canonical streaming computation — the whole point of
CUSUM is to alarm while the stream is still arriving.

Contract: each micro-batch is one TIME SLICE (a month, an hour — the
trigger cadence defines the step). Per batch, for every monitored key:

    S_t     = max(0, S_{t-1} + sum(batch values for key) - baseline(key))
    Smax_t  = max(Smax_{t-1}, S_t)

The ``baseline`` DataFrame (key, baseline value) defines the monitored
key universe; keys absent from a slice still step (their sum is 0), so
the statistic decays exactly as the batch recursion's dense calendar
does. State is |baseline| rows on the
:class:`~http_log_anonymizer_spark.streaming.epoch_state.EpochStateSink`
crash-safe epoch protocol — the recurrence is order-dependent and
non-idempotent, so replay safety comes from epochs alone (a replayed
slice recomputes from exactly the pre-batch state), like the CMS sink.

Fed the 80 monthly slices of the orders table, the sink's final state
is asserted EQUAL, key for key and in both S and Smax, to the batch
recursive-CTE query (tests/test_streaming_cusum.py) — batch recursion
and streaming fold are the same integer recurrence.

Reference parity: the reference pipeline has no sequential-analytics
tier; this sink extends the engine-grade streaming surface (SURVEY.md
§2 families) with the standard regime-shift monitor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from http_log_anonymizer_spark.streaming.epoch_state import EpochStateSink


class StreamingCUSUMSink(EpochStateSink):
    """foreachBatch writer maintaining (key, s, s_max) CUSUM state over
    ``value_col`` sums per ``key_col``, one time step per micro-batch.
    ``baseline`` is a static (key, baseline) DataFrame defining the
    monitored keys. Epoch protocol: ``streaming/epoch_state.py``; an
    empty batch is a time step here, so this sink keeps its own
    ``write``."""

    def __init__(
        self,
        base_dir: str,
        baseline: DataFrame,
        key_col: str = "key",
        value_col: str = "value",
    ) -> None:
        self.base_dir = base_dir
        self.key_col = key_col
        self.value_col = value_col
        self._baseline = baseline.select(
            F.col(key_col).alias("key"), F.col("baseline").cast("long").alias("baseline")
        )

    def write(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        tag = self._begin(batch_id)
        # an empty slice is still a TIME STEP (decay applies) — unlike
        # the sketch sinks, do not early-return on empty batches
        sums = (
            batch_df.select(
                F.col(self.key_col).alias("key"),
                F.col(self.value_col).cast("long").alias("v"),
            )
            .groupBy("key")
            .agg(F.sum("v").alias("x"))
        )
        state = self._read_state(spark, tag)
        if state is None:
            state = self._baseline.select(
                "key", F.lit(0).cast("long").alias("s"), F.lit(0).cast("long").alias("s_max")
            )
        s_new = F.greatest(
            F.lit(0).cast("long"),
            F.col("s") + F.coalesce(F.col("x"), F.lit(0)) - F.col("baseline"),
        )
        nxt = (
            state.join(sums, "key", "left")
            .join(self._baseline, "key")
            .select(
                "key",
                s_new.alias("s"),
                F.greatest(F.col("s_max"), s_new).alias("s_max"),
            )
        )
        self._commit(nxt, tag)

    # -- readout -------------------------------------------------------

    def state(self, spark: SparkSession) -> DataFrame | None:
        """(key, s, s_max) as of the last committed slice."""
        return self.current(spark)

    def alarms(self, spark: SparkSession, threshold: int) -> DataFrame:
        """Keys whose current statistic exceeds ``threshold``."""
        st = self.current(spark)
        if st is None:
            return spark.createDataFrame([], "key long, s long, s_max long")
        return st.filter(F.col("s") >= threshold)
