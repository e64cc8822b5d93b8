"""Streaming PSI drift monitor — population stability index maintained
in ``foreachBatch``, the ONLINE twin of the batch ``psi_drift_report``
query (plans/analytics.py). Drift statistics are exactly what runs on
a stream in production: the reference histogram comes from the model's
CALIBRATION window (fixed at deploy time), and the "current" window is
whatever has arrived since — a monitor that only exists as a nightly
batch job alarms a day late (VERDICT r06 item 6).

Contract: at construction the sink takes the reference rows and the
FIXED bucket edges (lo, hi on the integer cent grid — binning is part
of the calibration artifact; a stream cannot use the future max the
way the batch query's corpus-wide min/max does). Per micro-batch it
bucketizes the arriving values and ADDS the per-(cohort, bucket)
counts into the epoch state — a pure mergeable-counter fold, so
arrival order and batch boundaries cannot change the result. The
``psi()`` readout replays the batch query's exact formulation
(zero-completed bucket grid, +1 Laplace smoothing, pooled ALL cohort,
4dp rounding) over reference-vs-accumulated counts.

Fed the same ref/cur split and the batch query's corpus-derived edges,
the readout after the last micro-batch is asserted EQUAL, row for row,
to ``psi_drift_report`` (tests/test_streaming_psi.py) — stream fold
and batch query are the same integer histogram.

State is cohorts x buckets count rows on the
:class:`~http_log_anonymizer_spark.streaming.epoch_state.EpochStateSink`
crash-safe epoch protocol: a replayed batch recomputes from exactly
the pre-batch state, so at-least-once delivery never double-counts.

Reference parity: the reference pipeline has no monitoring tier; this
sink extends the engine-grade streaming surface (SURVEY.md §2
families) with the standard model-drift monitor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from http_log_anonymizer_spark.operators.materialize import pin
from http_log_anonymizer_spark.plans.analytics import _PSI_ALERT, _PSI_BUCKETS
from http_log_anonymizer_spark.streaming.epoch_state import EpochStateSink


class StreamingPSISink(EpochStateSink):
    """foreachBatch writer accumulating the CURRENT-window value
    histogram per cohort against a fixed reference histogram.
    ``reference`` is a static (cohort_col, value_col) DataFrame (the
    calibration window); ``lo``/``hi`` are the integer bucket edges
    (inclusive) on the cent grid, fixed at deploy time. Epoch protocol:
    ``streaming/epoch_state.py``."""

    def __init__(
        self,
        base_dir: str,
        reference: DataFrame,
        lo: int,
        hi: int,
        buckets: int = _PSI_BUCKETS,
        cohort_col: str = "event_type",
        value_col: str = "value",
    ) -> None:
        self.base_dir = base_dir
        self.lo = int(lo)
        self.hi = int(hi)
        self.buckets = int(buckets)
        self.cohort_col = cohort_col
        self.value_col = value_col
        # the reference histogram is part of the deploy artifact:
        # materialize it once (cohorts x buckets rows)
        self._ref = pin(
            self._bucketize(reference)
            .groupBy("cohort", "bucket")
            .agg(F.count("*").cast("long").alias("n_ref"))
        )

    def _bucketize(self, df: DataFrame) -> DataFrame:
        """(cohort, bucket) per row — the batch query's exact integer
        binning: c = round(value*100), bucket = (c-lo)*b div (hi-lo+1),
        CLAMPED to [0, b) (standard PSI practice with deploy-time
        edges): values outside the calibration range land in the edge
        buckets instead of silently vanishing from both the terms and
        the n_cur totals — out-of-range drift is the strongest signal
        a fixed-calibration monitor can see, and an unclamped index
        would drop exactly those rows at the psi() grid join (ADVICE
        r07). When fed corpus-derived edges (the batch-parity tests)
        the clamp is a no-op, so batch/stream equality is unaffected.
        NULL measurements are dropped, matching the batch report's
        explicit exclusion (a NULL has no bucket)."""
        b, lo, hi = self.buckets, self.lo, self.hi
        return df.filter(F.col(self.value_col).isNotNull()).select(
            F.col(self.cohort_col).alias("cohort"),
            F.round(F.col(self.value_col) * 100).cast("long").alias("c"),
        ).select(
            "cohort",
            F.expr(
                f"greatest(0, least({b} - 1,"
                f" ((c - {lo}) * {b}) div ({hi} - {lo} + 1)))"
            ).alias("bucket"),
        )

    # -- the sink ------------------------------------------------------

    def _base(self, batch_df: DataFrame) -> DataFrame:
        return (
            self._bucketize(batch_df)
            .groupBy("cohort", "bucket")
            .agg(F.count("*").cast("long").alias("n_cur"))
        )

    @staticmethod
    def _merge(states: DataFrame) -> DataFrame:
        return states.groupBy("cohort", "bucket").agg(
            F.sum("n_cur").cast("long").alias("n_cur")
        )

    # -- readout -------------------------------------------------------

    def psi(self, spark: SparkSession) -> DataFrame:
        """(cohort, n_ref, n_cur, psi, max_bucket_contrib, drift_flag)
        over reference vs everything committed — the batch query's
        exact formulation (zero-completed grid, +1 Laplace smoothing,
        pooled ALL cohort, 4dp) with the same column names, so batch
        and stream outputs are directly comparable."""
        b = self.buckets
        cur = self.current(spark)
        if cur is None:
            cur = spark.createDataFrame(
                [], "cohort string, bucket long, n_cur long"
            )
        h = (
            self._ref.join(cur, ["cohort", "bucket"], "full")
            .select(
                "cohort",
                "bucket",
                F.coalesce("n_ref", F.lit(0)).cast("long").alias("n_ref"),
                F.coalesce("n_cur", F.lit(0)).cast("long").alias("n_cur"),
            )
        )
        h = h.unionByName(
            h.groupBy("bucket")
            .agg(
                F.sum("n_ref").cast("long").alias("n_ref"),
                F.sum("n_cur").cast("long").alias("n_cur"),
            )
            .select(F.lit("ALL").alias("cohort"), "bucket", "n_ref", "n_cur")
        )
        grid = (
            h.select("cohort")
            .distinct()
            .crossJoin(spark.range(b).select(F.col("id").alias("bucket")))
        )
        f = grid.join(h, ["cohort", "bucket"], "left").select(
            "cohort",
            "bucket",
            F.coalesce(F.col("n_ref"), F.lit(0)).alias("n_ref"),
            F.coalesce(F.col("n_cur"), F.lit(0)).alias("n_cur"),
        )
        w = Window.partitionBy("cohort")
        t = f.select(
            "cohort",
            "n_ref",
            "n_cur",
            F.sum("n_ref").over(w).alias("tr"),
            F.sum("n_cur").over(w).alias("tc"),
        )
        p = (F.col("n_ref") + 1.0) / (F.col("tr") + b)
        q = (F.col("n_cur") + 1.0) / (F.col("tc") + b)
        term = (p - q) * F.log(p / q)
        return (
            t.select("cohort", "tr", "tc", term.alias("term"))
            .groupBy("cohort")
            .agg(
                F.min("tr").cast("long").alias("n_ref"),
                F.min("tc").cast("long").alias("n_cur"),
                F.round(F.sum("term"), 4).alias("psi"),
                F.round(F.max("term"), 4).alias("max_bucket_contrib"),
                (F.sum("term") >= _PSI_ALERT).alias("drift_flag"),
            )
            .orderBy("cohort")
        )

    def alarms(self, spark: SparkSession) -> DataFrame:
        """Cohorts currently over the conventional PSI threshold."""
        return self.psi(spark).filter(F.col("drift_flag"))
