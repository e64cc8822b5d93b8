"""Streaming two-sample KS / Wasserstein-1 drift monitor — the ONLINE
twin of the batch ``ks_drift_report`` (plans/analytics.py) and the
binning-free companion of :mod:`http_log_anonymizer_spark.streaming.psi`:
PSI needs bucket edges fixed at deploy time; the KS monitor needs no
binning at all, because its state is the (cohort, cent-value) TYPE
table — bounded by the value grid, not the stream length.

Per micro-batch the sink ADDS the arriving (cohort, c) counts into the
epoch state (pure mergeable counters: arrival order and batch
boundaries cannot change the result; replay safety from the epoch
protocol alone). The ``ks()`` readout replays the batch query's exact
integer formulation — cumulative ECDFs over the union support,
cross-multiplied integer gaps, lexicographic-struct argmax, Smirnov's
5% critical value — over reference-vs-accumulated counts, and is
asserted EQUAL row-for-row to ``ks_drift_report`` on the same split
(tests/test_streaming_ks.py).

Reference parity: the reference pipeline has no monitoring tier; this
extends the engine-grade streaming surface (SURVEY.md §2 families).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from http_log_anonymizer_spark.operators.materialize import pin
from http_log_anonymizer_spark.plans.analytics import _KS_ALPHA_C
from http_log_anonymizer_spark.streaming.epoch_state import EpochStateSink


class StreamingKSSink(EpochStateSink):
    """foreachBatch writer accumulating the CURRENT-window value type
    table per cohort against a fixed reference window. ``reference``
    is a static (cohort_col, value_col) DataFrame (the calibration
    window). Epoch protocol: ``streaming/epoch_state.py``."""

    def __init__(
        self,
        base_dir: str,
        reference: DataFrame,
        cohort_col: str = "event_type",
        value_col: str = "value",
    ) -> None:
        self.base_dir = base_dir
        self.cohort_col = cohort_col
        self.value_col = value_col
        self._ref = pin(
            self._quantize(reference)
            .groupBy("cohort", "c")
            .agg(F.count("*").cast("long").alias("r"))
        )

    def _quantize(self, df: DataFrame) -> DataFrame:
        """(cohort, c): the batch query's cent quantization. NULL
        measurements are dropped, matching the batch report's explicit
        exclusion (a NULL has no place on the ECDF grid)."""
        return df.filter(F.col(self.value_col).isNotNull()).select(
            F.col(self.cohort_col).alias("cohort"),
            F.round(F.col(self.value_col) * 100).cast("long").alias("c"),
        )

    # -- the sink ------------------------------------------------------

    def _base(self, batch_df: DataFrame) -> DataFrame:
        return (
            self._quantize(batch_df)
            .groupBy("cohort", "c")
            .agg(F.count("*").cast("long").alias("q"))
        )

    @staticmethod
    def _merge(states: DataFrame) -> DataFrame:
        return states.groupBy("cohort", "c").agg(F.sum("q").cast("long").alias("q"))

    # -- readout -------------------------------------------------------

    def ks(self, spark: SparkSession) -> DataFrame:
        """(cohort, n_ref, n_cur, ks, ks_at, w1_cents, reject_h0) over
        reference vs everything committed — the batch ks_drift_report
        formulation with the same column names, so batch and stream
        outputs are directly comparable."""
        cur = self.current(spark)
        if cur is None:
            cur = spark.createDataFrame([], "cohort string, c long, q long")
        t0 = (
            self._ref.join(cur, ["cohort", "c"], "full")
            .select(
                "cohort",
                "c",
                F.coalesce("r", F.lit(0)).cast("long").alias("r"),
                F.coalesce("q", F.lit(0)).cast("long").alias("q"),
            )
        )
        # regroup so (cohort, c) is unique even when a real cohort is
        # named 'ALL' — the batch ks_drift_report fix, mirrored so the
        # readout stays equal to it row for row
        t = (
            t0.unionByName(
                t0.groupBy("c")
                .agg(
                    F.sum("r").cast("long").alias("r"),
                    F.sum("q").cast("long").alias("q"),
                )
                .select(F.lit("ALL").alias("cohort"), "c", "r", "q")
            )
            .groupBy("cohort", "c")
            .agg(
                F.sum("r").cast("long").alias("r"),
                F.sum("q").cast("long").alias("q"),
            )
        )
        w = Window.partitionBy("cohort").orderBy("c")
        wc = Window.partitionBy("cohort")
        e = t.select(
            "cohort",
            "c",
            F.sum("r").over(w).alias("cum_r"),
            F.sum("q").over(w).alias("cum_q"),
            F.lead("c").over(w).alias("c_next"),
            F.sum("r").over(wc).alias("tr"),
            F.sum("q").over(wc).alias("tc"),
        )
        dec = "decimal(38,0)"
        absd = F.abs(
            F.col("cum_r").cast(dec) * F.col("tc")
            - F.col("cum_q").cast(dec) * F.col("tr")
        )
        d = e.select(
            "cohort",
            "c",
            "tr",
            "tc",
            absd.alias("absd"),
            F.when(F.col("c_next").isNull(), F.lit(0).cast(dec))
            .otherwise(absd * (F.col("c_next") - F.col("c")))
            .alias("w1term"),
        )
        agg = d.groupBy("cohort").agg(
            F.min("tr").cast("long").alias("n_ref"),
            F.min("tc").cast("long").alias("n_cur"),
            F.max(
                F.struct(F.col("absd").alias("a"), (-F.col("c")).alias("b"))
            ).alias("mx"),
            F.sum("w1term").alias("w1n"),
        )
        nm = F.col("n_ref").cast("double") * F.col("n_cur")
        ks = F.col("mx.a").cast("double") / nm
        crit = F.lit(_KS_ALPHA_C) * F.sqrt(
            (F.col("n_ref") + F.col("n_cur").cast("double")) / nm
        )
        # Degenerate-sample guard (ADVICE r07): a cohort present in the
        # reference with ZERO current rows (before the first batch, or
        # a vanished cohort) — or current rows with no reference — has
        # an undefined two-sample statistic (0/0), but one-sided
        # presence IS maximal drift, so the guard emits NULL stats with
        # reject_h0 = true instead of a NaN that alarms() would
        # silently skip. Exact integer gate, mirroring the batch twin.
        degen = (F.col("n_ref") == 0) | (F.col("n_cur") == 0)
        return agg.select(
            "cohort",
            "n_ref",
            "n_cur",
            F.when(~degen, F.round(ks, 6)).alias("ks"),
            F.when(~degen, (-F.col("mx.b")).cast("long")).alias("ks_at"),
            F.when(~degen, F.round(F.col("w1n").cast("double") / nm, 4)).alias(
                "w1_cents"
            ),
            F.when(degen, F.lit(True)).otherwise(ks >= crit).alias("reject_h0"),
        ).orderBy("cohort")

    def alarms(self, spark: SparkSession) -> DataFrame:
        """Cohorts whose current KS rejects H0 at the 5% level."""
        return self.ks(spark).filter(F.col("reject_h0"))
