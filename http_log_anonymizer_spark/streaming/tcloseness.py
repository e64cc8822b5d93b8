"""Streaming t-closeness monitor — per-QI-class sensitive-value
distributions maintained in ``foreachBatch``, the unbounded-stream twin
of the batch ``t_closeness_report`` (plans/http_log.py) and the third
member of the streaming privacy suite (k-anonymity, streaming/kanon.py;
the batch l-diversity audit).

The skewness attack this catches at INGEST time: a class can keep a
healthy k and l >= 2 while its sensitive distribution drifts far from
the release's global mixture (a cohort that errors at 9x the base
rate). The monitor folds each micro-batch's (QI tuple, sensitive
value) counts additively into the epoch state — one row per distinct
(class, value), bounded by the QI x sensitive domain, not stream
length — and ``t_report()`` replays the batch query's exact
integer-TVD formulation (cross-multiplied gaps, closed-form
absent-value mass, floor-division buckets) over everything committed.
Fed the same rows, it is asserted EQUAL to the batch report's 'anon'
stage (tests/test_streaming_tcloseness.py).

Delivery contract: identical to the k-anon monitor (additive merge —
same-batch-id replays safe via the epoch protocol; cross-batch-id
redelivery needs upstream watermarked dedup, and ``dedup_key`` covers
the intra-batch half).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from http_log_anonymizer_spark.streaming.epoch_state import EpochStateSink

_TVD_BUCKETS = 10


class StreamingTClosenessMonitor(EpochStateSink):
    """foreachBatch writer maintaining (qi..., sensitive, c) counts;
    threshold t = num/den rational, matching the batch query's exact
    integer arithmetic. Epoch protocol:
    ``streaming/epoch_state.py``."""

    def __init__(
        self,
        base_dir: str,
        qi_cols: tuple[str, ...],
        sensitive_col: str,
        dedup_key: str | None = None,
    ) -> None:
        if not qi_cols:
            raise ValueError("need at least one quasi-identifier column")
        self.base_dir = base_dir
        self.qi_cols = list(qi_cols)
        self.sensitive_col = sensitive_col
        self.dedup_key = dedup_key

    def _base(self, batch_df: DataFrame) -> DataFrame:
        if self.dedup_key is not None:
            batch_df = batch_df.dropDuplicates([self.dedup_key])
        return batch_df.groupBy(*self.qi_cols, self.sensitive_col).agg(
            F.count("*").cast("long").alias("c")
        )

    def _merge(self, states: DataFrame) -> DataFrame:
        return states.groupBy(*self.qi_cols, self.sensitive_col).agg(
            F.sum("c").cast("long").alias("c")
        )

    # -- readout -------------------------------------------------------

    def class_tvd(self, spark: SparkSession) -> DataFrame | None:
        """(qi..., sz, tvd): each class's total variation distance from
        the release's global sensitive distribution — the per-class
        table behind the histogram, for drill-down."""
        cs = self.current(spark)
        if cs is None:
            return None
        num, _tot = self._tvd_table(cs)
        return num.select(
            *self.qi_cols,
            "sz",
            F.round(
                F.col("num").cast("double")
                / (F.lit(2.0) * F.col("sz") * F.col("n")),
                4,
            ).alias("tvd"),
        )

    def _tvd_table(self, cs: DataFrame):
        """The batch query's integer-exact TVD numerators: per class,
        sum over PRESENT sensitive values of |c*n - g*sz| plus the
        closed-form absent-value mass sz*(n - covered g)."""
        s = self.sensitive_col
        cls = cs.groupBy(*self.qi_cols).agg(F.sum("c").alias("sz"))
        g = cs.groupBy(s).agg(F.sum("c").alias("gc"))
        tot = cs.agg(F.sum("c").alias("n"))
        dec = "decimal(38,0)"
        num = (
            cs.join(cls, self.qi_cols)
            .join(F.broadcast(g), s)
            .crossJoin(F.broadcast(tot))
            .groupBy(*self.qi_cols)
            .agg(
                F.min("sz").alias("sz"),
                F.min("n").alias("n"),
                F.sum(
                    F.abs(
                        F.col("c").cast(dec) * F.col("n")
                        - F.col("gc").cast(dec) * F.col("sz")
                    )
                ).alias("num_present"),
                F.sum("gc").alias("g_cov"),
            )
            .select(
                *self.qi_cols,
                "sz",
                "n",
                (
                    F.col("num_present")
                    + F.col("sz").cast(dec) * (F.col("n") - F.col("g_cov"))
                ).alias("num"),
                (
                    F.lit(2).cast(dec) * F.col("sz").cast(dec) * F.col("n")
                ).alias("den"),
            )
        )
        return num, tot

    def t_report(self, spark: SparkSession) -> DataFrame | None:
        """TVD-bucket histogram in the batch query's shape
        (tvd_bucket, n_classes, n_rows, pct_rows, max_tvd_in_bucket) —
        directly comparable against the 'anon' stage of
        plans/http_log.py:t_closeness_report fed the same rows."""
        cs = self.current(spark)
        if cs is None:
            return None
        num, tot = self._tvd_table(cs)
        hist = num.groupBy(
            F.least(
                F.expr(f"CAST((num * {_TVD_BUCKETS}) DIV den AS BIGINT)"),
                F.lit(_TVD_BUCKETS - 1),
            ).alias("tvd_bucket")
        ).agg(
            F.count("*").alias("n_classes"),
            F.sum("sz").alias("n_rows"),
            F.round(
                F.max(
                    F.col("num").cast("double")
                    / (F.lit(2.0) * F.col("sz") * F.col("n"))
                ),
                4,
            ).alias("max_tvd_in_bucket"),
        )
        return (
            hist.crossJoin(F.broadcast(tot))
            .select(
                "tvd_bucket",
                "n_classes",
                F.col("n_rows").cast("long").alias("n_rows"),
                F.round(F.col("n_rows") * 1.0 / F.col("n"), 4).alias("pct_rows"),
                "max_tvd_in_bucket",
            )
            .orderBy("tvd_bucket")
        )

    def t(self, spark: SparkSession) -> float | None:
        """The release's current t: the largest class TVD, or None
        before the first batch."""
        ct = self.class_tvd(spark)
        if ct is None:
            return None
        row = ct.agg(F.max("tvd").alias("t")).collect()[0]
        return None if row.t is None else float(row.t)
