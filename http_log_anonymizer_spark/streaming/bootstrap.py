"""Streaming Poisson-bootstrap monitor — the ingest-time twin of the
batch ``poisson_bootstrap_report`` (plans/sampling.py): live
confidence intervals for mean order value as rows arrive. The classic
bootstrap cannot run incrementally at all (a resample is a global
draw); the Poisson construction's whole state is 2x(B+1)
addition-mergeable sums, so the monitor folds the batch query's OWN
map half per micro-batch and the readout equals the one-shot batch
aggregate bit for bit at every point in time (asserted row-equal in
tests/test_streaming_bootstrap.py).

``report()`` returns the batch query's replica table over everything
committed; ``ci()`` reduces it to one (point, lo, hi, rel_width)
row by order statistics of the replica means; ``alarms()`` pages when
the relative CI width exceeds a configured bound — "the metric is too
uncertain to act on", the monitoring question a point estimate alone
cannot answer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from http_log_anonymizer_spark.plans.sampling import (
    _BOOT_B,
    bootstrap_base,
    bootstrap_replicas,
)
from http_log_anonymizer_spark.streaming.epoch_state import EpochStateSink


class StreamingBootstrapMonitor(EpochStateSink):
    """foreachBatch writer accumulating the bootstrap base over
    (o_orderkey, o_totalprice) rows: one small epoch row
    (``streaming/epoch_state.py``), replay-safe, order-independent by
    construction (every sum is addition-mergeable and the per-row
    weights depend only on o_orderkey).

    ``max_rel_width_permille`` configures the alarm: page when the
    order-statistic CI's width relative to the point estimate exceeds
    the bound (exact integer predicate on microcent values). 0
    disables paging.
    """

    def __init__(self, base_dir: str, max_rel_width_permille: int = 0) -> None:
        self.base_dir = base_dir
        self.max_rel_width_permille = int(max_rel_width_permille)

    def _base(self, batch_df: DataFrame) -> DataFrame:
        return bootstrap_base(
            batch_df.select(
                "o_orderkey",
                F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias(
                    "cents"
                ),
            )
        )

    @staticmethod
    def _merge(states: DataFrame) -> DataFrame:
        return states.agg(
            *[
                F.sum(c).alias(c)
                for j in range(_BOOT_B + 1)
                for c in (f"n{j}", f"s{j}")
            ]
        )

    # -- readouts ------------------------------------------------------

    def report(self, spark: SparkSession) -> DataFrame | None:
        """The batch poisson_bootstrap_report replica table over
        everything committed, or None before the first batch."""
        st = self.current(spark)
        if st is None:
            return None
        return bootstrap_replicas(st)

    def ci(self, spark: SparkSession) -> DataFrame | None:
        """One row: the point estimate (replica 0), the order-statistic
        CI over replicas 1..B (min/max of the replica means — ranks 1
        and B are the 2.5%/97.5% positions at B={_BOOT_B}), and the
        CI width in permille of the point estimate (floor-exact)."""
        rep = self.report(spark)
        if rep is None:
            return None
        point = rep.filter(F.col("replica_id") == 0).select(
            F.col("mean_microcents").alias("point_microcents")
        )
        band = rep.filter(F.col("replica_id") > 0).agg(
            F.min("mean_microcents").alias("ci_lo_microcents"),
            F.max("mean_microcents").alias("ci_hi_microcents"),
        )
        return point.crossJoin(F.broadcast(band)).select(
            "point_microcents",
            "ci_lo_microcents",
            "ci_hi_microcents",
            F.expr(
                "CAST((1000 * (ci_hi_microcents - ci_lo_microcents))"
                " div point_microcents AS BIGINT)"
            ).alias("rel_width_permille"),
        )

    def alarms(self, spark: SparkSession) -> list[str]:
        """``["bootstrap_uncertainty"]`` when the relative CI width
        meets or exceeds the configured bound; [] otherwise or when
        paging is disabled."""
        if self.max_rel_width_permille <= 0:
            return []
        ci = self.ci(spark)
        if ci is None:
            return []
        row = ci.collect()[0]
        if row.rel_width_permille >= self.max_rel_width_permille:
            return ["bootstrap_uncertainty"]
        return []
