"""Streaming storage/capacity monitor — the ingest-time twin of the
batch ``storage_estimate_report`` (plans/http_log.py) and the live
face of the reference's capacity requirement (README.md:64-66: disk
given (1) average incoming message rate, (2) retention). The batch
query prices a corpus snapshot; this monitor keeps the same planning
grid current as rows arrive and pages when the OBSERVED rate and row
width project past a configured disk budget — the moment a producer
starts shipping fatter rows or the feed rate doubles, not at the next
capacity review.

State is ONE row of addition/min/max-mergeable exact integers
(n_rows, logical_bytes via the batch query's own storage_row_bytes
column, min/max event-time micros for the observed rate), so arrival
order and batch boundaries cannot change the readout, incremental
merges equal the one-shot batch aggregate bit for bit, and the epoch
protocol absorbs same-batch-id replays.

``report()`` returns the batch query's OWN grid (storage_grid over
the folded base) — asserted column-equal to storage_estimate_report
over arrived rows in tests/test_streaming_storage.py — and
``observed()`` adds the measured-rate row: rate in milli-rows/s
(exact integer division over the event-time span) and the projected
disk for the configured retention at that rate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from http_log_anonymizer_spark.plans.http_log import (
    _OBSERVED_DISK,
    _OBSERVED_RATE,
    observed_base,
    storage_grid,
)
from http_log_anonymizer_spark.streaming.epoch_state import EpochStateSink


class StreamingStorageMonitor(EpochStateSink):
    """foreachBatch writer accumulating the capacity base over
    (timestamp, remote_addr, url, ...) rows — the anonymized http_log
    stream the ClickHouse sink writes. Epoch protocol:
    ``streaming/epoch_state.py``.

    ``retention_days`` and ``disk_budget_bytes`` configure the alarm:
    page when the projection AT THE OBSERVED RATE for the configured
    retention meets or exceeds the budget. Budget 0 disables paging
    (report-only monitor).
    """

    def __init__(
        self,
        base_dir: str,
        retention_days: int = 365,
        disk_budget_bytes: int = 0,
    ) -> None:
        self.base_dir = base_dir
        self.retention_days = int(retention_days)
        self.disk_budget_bytes = int(disk_budget_bytes)

    def _base(self, batch_df: DataFrame) -> DataFrame:
        # The map half is the batch capacity_observed_report's own
        # observed_base (plans/http_log.py) — shared code, so the
        # monitor's fold and the driver-hash-checked batch twin price
        # rows identically by construction.
        return observed_base(batch_df)

    @staticmethod
    def _merge(states: DataFrame) -> DataFrame:
        return states.agg(
            F.sum("logical_bytes").cast("long").alias("logical_bytes"),
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.min("min_us").alias("min_us"),
            F.max("max_us").alias("max_us"),
        )

    # -- readouts ------------------------------------------------------

    def report(self, spark: SparkSession) -> DataFrame | None:
        """The batch storage_estimate_report grid over everything
        committed, or None before the first batch."""
        st = self.current(spark)
        if st is None:
            return None
        return storage_grid(spark, st.select("logical_bytes", "n_rows"))

    def observed(self, spark: SparkSession) -> DataFrame | None:
        """One row of measured-rate capacity numbers: exact-integer
        bytes/row (milli), observed ingest rate (milli-rows/s over the
        event-time span; NULL for a single-instant stream) and the
        projected disk at that rate for the configured retention."""
        st = self.current(spark)
        if st is None:
            return None
        # Rate and projection are the SHARED expression strings of the
        # driver-hash-checked batch twin (capacity_observed_report,
        # plans/http_log.py) — the product runs in DECIMAL(38,0) there
        # because the all-bigint chain wraps at ~20 rows/s x 365 d x
        # 50 B rows (the exact high-ingest scenarios the budget alarm
        # exists for; ADVICE r09), narrowing to bigint only after the
        # final div. Pinned by the high-rate case in
        # tests/test_streaming_storage.py and the row-equality twin
        # test against the batch report.
        st = st.withColumn(
            "retention_days", F.lit(self.retention_days).cast("long")
        )
        return st.select(
            F.col("n_rows"),
            F.expr("(1000 * logical_bytes) div n_rows").alias(
                "bytes_per_row_milli"
            ),
            F.expr(
                f"case when max_us > min_us then cast({_OBSERVED_RATE} as bigint) end"
            ).alias("observed_rate_milli_per_s"),
            F.col("retention_days"),
            F.expr(
                f"case when max_us > min_us then cast({_OBSERVED_DISK} as bigint) end"
            ).alias("projected_disk_bytes"),
        )

    def alarms(self, spark: SparkSession) -> list[str]:
        """``["storage_budget"]`` when the projection at the observed
        rate for the configured retention meets or exceeds the budget
        (exact integer predicate); [] otherwise or when paging is
        disabled (budget 0)."""
        if self.disk_budget_bytes <= 0:
            return []
        obs = self.observed(spark)
        if obs is None:
            return []
        row = obs.collect()[0]
        if (
            row.projected_disk_bytes is not None
            and row.projected_disk_bytes >= self.disk_budget_bytes
        ):
            return ["storage_budget"]
        return []
