"""Streaming benchmark-decontamination monitor — the ingest-time twin
of the batch ``decontaminate_docs`` (plans/dedup.py): evaluation
benchmarks are fixed artifacts, so contamination screening belongs AT
INGEST — by the time a batch decontamination pass runs, the leaked
eval material has already spent days in the lake. This monitor probes
every arriving document's word-3-gram shingles against the benchmark
set and keeps the flagged-document table current, paging the moment a
supposedly-decontaminated feed admits eval text (Brown et al. 2020
App. C; Lee et al. 2022).

State is the flagged-rows table itself — one row per contaminated
document, bounded by the contamination (zero on a healthy feed), not
the corpus. A document's (n_shared, n_total) is computed entirely
within its arrival batch, so ``doc_id`` must identify content (the
same at-least-once contract as the chunk-dedup sink); replays and
re-deliveries are absorbed keep-first by doc_id plus the epoch
protocol. The benchmark set is a STATIC side table scanned from
``bench_dir`` per batch (tiny by design; the broadcast semi-join is
the batch query's own probe shape).

``report()`` rows equal ``decontaminate_docs``'s over arrived
documents — asserted row for row in tests/test_streaming_decontamination.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from http_log_anonymizer_spark.plans.dedup import (
    decon_bench_set,
    decon_flagged,
    decon_shingle_rows,
)
from http_log_anonymizer_spark.sources.batch import load_table
from http_log_anonymizer_spark.streaming.epoch_state import EpochStateSink


class StreamingDecontaminationMonitor(EpochStateSink):
    """foreachBatch writer screening (doc_id, text, ...) rows against
    the benchmark corpus at ``bench_dir`` (its ``documents`` table
    filtered by the batch query's doc_id % 20 == 0 split rule — pass
    ``bench_filter=False`` to use the whole table as the benchmark).
    Epoch protocol: ``streaming/epoch_state.py``."""

    def __init__(self, base_dir: str, bench_dir: str, bench_filter: bool = True) -> None:
        self.base_dir = base_dir
        self.bench_dir = bench_dir
        self.bench_filter = bench_filter

    def _bench(self, spark: SparkSession) -> DataFrame:
        d = load_table(spark, self.bench_dir, "documents")
        if self.bench_filter:
            d = d.filter(F.col("doc_id") % 20 == 0)
        return decon_bench_set(d)

    def _base(self, batch_df: DataFrame) -> DataFrame:
        # a document redelivered inside one batch is shingled once
        docs = batch_df.dropDuplicates(["doc_id"])
        return decon_flagged(
            decon_shingle_rows(docs), self._bench(batch_df.sparkSession)
        )

    @staticmethod
    def _merge(states: DataFrame) -> DataFrame:
        # doc_id identifies content, so any surviving row is the first
        # delivery's row
        return states.dropDuplicates(["doc_id"])

    # -- readout -------------------------------------------------------

    def report(self, spark: SparkSession) -> DataFrame | None:
        """The decontaminate_docs table over everything committed, or
        None before the first batch."""
        st = self.current(spark)
        if st is None:
            return None
        return st.orderBy("doc_id")

    def alarms(self, spark: SparkSession) -> list[str]:
        """``["benchmark_contamination:<n_docs>"]`` when any arrived
        document crossed the overlap threshold — a post-screening feed
        expects an empty table."""
        st = self.current(spark)
        if st is None:
            return []
        n = st.count()
        return [f"benchmark_contamination:{n}"] if n else []
