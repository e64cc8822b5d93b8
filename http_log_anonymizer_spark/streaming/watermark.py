"""Streaming LLM-watermark monitor — per-source greenlist evidence
accumulated in ``foreachBatch``, the online twin of the batch
``watermark_greenlist_report`` (plans/text.py). Watermarked model
output leaking into an ingest feed is a moving contamination (it
starts the day an upstream scraper hits LLM-generated pages), so the
z-scores belong at ingest time: a source whose deduped z starts
climbing is flagged batches — not a recrawl — after the leak begins.

State is one row per SOURCE — (n_docs, n_pairs, g, u, ug, mx, and the
per-doc flag count), every field a sum or a max, so arrival order and
batch boundaries cannot change the readout and the epoch protocol
absorbs same-batch-id replays. A document is one stream row, so its
within-doc bigram dedup (the paper's repeated-n-gram remedy) is
computed entirely inside whichever micro-batch delivers it; like the
chunk-dedup sink, ``doc_id`` must identify content — redelivering a
doc_id in a LATER batch double-counts its evidence (at-least-once
replays of the SAME batch id are handled by the epoch protocol).

``report()`` is the batch query's own reduce side (wm_readout over
wm_merge_rollups), so fed the same rows the readout is EQUAL row for
row to watermark_greenlist_report — asserted in
tests/test_streaming_watermark.py.

Reference parity: the reference pipeline has no monitoring tier; this
extends the engine-grade streaming surface alongside the PSI/KS drift
and privacy monitors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from http_log_anonymizer_spark.plans.text import (
    wm_cohort_rollup,
    wm_doc_stats,
    wm_merge_rollups,
    wm_readout,
)
from http_log_anonymizer_spark.streaming.epoch_state import EpochStateSink


class StreamingWatermarkMonitor(EpochStateSink):
    """foreachBatch writer accumulating per-source greenlist evidence
    over (source, doc_id, text) rows. Epoch protocol:
    ``streaming/epoch_state.py``."""

    def __init__(self, base_dir: str) -> None:
        self.base_dir = base_dir

    def _base(self, batch_df: DataFrame) -> DataFrame:
        return wm_cohort_rollup(
            wm_doc_stats(batch_df.select("source", "doc_id", "text"))
        )

    _merge = staticmethod(wm_merge_rollups)

    # -- readout -------------------------------------------------------

    def report(self, spark: SparkSession) -> DataFrame | None:
        """The watermark_greenlist_report rows (per source + pooled
        ALL) over everything committed, or None before the first
        batch."""
        st = self.current(spark)
        if st is None:
            return None
        return wm_readout(st)

    def alarms(self, spark: SparkSession) -> list[str]:
        """Cohorts whose deduped z currently exceeds the detection
        threshold (``_WM_COHORT_Z``, the paper's z = 4) — the
        ingest-time page."""
        rep = self.report(spark)
        if rep is None:
            return []
        return [r.cohort for r in rep.filter("wm_flag").collect()]
