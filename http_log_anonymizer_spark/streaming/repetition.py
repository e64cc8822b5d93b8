"""Streaming Gopher-repetition monitor — per-source repetition-filter
counters accumulated in ``foreachBatch``, the online twin of the batch
``gopher_repetition_report`` (plans/text.py). Repetition spikes are an
ingest-time signal (a source switching to templated/bot output, an
upstream extractor bug flattening pages into repeated boilerplate), so
the keep-rate belongs at the feed: a source whose flagged share starts
climbing pages batches — not a recrawl — after the regression begins.

State is one row per SOURCE and every field an EXACT sum — BIGINT doc
and flag counts plus the three fraction sums on the 1e-6 integer grid
as decimal(38,0) — so arrival order and batch boundaries cannot change
the readout, incremental merges equal the one-shot batch aggregate bit
for bit, and the epoch protocol absorbs same-batch-id replays. A
document is one stream row; its nine within-doc folds run entirely
inside whichever micro-batch delivers it.

``report()`` is the batch query's own reduce side (rep_readout over
rep_merge_rollups), so fed the same rows the readout is EQUAL row for
row to gopher_repetition_report — asserted in
tests/test_streaming_repetition.py.

Reference parity: the reference pipeline has no monitoring tier; this
extends the engine-grade streaming surface alongside the PSI/KS drift,
privacy, and watermark monitors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from http_log_anonymizer_spark.plans.text import (
    rep_cohort_rollup,
    rep_doc_stats,
    rep_merge_rollups,
    rep_readout,
)
from http_log_anonymizer_spark.streaming.epoch_state import EpochStateSink

# Page when fewer than this percent of a source's documents pass all
# nine repetition gates. Exact integer predicate:
# 100 * n_keep < pct * n_docs.
_REP_ALARM_KEEP_PCT = 50


class StreamingRepetitionMonitor(EpochStateSink):
    """foreachBatch writer accumulating per-source repetition-filter
    counters over (source, text) rows. Epoch protocol:
    ``streaming/epoch_state.py``."""

    def __init__(self, base_dir: str) -> None:
        self.base_dir = base_dir

    def _base(self, batch_df: DataFrame) -> DataFrame:
        return rep_cohort_rollup(rep_doc_stats(batch_df.select("source", "text")))

    _merge = staticmethod(rep_merge_rollups)

    # -- readout -------------------------------------------------------

    def report(self, spark: SparkSession) -> DataFrame | None:
        """The gopher_repetition_report rows over everything committed,
        or None before the first batch."""
        st = self.current(spark)
        if st is None:
            return None
        return rep_readout(st)

    def alarms(self, spark: SparkSession) -> list[str]:
        """Sources whose keep rate has dropped below the alarm
        threshold — the ingest-time page."""
        st = self.current(spark)
        if st is None:
            return []
        bad = st.filter(f"100 * n_keep < {_REP_ALARM_KEEP_PCT} * n_docs")
        return [r.source for r in bad.select("source").collect()]
