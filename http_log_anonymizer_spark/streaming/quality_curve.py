"""Streaming quality-filter operating-curve monitor — the online twin
of the batch ``quality_filter_tradeoff`` (plans/curation.py). The
deploy decision ("filter at 0.5") is made against a snapshot; the live
feed then drifts. This monitor keeps the WHOLE operating curve current
at ingest, so the operator sees not just that the 0.5 cutoff now
rejects more, but where the curve moved and what a re-tuned cutoff
would keep — the difference between an alarm and a decision.

State is one row per THRESHOLD and every field an EXACT sum (BIGINT
kept/total doc and token counts, the kept-score sum on the 1e-6
integer grid as decimal(38,0)), so arrival order and batch boundaries
cannot change the readout, incremental merges equal the one-shot batch
aggregate bit for bit, and the epoch protocol absorbs same-batch-id
replays.

``report()`` is the batch query's own reduce side (qf_readout over
qf_merge_rollups), asserted EQUAL row for row to
quality_filter_tradeoff over arrived rows in
tests/test_streaming_quality_curve.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from http_log_anonymizer_spark.plans.curation import (
    qf_curve_rollup,
    qf_doc_stats,
    qf_merge_rollups,
    qf_readout,
)
from http_log_anonymizer_spark.streaming.epoch_state import EpochStateSink

# Page when the deployed cutoff's keep rate collapses below this
# percent of arrived documents. Exact integer predicate:
# 100 * n_docs_kept < pct * total_docs at threshold _QF_DEPLOYED.
_QF_DEPLOYED = 0.5
_QF_ALARM_KEEP_PCT = 25


class StreamingQualityCurveMonitor(EpochStateSink):
    """foreachBatch writer accumulating the per-threshold operating
    curve over (text, ...) rows. Epoch protocol:
    ``streaming/epoch_state.py``."""

    def __init__(self, base_dir: str) -> None:
        self.base_dir = base_dir

    def _base(self, batch_df: DataFrame) -> DataFrame:
        return qf_curve_rollup(qf_doc_stats(batch_df))

    _merge = staticmethod(qf_merge_rollups)

    # -- readout -------------------------------------------------------

    def report(self, spark: SparkSession) -> DataFrame | None:
        """The quality_filter_tradeoff curve over everything committed,
        or None before the first batch."""
        st = self.current(spark)
        if st is None:
            return None
        return qf_readout(st)

    def alarms(self, spark: SparkSession) -> list[str]:
        """[\"keep_rate_collapsed\"] when the deployed cutoff keeps
        less than the alarm share of arrived documents."""
        st = self.current(spark)
        if st is None:
            return []
        bad = st.filter(
            f"threshold = {_QF_DEPLOYED} AND "
            f"100 * n_docs_kept < {_QF_ALARM_KEEP_PCT} * total_docs"
        )
        return ["keep_rate_collapsed"] if bad.take(1) else []
