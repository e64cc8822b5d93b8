"""Streaming PII-exposure monitor — the online twin of the batch
``pii_source_summary`` (plans/text.py) and the ingest-time face of the
reference's anonymization mission (anonymizer/src/lib.rs:1-20): a scrub
pipeline is deployed against a snapshot, then the live feed drifts — a
new upstream starts embedding e-mail addresses, a misconfigured
producer stops routing through the scrub stage. This monitor keeps the
per-source PII exposure table current at ingest and pages the moment a
supposedly-clean feed leaks.

State is one row per SOURCE and every field an exact BIGINT sum
(documents seen, documents carrying any PII, per-type match totals), so
arrival order and batch boundaries cannot change the readout,
incremental merges equal the one-shot batch aggregate bit for bit, and
the epoch protocol absorbs same-batch-id replays.

``report()`` is the batch query's own reduce side (pii_readout over
pii_merge_rollups), asserted EQUAL row for row to pii_source_summary
over arrived rows in tests/test_streaming_pii.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from http_log_anonymizer_spark.plans.text import (
    pii_doc_counts,
    pii_merge_rollups,
    pii_readout,
    pii_rollup,
)
from http_log_anonymizer_spark.streaming.epoch_state import EpochStateSink

# Page when a source's share of PII-carrying documents exceeds this
# percent. Exact integer predicate: 100 * docs_with_pii > pct * n_docs.
_PII_ALARM_PCT = 0


class StreamingPIIMonitor(EpochStateSink):
    """foreachBatch writer accumulating per-source PII exposure over
    (source, text) rows (epoch protocol: ``streaming/epoch_state.py``).
    ``text_col`` names the scanned column (a scrubbed
    feed monitors its own OUTPUT column and expects zeros).

    ``alarm_pct``: a feed that should be post-scrub clean alarms on ANY
    exposure (the default, 0%); a raw-intake monitor can set a budget
    (e.g. 35) and page only when exposure exceeds it.
    """

    def __init__(
        self,
        base_dir: str,
        alarm_pct: int = _PII_ALARM_PCT,
        text_col: str = "t",
    ) -> None:
        self.base_dir = base_dir
        self.alarm_pct = alarm_pct
        self.text_col = text_col

    def _base(self, batch_df: DataFrame) -> DataFrame:
        return pii_rollup(pii_doc_counts(batch_df, text_col=self.text_col))

    _merge = staticmethod(pii_merge_rollups)

    # -- readout -------------------------------------------------------

    def report(self, spark: SparkSession) -> DataFrame | None:
        """The pii_source_summary table over everything committed, or
        None before the first batch."""
        st = self.current(spark)
        if st is None:
            return None
        return pii_readout(st)

    def alarms(self, spark: SparkSession) -> list[str]:
        """``["pii_exposure:<source>", ...]`` for every source whose
        PII-document share exceeds the configured budget (sorted)."""
        st = self.current(spark)
        if st is None:
            return []
        bad = st.filter(
            f"100 * docs_with_pii > {int(self.alarm_pct)} * n_docs"
        )
        return sorted(f"pii_exposure:{r.source}" for r in bad.collect())
