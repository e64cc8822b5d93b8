"""Streaming frequent-items (heavy hitters) — a Misra-Gries counter
summary of an unbounded stream, maintained in ``foreachBatch``.

Misra-Gries summaries are MERGEABLE (Agarwal et al., Mergeable
Summaries, PODS 2012): combining two m-counter summaries and reducing
back to m counters preserves the deterministic error bound
``exact - estimate <= N / (m + 1)`` over the concatenated input. This
sink exploits exactly that, the same way ``streaming/reservoir.py``
exploits reservoir mergeability:

per micro-batch
  1. exact per-item counts WITHIN the batch (one groupBy with map-side
     combine — the batch is a micro-batch, so this is small);
  2. merge with the persisted summary by summing counts per item;
  3. if more than ``m`` items survive, apply the Misra-Gries
     reduction: subtract the (m+1)-th largest count (count-desc /
     item-asc order) from every counter and drop the non-positive
     ones. Fully deterministic — ties all fall together, no arbitrary
     selection — so every engine replays it identically;
  4. persist the <= m surviving counters as the next epoch
     (:class:`~http_log_anonymizer_spark.streaming.epoch_state.EpochStateSink`
     crash-safe epoch protocol: torn writes are overwritten by replay,
     the pre-batch epoch survives until a later batch supersedes it).

Guarantees (asserted in tests/test_streaming_frequent.py):
- underestimates only: ``estimate <= exact`` for every reported item;
- bounded error: ``exact - estimate <= N / (m + 1)`` with N the total
  rows seen so far;
- completeness: every item with true frequency > N/(m+1) IS in the
  summary (the heavy-hitter contract);
- restart-parity: state equals the same fold run without restarts.

State is <= m rows regardless of stream length. The batch counterpart
for one-shot data is ``frequent_resources_sketch`` (approx_top_k) in
plans/analytics.py; this sink is its unbounded-stream twin with an
explicit, engine-replayable reduction instead of an opaque sketch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from http_log_anonymizer_spark.streaming.epoch_state import EpochStateSink


class StreamingFrequentItemsSink(EpochStateSink):
    """foreachBatch writer maintaining a Misra-Gries summary of at most
    ``m`` (item, cnt) counters over ``item_col``. Epoch protocol:
    ``streaming/epoch_state.py``."""

    def __init__(self, base_dir: str, m: int, item_col: str = "item") -> None:
        self.base_dir = base_dir
        self.m = m
        self.item_col = item_col

    def _base(self, batch_df: DataFrame) -> DataFrame:
        return batch_df.groupBy(F.col(self.item_col).alias("item")).agg(
            F.count("*").alias("cnt")
        )

    def _merge(self, states: DataFrame) -> DataFrame:
        counts = states.groupBy("item").agg(F.sum("cnt").alias("cnt"))
        # Misra-Gries reduction: T = the (m+1)-th largest counter
        # (count-desc, item-asc), or 0 while at most m counters exist;
        # subtract T everywhere, keep > 0. One tiny ordered limit + a
        # 1-row broadcast — no driver action, no full sort
        # (TakeOrderedAndProject).
        t = (
            counts.orderBy(F.desc("cnt"), "item")
            .limit(self.m + 1)
            .agg(
                F.when(F.count("*") > self.m, F.min("cnt")).otherwise(0).alias("t")
            )
        )
        return (
            counts.crossJoin(F.broadcast(t))
            .select("item", (F.col("cnt") - F.col("t")).alias("cnt"))
            .filter(F.col("cnt") > 0)
        )
