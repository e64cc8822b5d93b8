"""Streaming reservoir sample — a fixed-size uniform sample of an
unbounded stream, maintained in ``foreachBatch``.

The batch registry's reservoir family (``operators/reservoir.py``,
``reservoir_sample`` / ``weighted_reservoir_sample``) uses hash-priority
sampling: the sample IS the k rows with the smallest
``hash64(key)`` — Efraimidis-Spirakis with uniform weights, with the
hash standing in for the random tag. That formulation is *mergeable*:
the reservoir of a union is the k-smallest of the union of reservoirs.
This sink exploits exactly that:

per micro-batch
  1. prune the incoming batch per-partition to its k best-hash rows per
     group (narrow, no shuffle — ``partial_topk_prune``);
  2. union with the persisted reservoir (≤ k·groups rows), drop
     duplicate keys (at-least-once upstreams may replay rows — a
     reservoir samples the key SET, so re-arrivals must not double);
  3. exact window rank over the tiny merged set; keep rank ≤ k;
  4. persist as the next epoch.

Because the state after ANY prefix of the stream equals the batch
operator applied to the union of all rows seen so far, the streaming
sample is not merely "approximately uniform" — it is bit-identical to
the backfill sample over the same data, restart or not (asserted in
tests/test_streaming_reservoir.py).

State is O(k·groups) rows regardless of stream length — at 100 TB/day
ingest the epoch rewrite is a constant few-kilobyte parquet write per
micro-batch. Crash consistency is the epoch protocol of
``streaming/epoch_state.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from http_log_anonymizer_spark.functions.text import hash64
from http_log_anonymizer_spark.operators.reservoir import partial_topk_prune
from http_log_anonymizer_spark.streaming.epoch_state import EpochStateSink

_PRI = "__pri"


class StreamingReservoirSink(EpochStateSink):
    """foreachBatch writer maintaining a deterministic k-per-group
    reservoir keyed by ``hash64(cast(key_col as string), seed)``."""

    def __init__(
        self,
        base_dir: str,
        k: int,
        key_col: str = "doc_id",
        group_cols: tuple[str, ...] = (),
        seed: str = "res",
    ) -> None:
        self.base_dir = base_dir
        self.k = k
        self.key_col = key_col
        self.group_cols = list(group_cols)
        self.seed = seed

    def _base(self, batch_df: DataFrame) -> DataFrame:
        b = batch_df.withColumn(
            _PRI, hash64(F.col(self.key_col).cast("string"), self.seed)
        )
        return partial_topk_prune(b, self.group_cols, self.k, [_PRI, self.key_col])

    def _merge(self, states: DataFrame) -> DataFrame:
        merged = states.dropDuplicates([*self.group_cols, self.key_col])
        sort_cols = [_PRI, self.key_col]
        w = (
            Window.partitionBy(*self.group_cols).orderBy(*sort_cols)
            if self.group_cols
            else Window.orderBy(*sort_cols)
        )
        return merged.select("*", F.row_number().over(w).alias("rnk")).filter(
            F.col("rnk") <= self.k
        )
