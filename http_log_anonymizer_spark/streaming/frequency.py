"""Streaming Count-Min frequency sketch — a ``depth x width`` counter
table maintained in ``foreachBatch``, the unbounded-stream twin of the
batch ``cms_user_frequency`` query (plans/analytics.py) and the last
member of the streaming sketch family (HLL cardinality, Bloom
membership, HDR quantiles, Misra-Gries heavy hitters, reservoir).

Count-Min counters are mergeable by ADDITION (Cormode & Muthukrishnan,
J. Algorithms 2005; Agarwal et al., Mergeable Summaries, PODS 2012):
the counter table of a union of streams is the counter-wise SUM of the
per-stream tables. Addition is NOT idempotent, so unlike the HLL/Bloom
sinks this one leans entirely on the
:class:`~http_log_anonymizer_spark.streaming.epoch_state.EpochStateSink`
epoch protocol for replay safety: each batch writes ``state_{b-1} +
counters(batch_b)`` to a fresh epoch, and a replayed batch recomputes
from exactly the pre-batch state instead of double-adding.

At-least-once contract (same as the k-anonymity monitor): a row
delivered twice under two DIFFERENT batch ids is two occurrences — the
sketch counts deliveries, as any counting sink must. Exactly-once
counting requires dedup-before-count upstream (streaming/neardup.py or
``dropDuplicates`` with a watermark), documented rather than hidden.

The construction is byte-identical to the batch query's (same
md5-derived ``hash64`` per estimator row, same modulo-``width``
buckets), so the persisted counter table is BIT-EQUAL to running the
batch construction over everything that ever arrived — asserted in
tests/test_streaming_frequency.py alongside torn-epoch repair. State is
exactly ``depth * width`` rows regardless of stream length, and the
point estimate keeps the two CMS guarantees the batch query reports:
never underestimates, overestimate <= 2N/width with probability
``1 - 2^-depth``.

Reference parity: the reference pipeline has no streaming sketch tier
(anonymizer/src/sink.rs buffers raw blocks); this sink belongs to the
engine-grade extension surface (SURVEY.md §2 training-data families).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from http_log_anonymizer_spark.streaming.epoch_state import EpochStateSink


def _hash64_py(value: str, seed: str) -> int:
    """Python twin of functions/text.py:hash64 (60-bit md5 prefix)."""
    return int(hashlib.md5(f"{seed}|{value}".encode()).hexdigest()[:15], 16)


class StreamingCMSSink(EpochStateSink):
    """foreachBatch writer maintaining a ``depth x width`` Count-Min
    counter table over ``key_col``. Epoch protocol:
    ``streaming/epoch_state.py``."""

    def __init__(
        self,
        base_dir: str,
        depth: int = 4,
        width: int = 64,
        key_col: str = "user_id",
        seed_prefix: str = "cms",
    ) -> None:
        if depth < 1 or width < 2:
            raise ValueError(f"degenerate sketch: depth={depth} width={width}")
        self.base_dir = base_dir
        self.depth = depth
        self.width = width
        self.key_col = key_col
        self.seed_prefix = seed_prefix

    def _base(self, batch_df: DataFrame) -> DataFrame:
        """(j, bucket, c) counter increments for ONE batch: every row
        increments one bucket per estimator row j. Keep in lockstep
        with plans/analytics.py:cms_user_frequency (same seeds, same
        modulo buckets)."""
        from http_log_anonymizer_spark.functions.text import hash64

        key = F.col(self.key_col).cast("string")
        pairs = F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        (hash64(key, f"{self.seed_prefix}{j}") % self.width).alias(
                            "bucket"
                        ),
                    )
                    for j in range(self.depth)
                ]
            )
        )
        return (
            batch_df.select(pairs.alias("p"))
            .select("p.j", "p.bucket")
            .groupBy("j", "bucket")
            .agg(F.count("*").alias("c"))
        )

    @staticmethod
    def _merge(states: DataFrame) -> DataFrame:
        return states.groupBy("j", "bucket").agg(F.sum("c").alias("c"))

    # -- readout -------------------------------------------------------

    def counters(self, spark: SparkSession) -> DataFrame | None:
        """The (j, bucket, c) table as of the last committed batch."""
        return self.current(spark)

    def estimate(self, spark: SparkSession, keys: list) -> dict:
        """Point frequency estimates: min over estimator rows of the
        key's counter. The state read is ``depth * width`` rows — a
        driver-side constant; the probe keys are caller-bounded."""
        state = self.current(spark)
        if state is None:
            return {k: 0 for k in keys}
        table = {(r.j, r.bucket): r.c for r in state.collect()}
        out = {}
        for k in keys:
            out[k] = min(
                table.get(
                    (j, _hash64_py(str(k), f"{self.seed_prefix}{j}") % self.width), 0
                )
                for j in range(self.depth)
            )
        return out
