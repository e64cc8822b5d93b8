"""Sustained-stream compaction soak (VERDICT r06 item 7): drive one
PartitionedStateSink through ~1000 micro-batches and record the
per-fold cost so SCALE.md can show per-batch compaction work staying
sub-linear in total state. Run manually (several minutes):

    python examples/compaction_soak.py [n_batches] [compact_every]
"""

from __future__ import annotations

import json
import posixpath
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from http_log_anonymizer_spark.session import get_spark
from http_log_anonymizer_spark.streaming.epoch_state import (
    PartitionedStateSink,
    _subdirs,
)


class _Sink(PartitionedStateSink):
    def __init__(self, base: str, every: int) -> None:
        super().__init__()
        self.base_dir = base
        self.root = posixpath.join(base, "data")
        self.compact_every = every
        self._roots = (self.root,)

    def write(self, df, batch_id: int) -> None:
        self._recover()
        t0 = time.perf_counter()
        n_folds = len(self.fold_log)
        self._maybe_compact(df.sparkSession, batch_id)
        self.last_compact_sec = time.perf_counter() - t0
        self.last_folds = self.fold_log[n_folds:]
        df.write.mode("overwrite").parquet(
            posixpath.join(self.root, f"_batch=b{batch_id}")
        )


def main() -> None:
    n_batches = int(sys.argv[1]) if len(sys.argv) > 1 else 1000
    ce = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    rows_per_batch = 100
    spark = get_spark(app_name="compaction-soak", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    base = tempfile.mkdtemp(prefix="soak-")
    sink = _Sink(base, ce)
    samples = []  # (batch, total_state_rows, compact_sec, fold_rows, tiers)
    t_all = time.perf_counter()
    for b in range(n_batches):
        df = spark.range(b * rows_per_batch, (b + 1) * rows_per_batch)
        sink.write(df, b)
        if sink.last_folds or b % 100 == 99:
            samples.append(
                {
                    "batch": b,
                    "state_rows": (b + 1) * rows_per_batch,
                    "compact_sec": round(sink.last_compact_sec, 3),
                    "fold_rows": sum(f["rows"] for f in sink.last_folds),
                    "fold_tiers": sorted({f["tier"] for f in sink.last_folds}),
                    "live_partitions": len(_subdirs(sink.root)),
                }
            )
    wall = time.perf_counter() - t_all

    total_rewritten = sum(f["rows"] for f in sink.fold_log)
    per_tier = {}
    for f in sink.fold_log:
        d = per_tier.setdefault(f["tier"], {"n": 0, "rows": 0})
        d["n"] += 1
        d["rows"] += f["rows"]
    print(
        json.dumps(
            {
                "n_batches": n_batches,
                "compact_every": ce,
                "rows_per_batch": rows_per_batch,
                "wall_sec": round(wall, 1),
                "total_ingested_rows": n_batches * rows_per_batch,
                "total_rewritten_rows": total_rewritten,
                "write_amplification": round(
                    total_rewritten / (n_batches * rows_per_batch), 2
                ),
                "n_folds": len(sink.fold_log),
                "per_tier": per_tier,
                "final_live_partitions": len(_subdirs(sink.root)),
                "heaviest_folds": sorted(
                    samples, key=lambda s: -s["fold_rows"]
                )[:6],
            }
        )
    )


if __name__ == "__main__":
    main()
