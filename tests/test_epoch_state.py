"""The crash-safe state protocol of streaming/epoch_state.py: one
protocol test drives EpochStateSink.write() directly through a torn
epoch, an empty batch and housekeeping, and source guards keep the
``_batch=`` layout and the fold shell in that one module."""

from __future__ import annotations

import importlib
import pkgutil
import subprocess
import sys
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "http_log_anonymizer_spark"


def _state(spark, sink) -> dict:
    cur = sink.current(spark)
    return {} if cur is None else dict(Counter(r.k for r in cur.collect()))


def test_epoch_protocol_replay_empty_batch_and_housekeeping(spark, tmp_path):
    from http_log_anonymizer_spark.streaming.epoch_state import (
        EpochStateSink,
        _subdirs,
    )

    class _Bag(EpochStateSink):
        """Keeps every row: a replay that double-applied would show."""

        def __init__(self, base_dir: str) -> None:
            self.base_dir = base_dir

        @staticmethod
        def _base(batch_df):
            return batch_df

        @staticmethod
        def _merge(states):
            return states

    def bdf(keys):
        return spark.createDataFrame([(k,) for k in keys], "k string")

    b0, b1 = bdf(["a", "b", "a"]), bdf(["b", "c"])
    base = tmp_path / "state"
    sink = _Bag(str(base))
    sink.write(b0, 0)
    sink.write(b1, 1)
    want = {"a": 2, "b": 2, "c": 1}
    assert _state(spark, sink) == want  # the clean run
    # crash after the epoch's files landed but before Spark committed it
    (base / "_batch=b1" / "_SUCCESS").unlink()
    assert _state(spark, sink) == {"a": 2, "b": 1}  # uncommitted epoch ignored
    sink.write(b1, 1)  # the replay recomputes from the pre-batch epoch
    assert _state(spark, sink) == want
    sink.write(b1, 1)  # a replay of a committed epoch does not double
    assert _state(spark, sink) == want

    sink.write(bdf([]), 2)
    assert _state(spark, sink) == want

    sink.write(bdf(["c"]), 3)
    assert _state(spark, sink) == {"a": 2, "b": 2, "c": 2}
    assert len(_subdirs(str(base))) <= 2


def test_every_partitioned_sink_starts_its_fold_log(tmp_path):
    # a sink without the log crashed on its first compaction fold
    from http_log_anonymizer_spark.streaming.ann_index import StreamingIVFIndexSink
    from http_log_anonymizer_spark.streaming.chunk_dedup import StreamingChunkDedupSink
    from http_log_anonymizer_spark.streaming.embed_neardup import EmbedNearDupSink
    from http_log_anonymizer_spark.streaming.neardup import NearDupDedupSink

    base = str(tmp_path)
    sinks = [
        NearDupDedupSink(base),
        EmbedNearDupSink(base),
        StreamingChunkDedupSink(base),
        StreamingIVFIndexSink(base, [[1.0, 0.0]]),
    ]
    assert [s.fold_log for s in sinks] == [[], [], [], []]


def test_only_the_cusum_sink_overrides_write():
    from http_log_anonymizer_spark import streaming
    from http_log_anonymizer_spark.streaming.epoch_state import EpochStateSink

    for m in pkgutil.iter_modules(streaming.__path__):
        importlib.import_module(f"{streaming.__name__}.{m.name}")

    def subclasses(cls):
        for sub in cls.__subclasses__():
            yield sub
            yield from subclasses(sub)

    sinks = {c for c in subclasses(EpochStateSink) if c.__module__.startswith(PACKAGE.name)}
    assert len(sinks) >= 23
    assert sorted(c.__name__ for c in sinks if "write" in c.__dict__) == [
        "StreamingCUSUMSink"
    ]


def test_batch_layout_lives_only_in_epoch_state():
    owner = PACKAGE / "streaming" / "epoch_state.py"
    needles = ("_housekeep(", "_write_epoch(", 'f"_batch={')
    hits = [
        f"{path.relative_to(ROOT)}:{n}"
        for path in sorted(PACKAGE.rglob("*.py"))
        if path != owner
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if any(s in line for s in needles)
    ]
    assert not hits, f"state layout belongs in streaming/epoch_state.py: {hits}"


def test_streaming_sink_import_does_not_load_plans():
    code = (
        "import sys, http_log_anonymizer_spark.streaming.kanon; "
        "print(sorted(m for m in sys.modules"
        " if m.startswith('http_log_anonymizer_spark.plans')))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=ROOT,
        capture_output=True,
        text=True,
        check=True,
    ).stdout.strip()
    assert out == "[]"
