"""Crash-safe ``foreachBatch`` state — the one module that knows the
``_batch=b{id}`` state layout.

Structured Streaming replays the last uncommitted micro-batch after a
crash, under the SAME batch id. The sinks here turn that replay into
exactly-once state, the way the reference pairs Kafka offset replay
with ReplacingMergeTree dedup: every batch writes its output to its
own ``_batch=b{id}`` directory with overwrite semantics and reads only
state OTHER than its own directory. A replayed batch therefore
recomputes from exactly the pre-batch state and overwrites whatever a
torn attempt left behind; Spark's ``_SUCCESS`` file marks a directory
as committed.

Two state shapes share that rule:

- :class:`EpochStateSink` — the whole state is one small mergeable
  summary (a reservoir, a sketch, a rollup). Each batch writes the full
  summary as a new epoch; readers take the newest committed epoch. The
  superseded epoch is deleted only by a LATER batch, so the pre-batch
  state survives until the checkpoint has durably committed the batch
  that replaced it, and at most two epochs are ever live. Subclasses
  implement ``_base`` (one batch's summary) and ``_merge`` (fold a
  union of summaries back to one); :meth:`EpochStateSink.write` is the
  fold.
- :class:`PartitionedStateSink` — append-mostly state kept as parquet
  roots of per-batch partitions (near-dup indexes, chunk sets, ANN
  inverted files). Readers take every partition but the in-flight
  one. Partitions are folded by geometric (LSM) tiering: when any tier
  holds ``compact_every`` partitions they fold into ONE partition of
  the next tier, so a tier-l fold reads ``compact_every^(l+1)``
  batches of rows — bounded by its tier, never by total state size —
  and the partition count stays below tiers * ``compact_every``. Each
  fold is crash-safe via a marker protocol: write marker -> write the
  folded partition (Spark leaves ``_SUCCESS``) -> delete sources ->
  remove marker; the next batch finishes or unwinds a torn step.

State and the stream's checkpoint are a unit: reusing state with a
fresh checkpoint restarts batch ids and is unsupported. ``base_dir``
must be executor-readable (a shared filesystem on a cluster).
Filesystem access uses ``pyarrow.fs`` resolved per URI (local, HDFS,
S3).
"""

from __future__ import annotations

import json
import os
import posixpath

from pyspark.sql import DataFrame, SparkSession

_MARKER = "_COMPACTING.json"


def _fs_for(path):
    """(pyarrow FileSystem, fs-local path) for a URI or plain path."""
    from pyarrow import fs as pafs

    if "://" in path:
        return pafs.FileSystem.from_uri(path)
    return pafs.LocalFileSystem(), path


def _exists(path: str) -> bool:
    from pyarrow import fs as pafs

    f, p = _fs_for(path)
    return f.get_file_info(p).type != pafs.FileType.NotFound


def _subdirs(root: str) -> list[str]:
    """Names of ``_batch=*`` child directories of ``root``."""
    from pyarrow import fs as pafs

    f, p = _fs_for(root)
    if f.get_file_info(p).type == pafs.FileType.NotFound:
        return []
    sel = pafs.FileSelector(p, recursive=False)
    return sorted(
        os.path.basename(i.path)
        for i in f.get_file_info(sel)
        if i.type == pafs.FileType.Directory
        and os.path.basename(i.path).startswith("_batch=")
    )


def _delete_dir(path: str) -> None:
    f, p = _fs_for(path)
    try:
        f.delete_dir(p)
    except FileNotFoundError:
        pass


def _parquet_rows(path: str) -> int:
    """Row count of a written parquet dir from file footers only —
    metadata reads, no Spark job."""
    import pyarrow.parquet as pq
    from pyarrow import fs as pafs

    f, p = _fs_for(path)
    sel = pafs.FileSelector(p, recursive=False)
    total = 0
    for info in f.get_file_info(sel):
        if info.is_file and info.path.endswith(".parquet"):
            with f.open_input_file(info.path) as h:
                total += pq.ParquetFile(h).metadata.num_rows
    return total


def _partition(root: str, tag: str) -> str:
    """Path of the ``_batch={tag}`` directory under ``root``."""
    return posixpath.join(root, f"_batch={tag}")


def _epoch_id(name: str) -> int:
    # "_batch=b12" -> 12 (numeric — lexicographic would order b10 < b9)
    return int(name.split("=b", 1)[1])


class EpochStateSink:
    """foreachBatch sink whose ENTIRE state is one small mergeable
    summary, rewritten as a new epoch per batch. Subclasses set
    ``base_dir`` and implement ``_base(batch_df)`` and
    ``_merge(states)``; ``_merge`` also runs on the first batch alone,
    so it must be a value-preserving regroup of one summary."""

    base_dir: str

    def write(self, batch_df: DataFrame, batch_id: int) -> None:
        tag = self._begin(batch_id)
        if batch_df.isEmpty():
            return  # state untouched; replaying an empty batch is a no-op
        part = self._base(batch_df)
        state = self._read_state(batch_df.sparkSession, tag)
        if state is not None:
            # state may also carry columns _merge derives (reservoir rank)
            part = part.unionByName(state.select(*part.columns))
        self._commit(self._merge(part), tag)

    def _committed(self, exclude_tag: str) -> list[str]:
        return sorted(
            (
                d
                for d in _subdirs(self.base_dir)
                if d != f"_batch={exclude_tag}"
                and _exists(posixpath.join(self.base_dir, d, "_SUCCESS"))
            ),
            key=_epoch_id,
        )

    def _read_state(self, spark: SparkSession, exclude_tag: str) -> DataFrame | None:
        done = self._committed(exclude_tag)
        if not done:
            return None
        return spark.read.parquet(posixpath.join(self.base_dir, done[-1]))

    def current(self, spark: SparkSession) -> DataFrame | None:
        """The summary as of the last committed batch, or None before
        the first batch."""
        return self._read_state(spark, exclude_tag="")

    def _begin(self, batch_id: int) -> str:
        """The in-flight batch's tag, after dropping superseded epochs
        and torn garbage: the newest committed epoch is kept and
        everything else (older committed, uncommitted non-in-flight)
        is dead. The in-flight tag's own dir is left for the overwrite
        to replace."""
        tag = f"b{batch_id}"
        keep = set(self._committed(tag)[-1:]) | {f"_batch={tag}"}
        for d in _subdirs(self.base_dir):
            if d not in keep:
                _delete_dir(posixpath.join(self.base_dir, d))
        return tag

    def _commit(self, df: DataFrame, tag: str) -> None:
        df.coalesce(1).write.mode("overwrite").parquet(_partition(self.base_dir, tag))


class PartitionedStateSink:
    """foreachBatch sink keeping append-mostly state as N parquet roots
    of per-batch partitions. Subclasses set ``base_dir``,
    ``compact_every`` and ``_roots`` (tuple of root dirs), open each
    batch with :meth:`_begin` and write its outputs with
    :meth:`_commit`."""

    base_dir: str
    compact_every: int
    _roots: tuple[str, ...]

    #: fold_log keeps at most this many recent fold records. The log is
    #: a test/measurement hook only — state correctness never reads it —
    #: so a long-running sink must not grow it without bound (ADVICE r06).
    FOLD_LOG_CAP = 4096

    def __init__(self) -> None:
        # Subclasses call super().__init__() so the log exists for the
        # sink's whole lifetime (no fragile lazy hasattr init).
        self.fold_log: list[dict] = []

    def _begin(self, batch_df: DataFrame, batch_id: int) -> str | None:
        """Finish or unwind a torn compaction, compact, and return the
        in-flight batch's tag — or None for an empty batch, which
        writes nothing."""
        self._recover()
        self._maybe_compact(batch_df.sparkSession, batch_id)
        return None if batch_df.isEmpty() else f"b{batch_id}"

    def _commit(self, df: DataFrame, root: str, tag: str) -> None:
        """Write ``df`` as the batch's partition of ``root``; the
        overwrite replaces any torn attempt of the same batch."""
        df.write.mode("overwrite").parquet(_partition(root, tag))

    # -- compaction marker protocol ------------------------------------

    def _marker_path(self) -> str:
        return posixpath.join(self.base_dir, _MARKER)

    def _recover(self) -> None:
        """Finish or unwind a compaction torn by a crash: a target
        partition with Spark's ``_SUCCESS`` is complete (delete its
        sources); one without is garbage (delete it)."""
        mp = self._marker_path()
        if not _exists(mp):
            return
        f, p = _fs_for(mp)
        with f.open_input_stream(p) as h:
            plan = json.loads(h.read().decode())
        for root, spec in plan.items():
            target = posixpath.join(root, spec["target"])
            if _exists(posixpath.join(target, "_SUCCESS")):
                for s in spec["sources"]:
                    _delete_dir(posixpath.join(root, s))
            else:
                _delete_dir(target)
        f.delete_file(p)

    def _fold(
        self, spark, sources: dict[str, list[str]], target: str, tier: int = 0
    ) -> None:
        """Crash-safe fold of the given per-root source partitions into
        ``target`` under the marker protocol. Appends a record to
        ``fold_log`` (rows from the written files' parquet footers — no
        extra Spark action)."""
        plan = {
            r: {"target": target, "sources": sources[r]}
            for r in self._roots
            if sources.get(r)
        }
        if not plan:
            return
        f, p = _fs_for(self._marker_path())
        with f.open_output_stream(p) as h:
            h.write(json.dumps(plan).encode())
        rows = 0
        for root, spec in plan.items():
            srcs = [posixpath.join(root, s) for s in spec["sources"]]
            (
                spark.read.parquet(*srcs)
                .coalesce(max(1, spark.sparkContext.defaultParallelism // 4))
                .write.mode("overwrite")
                .parquet(posixpath.join(root, spec["target"]))
            )
            rows += _parquet_rows(posixpath.join(root, spec["target"]))
        for root, spec in plan.items():
            for s in spec["sources"]:
                _delete_dir(posixpath.join(root, s))
        f.delete_file(p)
        self.fold_log.append(
            {
                "tier": tier,
                "target": target,
                "n_sources": max(len(s["sources"]) for s in plan.values()),
                "rows": rows,
            }
        )
        del self.fold_log[: -self.FOLD_LOG_CAP]

    @staticmethod
    def _tier(d: str) -> int:
        """Compaction tier of a ``_batch=*`` partition name: fresh
        micro-batches (``b{id}``) are tier 0; geometric folds are
        ``t{l}.{id}``; the legacy two-tier names (``c{id}`` /
        ``c{id}x``) map to tiers 1 / 2 so pre-upgrade state keeps
        compacting correctly."""
        tag = d.split("=", 1)[1]
        if tag.startswith("b"):
            return 0
        if tag.startswith("t"):
            return int(tag[1:].split(".", 1)[0])
        return 2 if tag.endswith("x") else 1

    def _maybe_compact(self, spark, batch_id: int) -> None:
        """Geometric tiered compaction: when any tier l accumulates
        ``compact_every`` partitions (the in-flight batch excluded),
        fold them — and only them — into ONE tier-(l+1) partition
        ``_batch=t{l+1}.*``. A tier-l fold reads compact_every^(l+1)
        batches of rows once per compact_every^(l+1) batches, so the
        amortized rewrite is O(1) rows per tier per batch; cumulative
        rewrite over N batches is O(N log_ce N). Tiers fold top-down
        so a lower fold's output cannot double-trigger in the same
        call. ``fold_log`` records (tier, target, n_sources, rows) per
        fold — the measured-test hook."""
        tag = f"b{batch_id}"
        per_tier: dict[int, dict[str, list[str]]] = {}
        for r in self._roots:
            for d in _subdirs(r):
                if d == f"_batch={tag}":
                    continue
                per_tier.setdefault(self._tier(d), {}).setdefault(r, []).append(d)
        for tier in sorted(per_tier, reverse=True):
            sources = per_tier[tier]
            if max((len(s) for s in sources.values()), default=0) >= self.compact_every:
                self._fold(
                    spark, sources, f"_batch=t{tier + 1}.{batch_id}", tier=tier
                )

    # -- state reads ---------------------------------------------------

    def _read_state(
        self, spark, root: str, exclude_tag: str, committed_only: bool = False
    ) -> DataFrame | None:
        """All committed state rows under ``root`` — every partition
        except the in-flight batch's own (so a replay sees exactly the
        pre-batch corpus regardless of how a prior attempt tore).

        ``committed_only=True`` is the out-of-band READER contract
        (ADVICE r05: index()/probe() called without a write() to run
        recovery first): partitions without Spark's ``_SUCCESS`` are
        torn in-flight writes and are excluded, and a pending
        compaction marker is resolved read-only with the recovery
        rules — a completed target shadows its listed sources, an
        incomplete target is ignored — so every crash window reads a
        consistent snapshot without mutating state under a possibly
        live writer."""
        dirs = [d for d in _subdirs(root) if d != f"_batch={exclude_tag}"]
        if committed_only:
            drop: set[str] = set()
            mp = self._marker_path()
            if _exists(mp):
                f, p = _fs_for(mp)
                with f.open_input_stream(p) as h:
                    plan = json.loads(h.read().decode())
                spec = plan.get(root)
                if spec:
                    if _exists(posixpath.join(root, spec["target"], "_SUCCESS")):
                        drop.update(spec["sources"])
                    else:
                        drop.add(spec["target"])
            dirs = [
                d
                for d in dirs
                if d not in drop and _exists(posixpath.join(root, d, "_SUCCESS"))
            ]
        if not dirs:
            return None
        return spark.read.parquet(*[posixpath.join(root, d) for d in dirs])
