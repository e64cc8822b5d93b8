"""Materialization of intermediate results: the one place that decides
how lineage is cut and where scratch data lives.

Policy:

- Pin only state that is loop-carried or read by more than one
  consumer; everything else stays lazy.
- A pin is a scratch-parquet round-trip. The files survive the loss of
  the executor that wrote them (a heap checkpoint dies with it) and the
  pinned rows stay off the JVM heap.
- Scratch lives under the Spark conf ``spark.graft.scratchDir``, else
  under the system temp dir. On a multi-node cluster the conf must name
  storage every executor can read (HDFS, S3, NFS). Each process writes
  into its own ``graft-<id>`` directory there and removes it at exit.
"""

from __future__ import annotations

import atexit
import os
import posixpath
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession

SCRATCH_CONF = "spark.graft.scratchDir"

_PROCESS_DIR = f"graft-{uuid.uuid4().hex[:12]}"
_OWNED_ROOTS: set[str] = set()


def _rm_scratch(path: str) -> None:
    """Delete a scratch dir on the filesystem that owns it (local or,
    for URI roots, whatever pyarrow.fs resolves — HDFS/S3)."""
    if "://" in path:
        try:
            from pyarrow import fs as pafs

            f, p = pafs.FileSystem.from_uri(path)
            f.delete_dir(p)
        except Exception:  # noqa: BLE001 — best-effort atexit cleanup
            pass
    else:
        shutil.rmtree(path, ignore_errors=True)


@atexit.register
def _cleanup() -> None:
    for root in _OWNED_ROOTS:
        _rm_scratch(root)


def scratch_path(spark: SparkSession, prefix: str) -> str:
    """A fresh, never-written path under this process's scratch root."""
    base = spark.conf.get(SCRATCH_CONF, None) or tempfile.gettempdir()
    root = posixpath.join(base.rstrip("/"), _PROCESS_DIR)
    _OWNED_ROOTS.add(root)
    return f"{root}/{prefix}{uuid.uuid4().hex[:12]}"


def pin(df: DataFrame) -> DataFrame:
    """Materialize ``df`` to scratch parquet and read it back.

    The written files are a hard lineage boundary. On Spark 4.1.2 a
    chain of self-joins whose levels were ``localCheckpoint``-ed,
    ``checkpoint``-ed or ``cache()+count()``-ed re-executed doubling
    work per level (tests/test_suffix_array.py::
    test_pin_breaks_quadratic_chains); the parquet round-trip stays
    flat."""
    spark = df.sparkSession
    path = scratch_path(spark, "pin-")
    # 32 MiB row groups (default 128 MiB): pins are written once and
    # scanned sequentially, so big row groups buy nothing, while every
    # writer task buffers one row group on heap — at sf100 the default
    # produced the 128 MB G1 humongous allocations that GC-choked
    # hits_copurchase (SCALE.md r09/r10).
    df.write.option("parquet.block.size", 32 * 1024 * 1024).mode(
        "overwrite"
    ).parquet(path)
    out = spark.read.parquet(path)
    out._graft_pin_path = path  # noqa: SLF001 — consumed by pin_counted
    return out


def pin_counted(df: DataFrame) -> tuple[DataFrame, int]:
    """:func:`pin` plus the pinned row count, read from the written
    parquet footers driver-side (pyarrow) — zero extra Spark jobs. A
    URI scratch root falls back to one count job."""
    out = pin(df)
    path = out._graft_pin_path  # noqa: SLF001
    if "://" in path:
        return out, out.count()
    import pyarrow.parquet as pq

    n = 0
    for name in os.listdir(path):
        if name.endswith(".parquet"):
            n += pq.ParquetFile(os.path.join(path, name)).metadata.num_rows
    return out, n
