"""SparkSession factory tuned for the engine's workload.

Mirrors the reference's process-boot stage (anonymizer/src/main.rs:26-89)
where config is loaded and subsystems are wired; in Spark the equivalent
is a configured ``SparkSession``. Defaults are chosen for the 100 TB
design point (AQE on, skew-join handling, explicit shuffle parallelism)
while remaining correct on ``local[*]`` test runs.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

# the directory that holds this package, for the Python workers' path
_PACKAGE_PARENT = str(Path(__file__).resolve().parents[1])
# the fork-free local filesystem (jvm/ForkFreeLocalFs.java), built by
# tools/build_localfs_jar.py; joined onto any classpath a caller passes
_LOCALFS_JAR = str(Path(__file__).resolve().parent / "jvm" / "fork-free-localfs.jar")
_CLASSPATH_CONFS = ("spark.driver.extraClassPath", "spark.executor.extraClassPath")


def shuffle_partitions_for_sf(sf: float) -> int:
    """Data-proportional shuffle parallelism: at small scale factors the
    per-task overhead of core-count near-empty partitions costs ~8%
    (measured in bench.py r02); AQE coalesces down but not to the
    floor. ~80 partitions per unit scale factor, clamped to [8, 256]
    locally — on a real cluster the 256 cap should scale with executor
    count (ADVICE r02 item 8: shared by bench.py, tests and any driver
    run that exports SPARK_GRAFT_SF_DIR)."""
    return max(8, min(256, int(80 * sf)))


def _sf_from_env() -> float | None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir:
        return None
    try:
        return float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        return None


def get_spark(
    app_name: str = "http-log-anonymizer-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Scale notes (design point: 1000 executors / 100 TB):

    - AQE is on: runtime coalescing of post-shuffle partitions and skew
      join splitting replace hand-tuned partition counts.
    - ``spark.sql.shuffle.partitions`` is only an upper bound under AQE;
      locally we keep it at the core count so tests don't create
      thousands of empty partitions. On a cluster this should be
      ~2-3x total cores; AQE coalesces down.
    - Arrow is enabled for pandas UDF exchange (the capnp decoder and
      IPv6 anonymizer are the only Python-side hot paths; everything
      else stays in whole-stage codegen).
    - Broadcast threshold is raised to 64 MiB: the dimension tables
      (region/nation/customer/supplier/part) are tiny relative to the
      fact tables at any scale factor, and broadcasting them removes
      full shuffles from every join in the registry.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        env = os.environ.get("SPARK_SHUFFLE_PARTITIONS")
        sf = _sf_from_env()
        if env is not None:
            shuffle_partitions = int(env)
        elif sf is not None:
            # data-proportional default when the caller advertises the
            # scale factor (bench.py / driver runs)
            shuffle_partitions = shuffle_partitions_for_sf(sf)
        else:
            shuffle_partitions = int(cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Spark's default (parallelismFirst=true): AQE coalesces
        # post-shuffle partitions no further than the default
        # parallelism. The r02-era "false" (coalesce tiny stages to the
        # byte-size target) was set without an isolated A/B; r10
        # measurement showed it serializes COMPUTE-DENSE small-byte
        # stages onto 1-2 tasks — window ranking and candidate
        # verification over kilobyte rows with milliseconds of CPU per
        # row (dedup_prefix_filter_join 22.9 -> 12.3 s,
        # association_rules 4.9 -> 2.6 s, mkn 3.3 -> 2.3 s at sf0.1;
        # A/B both orders, no regression outside noise). Data-sized
        # stages exceed both targets and are unaffected, so this is
        # scale-neutral; bytes are simply a bad proxy for work in the
        # candidate-verify / report stages this engine runs.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # PySpark's DataFrame-debugging call-site capture (default ON)
        # adds 3-4 extra JVM round-trips + a Python stack walk to EVERY
        # DataFrame/Column API call (pyspark/errors/utils.py:_with_origin:
        # a conf.get + PySparkCurrentOrigin.set/clear per call). Measured
        # r10: warm DataFrame *construction* of expression-heavy plans
        # (simhash/LSH bit folds) spends 2-4 s in py4j socket round-trips
        # per query — about half of which is this tracing. It only
        # enriches error messages with user line numbers; plans, results
        # and execution are identical without it (guide §5: driver-side
        # overhead in the query path).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # One BLAS thread per Python worker: task-level parallelism
        # already fills the cores (operators/gemm.py, topk.py size their
        # blocks to ~2x parallelism), so an uncapped OpenBLAS would
        # oversubscribe cores x workers threads on every numpy matmul.
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        # Every Python task starts with importlib.invalidate_caches(),
        # which on CPython < 3.13 re-reads each zip archive directory on
        # sys.path (pyspark.zip and the spark-core jar: ~26.7k entries
        # over 16 zipimporters). Measured on a 4-core host (CPython
        # 3.11.7): 120-400 ms per task, paid 4x per ingest micro-batch
        # (2 tasks x the decode and anonymize UDFs); 0.1-0.3 ms under
        # this daemon, which re-reads an archive only when its file
        # stamp changes (_daemon.py). Spark starts it as `python -m`, so
        # the workers' path must hold this package whatever the driver's
        # working directory.
        .config("spark.python.daemon.module", "http_log_anonymizer_spark._daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        # Without libhadoop (pip's pyspark ships none) Hadoop's local
        # filesystem forks `chmod` for every file and directory it
        # creates with a permission (checkpoint logs, parquet parts and
        # their .crc files, _temporary, _SUCCESS) and `readlink` 4 times
        # per FileContext rename. Measured with JFR over one ingest
        # drain: 1,377 subprocesses, about 43 per micro-batch, at 3.6 ms
        # each; 30 of them per batch are the stream thread's 3
        # checkpoint log writes, which each took about 23 ms. The
        # package jar (on the driver and executor classpaths, like the
        # worker path above) does those two calls through java.nio and
        # keeps Hadoop's own LocalFileSystem / LocalFs over them, so the
        # .crc checksums and the no-overwrite checkpoint rename stay.
        .config("spark.hadoop.fs.file.impl", "hla.localfs.ForkFreeLocalFs$Local")
        .config("spark.hadoop.fs.AbstractFileSystem.file.impl", "hla.localfs.ForkFreeLocalFs$Fs")
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_WAREHOUSE_DIR", "/tmp/hla-spark-warehouse"),
        )
    )
    conf = dict(extra_conf or {})
    for key in _CLASSPATH_CONFS:
        conf[key] = os.pathsep.join(filter(None, (conf.get(key), _LOCALFS_JAR)))
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
