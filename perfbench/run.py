"""Benchmark command for the anonymizer engine.

    python3 perfbench/run.py --workload ingest_drain --seed 1 --seconds 15 --trace 0

Workloads: ``ingest_drain``, ``ingest_paced`` (ingest.py) and
``registry_sf0.01`` (registry.py). Inputs come from ``gen.py`` and the
seed. The run checks the program's outputs and prints, as its last line,
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. The line
before it holds the run's details (input sizes, effective Spark conf, the
trace file). Everything the run writes stays under ``.perfbench_run/`` in
the checkout; a traced run keeps its spans in ``.perfbench_run/traces/``.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
OUT = ROOT / ".perfbench_run"
WORKLOADS = ("ingest_drain", "ingest_paced", "registry_sf0.01")
# settings the package reads from the environment; the benchmark passes
# every one it relies on through get_spark / ClickHouseConfig instead
_PACKAGE_ENV = ("CH__", "KAFKA__", "NUM_CONSUMERS", "SPARK_GRAFT_", "SPARK_MASTER",
                "SPARK_SHUFFLE_PARTITIONS", "SPARK_DRIVER_MEMORY", "SPARK_WAREHOUSE_DIR",
                "SPARK_CHECKPOINT_DIR")
DRIVER_MEMORY = "2g"


class Context:
    """Per-run state handed to a workload: seed, timing window, Spark
    session lifecycle, tracing and memory sampling."""

    def __init__(self, args, work: Path) -> None:
        from tracing import Tracer

        self.workload, self.seed, self.seconds = args.workload, args.seed, args.seconds
        self.trace = bool(args.trace)
        self.master = args.master
        self.work = str(work)
        self.cores = os.cpu_count() or 1
        self.tracer = Tracer()
        self.query_tag = args.workload
        self.session_s: float | None = None
        self.window: tuple[float, float] | None = None
        self.py4j_calls: int | None = None
        self.peak_rss = 0
        self.conf: dict[str, str] = {}
        self._spark = None
        self._t_session = 0.0
        self._sampler = None

    def spark_conf(self) -> dict[str, str]:
        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.sql.warehouse.dir": f"{self.work}/warehouse",
            "spark.local.dir": f"{self.work}/local",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp",
            "spark.pyspark.python": sys.executable,
            "spark.pyspark.driver.python": sys.executable,
            "spark.eventLog.enabled": str(self.trace).lower(),
        }
        if self.trace:
            os.makedirs(f"{self.work}/eventlog", exist_ok=True)
            conf.update({"spark.eventLog.dir": f"file://{self.work}/eventlog",
                         "spark.eventLog.compress": "false"})
        return conf

    def start_session(self, shuffle_partitions: int | None = None):
        """Start the Spark session, timed as ``session.start_s``, and the
        memory sampler."""
        from http_log_anonymizer_spark.session import get_spark
        from pyspark import SparkContext
        from tracing import RssSampler

        t = time.perf_counter()
        with self.tracer.span("session.start", trace=self.workload):
            spark = get_spark(
                app_name=f"perfbench-{self.workload}",
                master=self.master or f"local[{self.cores}]",
                shuffle_partitions=shuffle_partitions or self.cores,
                extra_conf=self.spark_conf(),
            )
        self._t_session = t
        self.session_s = time.perf_counter() - t
        self.conf = dict(spark.sparkContext.getConf().getAll())
        self._sampler = RssSampler(SparkContext._gateway.proc.pid)
        spark.sparkContext.setLogLevel("ERROR")
        self._spark = spark
        return spark

    def since_session(self) -> float:
        return time.perf_counter() - self._t_session

    @contextlib.contextmanager
    def measuring(self, spark):
        """The timed window: its epoch bounds select event-log jobs, py4j
        calls are counted inside it (traced runs), and the memory peak is
        taken from session start to its end."""
        from tracing import Py4jCounter

        counter = Py4jCounter(spark.sparkContext._gateway._gateway_client) if self.trace else None
        w0 = time.time()
        try:
            with self.tracer.span("measure", trace=self.workload):
                yield
        finally:
            self.window = (w0, time.time())
            if counter is not None:
                counter.close()
                self.py4j_calls = counter.calls
            self.peak_rss = self._sampler.stop()

    def exec_layers(self, spark) -> dict:
        """Stops the session (which flushes the event log) and returns the
        ``exec.*`` metrics of the timed window plus ``py4j.calls``."""
        from tracing import parse_event_log, read_event_logs

        spark.stop()
        self._spark = None
        out = parse_event_log(read_event_logs(f"{self.work}/eventlog"), self.window, self.cores)
        out["py4j.calls"] = self.py4j_calls
        return out

    def single_thread_baseline(self) -> float:
        """``round_s`` of the same workload and seed on local[1],
        measured in a child run: a fresh JVM, because the package's
        module-level pandas UDF keeps the first SparkContext's accumulator
        and a second context in one process reports to a closed socket."""
        cmd = [sys.executable, __file__, "--workload", self.workload, "--seed", str(self.seed),
               "--seconds", "1", "--master", "local[1]"]
        out = subprocess.run(cmd, capture_output=True, text=True, timeout=170, check=True)
        res = json.loads(out.stdout.strip().splitlines()[-1])
        if not res["correct"]:
            raise RuntimeError("single-threaded baseline run failed its checks")
        return res["metrics"]["round_s"]["value"]

    def close(self) -> None:
        """Stops Spark and the JVM it launched, and waits for the JVM."""
        from pyspark import SparkContext

        if self._sampler is not None:
            self._sampler.stop()
        if self._spark is not None:
            self._spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = gw.proc
            gw.shutdown()
            proc.stdin.close()
            proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None


def _isolate_env(work: Path) -> None:
    for key in list(os.environ):
        if key.startswith(_PACKAGE_ENV):
            del os.environ[key]
    # Python workers import the package by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable


def source_digest() -> str:
    """SHA-256 over the package, the benchmark's code and BENCHMARK.json:
    identifies the measured code where the checkout has no commit id."""
    h = hashlib.sha256()
    files = sorted([*ROOT.glob("http_log_anonymizer_spark/**/*.py"), *ROOT.glob("perfbench/*.py"),
                    ROOT / "BENCHMARK.json"])
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    return h.hexdigest()


def _history(args, e2e: dict) -> dict:
    """Appends this run's end-to-end values to the checkout's history and,
    for a traced run, returns traced minus the median of the untraced runs
    of the same code, workload, seed and seconds (tracing overhead)."""
    from tracing import median

    key = {"code": source_digest(), "workload": args.workload, "seed": args.seed,
           "seconds": args.seconds}
    path = OUT / "history.jsonl"
    past = []
    if path.exists():
        with open(path) as f:
            past = [json.loads(line) for line in f if line.strip()]
    with open(path, "a") as f:
        f.write(json.dumps({**key, "trace": bool(args.trace), "e2e": e2e}) + "\n")
    if not args.trace:
        return {}
    base = [h["e2e"] for h in past
            if not h["trace"] and all(h.get(k) == v for k, v in key.items())]
    if not base:
        return {"note": "no untraced run of this code, workload, seed and seconds recorded "
                        "in this checkout; run the same command with --trace 0 first"}
    return {k: v - median([b[k] for b in base if k in b]) for k, v in e2e.items()
            if any(k in b for b in base)} | {"untraced_runs": len(base)}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--master", help="Spark master (default local[<cpu count>]); a traced "
                    "ingest_drain runs itself with local[1] as its single-threaded baseline")
    args = ap.parse_args()
    if not (ROOT / "http_log_anonymizer_spark" / "__init__.py").is_file():
        print(f"package http_log_anonymizer_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    work = OUT / f"{args.workload}-{args.seed}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    _isolate_env(work)
    ctx = Context(args, work)
    try:
        if args.workload.startswith("ingest_"):
            import ingest

            res = (ingest.run_drain if args.workload == "ingest_drain" else ingest.run_paced)(ctx)
        else:
            import registry

            res = registry.run(ctx)
    finally:
        ctx.close()
        shutil.rmtree(work, ignore_errors=True)
    e2e = dict(res["e2e"], peak_rss_mb=ctx.peak_rss / 2**20)
    details = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
               "trace": bool(args.trace), "cores": ctx.cores, "end_to_end": e2e,
               "info": res["info"], "spark_conf": ctx.conf,
               "failed_ratio": res["failed"] / max(1, res["attempted"])}
    overhead = _history(args, e2e) if args.master is None else {}
    if args.trace:
        traces = OUT / "traces"
        traces.mkdir(exist_ok=True)
        stem = traces / f"{args.workload}-seed{args.seed}"
        ctx.tracer.write(f"{stem}.spans.json")
        details.update(per_layer=res["layers"], tracing_overhead=overhead,
                       spans=str(Path(f"{stem}.spans.json").relative_to(ROOT)))
        with open(f"{stem}.json", "w") as f:
            json.dump(details, f, indent=1)
    print(json.dumps(details))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": _metrics(args, res["layers"] if args.trace else e2e),
    }))
    return 0


def _metrics(args, values: dict) -> dict:
    """Exactly the metrics BENCHMARK.json declares for this kind of run
    (end-to-end or per-layer), each with its declared unit. A workload not
    listed there reports what it measured."""
    with open(ROOT / "BENCHMARK.json") as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        return {k: {"value": v, "unit": _unit_of(k)} for k, v in values.items()}
    declared = spec["per_layer" if args.trace else "end_to_end"]
    missing = [m["name"] for m in declared if m["name"] not in values]
    if missing:
        raise RuntimeError(f"declared metrics not measured: {missing}")
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}


def _unit_of(name: str) -> str:
    if name.endswith("_us_per_row"):
        return "us"
    if name.endswith("_s") or "_s." in name:
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("ratio", "efficiency")) or ".share_" in name:
        return "ratio"
    if name.endswith("per_s") or name.endswith("per_min"):
        return "1/s" if name.endswith("per_s") else "1/min"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
