"""Measurement helpers: percentile rule, spans, Spark event-log parsing,
process-tree RSS sampling and py4j call counting.

Everything here wraps calls from the benchmark's own files; nothing is
patched into the package under test except the py4j client counter,
which wraps the gateway connection object of this process only.
"""

from __future__ import annotations

import json
import math
import os
import threading
import time

PERCENTILES = (50.0, 90.0, 99.0, 99.9)


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default rule)."""
    if not values:
        raise ValueError("no samples")
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n: int) -> float | None:
    """Highest of PERCENTILES that has at least ten samples beyond it."""
    ok = [p for p in PERCENTILES if round(n * (100.0 - p) / 100.0, 9) >= 10]
    return max(ok) if ok else None


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


class Tracer:
    """In-memory spans (name, start, end, parent, trace id), written out
    once at the end of the run."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._lock = threading.Lock()

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            trace: str | None = None, **attrs) -> int:
        with self._lock:
            sid = len(self.spans)
            self.spans.append({"id": sid, "name": name, "start": start, "end": end,
                               "parent": parent, "trace": trace, **attrs})
            return sid

    def span(self, name: str, parent: int | None = None, trace: str | None = None):
        return _SpanCtx(self, name, parent, trace)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, parent: int | None, trace: str | None):
        self.tracer, self.name, self.parent, self.trace = tracer, name, parent, trace
        self.id: int | None = None

    def __enter__(self) -> "_SpanCtx":
        self.t0 = time.time()
        self.id = self.tracer.add(self.name, self.t0, self.t0, self.parent, self.trace)
        return self

    def __exit__(self, *exc) -> None:
        self.tracer.spans[self.id]["end"] = time.time()


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# -- Spark event log ---------------------------------------------------------


def parse_event_log(lines, window: tuple[float, float] | None = None, cores: int = 1) -> dict:
    """Aggregate ``exec.*`` metrics from Spark event-log JSON lines.

    ``window`` (epoch seconds) keeps only jobs that started inside it, and
    the tasks and stages of those jobs; ``exec.driver_gap_s`` is the window
    length minus the union of the kept job intervals.
    """
    jobs: dict[int, list] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    stages: list[tuple[int, int]] = []
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = [ev["Submission Time"] / 1000.0, None]
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = ev["Job ID"]
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]][1] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            stages.append((info["Stage ID"], info.get("Stage Attempt ID", 0)))
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
            tasks.append({
                "stage": ev["Stage ID"],
                "run_ms": m.get("Executor Run Time", 0),
                "gc_ms": m.get("JVM GC Time", 0),
                "read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                "write": sw.get("Shuffle Bytes Written", 0),
                "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
            })
    if window is None:
        starts = [s for s, _ in jobs.values()]
        ends = [e for _, e in jobs.values() if e is not None]
        window = (min(starts), max(ends)) if starts and ends else (0.0, 0.0)
    w0, w1 = window
    kept = {j for j, (s, _) in jobs.items() if w0 <= s <= w1}
    kept_stages = {s for s, j in stage_job.items() if j in kept}
    kept_tasks = [t for t in tasks if t["stage"] in kept_stages]
    intervals = [(max(s, w0), min(e if e is not None else w1, w1)) for j, (s, e) in jobs.items()
                 if j in kept]
    busy = union_length(intervals)
    wall = max(w1 - w0, 1e-9)
    run_s = sum(t["run_ms"] for t in kept_tasks) / 1000.0
    return {
        "exec.jobs": len(kept),
        "exec.stages": sum(1 for s, _ in stages if s in kept_stages),
        "exec.tasks": len(kept_tasks),
        "exec.shuffle_read_bytes": sum(t["read"] for t in kept_tasks),
        "exec.shuffle_write_bytes": sum(t["write"] for t in kept_tasks),
        "exec.spill_bytes": sum(t["spill"] for t in kept_tasks),
        "exec.gc_s": sum(t["gc_ms"] for t in kept_tasks) / 1000.0,
        "exec.executor_run_s": run_s,
        "exec.driver_gap_s": wall - busy,
        "exec.busy_ratio": run_s / (wall * cores),
    }


def read_event_logs(log_dir: str) -> list[str]:
    """All event lines under ``log_dir`` (single files or the rolling
    ``eventlog_v2_*`` directories)."""
    lines: list[str] = []
    for base, _, names in sorted(os.walk(log_dir)):
        for name in sorted(n for n in names if not n.startswith((".", "appstatus"))):
            with open(os.path.join(base, name)) as f:
                lines.extend(f)
    return lines


# -- resident memory ---------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_rss_bytes(root_pid: int) -> int:
    """Summed VmRSS of ``root_pid`` and all its descendants."""
    kids, total, todo = _children(), 0, [root_pid]
    page = os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler:
    """Samples the RSS of a process tree every ``interval_s`` in a thread
    and keeps the peak until ``stop``."""

    def __init__(self, root_pid: int, interval_s: float = 0.25) -> None:
        self.root_pid, self.interval_s, self.peak = root_pid, interval_s, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.root_pid))
            self._stop.wait(self.interval_s)

    def stop(self) -> int:
        """Stops sampling (idempotent) and returns the peak in bytes."""
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join()
            self.peak = max(self.peak, tree_rss_bytes(self.root_pid))
        return self.peak


class Py4jCounter:
    """Counts py4j commands the driver sends to the JVM by wrapping the
    gateway client's ``send_command``."""

    def __init__(self, gateway_client) -> None:
        self.calls = 0
        self._client = gateway_client
        self._orig = gateway_client.send_command
        counter = self

        def send_command(*a, **kw):
            counter.calls += 1
            return counter._orig(*a, **kw)

        gateway_client.send_command = send_command

    def close(self) -> None:
        self._client.send_command = self._orig
