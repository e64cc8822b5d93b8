"""Ingest workloads: capnp payload files -> decode -> anonymize -> sink,
driven only through the package's public pipeline functions.

``ingest_drain``: closed loop. A fixed backlog (DRAIN_FILES files of
DRAIN_FILE_ROWS payloads) is drained with ``availableNow`` and
DRAIN_FILES_PER_TRIGGER files per micro-batch into
``ParquetSink(dedup=True)``, in fresh queries (rounds) until the run's
seconds are used up. Set-up is the session start plus a cold query that
drains one micro-batch of files of its own; DRAIN_WARMUP_ROUNDS untimed
rounds of the backlog follow it.

``ingest_paced``: open loop. A publisher process moves one pre-encoded file
of PACED_ROWS payloads into the watched directory every PACED_PERIOD_S
seconds; a ``processingTime`` trigger feeds ``ClickHouseSink``, which POSTs
to the local stub. A file's latency is the stub's receipt time of its row
minus the file's due time; one sample per file.

``layer_probe`` replays the drain input in batch mode through cumulative
prefixes for the per-layer self times; every traced run calls it.
"""

from __future__ import annotations

import glob
import json
import math
import os
import subprocess
import sys
import time
from collections import Counter
from datetime import datetime

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from http_log_anonymizer_spark.config import ClickHouseConfig
from http_log_anonymizer_spark.sinks.clickhouse import ClickHouseSink, encode_compact_json_row
from http_log_anonymizer_spark.sinks.parquet import ParquetSink
from http_log_anonymizer_spark.sources.capnp import decode_capnp_stream
from http_log_anonymizer_spark.sources.capnp_codec import FIELDS, decode_http_log_record
from http_log_anonymizer_spark.streaming.pipeline import (
    PipelineSpec,
    anonymize_transform,
    build_streaming_query,
)

import gen
from stub import ClickHouseStub
from tracing import median, percentile, tail_percentile

# A drain micro-batch is 2 x 2048 = 4096 payloads, the reference's largest
# insert block (BASELINE.md: CH__MAX_BLOCK_SIZE=4096), read by one task per
# file: two, as the reference runs two consumer tasks (NUM_CONSUMERS=2).
# A round drains four micro-batches.
DRAIN_FILES, DRAIN_FILE_ROWS, DRAIN_FILES_PER_TRIGGER = 8, 2048, 2
# The JVM keeps compiling hot code for several rounds after set-up; with
# one warm-up round the first timed round ran about 10% slower than the
# third, which widened the run-to-run spread.
DRAIN_WARMUP_ROUNDS = 2
# One payload every 100 ms, the reference producer's rate (BASELINE.md:
# KAFKA_PRODUCER_DELAY_MS=100), one file per payload.
PACED_ROWS, PACED_PERIOD_S, PACED_TRIGGER = 1, 0.1, "100 milliseconds"
PACED_COLD_FILES, PACED_WARMUP_S = 3, 12
# Smallest pacing ClickHouseConfig accepts: 0 or None fall back to
# default_rate_limit_s (10 s) and the limiter refuses non-positive rates,
# so a 1 us interval makes the sink measure encode + POST, not sleep.
CH_RATE_LIMIT_S = 1e-6
PROBE_FILES, PROBE_REPS = 4, 3
_LEGS = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
_ADDR = FIELDS.index("remote_addr")


def _source(spark, path: str, files_per_trigger: int | None = None):
    reader = spark.readStream.schema("value binary")
    if files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", files_per_trigger)
    return reader.parquet(path)


def _decoder(df):
    """The package decoder, plus a count of decoded rows so rejects can be
    checked against the planted malformed payloads."""
    return decode_capnp_stream(df).observe("bench", F.count(F.lit(1)).alias("decoded"))


def _timed_writer(write, ctx, layer: str):
    """Wraps a sink's foreachBatch writer with a span per call (traced
    runs only)."""
    if not ctx.trace:
        return write

    def traced(batch_df, batch_id):
        with ctx.tracer.span(f"{layer}.write", trace=f"{ctx.query_tag}:{batch_id}"):
            write(batch_df, batch_id)

    return traced


def _run_query(ctx, source, writer, ckpt: str, trigger: dict):
    spec = PipelineSpec(decoder=_decoder, transform=anonymize_transform, writer=writer)
    return build_streaming_query(source, spec, ckpt, trigger=trigger, query_name=ctx.query_tag)


def _progress_counts(progress) -> tuple[int, int]:
    received = decoded = 0
    for p in progress:
        obs = p.observedMetrics or {}
        if "decode" in obs:
            received += obs["decode"]["received"]
        if "bench" in obs:
            decoded += obs["bench"]["decoded"]
    return received, decoded


def _stream_layers(ctx, progress) -> dict:
    """Per-batch medians of Spark's progress legs, batch count and the
    decoder's received / rejected counts; spans per batch and leg."""
    out = {}
    for leg in _LEGS:
        vals = [p.durationMs.get(leg, 0) / 1000.0 for p in progress]
        name = "commit" if leg == "commitOffsets" else leg
        out[f"stream.{name}_s"] = median(vals) if vals else 0.0
    received, decoded = _progress_counts(progress)
    out.update({"stream.batches": len(progress), "stream.received": received,
                "stream.rejected": received - decoded})
    for p in progress:
        start, end = _iso_epoch(p.timestamp), _batch_end(p)
        trace = f"{p.name}:{p.batchId}"  # the query name is the round's tag
        bid = ctx.tracer.add("stream.batch", start, end, trace=trace, rows=p.numInputRows)
        t = start
        for leg in _LEGS:  # legs run one after another inside the trigger
            d = p.durationMs.get(leg, 0) / 1000.0
            lid = ctx.tracer.add(f"stream.{leg}", t, t + d, parent=bid, trace=trace)
            t += d
            if leg == "addBatch":  # the sink call runs inside addBatch
                for span in ctx.tracer.spans:
                    if span["trace"] == trace and span["name"].endswith(".write"):
                        span["parent"] = lid
    return out


def _iso_epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _read_sink(path: str) -> list[tuple]:
    t = pq.read_table(path, columns=["timestamp", *FIELDS[1:]])
    ts_ms = (t.column("timestamp").cast(pa.timestamp("us")).cast(pa.int64()).to_numpy() // 1000)
    cols = [ts_ms.tolist()] + [t.column(c).to_pylist() for c in FIELDS[1:]]
    return sorted(zip(*cols))


def _mismatch(got: list[tuple], want: list[tuple]) -> int:
    """Rows missing from ``got`` plus rows ``got`` has in excess (multisets)."""
    g, w = Counter(got), Counter(want)
    return sum(((w - g) + (g - w)).values())


def _payloads(paths: list[str]) -> list[bytes]:
    return [p for f in paths for p in pq.read_table(f).column("value").to_pylist()]


def _codec_layers(payloads: list[bytes], valid: list[tuple]) -> dict:
    """Driver-side per-row cost of the capnp codec and the sink's row
    encoder on the probe's payloads."""
    t = time.perf_counter()
    recs = [decode_http_log_record(p) for p in payloads]
    decode_us = (time.perf_counter() - t) * 1e6 / len(payloads)
    rows = [dict(r, timestamp=r["timestamp_epoch_milli"] // 1000) for r in recs if r]
    t = time.perf_counter()
    for r in rows:
        encode_compact_json_row(r)
    enc_us = (time.perf_counter() - t) * 1e6 / len(rows)
    return {"capnp_codec.decode_us_per_row": decode_us,
            "sink_clickhouse.encode_us_per_row": enc_us,
            "anonymize.python_path_rows": gen.python_path_rows(valid)}


def layer_probe(ctx, spark) -> dict:
    """Batch replay of the first PROBE_FILES files of the drain backlog
    (the same bytes for a given seed) through cumulative prefixes: source,
    + decode, + anonymize, + ParquetSink or + ClickHouseSink. A layer's
    self time is the difference of adjacent prefix medians over PROBE_REPS
    repetitions. Runs after the timed window, so ``exec.*`` excludes it."""
    man = gen.write_payload_files(os.path.join(ctx.work, "probe"), ctx.seed, PROBE_FILES,
                                  DRAIN_FILE_ROWS, "/d")
    files = man["paths"]

    def src():
        return spark.read.parquet(*files)

    noop = lambda df: df.write.format("noop").mode("overwrite").save()  # noqa: E731
    dirs = iter(range(10**6))

    def parquet_leg(df):
        ParquetSink(os.path.join(ctx.work, f"probe_pq_{next(dirs)}"), dedup=True).write(df, 0)

    with ClickHouseStub() as stub:
        def ch_leg(df):
            ClickHouseSink(ClickHouseConfig(url=stub.url, rate_limit_s=CH_RATE_LIMIT_S)).write(df, 0)

        prefixes = {
            "source": lambda: noop(src()),
            "decode": lambda: noop(decode_capnp_stream(src())),
            "anonymize": lambda: noop(anonymize_transform(decode_capnp_stream(src()))),
            "sink_parquet": lambda: parquet_leg(anonymize_transform(decode_capnp_stream(src()))),
            "sink_clickhouse": lambda: ch_leg(anonymize_transform(decode_capnp_stream(src()))),
        }
        times: dict[str, list[float]] = {}
        for name, fn in prefixes.items():
            times[name] = []
            for _ in range(PROBE_REPS):
                with ctx.tracer.span(f"probe.{name}", trace="probe") as s:
                    fn()
                times[name].append(ctx.tracer.spans[s.id]["end"] - ctx.tracer.spans[s.id]["start"])
        med = {k: median(v) for k, v in times.items()}
        ch = {"sink_clickhouse.requests": stub.requests - stub.ddl_requests,
              "sink_clickhouse.failed_requests": stub.failed_requests}
    decoded = len(man["valid"])
    return {
        "capnp.self_s": med["decode"] - med["source"],
        "anonymize.self_s": med["anonymize"] - med["decode"],
        "sink_parquet.self_s": med["sink_parquet"] - med["anonymize"],
        "sink_clickhouse.self_s": med["sink_clickhouse"] - med["anonymize"],
        **ch,
        **_parquet_output(os.path.join(ctx.work, "probe_pq_0"), decoded),
        **_codec_layers(_payloads(files), man["valid"]),
        **{f"gen.share_{k}": v for k, v in gen.shares(man["counts"], man["rows"]).items()},
        "probe.rows": man["rows"],
    }


def _parquet_output(path: str, rows_in: int) -> dict:
    files = glob.glob(f"{path}/**/*.parquet", recursive=True)
    return {"sink_parquet.files_written": len(files),
            "sink_parquet.bytes_written": sum(os.path.getsize(f) for f in files),
            "sink_parquet.dedup_dropped_rows": rows_in - pq.read_table(path).num_rows}


# -- ingest_drain --------------------------------------------------------------


def _batch_end(p) -> float:
    return _iso_epoch(p.timestamp) + p.durationMs.get("triggerExecution", 0) / 1000.0


def _drain_round(ctx, spark, backlog: str, k) -> tuple[float, list, str]:
    """One drain of the backlog in a fresh query. Returns wall time,
    progress and output dir."""
    out, ckpt = os.path.join(ctx.work, f"drain_out_{k}"), os.path.join(ctx.work, f"drain_ckpt_{k}")
    ctx.query_tag = f"drain{k}"
    writer = _timed_writer(ParquetSink(out, dedup=True).write, ctx, "sink_parquet")
    t = time.perf_counter()
    q = _run_query(ctx, _source(spark, backlog, DRAIN_FILES_PER_TRIGGER), writer, ckpt,
                   {"availableNow": True})
    q.awaitTermination()
    wall = time.perf_counter() - t
    if q.exception() is not None:
        raise RuntimeError(f"drain round {k} failed: {q.exception()}")
    return wall, q.recentProgress, out


def run_drain(ctx) -> dict:
    backlog, cold_dir = os.path.join(ctx.work, "backlog"), os.path.join(ctx.work, "cold")
    man = gen.write_payload_files(backlog, ctx.seed, DRAIN_FILES, DRAIN_FILE_ROWS, "/d")
    gen.write_payload_files(cold_dir, ctx.seed, DRAIN_FILES_PER_TRIGGER, DRAIN_FILE_ROWS, "/c",
                            first_seq=DRAIN_FILES)
    expected = gen.expected_sink_rows(man["valid"])
    spark = ctx.start_session()
    # set-up ends with the cold first micro-batch, drained from its own files
    cold_s, cold_progress, _ = _drain_round(ctx, spark, cold_dir, "cold")
    setup_s = ctx.since_session()
    for k in range(DRAIN_WARMUP_ROUNDS):
        _drain_round(ctx, spark, backlog, f"warm{k}")
    rounds = []
    t_end = time.perf_counter() + ctx.seconds
    with ctx.measuring(spark):
        while not rounds or time.perf_counter() < t_end:
            rounds.append(_drain_round(ctx, spark, backlog, len(rounds) + 1))
    failed = 0
    for _, progress, out in rounds:
        received, decoded = _progress_counts(progress)
        failed += _mismatch(_read_sink(out), expected)
        failed += abs(received - decoded - man["counts"]["malformed"])
    walls = [r[0] for r in rounds]
    batch_s = [p.durationMs.get("triggerExecution", 0) / 1000.0 for r in rounds for p in r[1]]
    res = {
        "e2e": {"round_s": median(walls), "setup_s": setup_s},
        "attempted": man["rows"] * len(rounds),
        "failed": failed,
        "info": {"ingest_rows_per_s": man["rows"] * len(rounds) / sum(walls),
                 "rounds": len(rounds), "round_s": walls, "rows_per_round": man["rows"],
                 "rows_per_batch": DRAIN_FILE_ROWS * DRAIN_FILES_PER_TRIGGER,
                 "batch_s.p50": median(batch_s), "batch_samples": len(batch_s),
                 "cold_round_s": cold_s,
                 "input_shares": gen.shares(man["counts"], man["rows"])},
    }
    if ctx.trace:
        progress = [p for r in rounds for p in r[1]]
        _, decoded = _progress_counts(rounds[-1][1])
        layers = {
            "session.start_s": ctx.session_s,
            "stream.first_batch_s": cold_progress[0].durationMs["triggerExecution"] / 1000.0,
            **_stream_layers(ctx, progress),
            **{f"stream.{k}": v for k, v in _parquet_output(rounds[-1][2], decoded).items()},
            **layer_probe(ctx, spark),
            **ctx.exec_layers(spark),
        }
        rate1 = ctx.single_thread_baseline()
        layers["ingest.round_s_local1"] = rate1
        layers["ingest.parallel_efficiency"] = rate1 / (ctx.cores * res["e2e"]["round_s"])
        res["layers"] = layers
    return res


# -- ingest_paced --------------------------------------------------------------


def _data_batches(query) -> list:
    """Completed micro-batches that carried input (idle triggers also
    report progress)."""
    return [p for p in query.recentProgress if p.numInputRows > 0]


def _wait_input(query, n_payloads: int, timeout_s: float) -> None:
    """Waits until completed batches have consumed ``n_payloads`` input
    rows; raises if the query died or the time ran out."""
    deadline = time.time() + timeout_s
    while sum(p.numInputRows for p in _data_batches(query)) < n_payloads:
        if query.exception() is not None:
            raise RuntimeError(f"paced query failed: {query.exception()}")
        if time.time() > deadline:
            raise RuntimeError(f"paced query did not consume {n_payloads} payloads in time")
        time.sleep(0.05)


def run_paced(ctx) -> dict:
    staging, watched = os.path.join(ctx.work, "staging"), os.path.join(ctx.work, "watched")
    os.makedirs(watched)
    n_warm = math.ceil(PACED_WARMUP_S / PACED_PERIOD_S)
    n_timed = max(1, math.ceil(ctx.seconds / PACED_PERIOD_S))
    first_timed = PACED_COLD_FILES + n_warm
    cold = gen.write_payload_files(staging, ctx.seed, PACED_COLD_FILES, PACED_ROWS, "/p")
    warm = gen.write_payload_files(staging, ctx.seed, n_warm, PACED_ROWS, "/p",
                                   first_seq=PACED_COLD_FILES)
    man = gen.write_payload_files(staging, ctx.seed, n_timed, PACED_ROWS, "/p",
                                  first_seq=first_timed)
    valid = cold["valid"] + warm["valid"] + man["valid"]
    expected = [(r[0] // 1000,) + r[1:_ADDR] + (gen.anonymize_ip_py(r[_ADDR]),) + r[_ADDR + 1:]
                for r in valid]
    n_payloads = cold["rows"] + warm["rows"] + man["rows"]
    n_malformed = sum(m["counts"]["malformed"] for m in (cold, warm, man))
    write_s: list[tuple[float, float]] = []  # (start epoch, duration) per sink call
    with ClickHouseStub() as stub:
        spark = ctx.start_session()
        sink = ClickHouseSink(ClickHouseConfig(url=stub.url, rate_limit_s=CH_RATE_LIMIT_S))
        ctx.query_tag = "paced"

        def writer(batch_df, batch_id):
            t, w = time.perf_counter(), time.time()
            sink.write(batch_df, batch_id)
            write_s.append((w, time.perf_counter() - t))

        q = _run_query(ctx, _source(spark, watched), _timed_writer(writer, ctx, "sink_clickhouse"),
                       os.path.join(ctx.work, "paced_ckpt"), {"processingTime": PACED_TRIGGER})
        lag_path = os.path.join(ctx.work, "lags.json")
        pub = None
        try:
            for path in cold["paths"]:
                os.replace(path, os.path.join(watched, os.path.basename(path)))
            _wait_input(q, cold["rows"], 120)
            setup_s = ctx.since_session()
            first_batch_s = _data_batches(q)[0].durationMs["triggerExecution"] / 1000.0
            # the schedule: n_warm untimed files, then the timed ones
            t0 = time.time() + 0.2
            t_timed = t0 + n_warm * PACED_PERIOD_S
            pub = subprocess.Popen([
                sys.executable, os.path.join(os.path.dirname(__file__), "publisher.py"),
                "--src", staging, "--dst", watched, "--t0", repr(t0),
                "--period", repr(PACED_PERIOD_S), "--first", str(PACED_COLD_FILES),
                "--count", str(n_warm + n_timed), "--out", lag_path])
            time.sleep(max(0.0, t_timed - time.time()))
            with ctx.measuring(spark):
                pub.wait(timeout=ctx.seconds + 60)
                _wait_input(q, n_payloads, 60)
            if pub.returncode != 0:
                raise RuntimeError(f"publisher exited with {pub.returncode}")
            batches = [p for p in _data_batches(q) if _iso_epoch(p.timestamp) >= t_timed]
            received, decoded = _progress_counts(_data_batches(q))
            timed_write_s = [d for w, d in write_s if w >= t_timed]
        finally:
            if pub is not None and pub.poll() is None:
                pub.kill()
                pub.wait()
            q.stop()
        with open(lag_path) as f:
            lags = json.load(f)
        with stub._lock:
            got, recv = list(stub.rows), list(stub.received_at)
            failed_requests = stub.failed_requests
    # one sample per file: its row's receipt minus the file's due time
    url = FIELDS.index("url")
    lat = {}
    for row, t in zip(got, recv):
        seq = int(row[url].split("/")[2][1:])
        if seq >= first_timed:
            lat[seq] = max(lat.get(seq, 0.0), t - (t_timed + (seq - first_timed) * PACED_PERIOD_S))
    samples = list(lat.values())
    tail = tail_percentile(len(samples))
    e2e = {"ingest_latency_s.p50": percentile(samples, 50), "setup_s": setup_s}
    if tail is not None and tail > 50:
        e2e[f"ingest_latency_s.p{tail:g}"] = percentile(samples, tail)
    failed = _mismatch(got, expected) + abs(received - decoded - n_malformed) + failed_requests
    res = {
        "e2e": e2e,
        "attempted": n_payloads,
        "failed": failed,
        "info": {"latency_samples": len(samples), "tail_percentile": tail,
                 "offered_rows_per_s": PACED_ROWS / PACED_PERIOD_S, "timed_files": n_timed,
                 "warmup_files": n_warm, "rows_per_file": PACED_ROWS,
                 "trigger": PACED_TRIGGER, "gen_lag_s_max": max(lags),
                 "input_shares": gen.shares(man["counts"], man["rows"])},
    }
    if ctx.trace:
        layers = {
            "session.start_s": ctx.session_s,
            "stream.first_batch_s": first_batch_s,
            **_stream_layers(ctx, batches),
            "sink_clickhouse.write_s.p50": percentile(timed_write_s, 50),
            "gen.lag_s.max": max(lags),
            "gen.lag_s.p50": percentile(lags, 50),
            **layer_probe(ctx, spark),
            **ctx.exec_layers(spark),
        }
        tail_w = tail_percentile(len(timed_write_s))
        if tail_w is not None and tail_w > 50:
            layers[f"sink_clickhouse.write_s.p{tail_w:g}"] = percentile(timed_write_s, tail_w)
        res["layers"] = layers
    return res
