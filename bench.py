"""Benchmark harness: runs the registry's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is executed to completion via a noop-format write: every
column materializes and every operator (sorts, projections) actually
runs, unlike count(), which lets the optimizer skip column
materialization and sometimes the sort. The noop pass runs TWICE and
records the per-query minimum: the first pass is cold (codegen,
cache builds, Python-worker spawn), the second steady-state, and the
min filters out this host's transient stall windows. The old count()
timings are also recorded (``queries_count``) so round-over-round
deltas against BENCH_r01 (count-based) stay comparable. A warmup run
of the flagship query absorbs JVM/codegen startup so per-query
numbers measure the plan, not the JIT.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from http_log_anonymizer_spark.plans import REGISTRY
from http_log_anonymizer_spark.session import get_spark

# Invariant core-set (VERDICT r06 item 3): round-over-round totals kept
# moving because series MEMBERSHIP changed (new heavy entries each
# round), not because carried-over plans regressed. These 12 queries
# are FROZEN — never add to or remove from this tuple; report their sum
# as ``core_total`` next to the full-set total. All 12 have BENCH_r06
# rows, so the r06 core is recomputable: sf0.1 noop core_total(r06) =
# 14.177 s. Family spread: 2 http, 2 dedup, 4 ANN/embedding, 1 text,
# 2 streaming-window, 1 TPC-H join/agg.
CORE_SET = (
    "http_totals",
    "http_top_ips",
    "dedup_minhash_lsh",
    "dedup_simhash_wide",
    "ann_brute_topk",
    "ann_ivf_sqrt_topk",
    "embed_neardup_gemm",
    "ann_lsh_wide_topk",
    "token_stats",
    "sliding_window_traffic",
    "session_window_agg",
    "nation_volume",
)


# Extended section (VERDICT r08 item 7): cheap representatives of the
# session-3/4 families (graph, linkage, conformal) the frozen core-set
# predates, so driver benches can catch regressions in those code paths.
# Reported SEPARATELY (queries_ext / ext_total) — the frozen core and the
# main headline set stay membership-stable and round-over-round
# comparable. Also the default extension set of tools/profile_phases.py
# and tools/capture_plans.py.
EXT_SET = (
    "textrank_keywords",
    "linkage_blocking_recall_report",
    "conformal_threshold_report",
    # r10 continuation families (skyline / changepoint / basket /
    # attribution) — cheap at both SFs, so the new code paths are
    # regression-visible without touching the frozen core
    "pareto_frontier_parts",
    "changepoint_revenue",
    "association_rules_report",
    "attribution_report",
)


def _core_total(timings: dict[str, float]) -> float:
    return round(sum(timings[n] for n in CORE_SET if n in timings), 3)


def _noop_best_of_2(spark, bench_queries, sf_dir) -> dict[str, float]:
    # Best-of-two per query: this host shows transient multi-second
    # stall windows (co-tenant noise) that can triple a single cold
    # run; the min of two passes measures the plan, not the window.
    timings: dict[str, float] = {}
    for _pass in range(2):
        for name, q in bench_queries.items():
            t0 = time.perf_counter()
            q.spark_fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = round(time.perf_counter() - t0, 3)
            timings[name] = min(timings.get(name, dt), dt)
    return timings


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # Data-proportional shuffle parallelism now lives in session.py
    # (shuffle_partitions_for_sf); exporting the dir lets the shared
    # default see the scale factor.
    os.environ.setdefault("SPARK_GRAFT_SF_DIR", sf_dir)
    spark = get_spark(app_name="hla-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    bench_queries = {n: q for n, q in REGISTRY.items() if q.bench}
    if not bench_queries:
        bench_queries = dict(REGISTRY)

    # Warmup: run the first query once to pay JVM/codegen startup.
    first = next(iter(bench_queries.values()))
    first.spark_fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    timings = _noop_best_of_2(spark, bench_queries, sf_dir)

    ext_queries = {n: REGISTRY[n] for n in EXT_SET if n in REGISTRY}

    # Old count()-based method, kept for comparability with BENCH_r01
    # (runs second — DIRECTLY after the noop passes, nothing in
    # between: any intra-query caches are warm for both passes of a
    # given query family, as they were within r01's single pass.
    # ADVICE r09: the ext section must not run between the two, or its
    # unrelated query families evict/pollute those caches and perturb
    # the comparability series).
    timings_count: dict[str, float] = {}
    for name, q in bench_queries.items():
        t0 = time.perf_counter()
        q.spark_fn(spark, sf_dir).count()
        timings_count[name] = round(time.perf_counter() - t0, 3)

    ext_timings = _noop_best_of_2(spark, ext_queries, sf_dir)

    result = {
        "metric": "registry_bench_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "method": "noop-write-best-of-2",
        "queries": timings,
        "queries_count": timings_count,
        "count_method_total": round(sum(timings_count.values()), 3),
        "core_total": _core_total(timings),
        "queries_ext": ext_timings,
        "ext_total": round(sum(ext_timings.values()), 3),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }

    # sf>=1 series (VERDICT r02 item 7): several plans coalesce to
    # trivial work at sf0.1; this records the same headline queries on a
    # 10x replica-scaled dataset (sources/scale_gen.py — perturbed so
    # dedup/ANN workloads scale instead of finding planted twins).
    # Opt out with SPARK_GRAFT_BENCH_SF1=0. Failures never lose the
    # main series.
    if os.environ.get("SPARK_GRAFT_BENCH_SF1", "1") != "0":
        try:
            from http_log_anonymizer_spark.sources.scale_gen import ensure

            sf1_dir = os.environ.get(
                "SPARK_GRAFT_SF1_DIR",
                str(Path(__file__).resolve().parent / ".benchdata" / "sf1"),
            )
            t0 = time.perf_counter()
            ensure(spark, sf1_dir, src=sf_dir if sf == "0.1" else "/root/testdata/sf0.1")
            result["sf1_gen_sec"] = round(time.perf_counter() - t0, 3)
            # shuffle parallelism is runtime-settable: re-size for sf1
            from http_log_anonymizer_spark.session import shuffle_partitions_for_sf

            spark.conf.set(
                "spark.sql.shuffle.partitions", str(shuffle_partitions_for_sf(1.0))
            )
            # drop the sf0.1 series' cached tables: they can't serve the
            # sf1 plans but their memory residency distorts sf1 numbers
            # (executor memory pressure / GC churn on the big queries)
            spark.catalog.clearCache()
            sf1_timings = _noop_best_of_2(spark, bench_queries, sf1_dir)
            result["queries_sf1"] = sf1_timings
            result["sf1_total"] = round(sum(sf1_timings.values()), 3)
            result["core_total_sf1"] = _core_total(sf1_timings)
            ext1_timings = _noop_best_of_2(spark, ext_queries, sf1_dir)
            result["queries_ext_sf1"] = ext1_timings
            result["ext_total_sf1"] = round(sum(ext1_timings.values()), 3)
            result["sf1"] = 1.0
        except Exception as exc:  # noqa: BLE001 — record, keep main series
            result["sf1_error"] = f"{type(exc).__name__}: {exc}"[:500]

    # sf10 series (VERDICT r03 item 8): the most expensive headline
    # queries on 100x data, ONE cold pass each (scaling measurement, not
    # steady-state; best-of-2 would double a multi-minute section).
    # Only runs when the dataset is already generated (bench never pays
    # the ~100s generation itself — run sources/scale_gen.py once) so
    # the per-round bench stays bounded. Two deliberate substitutions vs
    # the sf0.1/sf1 set: embed_neardup_gemm is excluded (all-pairs
    # cosine is inherently O(n^2 d), ~5 TFLOP at sf10; its scale story
    # is the LSH-pruned path measured here as ann_lsh_topk, and its
    # sf10 cost is recorded once in SCALE.md), and dedup_simhash runs
    # as dedup_simhash_wide (the 32-bit layout's 6-7-bit band keys are
    # candidate-quadratic at 500k docs — measured 186 s; the 60-bit
    # fingerprint is the web-scale design, see plans/dedup.py).
    if os.environ.get("SPARK_GRAFT_BENCH_SF10", "1") != "0":
        try:
            from http_log_anonymizer_spark.session import shuffle_partitions_for_sf

            sf10_dir = os.environ.get(
                "SPARK_GRAFT_SF10_DIR",
                str(Path(__file__).resolve().parent / ".benchdata" / "sf10"),
            )
            if os.path.exists(os.path.join(sf10_dir, "_DONE")):
                spark.conf.set(
                    "spark.sql.shuffle.partitions", str(shuffle_partitions_for_sf(10.0))
                )
                spark.catalog.clearCache()
                names = [
                    "dedup_simhash_wide",
                    "dedup_minhash_lsh",
                    "session_window_agg",
                    "sliding_window_traffic",
                    # ANN slots are the SCALE tiers only (r05 verdict):
                    # the 16-bucket demo tier (ann_lsh_topk) is
                    # candidate-quadratic and measured 123.7 s here —
                    # it no longer represents any path a 100 TB run
                    # would take.
                    "ann_ivf_sqrt_topk",
                    "ann_lsh_wide_topk",
                ]
                sf10_timings: dict[str, float] = {}
                for name in names:
                    if name not in REGISTRY:
                        continue
                    t0 = time.perf_counter()
                    REGISTRY[name].spark_fn(spark, sf10_dir).write.format(
                        "noop"
                    ).mode("overwrite").save()
                    sf10_timings[name] = round(time.perf_counter() - t0, 3)
                result["queries_sf10"] = sf10_timings
                result["sf10_total"] = round(sum(sf10_timings.values()), 3)
                result["sf10"] = 10.0
        except Exception as exc:  # noqa: BLE001 — record, keep main series
            result["sf10_error"] = f"{type(exc).__name__}: {exc}"[:500]

    # sf100 series — OPT-IN ONLY (SPARK_GRAFT_BENCH_SF100=1): a 22 GB
    # series does not belong in a per-round driver loop. One cold pass
    # over the centi-scale tiers; generation is one scale_gen call
    # (mult=1000 from sf0.1, ~25 min). Narrow demo tiers are excluded
    # by design — measured candidate-quadratic at this scale
    # (SCALE.md "sf100 series").
    if os.environ.get("SPARK_GRAFT_BENCH_SF100", "0") == "1":
        try:
            from http_log_anonymizer_spark.session import shuffle_partitions_for_sf

            sf100_dir = os.environ.get(
                "SPARK_GRAFT_SF100_DIR",
                str(Path(__file__).resolve().parent / ".benchdata" / "sf100"),
            )
            if os.path.exists(os.path.join(sf100_dir, "_DONE")):
                spark.conf.set(
                    "spark.sql.shuffle.partitions",
                    str(shuffle_partitions_for_sf(100.0)),
                )
                spark.catalog.clearCache()
                names = [
                    "http_totals",
                    "kn_doc_perplexity",
                    # mkn_trigram_perplexity runs at sf100 but needs
                    # SPARK_DRIVER_MEMORY=16g in this single shared JVM
                    # (G1 humongous parquet pages; SCALE.md) — excluded
                    # from the default-heap opt-in series.
                    "unigram_lm_vocab",
                    "dedup_simhash_wide",
                    "dedup_simhash_xwide",
                    "dedup_minhash_lsh",
                    "sliding_window_traffic",
                    "ann_lsh_wide_topk",
                    "triangle_counts",
                ]
                sf100_timings: dict[str, float] = {}
                for name in names:
                    if name not in REGISTRY:
                        continue
                    t0 = time.perf_counter()
                    REGISTRY[name].spark_fn(spark, sf100_dir).write.format(
                        "noop"
                    ).mode("overwrite").save()
                    sf100_timings[name] = round(time.perf_counter() - t0, 3)
                result["queries_sf100"] = sf100_timings
                result["sf100_total"] = round(sum(sf100_timings.values()), 3)
                result["sf100"] = 100.0
        except Exception as exc:  # noqa: BLE001 — record, keep main series
            result["sf100_error"] = f"{type(exc).__name__}: {exc}"[:500]

    # Output protocol (r05 verdict item 2: the r05 single line outgrew
    # the driver's 2000-char tail buffer, so the round's numbers were
    # recorded unparseable): print the FULL detail record first, then a
    # COMPACT headline line LAST — the driver keeps the tail of stdout
    # and parses the final complete JSON line, so the last line must
    # stay well under the buffer (headline totals + the sf0.1 per-query
    # dict only; per-series dicts live on the detail line).
    detail = dict(result)
    detail["metric"] = "registry_bench_detail"
    print(json.dumps(detail))
    compact_keys = (
        "metric",
        "value",
        "unit",
        "method",
        "sf",
        "queries",
        "count_method_total",
        "core_total",
        "ext_total",
        "ext_total_sf1",
        "core_total_sf1",
        "sf1_total",
        "sf10_total",
        "sf100_total",
        "sf1_error",
        "sf10_error",
    )
    compact = {k: result[k] for k in compact_keys if k in result}
    line = json.dumps(compact)
    if len(line) > 1800:  # never outgrow the tail buffer again
        compact.pop("queries", None)
        line = json.dumps(compact)
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
