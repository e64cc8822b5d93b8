"""``registry_sf0.01``: the analyst side. One closed-loop client runs every
``bench=True`` registry query, in registry order, over generated sf0.01
tables with noop writes, in as many whole warm passes as fit in the run's
seconds, judged by the previous pass (at least one pass).

Set-up is the session start plus a cold pass that collects every result;
those results are checked against each query's DuckDB oracle with the
repository's own comparator (``tests/oracle.py::compare``). A query
without oracle SQL must return rows, and the same rows again after the
timed passes.

Per query and pass, spans split the time into build (DataFrame
construction in Python), plan (Catalyst analysis, optimisation and
physical planning) and exec (the noop write).
"""

from __future__ import annotations

import hashlib
import os
import sys
import time
import types
from pathlib import Path

from http_log_anonymizer_spark.plans import REGISTRY
from http_log_anonymizer_spark.session import shuffle_partitions_for_sf

import gen
import ingest
from tracing import median, percentile, tail_percentile

SF = 0.01


def _oracle_compare():
    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tests"))
    from oracle import compare, rows_key

    return compare, rows_key


def _digest(rows_key, pdf) -> str:
    return hashlib.sha256(repr(rows_key(pdf)).encode()).hexdigest()


def run(ctx) -> dict:
    import duckdb

    compare, rows_key = _oracle_compare()
    data = os.path.join(ctx.work, f"sf{SF:g}")
    sizes = gen.write_tables(data, ctx.seed, SF)
    queries = {n: q for n, q in REGISTRY.items() if q.bench}
    spark = ctx.start_session(shuffle_partitions=shuffle_partitions_for_sf(SF))

    cold: dict[str, object] = {}
    errors: dict[str, str] = {}
    for name, q in queries.items():
        try:
            cold[name] = q.spark_fn(spark, data).toPandas()
        except Exception as exc:  # a failing query is a counted failure, not a crash
            errors[name] = f"cold pass: {exc!r}"[:300]
    setup_s = ctx.since_session()
    cold_s = setup_s - ctx.session_s

    samples: dict[str, list[dict]] = {n: [] for n in queries}
    passes = 0
    t0 = time.perf_counter()
    with ctx.measuring(spark):
        while passes == 0 or (time.perf_counter() - t0) * (passes + 1) / passes <= ctx.seconds:
            for name, q in queries.items():
                if name in errors:
                    continue
                try:
                    samples[name].append(_timed_query(ctx, spark, q, data, passes))
                except Exception as exc:
                    errors[name] = f"pass {passes}: {exc!r}"[:300]
            passes += 1

    con = duckdb.connect()
    for table in sizes:
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{data}/{table}.parquet'")
    for name, q in queries.items():
        if name in errors:
            continue
        if q.oracle is not None:
            ok, msg = compare(types.SimpleNamespace(toPandas=lambda n=name: cold[n]),
                              con.execute(q.oracle).df())
        else:
            again = q.spark_fn(spark, data).toPandas()
            ok = len(cold[name]) > 0 and _digest(rows_key, cold[name]) == _digest(rows_key, again)
            msg = "empty or unequal across passes"
        if not ok:
            errors[name] = f"check: {msg}"[:300]
    con.close()

    lat = [s["total_s"] for n in queries if n not in errors for s in samples[n]]
    ok = [n for n in queries if n not in errors]
    pass_s = [sum(samples[n][k]["total_s"] for n in ok) for k in range(passes)]
    tail = tail_percentile(len(lat))
    info = {"queries": list(queries), "passes": passes, "pass_s": pass_s,
            "cold_pass_s": cold_s, "latency_samples": len(lat), "tail_percentile": tail,
            "table_rows": sizes, "errors": errors}
    if lat:
        info["query_latency_s.p50"] = percentile(lat, 50)
        if tail is not None and tail > 50:
            info[f"query_latency_s.p{tail:g}"] = percentile(lat, tail)
        info["queries_per_min"] = 60.0 * len(lat) / max(1e-9, ctx.window[1] - ctx.window[0])
    res = {
        "e2e": {"round_s": median(pass_s), "setup_s": setup_s},
        "attempted": len(queries),
        "failed": len(errors),
        "info": info,
    }
    if ctx.trace:
        layers = {"session.start_s": ctx.session_s, "plans.cold_pass_s": cold_s}
        for name, ss in samples.items():
            for part in ("build_s", "plan_s", "exec_s"):
                if ss:
                    layers[f"q.{name}.{part}"] = median([s[part] for s in ss])
        layers.update(ingest.layer_probe(ctx, spark))
        layers.update(ctx.exec_layers(spark))
        res["layers"] = layers
    return res


def _timed_query(ctx, spark, q, data: str, pass_no: int) -> dict:
    trace = f"{q.name}:{pass_no}"
    with ctx.tracer.span("query", trace=trace) as root:
        t0 = time.perf_counter()
        with ctx.tracer.span("plans.build", parent=root.id, trace=trace):
            df = q.spark_fn(spark, data)
        t1 = time.perf_counter()
        with ctx.tracer.span("plans.plan", parent=root.id, trace=trace):
            df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        with ctx.tracer.span("plans.exec", parent=root.id, trace=trace):
            df.write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
    return {"build_s": t1 - t0, "plan_s": t2 - t1, "exec_s": t3 - t2, "total_s": t3 - t0}
