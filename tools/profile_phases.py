"""Split per-query bench time into build / plan / execute phases.

Usage: python tools/profile_phases.py [sf_dir] [query ...]

For each benched query: t_build = Python DataFrame construction,
t_plan = analysis+optimization+physical planning (executedPlan), and
t_exec = noop write given the already-planned DataFrame (the noop write
re-plans from scratch in a fresh DataFrame to mirror bench.py, so
t_noop ~= t_build + t_plan + t_exec_actual). Prints one line per query.
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import EXT_SET
from http_log_anonymizer_spark.plans import REGISTRY
from http_log_anonymizer_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    names = sys.argv[2:]
    if not names:
        names = [n for n, q in REGISTRY.items() if q.bench] + list(EXT_SET)
    import os

    os.environ.setdefault("SPARK_GRAFT_SF_DIR", sf_dir)
    spark = get_spark(app_name="hla-phase-profile")
    spark.sparkContext.setLogLevel("ERROR")
    # Warmup like bench.py
    REGISTRY[names[0]].spark_fn(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    print(f"{'query':35s} {'build':>7s} {'plan':>7s} {'exec':>7s} {'total':>7s}")
    totals = [0.0, 0.0, 0.0]
    for name in names:
        q = REGISTRY[name]
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            df = q.spark_fn(spark, sf_dir)
            t1 = time.perf_counter()
            df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t3 = time.perf_counter()
            row = (t1 - t0, t2 - t1, t3 - t2, t3 - t0)
            if best is None or row[3] < best[3]:
                best = row
        print(
            f"{name:35s} {best[0]:7.3f} {best[1]:7.3f} {best[2]:7.3f} {best[3]:7.3f}"
        )
        for i in range(3):
            totals[i] += best[i]
    print(
        f"{'TOTAL':35s} {totals[0]:7.3f} {totals[1]:7.3f} {totals[2]:7.3f}"
        f" {sum(totals):7.3f}"
    )
    spark.stop()


if __name__ == "__main__":
    main()
