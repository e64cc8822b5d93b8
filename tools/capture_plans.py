"""Dump .explain("formatted") for the benched queries into plans/r10/.

Usage: python tools/capture_plans.py <suffix> [query ...]

Writes plans/r10/<query>_<suffix>.txt for each named query (default: the
bench headline + ext set). Capture does not run a query's final job,
but it does run every ``pin()`` the query makes: a pin writes its
scratch parquet while the DataFrame is built, so capturing a pinned
query runs Spark jobs over the sf dir.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import EXT_SET
from http_log_anonymizer_spark.plans import REGISTRY
from http_log_anonymizer_spark.session import get_spark


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = sys.argv[2:]
    if not names:
        names = [n for n, q in REGISTRY.items() if q.bench] + list(EXT_SET)
    sf_dir = "/root/testdata/sf0.1"
    out_dir = Path(__file__).resolve().parent.parent / "plans" / "r10"
    out_dir.mkdir(parents=True, exist_ok=True)
    spark = get_spark(app_name="hla-plan-capture", master="local[2]")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        q = REGISTRY[name]
        try:
            df = q.spark_fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001
            plan = f"PLAN CAPTURE FAILED: {type(exc).__name__}: {exc}"
        (out_dir / f"{name}_{suffix}.txt").write_text(plan)
        print(f"{name}: {len(plan)} chars")
    spark.stop()


if __name__ == "__main__":
    main()
