"""Print one JSON fingerprint line per registry query.

Usage: python tools/registry_digest.py [--sf SF_DIR [--plan]] [--module MOD] [name ...]

Each line holds the query name, the SHA-256 of its oracle SQL text, its
``scale_gate`` as a dict and, with ``--sf``, the SHA-256 of the Spark
result at SF_DIR: its sorted column names plus ``tests/oracle.py``'s
``rows_key`` (order-insensitive, floats rounded to 6 places). ``--plan``
adds the SHA-256 of the query's optimized logical plan text, with
expression ids (``#123``) and ``graft-<id>/pin-<uuid>`` scratch paths
stripped so two runs compare. Building a plan runs the query's
``pin()`` jobs: a pin writes its parquet while the DataFrame is built,
and the plan above it shows a parquet scan, not the pinned subtree.
Names filter the registry; ``--module`` keeps the queries defined in
one module (e.g. ``plans.similarity``). Diff two runs to show a
refactor kept every text, gate, plan and result.
"""

from __future__ import annotations

import argparse
import dataclasses
import hashlib
import json
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path[:0] = [str(ROOT), str(ROOT / "tests")]

from http_log_anonymizer_spark.plans import REGISTRY  # noqa: E402


_VOLATILE = re.compile(r"#\d+|graft-[0-9a-f]+/pin-[0-9a-f]+")


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


def plan_sha(df) -> str:
    """SHA-256 of ``df``'s optimized logical plan, ids and scratch paths stripped."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return _sha(_VOLATILE.sub("", plan))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", help="sf dir to run each query at (omit: no result digest)")
    ap.add_argument("--plan", action="store_true", help="add the plan digest (needs --sf)")
    ap.add_argument("--module", help="keep queries defined in this module suffix")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    if args.plan and not args.sf:
        ap.error("--plan needs --sf")
    queries = [
        q for n, q in REGISTRY.items()
        if (not args.names or n in args.names)
        and (not args.module or q.spark_fn.__module__.endswith(args.module))
    ]
    spark = None
    if args.sf:
        from oracle import rows_key

        from http_log_anonymizer_spark.session import get_spark

        spark = get_spark(app_name="registry-digest", shuffle_partitions=8)
    for q in queries:
        line = {
            "name": q.name,
            "sql_sha256": _sha(q.oracle) if q.oracle is not None else None,
            "scale_gate": dataclasses.asdict(q.scale_gate) if q.scale_gate else None,
        }
        if spark is not None:
            df = q.spark_fn(spark, args.sf)
            if args.plan:
                line["plan_sha256"] = plan_sha(df)
            pdf = df.toPandas()
            line["result_sha256"] = _sha(repr((sorted(pdf.columns), rows_key(pdf))))
            line["rows"] = len(pdf)
        print(json.dumps(line), flush=True)
    if spark is not None:
        spark.stop()


if __name__ == "__main__":
    main()
