"""Open-loop publisher for the ``ingest_paced`` workload, run as its own
process so its schedule does not slow when the pipeline slows.

File ``f<seq>.parquet`` (seq = first .. first+count-1) is due at
``t0 + (seq - first) * period`` (epoch seconds). At its due time it is
moved atomically from the staging directory into the watched directory.
The lag of each publish (actual minus due) is written to ``--out`` as a
JSON list when the schedule ends.

    python3 perfbench/publisher.py --src STAGING --dst WATCHED --t0 EPOCH \
        --period 0.1 --first 2 --count 200 --out lags.json
"""

from __future__ import annotations

import argparse
import json
import os
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", required=True)
    ap.add_argument("--dst", required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--period", type=float, required=True)
    ap.add_argument("--first", type=int, required=True)
    ap.add_argument("--count", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    lags = []
    for i in range(a.count):
        due = a.t0 + i * a.period
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        name = f"f{a.first + i:06d}.parquet"
        os.replace(os.path.join(a.src, name), os.path.join(a.dst, name))
        lags.append(time.time() - due)
    with open(a.out, "w") as f:
        json.dump(lags, f)


if __name__ == "__main__":
    main()
