"""Alternated parent/change pairs of the repository benchmark.

    python tools/ab_pairs.py --parent ../parent --change . \\
        --workload ingest_drain --seeds 1 3 --pairs 10 --out ab_runs.jsonl

Runs ``perfbench/run.py --trace 0`` in two checkouts, ``--pairs`` pairs per
workload and seed, alternating which side runs first, and appends every
run to ``--out`` as it finishes. ``--summarize`` reads ``--out`` and runs
nothing. For each workload and end-to-end metric of ``BENCHMARK.json`` it
prints each side's median and quartiles, the change's wins (ties count for
neither side) and a verdict:

- ``gain``: over at least 10 pairs, the change wins at least 9 in 10
  and its median is better than the parent's by more than the parent's
  interquartile range;
- ``worse``: the change's median is worse by more than the metric's bound
  (a fraction of the parent's median);
- ``unresolved``: the parent's IQR is wider than the bound and the change
  did not beat every parent run;
- ``flat``: none of these.

The last stdout line is the whole summary as one JSON object, including
each side's failed share of attempted operations.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def run_once(checkout: Path, workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    try:
        last = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        sys.stderr.write(proc.stderr[-2000:])
        return {"ok": False, "returncode": proc.returncode}
    return {"ok": proc.returncode == 0, "correct": last["correct"],
            "attempted": last["attempted"], "failed": last["failed"],
            "metrics": {k: m["value"] for k, m in last["metrics"].items()}}


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def verdict(parent: list[float], change: list[float], lower_better: bool, bound: float) -> dict:
    sign = 1 if lower_better else -1
    wins = sum(sign * (p - c) > 0 for p, c in zip(parent, change))
    pq, cq = quartiles(parent), quartiles(change)
    iqr = pq[2] - pq[0]
    gain = sign * (pq[1] - cq[1])  # > 0: change's median is better
    if len(parent) >= 10 and wins >= 0.9 * len(parent) and gain > iqr:
        word = "gain"
    elif -gain > bound * pq[1]:
        word = "worse"
    elif iqr > bound * pq[1] and not all(sign * (p - c) > 0 for p in parent for c in change):
        word = "unresolved"
    else:
        word = "flat"
    return {"pairs": len(parent), "wins": wins, "parent_q1_median_q3": pq,
            "change_q1_median_q3": cq, "parent_iqr": iqr,
            "median_delta_rel": (cq[1] - pq[1]) / pq[1], "verdict": word}


def summarize(runs: list[dict], spec: dict) -> dict:
    out = {}
    for wl in sorted({r["workload"] for r in runs}):
        pairs: dict[tuple, dict] = {}
        for r in runs:
            if r["workload"] == wl:
                pairs.setdefault((r["seed"], r["pair"]), {})[r["side"]] = r
        done = [p for p in pairs.values()
                if all(p.get(s, {}).get("ok") for s in ("parent", "change"))]
        row = {"seeds": sorted({r["seed"] for r in runs if r["workload"] == wl}),
               "incomplete_pairs": len(pairs) - len(done)}
        for side in ("parent", "change"):
            att = sum(p[side]["attempted"] for p in done)
            row[f"{side}_failed_share"] = sum(p[side]["failed"] for p in done) / max(1, att)
            row[f"{side}_all_correct"] = all(p[side]["correct"] for p in done)
        for m in spec["end_to_end"]:
            vals = [(p["parent"]["metrics"].get(m["name"]), p["change"]["metrics"].get(m["name"]))
                    for p in done]
            vals = [v for v in vals if None not in v]
            if vals:
                row[m["name"]] = verdict([v[0] for v in vals], [v[1] for v in vals],
                                         m["better"] == "lower", m["bound"])
        out[wl] = row
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", type=Path, required=True)
    ap.add_argument("--change", type=Path, required=True)
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", default=[1])
    ap.add_argument("--pairs", type=int, default=10, help="pairs per workload and seed")
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--out", type=Path, required=True, help="JSONL file of runs (appended)")
    ap.add_argument("--summarize", action="store_true", help="only summarize --out")
    args = ap.parse_args()
    sides = {"parent": args.parent.resolve(), "change": args.change.resolve()}
    if not args.summarize:
        order = 0
        for wl in args.workload:
            for seed in args.seeds:
                for pair in range(args.pairs):
                    first = ("parent", "change") if order % 2 == 0 else ("change", "parent")
                    order += 1
                    for side in first:
                        rec = {"workload": wl, "seed": seed, "pair": pair, "side": side,
                               "first": first[0],
                               **run_once(sides[side], wl, seed, args.seconds)}
                        with open(args.out, "a") as f:
                            f.write(json.dumps(rec) + "\n")
                        print(json.dumps(rec), file=sys.stderr, flush=True)
    with open(args.out) as f:
        runs = [json.loads(ln) for ln in f if ln.strip()]
    runs = [r for r in runs if r["workload"] in args.workload and r["seed"] in args.seeds]
    with open(sides["change"] / "BENCHMARK.json") as f:
        spec = json.load(f)
    summary = summarize(runs, spec)
    for wl, row in summary.items():
        for m in spec["end_to_end"]:
            if m["name"] in row:
                v = row[m["name"]]
                p, c = v["parent_q1_median_q3"], v["change_q1_median_q3"]
                print(f"{wl} {m['name']}: parent {p[1]:.3f} [{p[0]:.3f}, {p[2]:.3f}]  "
                      f"change {c[1]:.3f} [{c[0]:.3f}, {c[2]:.3f}]  "
                      f"({v['median_delta_rel']:+.1%}) wins {v['wins']}/{v['pairs']}  "
                      f"{v['verdict']}")
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
