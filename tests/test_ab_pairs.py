"""Verdict rule of tools/ab_pairs.py (no Spark, no benchmark runs)."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

from ab_pairs import summarize, verdict  # noqa: E402

PARENT = [3.5, 3.7, 3.8, 3.9, 4.0, 4.1, 4.2, 3.6, 3.95, 4.4]


def test_gain_needs_nine_of_ten_wins_and_a_median_gap_beyond_the_parent_iqr():
    change = [p - 1.0 for p in PARENT]
    assert verdict(PARENT, change, True, 0.25)["verdict"] == "gain"
    # nine wins still pass; eight do not
    assert verdict(PARENT, change[:9] + [PARENT[9] + 1], True, 0.25)["verdict"] == "gain"
    eight = change[:8] + [PARENT[8] + 1, PARENT[9] + 1]
    assert verdict(PARENT, eight, True, 0.25)["verdict"] != "gain"
    # fewer than ten pairs never make a gain
    assert verdict(PARENT[:4], change[:4], True, 0.25)["verdict"] == "flat"
    # every pair won by a margin inside the parent's IQR is no gain
    assert verdict(PARENT, [p - 0.01 for p in PARENT], True, 0.25)["verdict"] == "flat"


def test_worse_is_a_median_beyond_the_bound_in_the_metric_direction():
    assert verdict(PARENT, [p * 1.3 for p in PARENT], True, 0.25)["verdict"] == "worse"
    assert verdict(PARENT, [p * 1.3 for p in PARENT], False, 0.25)["verdict"] == "gain"
    assert verdict(PARENT, [p * 1.1 for p in PARENT], True, 0.25)["verdict"] == "flat"


def test_a_parent_spread_wider_than_the_bound_is_unresolved():
    wide = [1.0, 2.0, 3.0, 4.0]
    assert verdict(wide, [1.1, 1.9, 3.2, 3.9], True, 0.25)["verdict"] == "unresolved"


def test_summarize_pairs_runs_and_counts_failures():
    runs = []
    for pair, (p, c) in enumerate(zip(PARENT, [x - 1 for x in PARENT])):
        for side, v in (("parent", p), ("change", c)):
            runs.append({"workload": "w", "seed": 1, "pair": pair, "side": side, "ok": True,
                         "correct": True, "attempted": 10, "failed": int(side == "change"),
                         "metrics": {"round_s": v}})
    runs.append({"workload": "w", "seed": 1, "pair": 99, "side": "parent", "ok": False})
    spec = {"end_to_end": [{"name": "round_s", "better": "lower", "bound": 0.25}]}
    row = summarize(runs, spec)["w"]
    assert row["incomplete_pairs"] == 1
    assert row["round_s"]["pairs"] == 10 and row["round_s"]["verdict"] == "gain"
    assert row["parent_failed_share"] == 0 and row["change_failed_share"] == 0.1
