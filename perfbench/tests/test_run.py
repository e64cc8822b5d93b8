"""Tracing overhead compares only untraced runs of the same code, workload,
seed and seconds."""

import argparse

import run


def _args(seed=1, seconds=10, trace=0, workload="ingest_drain"):
    return argparse.Namespace(workload=workload, seed=seed, seconds=seconds, trace=trace)


def test_overhead_uses_matching_untraced_runs_only(tmp_path, monkeypatch):
    monkeypatch.setattr(run, "OUT", tmp_path)
    assert run._history(_args(), {"round_s": 5.0}) == {}
    run._history(_args(), {"round_s": 7.0})
    run._history(_args(seed=2), {"round_s": 100.0})
    run._history(_args(seconds=20), {"round_s": 100.0})
    run._history(_args(workload="registry_sf0.01"), {"round_s": 100.0})
    out = run._history(_args(trace=1), {"round_s": 6.5})
    assert out == {"round_s": 0.5, "untraced_runs": 2}


def test_overhead_needs_an_untraced_run_of_the_same_code(tmp_path, monkeypatch):
    monkeypatch.setattr(run, "OUT", tmp_path)
    run._history(_args(), {"round_s": 5.0})
    monkeypatch.setattr(run, "source_digest", lambda: "other code")
    assert "note" in run._history(_args(trace=1), {"round_s": 6.0})
