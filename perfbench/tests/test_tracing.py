"""Percentile rule, span self time and the event-log parser."""

from pathlib import Path

import pytest

from tracing import parse_event_log, percentile, tail_percentile, union_length

LOG = Path(__file__).parent / "data" / "eventlog_small.jsonl"


@pytest.mark.parametrize("n,p", [(9, None), (19, None), (20, 50.0), (99, 50.0), (100, 90.0),
                                 (999, 90.0), (1000, 99.0), (9999, 99.0), (10000, 99.9)])
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    assert tail_percentile(n) == p


def test_percentile_interpolates_like_numpy():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert percentile(xs, 50) == 2.5
    assert percentile(xs, 0) == 1.0 and percentile(xs, 100) == 4.0
    assert percentile(list(range(101)), 99) == pytest.approx(99.0)


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([]) == 0


def test_event_log_whole_app():
    m = parse_event_log(LOG.read_text().splitlines(), cores=2)
    assert (m["exec.jobs"], m["exec.stages"], m["exec.tasks"]) == (2, 2, 3)
    assert m["exec.shuffle_write_bytes"] == 266 and m["exec.shuffle_read_bytes"] == 266
    assert m["exec.spill_bytes"] == 0
    assert m["exec.gc_s"] == pytest.approx(0.056)
    assert m["exec.executor_run_s"] == pytest.approx(0.813)
    # window 540.145 .. 541.407; jobs cover 0.850 + 0.262 s of it
    assert m["exec.driver_gap_s"] == pytest.approx(0.150, abs=1e-6)
    assert m["exec.busy_ratio"] == pytest.approx(0.813 / (1.262 * 2))


def test_event_log_window_keeps_jobs_started_inside():
    m = parse_event_log(LOG.read_text().splitlines(), window=(1792207541.0, 1792207542.0))
    assert (m["exec.jobs"], m["exec.stages"], m["exec.tasks"]) == (1, 1, 1)
    assert m["exec.shuffle_read_bytes"] == 266 and m["exec.shuffle_write_bytes"] == 0
    assert m["exec.driver_gap_s"] == pytest.approx(1.0 - 0.262, abs=1e-6)
