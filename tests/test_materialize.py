"""Source guard for the single materialization primitive: every lineage
cut in the package goes through operators/materialize.py:pin, so a heap
``localCheckpoint`` (lost with its executor) cannot creep back in."""

from __future__ import annotations

from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "http_log_anonymizer_spark"


def test_no_local_checkpoint_in_package():
    hits = [
        f"{path.relative_to(PACKAGE.parent)}:{n}"
        for path in sorted(PACKAGE.rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if "localCheckpoint(" in line
    ]
    assert not hits, f"use operators.materialize.pin instead of localCheckpoint: {hits}"
