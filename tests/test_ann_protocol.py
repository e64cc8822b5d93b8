"""Source guard for the one ANN evaluation protocol: the query sample,
the neighbour rank, the recall@k overlap and the recall-audit gate are
each written once (plans/similarity.py, operators/topk.py), so a new
tier or audit reuses them instead of re-typing a copy that can drift."""

from __future__ import annotations

import ast
import re
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "http_log_anonymizer_spark"
SIMILARITY = PACKAGE / "plans" / "similarity.py"

# decision -> pattern that must match exactly once in plans/similarity.py
_ONCE = {
    "Spark query sample": r'F\.col\("vec_id"\) % 100 == 0',
    "SQL query sample": r"vec_id % 100 = 0",
    "Spark n_hits aggregation": r'F\.count\([^\n]*\)\.alias\("n_hits"\)',
    "SQL n_hits aggregation": r"count\([^)]*\) AS n_hits",
    "SQL neighbour rank window": r"PARTITION BY query_id ORDER BY \S+ DESC, neighbor_id",
    "recall-audit gate advice": r"Recall/ground-truth audits at scale",
}

_RANK_WINDOW = re.compile(r'\.orderBy\(\s*F\.desc\([^)]*\)\s*,\s*"neighbor_id"')

_AUDITS = [
    "ann_brute_topk",
    "ann_lsh_recall_report",
    "ann_ivf_sqrt_recall_report",
    "ann_ivf_sqrt_pq_recall_report",
    "ann_ivf_sqrt_pq_rerank_recall_report",
    "ann_ivf_sqrt_opq_pq_recall_report",
    "ann_matryoshka_recall_report",
    "ann_srht_recall_report",
]


def test_each_protocol_decision_is_written_once():
    src = SIMILARITY.read_text()
    counts = {name: len(re.findall(pat, src)) for name, pat in _ONCE.items()}
    assert counts == dict.fromkeys(_ONCE, 1), counts


def test_neighbour_rank_window_lives_in_topk_only():
    hits = {
        str(path.relative_to(PACKAGE)): len(_RANK_WINDOW.findall(path.read_text()))
        for path in sorted(PACKAGE.rglob("*.py"))
        if _RANK_WINDOW.search(path.read_text())
    }
    assert hits == {"operators/topk.py": 1}, (
        f"rank neighbours with operators.topk.rank_neighbors: {hits}"
    )


def test_audits_take_the_one_ground_truth():
    tree = ast.parse(SIMILARITY.read_text())
    bodies = {
        node.name: ast.unparse(node)
        for node in tree.body
        if isinstance(node, ast.FunctionDef) and node.name in _AUDITS
    }
    assert sorted(bodies) == sorted(_AUDITS)
    stray = [
        name
        for name, body in bodies.items()
        if "_ground_truth(" not in body and "_recall_report(" not in body
        or re.search(r"(?<!\w)brute_topk\(", body)
    ]
    assert not stray, f"build ground truth with _ground_truth: {stray}"
