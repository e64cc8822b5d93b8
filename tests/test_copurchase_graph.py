"""Source guard for the one part co-purchase graph: the lineitem
self-join, the support threshold and the degree-ordered triangle
orientation are each written once in plans/analytics.py, and every
graph query builds its edges from the shared builder, so a new graph
query reuses them instead of re-typing a copy that can drift."""

from __future__ import annotations

import ast
import re
from pathlib import Path

ANALYTICS = (
    Path(__file__).resolve().parent.parent
    / "http_log_anonymizer_spark"
    / "plans"
    / "analytics.py"
)

# decision -> pattern that must match exactly once in plans/analytics.py
_ONCE = {
    "Spark lineitem self-join": r'l_orderkey\W+==\s*[\w.("\s]*?\b(?:o2|l_orderkey)\b',
    "SQL lineitem self-join": r"lineitem\s+\w+\s+JOIN\s+lineitem\s+\w+",
    "co-purchase support constant": r"(?m)^_\w*MINSUP\w*\s*=\s*2\b",
    "SQL degree-ordered orientation": r"\(du\.d, e\.u\) < \(dv\.d, e\.v\) THEN e\.u",
    "Spark degree-ordered orientation": r'F\.col\("du"\) < F\.col\("dv"\)',
}

_GRAPH_QUERIES = [
    "pagerank_copurchase",
    "personalized_pagerank",
    "triangle_counts",
    "hyperball_neighborhood_report",
    "harmonic_centrality_topk",
    "label_propagation_communities",
    "kcore_peeling_report",
    "link_prediction_ra",
    "community_modularity_report",
    "graph_assortativity_report",
    "ktruss_peeling_report",
]


def test_each_graph_decision_is_written_once():
    src = ANALYTICS.read_text()
    counts = {name: len(re.findall(pat, src)) for name, pat in _ONCE.items()}
    assert counts == dict.fromkeys(_ONCE, 1), counts


def test_graph_queries_take_the_one_edge_builder():
    tree = ast.parse(ANALYTICS.read_text())
    calls = {
        node.name: {
            c.func.id
            for c in ast.walk(node)
            if isinstance(c, ast.Call) and isinstance(c.func, ast.Name)
        }
        for node in tree.body
        if isinstance(node, ast.FunctionDef)
    }

    def reaches(name: str, seen: set[str]) -> bool:
        if name == "_copurchase_pairs":
            return True
        seen.add(name)
        return any(
            reaches(c, seen) for c in calls.get(name, ()) if c in calls and c not in seen
        )

    missing = [q for q in _GRAPH_QUERIES if not reaches(q, set())]
    assert not missing, f"build edges with _copurchase_edges/_copurchase_und: {missing}"
