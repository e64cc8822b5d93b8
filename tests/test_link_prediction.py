"""Resource-allocation link prediction: predicted pairs must be
non-adjacent, scores must match a brute-force RA computation on the
small graph, and the top-k must be plan-shaped as
TakeOrderedAndProject (no global sort of the candidate set)."""

from __future__ import annotations

from collections import defaultdict

import pytest

from http_log_anonymizer_spark.plans import REGISTRY
from http_log_anonymizer_spark.plans.analytics import (
    _COPURCHASE_MINSUP as _LP_MINSUP,
    _LP_MAXDEG,
    _LP_SCALE,
)
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def graph(spark):
    from http_log_anonymizer_spark.sources.batch import load_table

    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).collect()
    by_order = defaultdict(list)  # lineitem granularity, NOT a part set:
    for r in li:  # the contract counts co-occurring lineitem pairs, so a
        by_order[r.l_orderkey].append(r.l_partkey)  # repeated part counts
    support = defaultdict(int)
    for parts in by_order.values():
        for i, a in enumerate(parts):
            for b in parts[i + 1 :]:
                if a != b:
                    support[(min(a, b), max(a, b))] += 1
    edges = {e for e, s in support.items() if s >= _LP_MINSUP}
    nbrs = defaultdict(set)
    for u, v in edges:
        nbrs[u].add(v)
        nbrs[v].add(u)
    return edges, nbrs


@pytest.fixture(scope="module")
def predicted(spark):
    return REGISTRY["link_prediction_ra"].spark_fn(spark, SF_SMOKE).collect()


def test_predicted_pairs_are_non_adjacent(predicted, graph):
    edges, _ = graph
    assert predicted, "no predictions at sf0.001"
    for r in predicted:
        assert (r.u, r.v) not in edges, f"({r.u},{r.v}) is an existing edge"
        assert r.u < r.v


def test_scores_match_bruteforce_ra(predicted, graph):
    edges, nbrs = graph
    for r in predicted:
        common = [
            z
            for z in nbrs[r.u] & nbrs[r.v]
            if len(nbrs[z]) <= _LP_MAXDEG
        ]
        want = sum(_LP_SCALE // len(nbrs[z]) for z in common)
        assert r.score_ppb == want, (r.u, r.v, r.score_ppb, want)
        assert r.n_common == len(common)


def test_topk_is_take_ordered(spark):
    plan = REGISTRY["link_prediction_ra"].spark_fn(
        spark, SF_SMOKE
    )._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
