"""Query registry: every operator in SURVEY.md §2 (plus the engine-grade
extensions) is registered here as a (Spark DataFrame impl, DuckDB oracle
SQL) pair. ``__spark_entry__.py``, ``bench.py`` and the test suite all
read this registry, so an operator is "done" exactly when it appears here
with a passing oracle.
"""

from http_log_anonymizer_spark.plans.registry import REGISTRY, Query, register

# Import for registration side effects. The driver's correctness gate
# checks the FIRST 50 registry entries in insertion order; _WINDOW below
# controls which 50 those are, so in-module registration order no longer
# matters.
from http_log_anonymizer_spark.plans import http_log  # noqa: E402,F401
from http_log_anonymizer_spark.plans import dedup  # noqa: E402,F401
from http_log_anonymizer_spark.plans import similarity  # noqa: E402,F401
from http_log_anonymizer_spark.plans import text  # noqa: E402,F401
from http_log_anonymizer_spark.plans import multimodal  # noqa: E402,F401
from http_log_anonymizer_spark.plans import sampling  # noqa: E402,F401
from http_log_anonymizer_spark.plans import scalars  # noqa: E402,F401
from http_log_anonymizer_spark.plans import analytics  # noqa: E402,F401
from http_log_anonymizer_spark.plans import curation  # noqa: E402,F401
from http_log_anonymizer_spark.plans import linkage  # noqa: E402,F401

# Round-10 window (VERDICT r09 item 1 — exactly the prescribed
# allocation, under the amended rotation rule "a plan-diff since the
# last driver row outranks a staleness refresh", ROADMAP):
#   1. ann_ivf_sqrt_opq_pq_recall_report — the one registry query
#      never driver-checked (added after the r09 window filled).
#   2-5. the four queries whose plans changed in r09 AFTER their last
#      driver row (sequential_patterns + event_path_trigrams:
#      microsecond sessionization fix; conformal_threshold_report:
#      empty-eval LEFT-join fix; linkage_blocking_recall_report: sf100
#      merge hints) — their r08 rows predate the code that ships.
#   6. storage_estimate_report — plan-diffed THIS round
#      (_STORAGE_FIXED_BYTES 36 -> 34, ADVICE r09) so its green r09
#      row predates the shipped constant; same rule.
#   7. capacity_observed_report — new this round (the batch twin of
#      the streaming monitor's observed()-rate projection, carrying
#      the ADVICE-r09 decimal-overflow arithmetic under a driver
#      hash-check).
#   8-10. the three queries added later this round, never
#      driver-checked (rule 1 beats every refresh):
#      poisson_bootstrap_report, hyperball_neighborhood_report,
#      harmonic_centrality_topk.
#   11-17. the seven queries whose PHYSICAL join strategy changed in
#      this round's stats-less-broadcast sweep (rule 2 — their green
#      rows predate the shipped plans): dedup_minhash_lsh,
#      dedup_incremental_batch, split_leakage_report,
#      dedup_lsh_recall_report, minhash_estimator_error_report,
#      hard_negative_mining, revenue_concentration_report.
#      (data_quality_report, the eighth sweep query, was already in
#      the window below.)
#   18-30. the thirteen operators added in the round-10 continuation
#      session (pareto frontier, RA link prediction, golden record,
#      changepoint + depth-2 segments, modularity, association rules,
#      retrieval eval, attribution, assortativity, cohort LTV,
#      Theil-Sen, k-truss) — never driver-checked, rule 1.
#   31-50. 20 of the 43 r05-stale queries — the 23 displaced by rules
#      1-2 (simple TPC-H/http shapes, untouched since r05) stay
#      locally gated and lead the r11 staleness cohort.
# Everything outside the window stays locally gated by
# tests/test_registry_oracle.py (same comparator).
_WINDOW = [
    "ann_ivf_sqrt_opq_pq_recall_report",  # never driver-checked (r09 #1a)
    "sequential_patterns",  # changed r09 post-driver-row (r09 #1b)
    "event_path_trigrams",  # changed r09 post-driver-row (r09 #1b)
    "conformal_threshold_report",  # changed r09 post-driver-row (r09 #1b)
    "linkage_blocking_recall_report",  # changed r09 post-driver-row (r09 #1b)
    "storage_estimate_report",  # plan-diffed this round (ADVICE r09)
    "capacity_observed_report",  # new this round
    # --- never driver-checked, added later this round (rule 1) ---
    "poisson_bootstrap_report",
    "hyperball_neighborhood_report",
    "harmonic_centrality_topk",
    # --- never driver-checked, added in the round-10 continuation
    #     session (rule 1): eight new operators, each oracle-green at
    #     both gate SFs on registration ---
    "pareto_frontier_parts",
    "link_prediction_ra",
    "golden_record_report",
    "changepoint_revenue",
    "community_modularity_report",
    "association_rules_report",
    "retrieval_eval_report",
    "attribution_report",
    "graph_assortativity_report",
    "cohort_ltv_report",
    "changepoint_segments",
    "theilsen_trend_report",
    "ktruss_peeling_report",
    # --- plan-diffed by this round's broadcast sweep (rule 2) ---
    "dedup_minhash_lsh",
    "dedup_incremental_batch",
    "split_leakage_report",
    "dedup_lsh_recall_report",
    "minhash_estimator_error_report",
    "hard_negative_mining",
    "revenue_concentration_report",
    # --- 20 of the 43 r05-stale queries (rule 3) ---
    "data_quality_report",
    "dedup_clusters",
    "dedup_exact",
    "dedup_prefix_filter_join",
    "dedup_winnow_join",
    "doc_fingerprints",
    "doc_winnowing",
    "dup_span_report",
    "embedding_pca_power",
    "http_anonymize_rows",
    "http_dedup_final",
    "http_monthly",
    "http_top_ips",
    "http_totals_cube",
    "json_encode_rows",
    "multimodal_decode_meta",
    "shipping_priority",
    "top_orders_per_customer",
    "top_terms_per_lang",
    "wordpiece_learn_merges",
]


def _apply_window() -> None:
    assert len(_WINDOW) == 50, len(_WINDOW)
    missing = [n for n in _WINDOW if n not in REGISTRY]
    assert not missing, f"window names not registered: {missing}"
    tail = [n for n in REGISTRY if n not in _WINDOW]
    snapshot = dict(REGISTRY)
    REGISTRY.clear()
    REGISTRY.update({n: snapshot[n] for n in [*_WINDOW, *tail]})


_apply_window()

__all__ = ["REGISTRY", "Query", "register"]
