"""Physical-plan regression tests: the properties that make these
queries survive a 100x scale-up are asserted here so a refactor can't
silently lose them (predicate pushdown, broadcast joins, top-k without
global sort, JVM-only text path)."""

from __future__ import annotations

from http_log_anonymizer_spark.plans import REGISTRY
from tests.conftest import SF_ORACLE, SF_SMOKE


def _plan(spark, name: str) -> str:
    df = REGISTRY[name].spark_fn(spark, SF_ORACLE)
    return df._jdf.queryExecution().executedPlan().toString()


def test_pricing_summary_pushes_filter_to_scan(spark):
    plan = _plan(spark, "pricing_summary")
    assert "PushedFilters: [" in plan
    assert "LessThanOrEqual(l_shipdate" in plan.replace("IsNotNull(l_shipdate), ", "")


def test_pricing_summary_prunes_columns(spark):
    plan = _plan(spark, "pricing_summary")
    # ReadSchema must not include unused columns like l_comment-ish ones
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" not in read and "l_partkey" not in read


def test_nation_volume_broadcasts_dimensions(spark):
    plan = _plan(spark, "nation_volume")
    assert plan.count("BroadcastHashJoin") >= 3  # customer, nation, region
    assert "SortMergeJoin" not in plan or plan.count("SortMergeJoin") <= 1


def test_top_ips_uses_take_ordered(spark):
    plan = _plan(spark, "http_top_ips")
    assert "TakeOrderedAndProject" in plan  # no global sort for LIMIT


def test_text_queries_stay_jvm_side(spark):
    for name in (
        "token_stats",
        "quality_histogram",
        "doc_fingerprints",
        "dedup_minhash_lsh",
        "watermark_greenlist_report",
    ):
        plan = _plan(spark, name)
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, name


def test_ann_brute_streams_corpus_with_partial_topk(spark):
    """operators/topk.py shape: the corpus streams through ONE
    mapInPandas (queries ride a broadcast variable, not a join), and
    the only exchange after it carries the per-partition top-k
    candidate rows for the rank window — never corpus x queries. A
    join-based regression would reintroduce the BNLJ + full-width
    window shuffle (32 s at sf1)."""
    plan = _plan(spark, "ann_brute_topk")
    assert "MapInPandas" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # rank stage gets group-limited (partial top-k) candidates, and the
    # only join-free exchanges are the explicit repartitions
    assert "WindowGroupLimit" in plan


def test_bm25_query_terms_broadcast(spark):
    """BM25: scoring must be a broadcast semi-join of the 5-term query
    table into the tf stream (corpus rows never shuffle to meet the
    query terms) and the final top-k must be TakeOrderedAndProject,
    not a global sort."""
    plan = _plan(spark, "bm25_retrieval")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_bpe_encode_joins_vocab_not_corpus_squared(spark):
    """Tokenizer application: the corpus word stream equi-joins the
    encoded VOCAB (no cartesian, no Python) — the k merge folds run
    once per vocab entry inside Catalyst."""
    plan = _plan(spark, "bpe_encode_stats")
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_ivf_candidate_scan_is_broadcast_equijoin(spark):
    """The IVF candidate scan must be a broadcast hash join on the cell
    id — the corpus side must never sort-merge or shuffle for the
    probe."""
    for name in ("ann_ivf_topk", "ann_ivf_adc_topk"):
        plan = _plan(spark, name)
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name


def test_prefix_filter_join_has_no_cartesian(spark):
    """Candidate generation must stay an equi-join on the prefix token;
    a plan regression to a cartesian/theta join would be quadratic."""
    plan = _plan(spark, "dedup_prefix_filter_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_simhash_registered_plan_is_banded_equijoin(spark):
    """The registered dedup_simhash must be the banded candidate join:
    an equi-join on (band_id, nibble), never the O(n^2) all-pairs theta
    join (which survives only as the non-registered baseline
    simhash_allpairs_pairs)."""
    plan = _plan(spark, "dedup_simhash")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_minhash_candidates_dedupe_without_shuffle(spark):
    """LSH candidate generation must drop duplicate pairs (a pair
    matching several bands) via the in-place first-match filter — never
    a distinct. A distinct would shuffle the full pre-dedup candidate
    stream (up to n_bands x the true candidate count) at 100 TB. The
    only aggregates allowed in the whole query are the signature fold;
    distinct shows up as extra HashAggregate pairs over (da, db)."""
    plan = _plan(spark, "dedup_minhash_lsh")
    assert "CartesianProduct" not in plan
    assert "da" not in _agg_keys(plan) and "db" not in _agg_keys(plan)


def _agg_keys(plan: str) -> str:
    """Concatenated grouping-key text of all HashAggregate operators."""
    return " ".join(
        line.split("keys=")[1].split("functions=")[0]
        for line in plan.splitlines()
        if "HashAggregate" in line and "keys=" in line
    )


def test_gapfill_spine_is_broadcast(spark):
    """The bounds aggregate (1 row) and the spine side must broadcast;
    the events rollup must not be on the build side of anything."""
    plan = _plan(spark, "gapfill_locf")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_reservoir_prune_precedes_exchange(spark):
    """The mapInPandas partial prune must run BEFORE the shuffle that
    feeds the final window — pruning after the exchange would ship the
    whole table."""
    plan = _plan(spark, "reservoir_sample")
    prune = plan.index("MapInPandas")
    # the window's exchange appears after (above) the prune in the tree;
    # text dump lists operators top-down, so the exchange index is lower
    exchange = plan.index("Exchange hashpartitioning(lang")
    assert exchange < prune


def test_dsir_ratio_table_broadcasts_and_stays_jvm(spark):
    """DSIR's per-doc weighting join must broadcast the fixed-256-row
    log-ratio table (never shuffle the feature stream for it), and the
    whole pipeline stays out of Python."""
    plan = _plan(spark, "dsir_importance_weights")
    assert "BroadcastHashJoin" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_kmv_pairwise_stage_broadcasts_pairs(spark):
    """KMV: the cohort-pair table (cohorts^2 rows) must broadcast into
    the synopsis join; no cartesian product over the corpus."""
    plan = _plan(spark, "kmv_cohort_overlap")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_large_orders_filter_is_aggregation_before_joins(spark):
    """Q18 shape: the quantity HAVING must collapse lineitem BEFORE the
    orders/customer joins — the aggregate appears below the joins in
    the plan tree (higher indentation index in the dump)."""
    plan = _plan(spark, "large_order_customers")
    assert "BroadcastHashJoin" in plan
    agg = plan.index("HashAggregate")
    join = plan.index("BroadcastHashJoin")
    assert agg > join  # text dump is top-down: deeper operators print later


def test_promo_share_pushes_date_band_to_scan(spark):
    plan = _plan(spark, "promo_revenue_share")
    assert "PushedFilters: [" in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan


def test_bm25_query_table_ranks_without_global_sort(spark):
    """bm25_query_table: per-query top-k must run as group-limited
    windows (WindowGroupLimit pushes rank<=k below the exchange), the
    whole text path stays JVM-side, and the corpus-proportional
    query-term table is NEVER broadcast by our own hint — any
    BroadcastExchange present must come from AQE size estimates, so at
    scale the posting-list join degrades gracefully to a shuffle join
    instead of a driver-memory ceiling."""
    plan = _plan(spark, "bm25_query_table")
    assert "WindowGroupLimit" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_hybrid_rrf_fusion_adds_no_corpus_work(spark):
    """RRF fuses two already-rank-bounded inputs: the fusion stage
    itself must be one aggregate + one group-limited window — no new
    scans beyond the two rankers', no Python, no cartesian join."""
    plan = _plan(spark, "hybrid_rrf_fusion")
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_simhash_wide_variants_stay_banded(spark):
    """The wide/xwide simhash plans must keep the banded equi-join
    shape (no theta self-join: a sort-merge/broadcast-hash join keyed
    on (band, key), never BroadcastNestedLoopJoin) and JVM-only
    signature builds."""
    for name in ("dedup_simhash_wide", "dedup_simhash_xwide"):
        plan = _plan(spark, name)
        assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan, name
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, name


def test_cms_counter_table_broadcasts(spark):
    """cms_user_frequency: the d x w counter table is KB-sized and must
    broadcast into the estimation join (a shuffle join there would
    shuffle every queried key for a 256-row table)."""
    plan = _plan(spark, "cms_user_frequency")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_pagerank_edges_are_equi_join(spark):
    """plans/analytics.py:pagerank_copurchase — the co-purchase edge
    build must be an EQUI-join on l_orderkey (the partkey inequality is
    a post-join filter), never a nested-loop product, and the rank
    readout must be a TakeOrderedAndProject, not a global sort."""
    plan = _plan(spark, "pagerank_copurchase")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_pagerank_rounds_reuse_the_edge_shuffle(spark):
    """plans/analytics.py:pagerank_copurchase and personalized_pagerank
    leave their edge table unpinned because every power-iteration round
    reads the SAME edge shuffle through ReusedExchange. AQE settles the
    reuse only while it runs, so the final adaptive plan is read after
    collect()."""
    for name in ("pagerank_copurchase", "personalized_pagerank"):
        df = REGISTRY[name].spark_fn(spark, SF_SMOKE)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ReusedExchange" in plan, name
        assert "/pin-" not in plan, f"{name} scans a pinned table"


def test_triangle_counts_avoids_nested_loops(spark):
    """plans/analytics.py:triangle_counts — wedge generation and
    closure are pure equi-joins (the degree-ordered orientation keeps
    them bounded); any nested-loop fallback would be quadratic."""
    plan = _plan(spark, "triangle_counts")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_round4_queries_stay_jvm_side(spark):
    """Every query added this round is pure Catalyst — no Python
    evaluation node may appear in any of their physical plans."""
    for name in (
        "pagerank_copurchase",
        "triangle_counts",
        "unigram_lm_vocab",
        "unigram_encode_stats",
        "rerank_fusion_topk",
        "k_anonymity_report",
        "bloom_membership_report",
        "hdr_latency_quantiles",
        "wordpiece_encode_stats",
    ):
        plan = _plan(spark, name)
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, name


def test_perplexity_type_tables_never_static_broadcast(spark):
    """n-gram TYPE tables grow with the corpus (2.7M trigram types at
    sf10, ~27M at sf100 — a static-planner broadcast OOM'd there), so
    the perplexity family's type-table joins carry shuffle_hash hints
    (r10; previously merge) and the
    STATIC plan must contain no BroadcastHashJoin at the big-series
    scale. AQE may re-promote at runtime from actual sizes — that is
    the intended degrade path — but the initial plan is what a 100 TB
    run commits to before any stage has run. Planned (not executed)
    against the sf100 dir when present, else sf10, else the hint
    presence alone is asserted at the oracle SF."""
    import os

    for d in ("/root/repo/.benchdata/sf100", "/root/repo/.benchdata/sf10"):
        if os.path.exists(os.path.join(d, "_DONE")):
            for name in ("doc_perplexity", "kn_doc_perplexity",
                         "mkn_trigram_perplexity"):
                df = REGISTRY[name].spark_fn(spark, d)
                plan = df._jdf.queryExecution().executedPlan().toString()
                assert "BroadcastHashJoin" not in plan, (name, d)
                # r10: shuffle_hash replaced merge on these joins (same
                # no-static-broadcast safety, no stream sort) — either
                # non-broadcast strategy satisfies the guard's intent
                assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, (name, d)
            return
    # no big series on disk: the hints must still be in the plans
    plan = _plan(spark, "mkn_trigram_perplexity")
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_chunk_type_tables_never_static_broadcast(spark):
    """Chunk-TYPE tables (line/CDC dedup) grow with the corpus exactly
    like the perplexity family's n-gram type tables, so the
    occurrence<->type join must not be a static-planner broadcast at
    big-series scale (AQE may re-promote at runtime from actual sizes —
    the intended degrade path). Planned (not executed) against the
    biggest series on disk; at the oracle SF only the join's existence
    is asserted."""
    import os

    for d in ("/root/repo/.benchdata/sf100", "/root/repo/.benchdata/sf10"):
        if os.path.exists(os.path.join(d, "_DONE")):
            for name in ("line_dedup_report", "cdc_dedup_report"):
                df = REGISTRY[name].spark_fn(spark, d)
                plan = df._jdf.queryExecution().executedPlan().toString()
                assert "BroadcastHashJoin" not in plan, (name, d)
                # r10-opt: shuffle_hash replaced merge (same
                # no-static-broadcast guard, no occurrence-stream sort)
                assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, (name, d)
            return
    plan = _plan(spark, "line_dedup_report")
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def _corpus_broadcast_subtrees(plan: str) -> list[str]:
    """BroadcastExchange subtrees (HashedRelationBroadcastMode — i.e.
    real hash-join builds, not 1-row Identity broadcasts) whose subtree
    scans a corpus-scaled table. The r10 stats-less-join-side sweep's
    detector: any such subtree in a STATIC plan is a broadcast the
    planner committed to from estimates, which AQE cannot demote."""
    import re

    corpus = ("customer", "orders", "lineitem", "events", "documents",
              "embeddings", "part")
    lines = plan.split("\n")

    def depth(s):
        return len(re.match(r"^[\s:+\-*]*", s).group(0))

    out = []
    for i, ln in enumerate(lines):
        if "BroadcastExchange" not in ln or "HashedRelationBroadcastMode" not in ln:
            continue
        d0 = depth(ln)
        sub = [ln]
        for j in range(i + 1, len(lines)):
            if not lines[j].strip() or depth(lines[j]) <= d0:
                break
            sub.append(lines[j])
        if any(re.search(rf"\b{t}\b", l) for t in corpus for l in sub):
            out.append("\n".join(sub[:6]))
    return out


def test_candidate_pipelines_never_static_broadcast_corpus_sides(spark):
    """r10 stats-less-join-side sweep (VERDICT r09 #3): LSH candidate
    tables are join OUTPUTS — their true size is corpus- and dup-rate-
    dependent while their static estimate is fiction — and the FK key
    sides of the quality checks are full key columns whose single-
    column pruned estimate undershoots the broadcast threshold long
    after the true HashedRelation stops fitting (measured at sf100:
    a 15M-key customer anti-join build). Neither may appear as a
    static broadcast build; AQE re-promotes candidate lookups at
    runtime from their TRUE size (verified in the suite's oracle runs).
    Planned, not executed, against the biggest series on disk; at the
    oracle SF only the anti-join strategy is asserted."""
    import os

    # eager-signature-build queries: sf10 keeps the build bounded
    for d in ("/root/repo/.benchdata/sf10",):
        if os.path.exists(os.path.join(d, "_DONE")):
            for name in ("dedup_minhash_lsh", "split_leakage_report",
                         "minhash_estimator_error_report"):
                df = REGISTRY[name].spark_fn(spark, d)
                plan = df._jdf.queryExecution().executedPlan().toString()
                bad = _corpus_broadcast_subtrees(plan)
                assert not bad, (name, d, bad[0])
    # lazy-construction queries: plan at the biggest series present
    for d in ("/root/repo/.benchdata/sf100", "/root/repo/.benchdata/sf10"):
        if os.path.exists(os.path.join(d, "_DONE")):
            for name in ("data_quality_report", "hard_negative_mining",
                         "revenue_concentration_report"):
                df = REGISTRY[name].spark_fn(spark, d)
                plan = df._jdf.queryExecution().executedPlan().toString()
                bad = _corpus_broadcast_subtrees(plan)
                assert not bad, (name, d, bad[0])
            break
    # at any scale: the FK orphan checks are shuffle_hash-hinted
    # (r10-opt; previously merge), so the anti joins must be
    # non-broadcast even where a broadcast would fit
    plan = _plan(spark, "data_quality_report")
    assert "BroadcastHashJoin" not in plan or "LeftAnti, BuildRight" not in plan
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") >= 2


def test_pareto_frontier_broadcasts_the_grid(spark):
    """The skyline decision grid is domain-bounded and must join back
    to the fact scan as a broadcast hash join — a shuffled join here
    would mean the corpus is exchanged for a ~1k-row dimension."""
    plan = _plan(spark, "pareto_frontier_parts")
    assert "BroadcastHashJoin" in plan
    # the fact side must not be exchanged before the join: the only
    # Exchange subtrees are the grid build and the final global order
    pre_join = plan.split("BroadcastHashJoin")[0]
    assert "Exchange hashpartitioning" not in pre_join


def test_association_rules_topk_is_take_ordered(spark):
    plan = _plan(spark, "association_rules_report")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_attribution_windows_are_user_partitioned(spark):
    """Journey assignment must never fall into the single-partition
    window trap: every Window in the plan carries a partition spec."""
    plan = _plan(spark, "attribution_report")
    assert "CartesianProduct" not in plan
    for frag in plan.split("Window ")[1:]:
        spec = frag.split("\n", 1)[0]
        assert "user_id" in spec, spec


def test_cohort_ltv_broadcasts_cohort_sizes(spark):
    plan = _plan(spark, "cohort_ltv_report")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
