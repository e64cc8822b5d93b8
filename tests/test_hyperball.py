"""HyperBall: the frozen linear-counting table must BE m*ln(m/V), the
estimated neighborhood function must track the EXACT (BFS) one within
HLL error at the gate SF, the curve must be monotone, and the whole
report deterministic. (Engine-vs-engine bit equality is the oracle
gate's job; these tests pin the estimator against ground truth.)"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from http_log_anonymizer_spark.plans import REGISTRY
from http_log_anonymizer_spark.plans.analytics import (
    _COPURCHASE_MINSUP as _HB_MINSUP,
    _HB_LC_MILLI,
    _HB_REGS,
    _HB_ROUNDS,
)

SF = "/root/testdata/sf0.001"


def test_lc_table_is_m_ln_m_over_v():
    for v, milli in enumerate(_HB_LC_MILLI, start=1):
        want = round(_HB_REGS * 1000 * math.log(_HB_REGS / v))
        assert milli == want, (v, milli, want)


def _exact_nf(spark):
    """Exact N(t) by iterated sparse reachability over the SAME
    support-thresholded edge set (tiny at the gate SF)."""
    li = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
    )
    other = li.select(F.col("l_orderkey").alias("o2"), F.col("l_partkey").alias("p2"))
    und = (
        li.join(other, (li.l_orderkey == other.o2) & (li.l_partkey != other.p2))
        .groupBy(
            F.least("l_partkey", "p2").alias("u"),
            F.greatest("l_partkey", "p2").alias("v"),
        )
        .agg(F.count("*").alias("w2"))
        .filter(F.col("w2") >= 2 * _HB_MINSUP)
        .select("u", "v")
    )
    edges = und.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionByName(
        und.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    ).localCheckpoint(eager=True)
    ball = edges.select(F.col("src").alias("v"), F.col("src").alias("m")).distinct()
    out = {0: ball.count()}
    for t in range(1, _HB_ROUNDS + 1):
        grown = (
            ball.join(edges, ball.m == edges.src)
            .select("v", F.col("dst").alias("m"))
            .unionByName(ball)
            .distinct()
            .localCheckpoint(eager=True)
        )
        ball = grown
        out[t] = ball.count()
    return out


def test_estimate_tracks_exact_bfs_within_hll_error(spark):
    est = {
        r.t: r.nf_est_milli / 1000.0
        for r in REGISTRY["hyperball_neighborhood_report"].spark_fn(spark, SF).collect()
    }
    exact = _exact_nf(spark)
    assert set(est) == set(exact)
    for t in exact:
        rel = abs(est[t] - exact[t]) / exact[t]
        # t=0 is pure linear counting (V=15 -> 1.033 per node: 3.3%);
        # larger balls mix LC and raw HLL with correlated errors
        # across overlapping balls — 20% is the honest envelope for
        # m=16 demo registers
        bound = 0.05 if t == 0 else 0.20
        assert rel <= bound, (t, est[t], exact[t], rel)


def test_curve_is_monotone_and_balls_start_at_one(spark):
    rows = REGISTRY["hyperball_neighborhood_report"].spark_fn(spark, SF).collect()
    nf = [r.nf_est_milli for r in rows]
    assert nf == sorted(nf)
    r0 = rows[0]
    assert abs(r0.avg_ball_milli - 1000) <= 50  # |ball(v,0)| = 1


def test_report_is_deterministic(spark):
    a = REGISTRY["hyperball_neighborhood_report"].spark_fn(spark, SF).collect()
    b = REGISTRY["hyperball_neighborhood_report"].spark_fn(spark, SF).collect()
    assert a == b


def _exact_per_node_harmonic(spark):
    """Exact truncated harmonic centrality per node (tiny graph at the
    gate SF): sum over t of (new nodes at distance exactly t) / t."""
    li = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
    )
    other = li.select(F.col("l_orderkey").alias("o2"), F.col("l_partkey").alias("p2"))
    und = (
        li.join(other, (li.l_orderkey == other.o2) & (li.l_partkey != other.p2))
        .groupBy(
            F.least("l_partkey", "p2").alias("u"),
            F.greatest("l_partkey", "p2").alias("v"),
        )
        .agg(F.count("*").alias("w2"))
        .filter(F.col("w2") >= 2 * _HB_MINSUP)
        .select("u", "v")
    )
    edges = und.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionByName(
        und.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    ).localCheckpoint(eager=True)
    ball = edges.select(F.col("src").alias("v"), F.col("src").alias("m")).distinct()
    sizes = {0: {r.v: r.c for r in ball.groupBy("v").agg(F.count("*").alias("c")).collect()}}
    for t in range(1, _HB_ROUNDS + 1):
        ball = (
            ball.join(edges, ball.m == edges.src)
            .select("v", F.col("dst").alias("m"))
            .unionByName(ball)
            .distinct()
            .localCheckpoint(eager=True)
        )
        sizes[t] = {r.v: r.c for r in ball.groupBy("v").agg(F.count("*").alias("c")).collect()}
    out = {}
    for v in sizes[0]:
        out[v] = sum(
            (sizes[t].get(v, 0) - sizes[t - 1].get(v, 0)) / t
            for t in range(1, _HB_ROUNDS + 1)
        )
    return out


def test_harmonic_topk_picks_genuinely_central_nodes(spark):
    rows = REGISTRY["harmonic_centrality_topk"].spark_fn(spark, SF).collect()
    assert [r.pos for r in rows] == list(range(1, len(rows) + 1))
    est_order = [r.harmonic_micro for r in rows]
    assert est_order == sorted(est_order, reverse=True)
    exact = _exact_per_node_harmonic(spark)
    pop_mean = sum(exact.values()) / len(exact)
    picked = [exact[r.node] for r in rows]
    # Centrality at this gate SF is nearly uniform (the thresholded
    # graph is one dense component: pop mean ~109, max ~116), so
    # "picked >> average" is unattainable for ANY estimator here. The
    # defensible truth claims: the picked set is at least average, and
    # it captures >= 90% of the centrality mass a PERFECT top-k would
    # (regret bound — this is the assertion that bites on a
    # spread-out graph and stays honest on a uniform one).
    assert sum(picked) / len(picked) >= pop_mean * 0.99
    best = sorted(exact.values(), reverse=True)[: len(picked)]
    assert sum(picked) >= 0.9 * sum(best)
