"""Probabilistic record linkage — the Fellegi–Sunter model fit by EM.

The reference's mission is anonymization of identified records
(anonymizer/src/lib.rs:1-20); the inverse problem a data platform hits
just as often is RE-identification of the same real-world entity
across two noisy feeds (CRM vs billing, two crawl snapshots, raw vs
anonymized audit) — classic probabilistic record linkage (Fellegi &
Sunter, JASA 1969; Winkler 2006). ``record_linkage_em`` implements the
standard pipeline: a blocked candidate-pair universe, per-pair binary
agreement vectors over comparison features, EM estimation of the
match-class parameters (m_f = P(agree_f | match), u_f = P(agree_f |
non-match), lambda = match prevalence), and posterior match weights.

Cross-engine determinism follows the repo's exact-integer discipline
(kmeans_quantized / pagerank precedent): every probability lives on a
1e-9 integer grid, every division is a truncating integer division of
NON-NEGATIVE integers (Spark ``DIV`` truncates toward zero, DuckDB
``//`` floors — identical on non-negatives), and every arithmetic
expression is generated from ONE shared text (:func:`_pm_pu` /
:func:`_clamp`) with dialect substitutions (``DIV`` vs ``//``,
``DECIMAL(38,0)``/``BIGINT`` vs ``HUGEINT``) — the Spark side runs it
as a per-round literal-parameter loop (one bounded 1-row collect per
round, the kmeans precedent), the oracle as unrolled CTEs, and the
fits agree bit for bit.

The two record feeds are derived views of ``customer`` (the planted-
view pattern of plans/text.py's PII family): side B re-observes every
customer with deterministic noise keyed off ``c_custkey`` — name
corrupted for keys = 0 mod 5, account balance shifted by $2.37 for
keys = 0 mod 4, market segment re-labelled for keys = 0 mod 3 — so
true match pairs (same custkey) carry realistic partial agreement and
within-block non-match pairs carry near-zero agreement.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from http_log_anonymizer_spark.operators.materialize import pin
from http_log_anonymizer_spark.plans.registry import register
from http_log_anonymizer_spark.sources.batch import load_table

_RL_GRID = 10**9  # probability grid: 1.0 == 1e9
_RL_BLOCK = 50  # blocking-pass width: pairs per record stay constant
_RL_ROUNDS = 3  # fixed, unrolled EM rounds (kmeans/pagerank precedent)
_RL_MATCH = 500_000_000  # posterior >= 0.5 classifies as match
# Neutral init, away from the 0/1 absorbing states.
_RL_LAM0 = 50_000_000  # 0.05
_RL_M0 = 900_000_000  # 0.90
_RL_U0 = 100_000_000  # 0.10

_RL_FEATURES = ("name", "bal", "seg")


def _clamp(expr: str, big: str) -> str:
    """Clamp a grid probability to [1, GRID-1] so products never hit
    the absorbing 0/1 states (mirrors max(1, min(GRID-1, .)))."""
    return (
        f"greatest(CAST(1 AS {big}), "
        f"least(CAST({_RL_GRID - 1} AS {big}), {expr}))"
    )


def _pm_pu(ref: dict[str, str], big: str, intdiv: str) -> tuple[str, str]:
    """Textual per-pair class-likelihood products, renormalized to the
    grid after every factor (pm = lambda * prod_f m-or-(1-m); pu
    likewise with 1-lambda and u). ``ref`` maps parameter names to SQL
    texts — column references in the oracle's unrolled CTEs, BIGINT
    literals in the Spark per-round expression — so BOTH engines run
    the identical arithmetic."""
    pm = ref["lam"]
    pu = f"(CAST({_RL_GRID} AS {big}) - {ref['lam']})"
    for f in _RL_FEATURES:
        pm = (
            f"(({pm}) * (CASE WHEN g_{f} = 1 THEN {ref['m_' + f]} "
            f"ELSE CAST({_RL_GRID} AS {big}) - {ref['m_' + f]} END)) "
            f"{intdiv} CAST({_RL_GRID} AS {big})"
        )
        pu = (
            f"(({pu}) * (CASE WHEN g_{f} = 1 THEN {ref['u_' + f]} "
            f"ELSE CAST({_RL_GRID} AS {big}) - {ref['u_' + f]} END)) "
            f"{intdiv} CAST({_RL_GRID} AS {big})"
        )
    return pm, pu


def _param_refs(alias: str) -> dict[str, str]:
    """Column-reference texts for the oracle's parameter relations."""
    refs = {"lam": f"{alias}.lam"}
    for f in _RL_FEATURES:
        refs[f"m_{f}"] = f"{alias}.m_{f}"
        refs[f"u_{f}"] = f"{alias}.u_{f}"
    return refs


def _literal_refs(params: dict[str, int], big: str) -> dict[str, str]:
    """Literal texts for the Spark per-round expression (cast so
    integer products stay in 64-bit range, mirroring the oracle)."""
    return {k: f"CAST({v} AS {big})" for k, v in params.items()}


def _em_sql(intdiv: str, big: str, table: str) -> str:
    """The shared EM text; ``intdiv`` is 'DIV' (Spark) or '//'
    (DuckDB), ``big`` is DECIMAL(38,0) (Spark) or HUGEINT (DuckDB) and
    ``table`` the customer relation name — the only dialect deltas."""
    g = _RL_GRID
    parts: list[str] = []
    # Side B: the noisy re-observation of every customer.
    parts.append(f"""
rl_b AS (
  SELECT c_custkey AS kb,
    CASE WHEN c_custkey % 5 = 0
         THEN substr(c_name, 1, length(c_name) - 1) || 'X'
         ELSE c_name END AS name_b,
    CAST(round(c_acctbal * 100) AS BIGINT)
      + CASE WHEN c_custkey % 4 = 0 THEN 237 ELSE 0 END AS cents_b,
    CASE WHEN c_custkey % 3 = 0 THEN 'RELOCATED'
         ELSE c_mktsegment END AS seg_b
  FROM {table}
)""")
    # Blocked candidate pairs with binary agreement vectors. The
    # equality tests are null-safe so a NULL attribute compares the
    # same way in both engines (agree only when both sides are NULL).
    parts.append(f"""
rl_pairs AS (
  SELECT a.c_custkey AS ka, b.kb,
    CASE WHEN a.c_name IS NOT DISTINCT FROM b.name_b
         THEN 1 ELSE 0 END AS g_name,
    CASE WHEN abs(CAST(round(a.c_acctbal * 100) AS BIGINT) - b.cents_b)
              <= 100 THEN 1 ELSE 0 END AS g_bal,
    CASE WHEN a.c_mktsegment IS NOT DISTINCT FROM b.seg_b
         THEN 1 ELSE 0 END AS g_seg
  FROM {table} a
  JOIN rl_b b ON a.c_custkey {intdiv} {_RL_BLOCK} = b.kb {intdiv} {_RL_BLOCK}
)""")
    # Round-0 parameters: neutral literals on the grid.
    init_cols = [f"CAST({_RL_LAM0} AS {big}) AS lam"]
    for f in _RL_FEATURES:
        init_cols.append(f"CAST({_RL_M0} AS {big}) AS m_{f}")
        init_cols.append(f"CAST({_RL_U0} AS {big}) AS u_{f}")
    parts.append(f"rl_p0 AS (SELECT {', '.join(init_cols)})")
    for k in range(1, _RL_ROUNDS + 1):
        pm, pu = _pm_pu(_param_refs("q"), big, intdiv)
        # E-step: per-pair posterior match weight on the grid.
        parts.append(f"""
rl_l{k} AS (
  SELECT pr.*, {pm} AS pm, {pu} AS pu
  FROM rl_pairs pr CROSS JOIN rl_p{k - 1} q
)""")
        parts.append(f"""
rl_w{k} AS (
  SELECT *, (pm * CAST({g} AS {big}))
            {intdiv} greatest(pm + pu, CAST(1 AS {big})) AS w
  FROM rl_l{k}
)""")
        # M-step sums: every field an exact integer.
        sums = [
            "count(*) AS n",
            f"sum(CAST(w AS {big})) AS s",
        ]
        for f in _RL_FEATURES:
            sums.append(f"sum(CAST(w AS {big}) * g_{f}) AS s_{f}")
            sums.append(f"sum(CAST(g_{f} AS {big})) AS c_{f}")
        parts.append(f"rl_s{k} AS (SELECT {', '.join(sums)} FROM rl_w{k})")
        # M-step updates, clamped to the open grid interval.
        upd = [
            _clamp(f"s {intdiv} CAST(greatest(n, 1) AS {big})", big)
            + " AS lam"
        ]
        for f in _RL_FEATURES:
            upd.append(
                _clamp(
                    f"(s_{f} * CAST({g} AS {big})) "
                    f"{intdiv} greatest(s, CAST(1 AS {big}))",
                    big,
                )
                + f" AS m_{f}"
            )
            upd.append(
                _clamp(
                    f"((c_{f} * CAST({g} AS {big}) - s_{f}) "
                    f"* CAST({g} AS {big})) "
                    f"{intdiv} greatest(CAST(n AS {big}) "
                    f"* CAST({g} AS {big}) - s, CAST(1 AS {big}))",
                    big,
                )
                + f" AS u_{f}"
            )
        parts.append(f"rl_p{k} AS (SELECT {', '.join(upd)} FROM rl_s{k})")
    # Final classification under the fitted parameters.
    pm, pu = _pm_pu(_param_refs("q"), big, intdiv)
    carried = ["q.lam"]
    for f in _RL_FEATURES:
        carried += [f"q.m_{f}", f"q.u_{f}"]
    parts.append(f"""
rl_fl AS (
  SELECT pr.*, {', '.join(carried)}, {pm} AS pm, {pu} AS pu
  FROM rl_pairs pr CROSS JOIN rl_p{_RL_ROUNDS} q
)""")
    param_out = ["CAST(lam AS BIGINT) AS lambda9"]
    for f in _RL_FEATURES:
        param_out.append(f"CAST(m_{f} AS BIGINT) AS m_{f}9")
        param_out.append(f"CAST(u_{f} AS BIGINT) AS u_{f}9")
    return f"""
WITH {', '.join(parts)},
rl_final AS (
  SELECT *, (pm * CAST({g} AS {big}))
            {intdiv} greatest(pm + pu, CAST(1 AS {big})) AS w
  FROM rl_fl
)
SELECT ka AS custkey_a, kb AS custkey_b, g_name, g_bal, g_seg,
       CAST(w AS BIGINT) AS w9,
       {', '.join(param_out)}
FROM rl_final
WHERE w >= {_RL_MATCH}
ORDER BY custkey_a, custkey_b
"""


def _pairs_sql(table: str) -> str:
    """Just the pair-universe CTEs of :func:`_em_sql` (Spark dialect),
    as a standalone SELECT."""
    whole = _em_sql("DIV", "DECIMAL(38,0)", table)
    # rl_b + rl_pairs are the first two CTE parts; cut at rl_p0.
    head = whole.split("rl_p0 AS")[0].rstrip().rstrip(",")
    return f"{head}\nSELECT * FROM rl_pairs"


@register("record_linkage_em", oracle=_em_sql("//", "HUGEINT", "customer"))
def record_linkage_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter probabilistic record linkage of ``customer``
    against its deterministic noisy re-observation, fit by {_RL_ROUNDS}
    EM rounds on a 1e-9 integer probability grid and classified at
    posterior >= 0.5. Output: the matched pairs with their agreement
    vectors, posterior weights, and the fitted (lambda, m_f, u_f)
    parameters — so the driver hash pins the EM trajectory itself, not
    just the pair list.

    Plan shape (scale-first): the blocking pass keeps candidate volume
    LINEAR in the corpus — a fixed-width key (custkey DIV {_RL_BLOCK})
    yields constant-size blocks, {_RL_BLOCK} candidates per record at
    any scale (production swaps in domain keys / multi-pass blocking;
    the EM arithmetic is invariant to the generator). Each EM round is
    ONE job: the candidate equi-join (AQE handles block skew) feeding a
    shuffle-free map-side-combined aggregate of 8 exact-integer sums;
    only that one 8-number row reaches the driver per round (the
    kmeans_quantized per-round-stats precedent — bounded state, not a
    corpus collect). Fitted parameters re-enter the next round as
    BIGINT literals through the same textual expression the oracle's
    unrolled CTEs use, so both engines run identical arithmetic. A
    fully-lazy chained-CTE variant was measured quadratic-in-rounds
    (each round's aggregate re-executes every earlier round's subtree:
    >10 min at sf1 vs seconds for the literal-param loop) — the same
    re-execution trap as the suffix-array checkpoint-chain lesson.

    The match class separates on this corpus exactly as FS theory
    predicts: u_name ~ 0 within blocks (names near-unique), so name
    agreement alone is near-decisive; matches with a corrupted name
    recover through balance agreement (u_bal ~ 2e-4); matches with two
    corrupted features (name+bal: custkey = 0 mod 20) fall below the
    0.5 posterior — honest false negatives, documented rather than
    tuned away."""
    g = _RL_GRID
    c = load_table(spark, sf_dir, "customer")
    c.createOrReplaceTempView("customer_rl_em")
    pairs = spark.sql(_pairs_sql("customer_rl_em"))

    def w_expr(params: dict[str, int]) -> str:
        pm, pu = _pm_pu(_literal_refs(params, "BIGINT"), "BIGINT", "DIV")
        return (
            f"(({pm}) * CAST({g} AS BIGINT)) DIV "
            f"greatest(({pm}) + ({pu}), CAST(1 AS BIGINT))"
        )

    clamp = lambda x: max(1, min(g - 1, x))
    params = {"lam": _RL_LAM0}
    for f in _RL_FEATURES:
        params[f"m_{f}"] = _RL_M0
        params[f"u_{f}"] = _RL_U0
    dec = "decimal(38,0)"
    for _ in range(_RL_ROUNDS):
        w = F.expr(w_expr(params)).alias("w")
        aggs = [
            F.count("*").alias("n"),
            F.sum(F.col("w").cast(dec)).alias("s"),
        ]
        for f in _RL_FEATURES:
            aggs.append(
                F.sum(F.col("w").cast(dec) * F.col(f"g_{f}")).alias(f"s_{f}")
            )
            aggs.append(F.sum(F.col(f"g_{f}")).cast(dec).alias(f"c_{f}"))
        row = pairs.select("*", w).agg(*aggs).collect()[0]
        n = int(row["n"] or 0)
        s = int(row["s"] or 0)
        params["lam"] = clamp(s // max(n, 1))
        for f in _RL_FEATURES:
            sf_ = int(row[f"s_{f}"] or 0)
            cf = int(row[f"c_{f}"] or 0)
            params[f"m_{f}"] = clamp((sf_ * g) // max(s, 1))
            params[f"u_{f}"] = clamp(
                ((cf * g - sf_) * g) // max(n * g - s, 1)
            )
    out_cols = [
        F.col("ka").alias("custkey_a"),
        F.col("kb").alias("custkey_b"),
        "g_name",
        "g_bal",
        "g_seg",
        F.col("w").cast("long").alias("w9"),
        F.lit(params["lam"]).cast("long").alias("lambda9"),
    ]
    for f in _RL_FEATURES:
        out_cols.append(F.lit(params[f"m_{f}"]).cast("long").alias(f"m_{f}9"))
        out_cols.append(F.lit(params[f"u_{f}"]).cast("long").alias(f"u_{f}9"))
    return (
        pairs.select("*", F.expr(w_expr(params)).alias("w"))
        .filter(F.col("w") >= _RL_MATCH)
        .select(*out_cols)
        .orderBy("custkey_a", "custkey_b")
    )


# ---------------------------------------------------------------------------
# Blocking-design audit (Christen 2012, "Data Matching", ch. 4;
# Papadakis et al. 2020 survey) — the table a linkage engineer reads
# BEFORE record_linkage_em runs: each candidate blocking strategy's
# true-pair recall and candidate volume. Both metrics are computed
# WITHOUT materializing a single candidate pair: recall compares each
# record's key against its re-observation's key on the same row, and
# candidate volume is the exact group-size cross product
# sum_k cntA(k) * cntB(k) — so the audit stays LINEAR even for
# strategies whose actual pair set would be quadratic (which is
# exactly what the candidates_per_record column exposes).
# ---------------------------------------------------------------------------

# balance bucket width in cents; the +100000 shift keeps the bucket
# argument non-negative (acctbal >= -999.99), where Spark's truncating
# DIV and DuckDB's flooring // agree.
_RL_BAL_BUCKET = 500
_RL_BAL_SHIFT = 100_000


def _rl_keys_sql() -> dict[str, tuple[str, str]]:
    """(key_a_expr, key_b_expr) per strategy, over columns of the
    joined (customer a x its re-observation b) row. Texts are engine-
    portable; key comparison and grouping are null-safe everywhere."""
    cents_a = "CAST(round(c_acctbal * 100) AS BIGINT)"
    return {
        "block50": (f"c_custkey {{intdiv}} {_RL_BLOCK}", f"kb {{intdiv}} {_RL_BLOCK}"),
        "name_exact": ("c_name", "name_b"),
        "bal_bucket": (
            f"({cents_a} + {_RL_BAL_SHIFT}) {{intdiv}} {_RL_BAL_BUCKET}",
            f"(cents_b + {_RL_BAL_SHIFT}) {{intdiv}} {_RL_BAL_BUCKET}",
        ),
    }


def _blocking_oracle() -> str:
    keys = _rl_keys_sql()
    parts = [
        # the same re-observation view the EM query links against
        _em_sql("//", "HUGEINT", "customer").split("rl_pairs AS")[0].split("WITH")[1].rstrip().rstrip(","),
        """rl_j AS (
  SELECT a.*, b.kb, b.name_b, b.cents_b
  FROM customer a JOIN rl_b b ON a.c_custkey = b.kb
)""",
        "rl_n AS (SELECT count(*) AS n FROM rl_j)",
    ]
    strat_rows = []
    for name, (ka, kb) in keys.items():
        ka_sql = ka.format(intdiv="//")
        kb_sql = kb.format(intdiv="//")
        parts.append(
            f"""rl_c_{name} AS (
  SELECT CAST(sum(CASE WHEN {ka_sql} IS NOT DISTINCT FROM {kb_sql}
                       THEN 1 ELSE 0 END) AS BIGINT) AS caught
  FROM rl_j
)"""
        )
        parts.append(
            f"""rl_v_{name} AS (
  SELECT CAST(COALESCE(sum(ca.na * cb.nb), 0) AS BIGINT) AS cand FROM
    (SELECT {ka_sql} AS k, count(*) AS na FROM rl_j GROUP BY k) ca
    JOIN (SELECT {kb_sql} AS k, count(*) AS nb FROM rl_j GROUP BY k) cb
      ON ca.k IS NOT DISTINCT FROM cb.k
)"""
        )
        strat_rows.append(
            f"""SELECT '{name}' AS strategy, n.n AS n_true_pairs,
       c.caught AS n_caught,
       CASE WHEN n.n > 0 THEN round(c.caught * 1.0 / n.n, 6) END AS recall,
       v.cand AS n_candidates,
       CASE WHEN n.n > 0 THEN round(v.cand * 1.0 / n.n, 2) END
         AS candidates_per_record
FROM rl_n n, rl_c_{name} c, rl_v_{name} v"""
        )
    union_caught = " OR ".join(
        f"{ka.format(intdiv='//')} IS NOT DISTINCT FROM {kb.format(intdiv='//')}"
        for name, (ka, kb) in keys.items()
        if name != "block50"
    )
    parts.append(
        f"""rl_c_union AS (
  SELECT CAST(sum(CASE WHEN {union_caught} THEN 1 ELSE 0 END) AS BIGINT)
    AS caught
  FROM rl_j
)"""
    )
    strat_rows.append(
        """SELECT 'name_or_bal_union' AS strategy, n.n AS n_true_pairs,
       c.caught AS n_caught,
       CASE WHEN n.n > 0 THEN round(c.caught * 1.0 / n.n, 6) END AS recall,
       CAST(NULL AS BIGINT) AS n_candidates,
       CAST(NULL AS DOUBLE) AS candidates_per_record
FROM rl_n n, rl_c_union c"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + "\nSELECT * FROM (\n"
        + "\nUNION ALL\n".join(strat_rows)
        + "\n) ORDER BY strategy"
    )


@register("linkage_blocking_recall_report", oracle=_blocking_oracle())
def linkage_blocking_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-design audit for the record-linkage pipeline: for each
    candidate strategy — the shipped fixed-width key (block50), an
    exact-name pass, a $5 balance-bucket pass, and the multi-pass
    union of the two REALISTIC passes (name OR balance; block50 is
    generator-derived and would trivially force 1.0) — the TRUE-PAIR recall against the known diagonal and the
    exact candidate volume. On this corpus the table shows the
    textbook contrasts: block50 recall 1.0 at a constant
    {_RL_BLOCK} candidates/record; name_exact loses exactly the
    name-corrupted fifth of matches at ~1 candidate/record;
    bal_bucket's recall depends on how often the planted $2.37 shift
    crosses a bucket edge while its candidate volume GROWS with the
    corpus (the too-coarse-key trap, visible as candidates_per_record
    rising with sf); the union recovers near-full recall — the
    standard multi-pass argument. The union row's candidate volume is
    NULL by design: computing |union of pair sets| requires
    materializing pairs, which this audit exists to avoid.

    Exactness: recall compares each record's key against its
    re-observation's key ON THE SAME ROW (a 1:1 equi-join on custkey,
    no pair enumeration); volumes are exact integer group-size cross
    products sum_k cntA(k)*cntB(k) in HUGEINT/DECIMAL; all key
    comparisons and groupings are null-safe; the balance bucket shifts
    cents non-negative before integer division so truncation and
    flooring agree.

    Scale shape: one 1:1 join + per-strategy map-side-combined
    aggregates + key-group count joins bounded by distinct key counts.
    LINEAR at any corpus size — including for strategies whose real
    candidate sets would not be."""
    keys = _rl_keys_sql()
    c = load_table(spark, sf_dir, "customer")
    c.createOrReplaceTempView("customer_rl_blk")
    b = spark.sql(
        "WITH "
        + _em_sql("DIV", "DECIMAL(38,0)", "customer_rl_blk")
        .split("rl_pairs AS")[0]
        .split("WITH")[1]
        .rstrip()
        .rstrip(",")
        + " SELECT * FROM rl_b"
    )
    # merge hint (r09, found at sf100): rl_b is a stats-less derived
    # table (hash-built re-observations), so Catalyst under-estimates
    # it below the broadcast threshold and the driver OOMs building a
    # 15M-row broadcast at sf100. The 1:1 corpus-sized join must never
    # be a static broadcast; shuffle_hash (r10-opt: was merge) keeps
    # that per partition without sorting either side.
    j = c.join(b.hint("shuffle_hash"), c.c_custkey == b.kb)
    # Materialize the per-strategy KEY COLUMNS of the 1:1 join ONCE
    # (r10, guide §2.4): the report consumed j from 11 branches (the
    # true-pair count, then caught/key-group-A/key-group-B per
    # strategy plus the union row), and each branch re-executed the
    # corpus scan + shuffle_hash join. The pinned table is the
    # join output projected to just the 2 x |strategies| key columns
    # (~50 B/row — narrow, spill-backed), so every branch now reads a
    # materialized narrow table instead of re-joining the corpus.
    jk = pin(
        j.select(
            *[
                F.expr(expr.format(intdiv="DIV")).alias(f"{side}_{name}")
                for name, pair in keys.items()
                for side, expr in zip(("ka", "kb"), pair)
            ]
        )
    )
    n = jk.agg(F.count("*").alias("n"))
    from functools import reduce

    rows = []
    union_pred = None
    for name in keys:
        ka_c = F.col(f"ka_{name}")
        kb_c = F.col(f"kb_{name}")
        pred = ka_c.eqNullSafe(kb_c)
        if name != "block50":
            union_pred = pred if union_pred is None else (union_pred | pred)
        caught = jk.agg(
            F.sum(F.when(pred, 1).otherwise(0)).cast("long").alias("caught")
        )
        ca = jk.groupBy(ka_c.alias("k")).agg(F.count("*").alias("na"))
        cb = jk.groupBy(kb_c.alias("k")).agg(F.count("*").alias("nb"))
        cand = (
            # same trap: both key-group count tables scale with the
            # corpus (distinct names ~ n); never broadcast either side
            # (shuffle_hash, r10-opt: was merge — no sorts)
            ca.join(cb.hint("shuffle_hash"), ca.k.eqNullSafe(cb.k))
            .agg(
                F.coalesce(
                    F.sum(
                        F.col("na").cast("decimal(38,0)") * F.col("nb")
                    ),
                    F.lit(0),
                )
                .cast("long")
                .alias("cand")
            )
        )
        rows.append(
            caught.crossJoin(F.broadcast(cand))
            .crossJoin(F.broadcast(n))
            .select(
                F.lit(name).alias("strategy"),
                F.col("n").alias("n_true_pairs"),
                F.col("caught").alias("n_caught"),
                F.when(
                    F.col("n") > 0,
                    F.round(F.col("caught") * 1.0 / F.col("n"), 6),
                ).alias("recall"),
                F.col("cand").alias("n_candidates"),
                F.when(
                    F.col("n") > 0,
                    F.round(F.col("cand") * 1.0 / F.col("n"), 2),
                ).alias("candidates_per_record"),
            )
        )
    u_caught = jk.agg(
        F.sum(F.when(union_pred, 1).otherwise(0)).cast("long").alias("caught")
    )
    rows.append(
        u_caught.crossJoin(F.broadcast(n)).select(
            F.lit("name_or_bal_union").alias("strategy"),
            F.col("n").alias("n_true_pairs"),
            F.col("caught").alias("n_caught"),
            F.when(
                F.col("n") > 0,
                F.round(F.col("caught") * 1.0 / F.col("n"), 6),
            ).alias("recall"),
            F.lit(None).cast("long").alias("n_candidates"),
            F.lit(None).cast("double").alias("candidates_per_record"),
        )
    )
    return reduce(lambda a, b2: a.unionByName(b2), rows).orderBy("strategy")
