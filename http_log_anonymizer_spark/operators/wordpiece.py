"""Distributed WordPiece merge learning (Schuster & Nakajima, ICASSP
2012; the trainer behind BERT's tokenizer, Wu et al. 2016) — the
LIKELIHOOD-driven sibling of the frequency-driven BPE trainer in
:mod:`operators/bpe`, completing train+apply symmetry for all three
subword families (BPE: merges+encode, Unigram-LM: EM+Viterbi,
WordPiece: this trainer + the greedy longest-match encoder already in
``operators/unigram.py:greedy_segment_stats``).

The WordPiece selection rule: instead of the most FREQUENT adjacent
pair, merge the pair that most increases corpus likelihood under a
unigram LM —

    score(a, b) = count(ab) / (count(a) * count(b))

(the pointwise-mutual-information numerator of the likelihood delta;
pairs of already-common symbols must earn their merge). Floating-point
scores would make the argmax engine-dependent, so — exactly like
``kmeans_quantized`` and the unigram trainer — the objective is
INTEGER-QUANTIZED:

    score_q(a, b) = (count(ab) * SCALE) div (count(a) * count(b))

with exact integer floor division evaluated in DECIMAL(38)/HUGEINT so
no engine overflows, and ties broken by (score_q desc, left, right) —
a total order both engines replay bit-identically. Merge APPLICATION
is byte-identical to BPE's greedy leftmost refusion
(:func:`operators.bpe._merge_adjacent` / the recursive splice CTE), so
a FIXED number of merges unrolls into SQL (:func:`wordpiece_merges_sql`)
and the driver hash-checks the learned merge table itself.

Simplification vs production WordPiece (documented contract): symbols
are plain characters without the ``##`` continuation marking — the
marking changes token SPELLING, not the selection/merge mechanics this
operator verifies (adding it is a string rewrite of the vocab seed).

Scale shape: identical to the BPE trainer — the corpus collapses to
the (word, freq) vocabulary in one shuffle; per iteration the pair
AND symbol counts are vocab-sized explode+groupBy aggregations with
map-side combine, the argmax is a 1-row takeOrdered, and the merge is
a zero-shuffle array fold per word. Driver state per iteration: one
(left, right, count, score) row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F

from http_log_anonymizer_spark.operators.bpe import _merge_adjacent
from http_log_anonymizer_spark.operators.materialize import pin

SCALE = 10**9


def _scored_pairs(v: DataFrame) -> DataFrame:
    """(l, r, c, score) for every adjacent symbol pair in the current
    vocabulary: c = weighted adjacent-pair count, score = the quantized
    likelihood objective against the weighted UNIGRAM symbol counts."""
    pairs = (
        v.select(
            "freq",
            F.explode(
                F.when(
                    F.size("sym") >= 2,
                    F.transform(
                        F.sequence(F.lit(1), F.size("sym") - 1),
                        lambda i: F.struct(
                            F.element_at("sym", i).alias("l"),
                            F.element_at("sym", i + F.lit(1)).alias("r"),
                        ),
                    ),
                ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))
            ).alias("p"),
        )
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("freq").alias("c"))
    )
    syms = (
        v.select("freq", F.explode("sym").alias("s"))
        .groupBy("s")
        .agg(F.sum("freq").alias("sc"))
    )
    # symbol tables are vocab-alphabet-sized — broadcast both probes
    scored = (
        pairs.join(F.broadcast(syms.select(F.col("s").alias("l"), F.col("sc").alias("cl"))), "l")
        .join(F.broadcast(syms.select(F.col("s").alias("r"), F.col("sc").alias("cr"))), "r")
        .select(
            "l",
            "r",
            "c",
            F.expr(
                f"CAST((CAST(c AS DECIMAL(38,0)) * {SCALE})"
                " DIV (CAST(cl AS DECIMAL(19,0)) * cr) AS BIGINT)"
            ).alias("score"),
        )
    )
    return scored


def learn_wordpiece_merges(vocab: DataFrame, k: int) -> list[Row]:
    """First ``k`` WordPiece merges [(step, left, right, pair_count,
    score)] from a (word, freq, sym) vocabulary (see
    :func:`operators.bpe.corpus_vocab`). Stops early when no adjacent
    pair remains. Argmax: score desc, then lexicographic (left,
    right)."""
    v = pin(vocab.select("freq", "sym"))
    merges: list[Row] = []
    for step in range(k):
        top = _scored_pairs(v).orderBy(F.col("score").desc(), "l", "r").take(1)
        if not top:
            break
        best = top[0]
        merges.append(
            Row(
                step=step,
                left=best["l"],
                right=best["r"],
                pair_count=int(best["c"]),
                score=int(best["score"]),
            )
        )
        v = pin(
            v.select(
                "freq", _merge_adjacent(F.col("sym"), best["l"], best["r"]).alias("sym")
            )
        )
    return merges


# ---------------------------------------------------------------------------
# DuckDB replay
# ---------------------------------------------------------------------------


def _wp_ctes(k: int, token_sql: str) -> str:
    """CTE chain replaying ``k`` WordPiece merges over the vocabulary
    of ``token_sql`` (must select a single column ``tok``). Exposes
    ``m{s}`` (the s-th merge: l, r, c, score) and ``v{k}`` (the final
    vocabulary: word, freq, sym). The merge-application splice CTE is
    the same leftmost-refusion recursion as
    :func:`operators.bpe._bpe_ctes` (same chr(31) audit-encoding
    caveat)."""
    sep = "chr(31)"
    parts = [
        f"""v0 AS MATERIALIZED (
  SELECT word, count(*) AS freq, string_split(word, '') AS sym FROM (
    SELECT tok AS word FROM ({token_sql})
  ) GROUP BY word
)"""
    ]
    for s in range(k):
        parts.append(
            f"""pairs{s} AS MATERIALIZED (
  SELECT p.l AS l, p.r AS r, CAST(sum(freq) AS BIGINT) AS c FROM (
    SELECT freq,
           unnest(list_transform(generate_series(1, len(sym) - 1),
             i -> struct_pack(l := sym[i], r := sym[i + 1]))) AS p
    FROM v{s}
  ) GROUP BY p.l, p.r
),
syms{s} AS MATERIALIZED (
  SELECT s, CAST(sum(freq) AS BIGINT) AS sc FROM (
    SELECT freq, unnest(sym) AS s FROM v{s}
  ) GROUP BY s
),
m{s} AS MATERIALIZED (
  SELECT p.l, p.r, p.c,
         CAST((CAST(p.c AS HUGEINT) * {SCALE})
              // (CAST(sl.sc AS HUGEINT) * sr.sc) AS BIGINT) AS score
  FROM pairs{s} p
  JOIN syms{s} sl ON sl.s = p.l
  JOIN syms{s} sr ON sr.s = p.r
  ORDER BY score DESC, p.l, p.r LIMIT 1
),
w{s} AS (
  SELECT word, freq,
         {sep} || array_to_string(sym, {sep}) || {sep} AS enc,
         {sep} || l || {sep} || r || {sep} AS pat,
         {sep} || l || r || {sep} AS rep
  FROM v{s} CROSS JOIN m{s}
  UNION ALL
  SELECT word, freq,
         substr(enc, 1, position(pat IN enc) - 1) || rep
           || substr(enc, position(pat IN enc) + length(pat)),
         pat, rep
  FROM w{s} WHERE position(pat IN enc) > 0
),
v{s + 1} AS MATERIALIZED (
  SELECT word, freq,
         list_filter(string_split(enc, {sep}), x -> x <> '') AS sym
  FROM w{s} WHERE position(pat IN enc) = 0
)"""
        )
    return ",\n".join(parts)


def wordpiece_merges_sql(k: int, token_sql: str) -> str:
    """DuckDB query replaying ``learn_wordpiece_merges(corpus_vocab(
    tokens), k)`` exactly. Output: (step, left, right, pair_count,
    score) per merge."""
    union = "\nUNION ALL\n".join(
        f'SELECT {s} AS step, l AS "left", r AS "right", c AS pair_count, score'
        f" FROM m{s}"
        for s in range(k)
    )
    return "WITH RECURSIVE\n" + _wp_ctes(k, token_sql) + f"\n{union}\nORDER BY step"
