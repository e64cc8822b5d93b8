"""Distributed BPE merge learning (Sennrich et al., ACL 2016).

Learns the first ``k`` byte-pair-encoding merges from a corpus the way
the reference algorithm does — iteratively take the most frequent
adjacent symbol pair and fuse it — but with every corpus-sized step
expressed as a DataFrame aggregation:

- The corpus collapses to a (word, freq) VOCABULARY first (classic BPE
  operates on the weighted vocab, not the token stream): one shuffle on
  the word key, after which every iteration touches vocab-sized data
  only. At 100 TB the vocab is millions of rows where the corpus is
  trillions — this is what makes iterating feasible.
- Per iteration: adjacent-pair counts are an explode + groupBy(pair)
  with map-side combine; the argmax pair (count desc, then lexicographic
  — the deterministic tie-break) is a 1-row takeOrdered to the driver;
  the merge application is a pure array fold per word (greedy
  left-to-right, matching the reference implementation) — zero shuffle.
- Driver state per iteration is ONE (left, right, count) row; the vocab
  stays distributed, lineage truncated per round via pin().

The iteration is driver-coordinated but every step is deterministic
(exact integer counts, lexicographic tie-breaks, greedy integer/string
merges), so a FIXED number of merges unrolls into SQL:
:func:`bpe_merges_sql` replays the learner in DuckDB — pair counts as
unnest+groupBy CTEs, the argmax as ORDER BY c DESC, l, r LIMIT 1, and
the greedy left-to-right merge as a recursive CTE that splices out the
leftmost occurrence until none remain (leftmost-first refusion is
exactly the fold's semantics). The registry entry therefore carries a
full hash oracle (VERDICT r02); tests/test_bpe.py additionally proves
the distributed learner identical to a pure-Python reference BPE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F

from http_log_anonymizer_spark.operators.materialize import pin


def _merge_adjacent(sym: F.Column, left: str, right: str) -> F.Column:
    """Greedy left-to-right fusion of adjacent (left, right) symbol
    pairs inside one symbol array — the fold mirrors the reference
    merge loop: a freshly fused symbol immediately becomes the 'last'
    element, so overlapping occurrences (e.g. 'aaa' under (a,a)) fuse
    left-first exactly like sentencepiece/subword-nmt."""
    fused = F.lit(left + right)
    return F.aggregate(
        sym,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (s == F.lit(right)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(fused)),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def corpus_vocab(tokens: DataFrame, token_col: str = "tok") -> DataFrame:
    """(word, freq, sym) weighted vocabulary with character-split
    symbol arrays — the working set BPE iterates over."""
    return (
        tokens.groupBy(F.col(token_col).alias("word"))
        .agg(F.count("*").alias("freq"))
        .select("word", "freq", F.split("word", "(?!$)").alias("sym"))
    )


def _bpe_ctes(k: int, token_sql: str) -> str:
    """Shared CTE chain for the SQL replay of ``k`` BPE merges over the
    vocabulary of ``token_sql`` (must select a single column ``tok``).
    Exposes ``m{s}`` (the s-th merge: l, r, c) and ``v{k}`` (the final
    vocabulary: word, freq, sym).

    The merge application encodes each word's symbols as a
    chr(31)-separated string (the unit separator never occurs in the
    corpus; an occurrence would only perturb this audit query, not the
    learner) and a recursive CTE splices out the LEFTMOST
    ``sep+l+sep+r+sep`` occurrence until none remain — re-scanning from
    the start each time reproduces the greedy fold: a fused symbol
    contains no internal separator, so no new earlier match can
    appear."""
    sep = "chr(31)"
    parts = [
        f"""v0 AS (
  SELECT word, count(*) AS freq, string_split(word, '') AS sym FROM (
    SELECT tok AS word FROM ({token_sql})
  ) GROUP BY word
)"""
    ]
    for s in range(k):
        parts.append(
            f"""pairs{s} AS (
  SELECT p.l AS l, p.r AS r, CAST(sum(freq) AS BIGINT) AS c FROM (
    SELECT freq,
           unnest(list_transform(generate_series(1, len(sym) - 1),
             i -> struct_pack(l := sym[i], r := sym[i + 1]))) AS p
    FROM v{s}
  ) GROUP BY p.l, p.r
),
m{s} AS (SELECT l, r, c FROM pairs{s} ORDER BY c DESC, l, r LIMIT 1),
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
v{s + 1} AS (
  SELECT word, freq,
         list_filter(string_split(enc, {sep}), x -> x <> '') AS sym
  FROM w{s} WHERE position(pat IN enc) = 0
)"""
        )
    return ",\n".join(parts)


def bpe_merges_sql(k: int, token_sql: str) -> str:
    """DuckDB query replaying ``learn_bpe_merges(corpus_vocab(tokens),
    k)`` exactly. Output: (step, left, right, pair_count) per merge."""
    union = "\nUNION ALL\n".join(
        f'SELECT {s} AS step, l AS "left", r AS "right", c AS pair_count FROM m{s}'
        for s in range(k)
    )
    return "WITH RECURSIVE\n" + _bpe_ctes(k, token_sql) + f"\n{union}\nORDER BY step"


def bpe_vocab_sql(k: int, token_sql: str) -> str:
    """DuckDB CTE prefix (caller appends its own final SELECT) exposing
    ``v{k}`` — the vocabulary AFTER the first ``k`` learned merges:
    (word, freq, sym). Prepend verbatim: ``{bpe_vocab_sql(...)}, ...``
    already starts with WITH RECURSIVE."""
    return "WITH RECURSIVE\n" + _bpe_ctes(k, token_sql)


def apply_merges(sym: F.Column, merges: list[Row]) -> F.Column:
    """Apply learned merges in order to one symbol array — k chained
    greedy folds, all JVM-side higher-order functions."""
    out = sym
    for m in merges:
        out = _merge_adjacent(out, m["left"], m["right"])
    return out


def learn_bpe_merges(vocab: DataFrame, k: int) -> list[Row]:
    """First ``k`` BPE merges [(step, left, right, pair_count)] from a
    (word, freq, sym) vocabulary. Stops early when no adjacent pair
    remains. Ties break deterministically: highest count, then
    lexicographic (left, right)."""
    v = pin(vocab.select("freq", "sym"))
    merges: list[Row] = []
    for step in range(k):
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
        top = pairs.orderBy(F.col("c").desc(), "l", "r").take(1)
        if not top:
            break
        best = top[0]
        merges.append(
            Row(step=step, left=best["l"], right=best["r"], pair_count=int(best["c"]))
        )
        v = pin(
            v.select(
                "freq", _merge_adjacent(F.col("sym"), best["l"], best["r"]).alias("sym")
            )
        )
    return merges
