"""Unigram-LM subword vocabulary training (Kudo, ACL 2018 — the
SentencePiece unigram model), as the EM counterpart to the BPE trainer
in :mod:`operators/bpe`.

The real unigram trainer alternates an E-step (Viterbi-segment every
word under current piece scores) with an M-step (re-estimate piece
scores from the chosen segmentations). Floating-point log-likelihoods
would make the Viterbi argmax engine-dependent, so — exactly like
``kmeans_quantized`` (integer-quantized Lloyd's) — this trainer uses an
INTEGER-QUANTIZED Viterbi objective that both Spark and DuckDB evaluate
bit-identically:

    segment(word) = argmin over segmentations of
        (number of pieces,            -- the -log N term dominates
         -(sum of current piece counts),  -- frequency tie-break
         path string)                 -- total order: determinism

i.e. fewest pieces first (in true unigram-LM the per-piece ``-log N``
penalty dominates whenever the candidate vocabulary is small relative
to the corpus), then highest cumulative piece frequency, then the
lexicographically smallest chr(31)-joined path as the final total
order. Every quantity is an exact integer or a byte-compared string,
so a FIXED number of EM rounds replays exactly in SQL
(:func:`unigram_sql` — spans as unnest CTEs, the per-position Viterbi
DP as an unrolled MATERIALIZED-CTE chain with a QUALIFY row_number
argmin, the M-step recount as a split+unnest aggregate).

Model contract (documented, enforced identically in both engines):
- candidate pieces = ALL substrings of length <= ``max_piece`` of the
  analysed words (so every position is always reachable: the
  single-char fallback piece exists by construction — no pruning, the
  EM rounds move MASS between candidates instead of dropping them);
- analysed words = whitespace tokens with 1 <= length <= ``max_word``
  (longer words are out of the training contract, as in any subword
  trainer that caps input piece length);
- round-0 counts = substring occurrence counts weighted by word
  frequency (the standard seed); round r counts = piece usage in round
  r's segmentation, weighted by word frequency;
- chr(31) (the ASCII unit separator) must not occur in the corpus —
  the same audit-encoding caveat as :func:`operators.bpe._bpe_ctes`.

Scale shape (the reason this is trained on the VOCABULARY, not the
token stream): the corpus collapses to (word, freq) in one shuffle —
millions of distinct words where the corpus is trillions of tokens.
Everything after is vocab-sized: spans are <= max_word * max_piece
rows per word, the count tables aggregate with map-side combine, the
count join is a broadcast when the piece table is small, and the
Viterbi DP runs as ONE JVM-side higher-order-function fold per word
(no Python, no per-position shuffle). Driver state: nothing — the
whole train is a single lazy plan.

Reference parity: the reference has no tokenizer trainer (it ships
fixed ETL: `anonymizer/src/main.rs:59-78`); this operator belongs to
the engine-grade training-data extension surface next to
``bpe_learn_merges``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from http_log_anonymizer_spark.operators.materialize import pin

_SEP = "\x1f"

MAX_WORD = 12  # analysed-word length cap (positions in the DP)
MAX_PIECE = 4  # candidate piece length cap (DP fan-in)


def word_vocab(tokens: DataFrame, token_col: str = "tok") -> DataFrame:
    """(word, freq, n) weighted vocabulary over the analysed-word
    domain (1 <= length <= MAX_WORD)."""
    return (
        tokens.groupBy(F.col(token_col).alias("word"))
        .agg(F.count("*").alias("freq"))
        .select("word", "freq", F.length("word").alias("n"))
        .filter((F.col("n") >= 1) & (F.col("n") <= MAX_WORD))
    )


def spans(vocab: DataFrame) -> DataFrame:
    """(word, freq, n, st, en, piece): every candidate piece occurrence
    — substrings of length <= MAX_PIECE at every start position,
    half-open [st, en) in 0-based position coordinates."""
    sp = F.expr(
        f"""flatten(transform(sequence(1, n), st ->
              transform(sequence(1, least({MAX_PIECE}, n - st + 1)), l ->
                struct(st - 1 AS st, st - 1 + l AS en,
                       substring(word, st, l) AS piece))))"""
    )
    return vocab.select(
        "word", "freq", "n", F.explode(sp).alias("s")
    ).select("word", "freq", "n", "s.st", "s.en", "s.piece")


def seed_counts(span_df: DataFrame) -> DataFrame:
    """Round-0 piece counts: substring occurrences weighted by word
    frequency."""
    return span_df.groupBy("piece").agg(F.sum("freq").alias("cnt"))


def _viterbi_path(edges: Column, n: Column) -> Column:
    """The integer-quantized Viterbi DP as one JVM-side fold.

    ``edges`` is an array<struct<st,en,piece,cnt>> for one word; the
    accumulator is an array of per-position states struct<k, negs,
    path> (element i+1 = best state covering word[0:i]). Each step
    ranks the candidates entering position i by (k asc, negs asc, path
    asc) — array_sort's struct ordering — and appends the winner.
    Order-independent in the edge list: ties on the full tuple imply
    identical states. Returns the chr(31)-joined piece path of the
    full-word state."""
    init = F.array(
        F.struct(
            F.lit(0).alias("k"),
            F.lit(0).cast("long").alias("negs"),
            F.lit("").alias("path"),
        )
    )
    step = lambda acc, i: F.concat(  # noqa: E731
        acc,
        F.array(
            F.element_at(
                F.array_sort(
                    F.transform(
                        F.filter(edges, lambda e: e["en"] == i),
                        lambda e: F.struct(
                            (F.element_at(acc, e["st"] + 1)["k"] + 1).alias("k"),
                            (F.element_at(acc, e["st"] + 1)["negs"] - e["cnt"]).alias(
                                "negs"
                            ),
                            F.concat(
                                F.element_at(acc, e["st"] + 1)["path"],
                                F.lit(_SEP),
                                e["piece"],
                            ).alias("path"),
                        ),
                    )
                ),
                1,
            )
        ),
    )
    folded = F.aggregate(F.sequence(F.lit(1), n), init, step)
    return F.element_at(folded, n + 1)["path"]


def segment_round(span_df: DataFrame, counts: DataFrame) -> DataFrame:
    """One E-step: score spans with the current counts (absent pieces
    score 0 — candidates are never pruned, only demoted) and
    Viterbi-segment every word. Returns (word, freq, path)."""
    scored = span_df.join(counts, "piece", "left").select(
        "word",
        "freq",
        "n",
        "st",
        "en",
        "piece",
        F.coalesce("cnt", F.lit(0).cast("long")).alias("cnt"),
    )
    edges = scored.groupBy("word", "freq", "n").agg(
        F.collect_list(F.struct("st", "en", "piece", "cnt")).alias("edges")
    )
    return edges.select(
        "word", "freq", _viterbi_path(F.col("edges"), F.col("n")).alias("path")
    )


def usage_counts(segmented: DataFrame) -> DataFrame:
    """One M-step: piece usage counts from the chosen segmentations,
    weighted by word frequency."""
    pieces = segmented.select(
        "freq",
        F.explode(
            F.filter(F.split("path", _SEP), lambda x: x != F.lit(""))
        ).alias("piece"),
    )
    return pieces.groupBy("piece").agg(F.sum("freq").alias("cnt"))


def train_unigram(tokens: DataFrame, rounds: int = 2) -> DataFrame:
    """``rounds`` EM rounds over the whitespace-token stream; returns
    the final piece count table (piece, cnt)."""
    vocab = word_vocab(tokens)
    sp = pin(spans(vocab))
    counts = seed_counts(sp)
    for _ in range(rounds):
        counts = usage_counts(segment_round(sp, counts))
    return counts


# ---------------------------------------------------------------------------
# DuckDB replay
# ---------------------------------------------------------------------------


def _unigram_ctes(rounds: int, token_sql: str) -> str:
    """CTE chain replaying :func:`train_unigram` exactly. Exposes
    ``c{rounds}`` (piece, cnt). The per-position DP CTEs are
    MATERIALIZED: each state union is referenced twice (by the next
    state and the next position), which would otherwise inline
    exponentially."""
    sep = "chr(31)"
    parts = [
        f"""v AS MATERIALIZED (
  SELECT word, count(*) AS freq, length(word) AS n
  FROM (SELECT tok AS word FROM ({token_sql}))
  WHERE length(word) BETWEEN 1 AND {MAX_WORD}
  GROUP BY word
),
spans AS MATERIALIZED (
  SELECT word, freq, n, sp.st AS st, sp.en AS en, sp.piece AS piece FROM (
    SELECT word, freq, n,
           unnest(flatten(list_transform(generate_series(1, n), st ->
             list_transform(generate_series(1, least({MAX_PIECE}, n - st + 1)), l ->
               struct_pack(st := st - 1, en := st - 1 + l,
                           piece := substr(word, st, l)))))) AS sp
    FROM v)
),
c0 AS MATERIALIZED (
  SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM spans GROUP BY piece
)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""sp{r} AS MATERIALIZED (
  SELECT s.word, s.freq, s.n, s.st, s.en, s.piece,
         COALESCE(c.cnt, 0) AS cnt
  FROM spans s LEFT JOIN c{r - 1} c USING (piece)
),
st{r}_0 AS MATERIALIZED (
  SELECT word, freq, n, 0 AS i, 0 AS k, CAST(0 AS BIGINT) AS negs, '' AS path
  FROM v
)"""
        )
        for i in range(1, MAX_WORD + 1):
            parts.append(
                f"""b{r}_{i} AS MATERIALIZED (
  SELECT word, freq, n, {i} AS i,
         nk AS k, nnegs AS negs, npath AS path FROM (
    -- fresh names: bare k/negs/path here would bind to the
    -- PREDECESSOR columns p.*, silently ranking by the wrong tuple
    SELECT sp.word AS word, sp.freq AS freq, sp.n AS n,
           p.k + 1 AS nk,
           p.negs - sp.cnt AS nnegs,
           p.path || {sep} || sp.piece AS npath
    FROM sp{r} sp JOIN st{r}_{i - 1} p
      ON sp.word = p.word AND p.i = sp.st AND sp.en = {i}
    QUALIFY row_number() OVER (PARTITION BY sp.word
                               ORDER BY nk, nnegs, npath) = 1
  )
),
st{r}_{i} AS MATERIALIZED (
  SELECT * FROM st{r}_{i - 1} UNION ALL SELECT * FROM b{r}_{i}
)"""
            )
        parts.append(
            f"""seg{r} AS MATERIALIZED (
  SELECT freq,
         unnest(list_filter(string_split(path, {sep}), x -> x <> '')) AS piece
  FROM st{r}_{MAX_WORD} WHERE i = n
),
c{r} AS MATERIALIZED (
  SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM seg{r} GROUP BY piece
)"""
        )
    return ",\n".join(parts)


def unigram_sql(rounds: int, token_sql: str, top: int) -> str:
    """DuckDB query replaying ``train_unigram`` and reporting the top
    ``top`` pieces by (cnt desc, piece asc): (piece, cnt, piece_len)."""
    return (
        "WITH "
        + _unigram_ctes(rounds, token_sql)
        + f"""
SELECT piece, cnt, length(piece) AS piece_len
FROM c{rounds}
ORDER BY cnt DESC, piece LIMIT {top}"""
    )


def unigram_encode_sql(rounds: int, token_sql: str) -> str:
    """DuckDB CTE prefix for ENCODING with the trained model: replays
    ``rounds`` EM rounds, then one extra E-step (round ``rounds+1``'s
    segmentation IS the application of the final counts — its unused
    recount CTEs are pruned by the planner). Exposes ``enc`` =
    (word, n_sub): pieces per analysed word. Caller appends its own
    final SELECT; the string already starts with WITH."""
    return (
        "WITH "
        + _unigram_ctes(rounds + 1, token_sql)
        + f""",
enc AS (
  SELECT word,
         len(list_filter(string_split(path, chr(31)), x -> x <> '')) AS n_sub
  FROM st{rounds + 1}_{MAX_WORD} WHERE i = n
)"""
    )


def segment_lengths(tokens: DataFrame, rounds: int = 2) -> DataFrame:
    """(word, n_sub): per-word piece counts under the model trained by
    ``rounds`` EM rounds — the Spark twin of :func:`unigram_encode_sql`
    (one extra E-step with the final counts)."""
    vocab = word_vocab(tokens)
    sp = pin(spans(vocab))
    counts = seed_counts(sp)
    for _ in range(rounds):
        counts = usage_counts(segment_round(sp, counts))
    seg = segment_round(sp, counts)
    return seg.select(
        "word",
        F.size(
            F.filter(F.split("path", _SEP), lambda x: x != F.lit(""))
        ).alias("n_sub"),
    )


# ---------------------------------------------------------------------------
# WordPiece-style greedy longest-match encoding (Wu et al., 2016 —
# the application-side algorithm of BERT's tokenizer) over the
# unigram-trained piece vocabulary: the third classic subword
# lifecycle next to BPE merges and unigram Viterbi.
# ---------------------------------------------------------------------------


def greedy_segment_stats(
    tokens: DataFrame, rounds: int = 2, min_count: int = 2
) -> DataFrame:
    """(word, n_pieces, n_unk): greedy longest-match segmentation of
    every analysed word against the vocabulary of pieces the
    ``rounds``-round unigram trainer actually used at least
    ``min_count`` times. At each position the longest matching piece
    is consumed; a position with no match emits one single-char
    UNK piece (per-position fallback — integer-deterministic, unlike
    whole-word UNK which would hide partial coverage).

    The greedy walk is ONE JVM-side fold per word over a broadcastable
    (start -> longest-match) map — no Python, no per-position shuffle;
    the jump table is built by a vocab equi-join on the span table,
    which is the only corpus-vocabulary-sized work."""
    vocab = word_vocab(tokens)
    sp = pin(spans(vocab))
    counts = seed_counts(sp)
    for _ in range(rounds):
        counts = usage_counts(segment_round(sp, counts))
    pieces = counts.filter(F.col("cnt") >= min_count).select("piece")
    bl = (
        sp.join(pieces, "piece")
        .groupBy("word", "st")
        .agg(F.max(F.col("en") - F.col("st")).alias("bl"))
    )
    jumps = (
        sp.select("word", "freq", "n").distinct()
        .join(
            bl.groupBy("word").agg(
                F.map_from_entries(
                    F.collect_list(F.struct("st", "bl"))
                ).alias("jmp")
            ),
            "word",
            "left",
        )
    )
    init = F.struct(
        F.lit(1).alias("pos"), F.lit(0).alias("np"), F.lit(0).alias("nu")
    )
    def step(acc, i):
        # NULL when the word has no jump map at all OR no match here
        bl_val = F.when(
            F.col("jmp").isNotNull(), F.element_at(F.col("jmp"), acc["pos"] - 1)
        )
        return F.when(i != acc["pos"], acc).otherwise(
            F.when(
                bl_val.isNotNull(),
                F.struct(
                    (acc["pos"] + bl_val).alias("pos"),
                    (acc["np"] + 1).alias("np"),
                    acc["nu"].alias("nu"),
                ),
            ).otherwise(
                F.struct(
                    (acc["pos"] + 1).alias("pos"),
                    (acc["np"] + 1).alias("np"),
                    (acc["nu"] + 1).alias("nu"),
                )
            )
        )
    folded = F.aggregate(F.sequence(F.lit(1), F.col("n")), init, step)
    return jumps.select(
        "word",
        folded["np"].alias("n_pieces"),
        folded["nu"].alias("n_unk"),
    )


def greedy_encode_sql(rounds: int, token_sql: str, min_count: int = 2) -> str:
    """DuckDB CTE prefix replaying :func:`greedy_segment_stats`:
    unigram training (``_unigram_ctes``) -> vocab cut at ``min_count``
    -> per-(word, start) longest-match table -> the greedy walk as a
    TRUE recursive CTE (the walk is sequential, not unrolled — each
    step jumps by the matched length). Exposes ``genc`` =
    (word, n_pieces, n_unk). Caller appends its own final SELECT; the
    string already starts with WITH RECURSIVE."""
    return (
        "WITH RECURSIVE "
        + _unigram_ctes(rounds, token_sql)
        + f""",
gvocab AS (SELECT piece FROM c{rounds} WHERE cnt >= {min_count}),
gbl AS (
  SELECT word, st, max(en - st) AS bl
  FROM spans JOIN gvocab USING (piece)
  GROUP BY word, st
),
gwalk AS (
  SELECT word, n, 1 AS pos, 0 AS np, 0 AS nu FROM v
  UNION ALL
  SELECT w.word, w.n,
         w.pos + COALESCE(b.bl, 1),
         w.np + 1,
         w.nu + CASE WHEN b.bl IS NULL THEN 1 ELSE 0 END
  FROM gwalk w LEFT JOIN gbl b ON b.word = w.word AND b.st = w.pos - 1
  WHERE w.pos <= w.n
),
genc AS (SELECT word, np AS n_pieces, nu AS n_unk FROM gwalk WHERE pos = n + 1)"""
    )
