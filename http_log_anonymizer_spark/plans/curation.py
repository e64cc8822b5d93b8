"""Corpus-curation operators over ``documents`` — the remaining
LLM-training-data components: subword tokenization statistics, feature-
hashed embedding generation, model-based quality filtering, blocklist
screening, and the flagship end-to-end curation report that composes
dedup + language filter + quality filter into one accounting query
(the CCNet/Gopher-style pipeline shape, each stage a Catalyst
expression).

Design for 100 TB:

- Every per-document feature (pieces, subword estimates, hashed
  embedding, quality score, blocklist hits) is a pure projection —
  map-side, zero shuffle, whole-stage codegen. The only exchanges in
  this module are (a) tiny groupBy aggregations on low-cardinality keys
  (lang/source: 5-20 groups) and (b) ``llm_corpus_report``'s window
  over the exact-dup fingerprint — the same single shuffle the exact
  dedup pass already pays, reused here for first-occurrence ranking.
- The hashing-trick embedding (Weinberger et al., ICML 2009 — the
  Vowpal Wabbit scheme) needs no vocabulary, no model file, and no
  Python: bucket and sign both derive from the same deterministic
  ``hash64`` used by the MinHash/SimHash family, so embeddings are
  reproducible across engines and the DuckDB oracle verifies them
  bit-for-bit (after fixed rounding).
- The quality classifier is a fixed-weight logistic model over
  engineered features — honestly documented as a stand-in for a
  trained fastText-style scorer: the FEATURE PLUMBING (ratio features,
  score, threshold, per-source accounting) is the operator under test;
  swapping learned weights in changes no plan shape.

Reference scope: the reference engine (anonymizer/src/lib.rs) has no
curation surface — these are the engine-grade extensions mandated for
the training-data pipeline, modeled on public pipeline descriptions
(CCNet, Gopher §A.2, RefinedWeb §3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from http_log_anonymizer_spark.functions.text import (
    hash64,
    hash64_sql,
    shingles,
    shingles_sql,
    tokens_ws,
)
from http_log_anonymizer_spark.operators.materialize import pin
from http_log_anonymizer_spark.plans.registry import register
from http_log_anonymizer_spark.sources.batch import load_table

# ---------------------------------------------------------------------------
# Shared feature expressions (Spark column + DuckDB SQL twins; keep in
# lockstep — the oracle must compute the identical double, in the same
# operation order, so rounded outputs agree)
# ---------------------------------------------------------------------------

# Logistic quality model: score = sigmoid(W0 + WU*uniq_ratio +
# WS*stop_ratio + WL*ln(n_toks)). Weights calibrated on the synthetic
# corpus so the 0.5 threshold actually discriminates (~48% keep at
# sf0.01, scores spanning 0.35-0.85) — a degenerate always-keep/always-
# drop threshold would leave the filter path untested.
_W0, _WU, _WS, _WL = -4.0, 4.0, 3.0, 0.4
# "Stopwords": the highest-frequency corpus words (the synthetic vocab
# is DB jargon, not English; any fixed list works — the operator is the
# ratio feature, not the list).
_STOPWORDS = ("join", "hash", "row", "batch", "scan")

_STOP_SQL = ", ".join(f"'{w}'" for w in _STOPWORDS)


def _quality_features(toks: F.Column) -> dict[str, F.Column]:
    n = F.size(toks)
    return {
        "n_toks": n,
        "uniq_ratio": F.size(F.array_distinct(toks)) * F.lit(1.0) / n,
        "stop_ratio": F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS)))
        * F.lit(1.0)
        / n,
    }


def _quality_score(f: dict[str, F.Column]) -> F.Column:
    z = (
        F.lit(_W0)
        + F.lit(_WU) * f["uniq_ratio"]
        + F.lit(_WS) * f["stop_ratio"]
        + F.lit(_WL) * F.log(f["n_toks"])
    )
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


# DuckDB twins. `toks` must name a list column in scope.
_FEATURES_SQL = """
  len(toks) AS n_toks,
  len(list_distinct(toks)) * 1.0 / len(toks) AS uniq_ratio,
  len(list_filter(toks, t -> t IN ({stop}))) * 1.0 / len(toks) AS stop_ratio
""".format(stop=_STOP_SQL)

_SCORE_SQL = (
    f"1/(1 + exp(-({_W0} + {_WU}*uniq_ratio + {_WS}*stop_ratio + {_WL}*ln(n_toks))))"
)


# ---------------------------------------------------------------------------
# Subword tokenization statistics
# ---------------------------------------------------------------------------

# Portable pre-tokenizer (identical semantics in Java regex and RE2):
# letter runs | digit runs | punctuation runs. The GPT-2 pattern's
# apostrophe/space handling is avoided deliberately — `\w`/`\s` class
# definitions differ across engines.
_PRETOK_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]+"
# BPE-fertility proxy: a piece of length L costs ceil(L/4) subword
# tokens (~4 chars/token, the published GPT-2/LLaMA English average).
_CHARS_PER_SUBWORD = 4


@register(
    "bpe_pretokenize_stats",
    oracle=f"""
WITH p AS (
  SELECT lang,
         regexp_extract_all(text, '{_PRETOK_RE}') AS pieces,
         string_split(text, ' ') AS words
  FROM documents
),
s AS (
  SELECT lang,
         len(pieces) AS n_pieces,
         len(words) AS n_words,
         list_sum(list_transform(pieces,
           x -> CAST(ceil(length(x) * 1.0 / {_CHARS_PER_SUBWORD}) AS BIGINT)))
           AS n_subwords
  FROM p
)
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(n_pieces) AS BIGINT) AS total_pieces,
       CAST(sum(n_subwords) AS BIGINT) AS total_subwords,
       round(sum(n_subwords) * 1.0 / sum(n_words), 4) AS subwords_per_word,
       round(avg(n_subwords), 4) AS avg_subwords_per_doc
FROM s GROUP BY lang ORDER BY lang
""",
)
def bpe_pretokenize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer budget accounting per language: regex pre-tokenization
    (letter/digit/punctuation runs) plus a ceil(len/4) subword-fertility
    estimate per piece — the pre-pass every training run does to size
    its token budget. All per-doc work is one codegen'd projection
    (regexp_extract_all + an array fold); the groupBy shuffles 5 rows
    per partition (one per lang). Map-only at any scale."""
    d = load_table(spark, sf_dir, "documents")
    pieces = F.regexp_extract_all(F.col("text"), F.lit(_PRETOK_RE), 0)
    per_doc = d.select(
        "lang",
        F.size(pieces).alias("n_pieces"),
        F.size(tokens_ws("text")).alias("n_words"),
        F.aggregate(
            F.transform(
                pieces,
                lambda x: F.ceil(F.length(x) * F.lit(1.0) / _CHARS_PER_SUBWORD),
            ),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ).alias("n_subwords"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_pieces").alias("total_pieces"),
            F.sum("n_subwords").alias("total_subwords"),
            F.round(F.sum("n_subwords") * 1.0 / F.sum("n_words"), 4).alias(
                "subwords_per_word"
            ),
            F.round(F.avg("n_subwords"), 4).alias("avg_subwords_per_doc"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Feature-hashed embedding generation
# ---------------------------------------------------------------------------

_EMB_DIM = 16
_EMB_SEED = "feat"


@register(
    "embed_hashing_trick",
    oracle=f"""
WITH t AS (
  SELECT doc_id,
         list_transform(string_split(text, ' '),
                        s -> {hash64_sql('s', _EMB_SEED)}) AS hs
  FROM documents
),
r AS (
  SELECT doc_id,
         list_transform(range(0, {_EMB_DIM}), j ->
             CAST(len(list_filter(hs, h -> h % {_EMB_DIM} = j
                                       AND ((h >> 4) & 1) = 1)) AS BIGINT)
           - CAST(len(list_filter(hs, h -> h % {_EMB_DIM} = j
                                       AND ((h >> 4) & 1) = 0)) AS BIGINT)
         ) AS raw
  FROM t
),
n AS (
  SELECT doc_id, raw,
         sqrt(list_sum(list_transform(raw, x -> x * x * 1.0))) AS nrm
  FROM r
)
SELECT doc_id,
       {", ".join(
           f"round(CASE WHEN nrm > 0 THEN raw[{j + 1}] / nrm ELSE 0.0 END, 4)"
           f" AS e{j:02d}"
           for j in range(_EMB_DIM)
       )}
FROM n ORDER BY doc_id
""",
)
def embed_hashing_trick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-free document embeddings via the hashing trick
    (Weinberger et al. 2009): each token hashes to one of {_EMB_DIM}
    buckets with a +/-1 sign drawn from another hash bit (signed
    hashing keeps collisions zero-mean), then the count vector is
    L2-normalized. The upstream generator for the ANN/near-dup family
    when no trained encoder is available.

    ZERO SHUFFLE: bucket counts, sign, and normalization are all
    array expressions over the token list — at 100 TB this is pure
    map work, embarrassingly parallel, and the output feeds straight
    into the LSH/IVF index builders (plans/similarity.py) without
    leaving the executor. Deterministic via the cross-engine ``hash64``
    (functions/text.py), so the DuckDB oracle reproduces every vector
    bit-for-bit after fixed 4-dp rounding.

    The registered output projects the 16 dimensions as scalar columns
    (e00..e15) rather than one array column: the driver's value hash is
    only known-good on scalar cells, and wide-vs-array is a projection
    detail, not a semantic one (library callers take the array from the
    intermediate)."""
    d = load_table(spark, sf_dir, "documents")
    hs = d.select(
        "doc_id",
        F.transform(tokens_ws("text"), lambda s: hash64(s, _EMB_SEED)).alias("hs"),
    )

    def _signed_count(j: int) -> F.Column:
        pos = F.size(
            F.filter(
                "hs",
                lambda h: (h % _EMB_DIM == j)
                & (F.shiftright(h, 4).bitwiseAND(F.lit(1)) == 1),
            )
        )
        neg = F.size(
            F.filter(
                "hs",
                lambda h: (h % _EMB_DIM == j)
                & (F.shiftright(h, 4).bitwiseAND(F.lit(1)) == 0),
            )
        )
        return (pos.cast("long") - neg.cast("long")).alias(f"r{j}")

    raw = hs.select(
        "doc_id", F.array(*[_signed_count(j) for j in range(_EMB_DIM)]).alias("raw")
    )
    nrm = raw.select(
        "doc_id",
        "raw",
        F.sqrt(
            F.aggregate(
                F.transform("raw", lambda x: x * x * F.lit(1.0)),
                F.lit(0.0),
                lambda a, x: a + x,
            )
        ).alias("nrm"),
    )
    return nrm.select(
        "doc_id",
        *[
            F.round(
                F.when(
                    F.col("nrm") > 0, F.col("raw")[j] / F.col("nrm")
                ).otherwise(F.lit(0.0)),
                4,
            ).alias(f"e{j:02d}")
            for j in range(_EMB_DIM)
        ],
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Model-based quality filtering
# ---------------------------------------------------------------------------


@register(
    "quality_classifier",
    oracle=f"""
WITH t AS (SELECT source, string_split(text, ' ') AS toks FROM documents),
f AS (SELECT source, {_FEATURES_SQL} FROM t),
s AS (SELECT source, {_SCORE_SQL} AS score FROM f)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN score >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       round(sum(CASE WHEN score >= 0.5 THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
         AS keep_rate,
       round(avg(score), 4) AS avg_score
FROM s GROUP BY source ORDER BY source
""",
)
def quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source accounting of a fixed-weight logistic quality model
    (uniq-token ratio, stopword ratio, log length — the fastText-style
    feature plumbing with hand-set weights; a trained model swaps in
    without changing the plan). Features and score are one codegen'd
    projection; the groupBy shuffles 20 source rows. Map-only at any
    scale."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("source", tokens_ws("text").alias("toks"))
    f = _quality_features(F.col("toks"))
    scored = t.select("source", _quality_score(f).alias("score"))
    keep = F.when(F.col("score") >= 0.5, 1).otherwise(0)
    return (
        scored.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(keep).alias("n_keep"),
            F.round(F.sum(keep) * 1.0 / F.count("*"), 4).alias("keep_rate"),
            F.round(F.avg("score"), 4).alias("avg_score"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Blocklist screening
# ---------------------------------------------------------------------------

_BLOCKLIST = ("slow", "merge", "lock")  # 'lock' absent: exercises the zero path
_BLOCK_SQL = ", ".join(f"'{w}'" for w in _BLOCKLIST)


@register(
    "blocklist_hit_report",
    oracle=f"""
WITH t AS (SELECT source, string_split(text, ' ') AS toks FROM documents),
h AS (
  SELECT source,
         len(list_filter(toks, t -> t IN ({_BLOCK_SQL}))) AS hits
  FROM t
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_flagged,
       CAST(sum(hits) AS BIGINT) AS total_hits,
       round(sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
         AS flag_rate
FROM h GROUP BY source ORDER BY source
""",
)
def blocklist_hit_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Safety/blocklist screening accounting: per-source counts of
    documents containing blocklisted terms and total term occurrences.
    The per-doc hit count is a token-array filter (map-only); a real
    deployment swaps the literal IN-list for a broadcast blocklist
    table with the same plan shape. Shuffles 20 source rows."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("source", tokens_ws("text").alias("toks"))
    hits = F.size(F.filter("toks", lambda t_: t_.isin(*_BLOCKLIST)))
    flagged = F.when(F.col("hits") > 0, 1).otherwise(0)
    return (
        t.select("source", hits.alias("hits"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(flagged).alias("docs_flagged"),
            F.sum("hits").alias("total_hits"),
            F.round(F.sum(flagged) * 1.0 / F.count("*"), 4).alias("flag_rate"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Flagship composition: the end-to-end curation report
# ---------------------------------------------------------------------------

_LANG_ALLOW = ("en", "de", "fr")
_LANG_SQL = ", ".join(f"'{x}'" for x in _LANG_ALLOW)


@register(
    "llm_corpus_report",
    oracle=f"""
WITH f AS (
  SELECT source, lang, doc_id,
         string_split(text, ' ') AS toks,
         md5(lower(trim(text))) AS fp
  FROM documents
),
m AS (SELECT *, min(doc_id) OVER (PARTITION BY fp) AS first_id FROM f),
q AS (SELECT source, lang, doc_id, first_id, {_FEATURES_SQL} FROM m),
s AS (
  SELECT source, n_toks,
         CASE WHEN doc_id <> first_id THEN 'exact_dup'
              WHEN lang NOT IN ({_LANG_SQL}) THEN 'lang'
              WHEN {_SCORE_SQL} < 0.5 THEN 'quality'
              ELSE 'kept' END AS reason
  FROM q
)
SELECT source, reason,
       count(*) AS n_docs,
       CAST(sum(n_toks) AS BIGINT) AS n_tokens
FROM s GROUP BY source, reason ORDER BY source, reason
""",
)
def llm_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation in ONE declarative plan — the
    CCNet/RefinedWeb pipeline shape: exact dedup (keep first occurrence
    per normalized-text fingerprint), language allowlist, then the
    logistic quality filter, with first-drop-reason precedence
    (exact_dup > lang > quality) and per-source document/token
    accounting for every stage's outflow.

    The ONLY data-sized shuffle is the window over the dedup
    fingerprint — identical to the exchange dedup_exact already pays;
    language and quality stages are pure projections fused into the
    same stage by Catalyst, and the final groupBy moves 20x4 rows.
    At 100 TB this runs exactly one pass over the corpus plus one
    hash-partitioned exchange, which is the optimum for any pipeline
    that includes exact dedup at all."""
    d = load_table(spark, sf_dir, "documents")
    f = d.select(
        "source",
        "lang",
        "doc_id",
        tokens_ws("text").alias("toks"),
        F.md5(F.lower(F.trim(F.col("text")))).alias("fp"),
    )
    m = f.withColumn("first_id", F.min("doc_id").over(Window.partitionBy("fp")))
    feats = _quality_features(F.col("toks"))
    reason = (
        F.when(F.col("doc_id") != F.col("first_id"), F.lit("exact_dup"))
        .when(~F.col("lang").isin(*_LANG_ALLOW), F.lit("lang"))
        .when(_quality_score(feats) < 0.5, F.lit("quality"))
        .otherwise(F.lit("kept"))
    )
    s = m.select("source", feats["n_toks"].alias("n_toks"), reason.alias("reason"))
    return (
        s.groupBy("source", "reason")
        .agg(F.count("*").alias("n_docs"), F.sum("n_toks").alias("n_tokens"))
        .orderBy("source", "reason")
    )


# ---------------------------------------------------------------------------
# Sequence packing (batch-construction pre-pass)
# ---------------------------------------------------------------------------

_PACK_CAP = 512  # subword budget per packed sequence

_SUBWORDS_SQL = f"""
  list_sum(list_transform(regexp_extract_all(text, '{_PRETOK_RE}'),
    x -> CAST(ceil(length(x) * 1.0 / {_CHARS_PER_SUBWORD}) AS BIGINT)))
""".strip()


def _subword_count() -> F.Column:
    pieces = F.regexp_extract_all(F.col("text"), F.lit(_PRETOK_RE), 0)
    return F.aggregate(
        F.transform(
            pieces, lambda x: F.ceil(F.length(x) * F.lit(1.0) / _CHARS_PER_SUBWORD)
        ),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )


@register(
    "pack_sequences",
    oracle=f"""
WITH s AS (
  SELECT source, doc_id, {_SUBWORDS_SQL} AS n_sub FROM documents
),
c AS (
  SELECT source, doc_id, n_sub,
         sum(n_sub) OVER (PARTITION BY source ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum
  FROM s
),
b AS (
  SELECT source,
         CAST(floor((cum - n_sub) * 1.0 / {_PACK_CAP}) AS BIGINT) AS bin_id,
         n_sub
  FROM c
)
SELECT source, bin_id,
       count(*) AS n_docs,
       CAST(sum(n_sub) AS BIGINT) AS bin_subwords
FROM b GROUP BY source, bin_id ORDER BY source, bin_id
""",
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing accounting: documents are packed in doc_id
    order into fixed token-budget bins of 512 (_PACK_CAP) subwords per
    source —
    the streaming first-fit a training loader uses to build
    constant-length batches (a document is counted in the bin where it
    STARTS, the straddle convention). Output is one row per
    (source, bin) with its document count and subword load, i.e. the
    exact batch manifest.

    Scale shape: ONE shuffle — the running-sum window partitions by
    source, so packing parallelizes across sources (a training shard =
    a source in practice); within a source the cumulative sum is the
    sequential pass packing fundamentally requires. The groupBy rides
    the same partitioning (no second exchange of corpus size).
    """
    d = load_table(spark, sf_dir, "documents")
    s = d.select("source", "doc_id", _subword_count().alias("n_sub"))
    w = Window.partitionBy("source").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = s.withColumn("cum", F.sum("n_sub").over(w))
    b = c.select(
        "source",
        F.floor((F.col("cum") - F.col("n_sub")) * F.lit(1.0) / _PACK_CAP)
        .cast("long")
        .alias("bin_id"),
        "n_sub",
    )
    return (
        b.groupBy("source", "bin_id")
        .agg(F.count("*").alias("n_docs"), F.sum("n_sub").alias("bin_subwords"))
        .orderBy("source", "bin_id")
    )


# ---------------------------------------------------------------------------
# Mix-sampling application (consumes the weights domain_mix_report reports)
# ---------------------------------------------------------------------------

_MIX_SEED = "mix"
_MIX_MOD = 1_000_000


@register(
    "apply_mix_sampling",
    oracle=f"""
WITH t AS (
  SELECT lang, doc_id, len(string_split(text, ' ')) AS n_tok FROM documents
),
agg AS (
  SELECT lang, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS lang_tokens
  FROM t GROUP BY lang
),
wt AS (
  SELECT lang, n_docs, lang_tokens,
         least(1.0, (SELECT sum(lang_tokens) * 1.0 / count(*) FROM agg)
                    / lang_tokens) AS w
  FROM agg
),
kept AS (
  SELECT t.lang, t.n_tok,
         CASE WHEN {hash64_sql('CAST(t.doc_id AS VARCHAR)', _MIX_SEED)}
                   % {_MIX_MOD}
              < CAST(floor(w * {_MIX_MOD}) AS BIGINT)
              THEN 1 ELSE 0 END AS keep
  FROM t JOIN wt ON t.lang = wt.lang
)
SELECT k.lang,
       w.n_docs,
       CAST(sum(k.keep) AS BIGINT) AS docs_kept,
       round(w.w, 6) AS weight,
       CAST(sum(k.keep * k.n_tok) AS BIGINT) AS kept_tokens
FROM kept k JOIN wt w ON k.lang = w.lang
GROUP BY k.lang, w.n_docs, w.w ORDER BY k.lang
""",
)
def apply_mix_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLIES a uniform-language training mix (domain_mix_report only
    reports the weights): each language is capped at the per-language
    average token share (downsample-only, weight = min(1, avg/share)),
    and individual documents pass a deterministic hash gate
    ``hash64(doc_id) % 1e6 < weight * 1e6`` — the reproducible
    Bernoulli thinning every mixing stage needs (same doc always gets
    the same verdict; no RNG state, no sampleBy approximation).

    Scale shape: pass 1 aggregates 5 language rows (map-side combined);
    the weight table then BROADCASTS back onto the corpus for a
    map-only filtered second pass. The alternative single-pass window
    over lang would shuffle the entire corpus on a 5-value key —
    catastrophic skew at 100 TB; two scans of a columnar source beat
    one skewed exchange by orders of magnitude.
    """
    d = load_table(spark, sf_dir, "documents")
    t = d.select("lang", "doc_id", F.size(tokens_ws("text")).alias("n_tok"))
    agg = t.groupBy("lang").agg(
        F.count("*").alias("n_docs"), F.sum("n_tok").alias("lang_tokens")
    )
    tot = agg.agg(
        F.sum("lang_tokens").alias("corpus_tokens"), F.count("*").alias("n_langs")
    )
    wt = agg.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        F.least(
            F.lit(1.0),
            (F.col("corpus_tokens") * F.lit(1.0) / F.col("n_langs"))
            / F.col("lang_tokens"),
        ).alias("w"),
    )
    gate = hash64(F.col("doc_id").cast("string"), _MIX_SEED) % _MIX_MOD
    keep = F.when(
        gate < F.floor(F.col("w") * _MIX_MOD).cast("long"), 1
    ).otherwise(0)
    kept = t.join(F.broadcast(wt), "lang").select(
        "lang", "n_docs", "n_tok", F.col("w"), keep.alias("keep")
    )
    return (
        kept.groupBy("lang", "n_docs", "w")
        .agg(
            F.sum("keep").alias("docs_kept"),
            F.sum(F.col("keep") * F.col("n_tok")).alias("kept_tokens"),
        )
        .select(
            "lang",
            "n_docs",
            "docs_kept",
            F.round("w", 6).alias("weight"),
            "kept_tokens",
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# DSIR importance resampling (Xie et al., NeurIPS 2023)
# ---------------------------------------------------------------------------

# Hashed n-gram importance resampling: fit bag-of-hashed-ngram unigram+
# bigram distributions for a TARGET slice (p) and the RAW corpus (q),
# weight every raw document by log w(x) = sum_b c_x[b]*(ln p[b] -
# ln q[b]), and select the top-k — the published recipe for choosing
# pretraining data that "looks like" a trusted target domain. Bucket
# count is small (the paper hashes into 10^4; a synthetic-scale 2^8
# here) so the log-ratio table ALWAYS broadcasts, and the per-doc
# weight is one groupBy(doc_id) over the feature stream.
_DSIR_BUCKETS = 256
_DSIR_TARGET_LANG = "en"
_DSIR_TOP_K = 200


@register(
    "dsir_importance_weights",
    oracle=f"""
WITH t AS (
  SELECT doc_id, lang, source, string_split(text, ' ') AS ts FROM documents
),
feats AS (
  SELECT doc_id, lang,
         unnest(list_transform(
           list_concat(ts, {shingles_sql('ts', 2)}),
           g -> {hash64_sql('g')} % {_DSIR_BUCKETS}
         )) AS b
  FROM t
),
q AS (SELECT b, count(*) AS nq FROM feats GROUP BY b),
p AS (SELECT b, count(*) AS np FROM feats WHERE lang = '{_DSIR_TARGET_LANG}' GROUP BY b),
tot AS (
  SELECT (SELECT count(*) FROM feats) AS tq,
         (SELECT count(*) FROM feats WHERE lang = '{_DSIR_TARGET_LANG}') AS tp
),
ratio AS (
  SELECT q.b,
         ln((COALESCE(p.np, 0) + 1.0) / (tot.tp + {_DSIR_BUCKETS}))
         - ln((q.nq + 1.0) / (tot.tq + {_DSIR_BUCKETS})) AS lr
  FROM q LEFT JOIN p ON q.b = p.b CROSS JOIN tot
),
w AS (
  SELECT f.doc_id, round(sum(r.lr), 4) AS log_w, count(*) AS n_feats
  FROM feats f JOIN ratio r ON f.b = r.b
  GROUP BY f.doc_id
)
SELECT d.doc_id, d.lang, d.source, w.log_w, w.n_feats
FROM w JOIN documents d ON d.doc_id = w.doc_id
ORDER BY w.log_w DESC, d.doc_id
LIMIT {_DSIR_TOP_K}
""",
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al., NeurIPS 2023): hashed-n-gram
    importance weights of every document against a target domain (the
    'en' slice, _DSIR_TARGET_LANG), top-200 (_DSIR_TOP_K) selected
    deterministically.

    Scale shape: the feature stream (unigrams + bigrams hashed into
    256 (_DSIR_BUCKETS) buckets) is a map-side projection; the two
    distribution fits are groupBy over that FIXED key space (map-side
    combine collapses each partition to <= 256 rows, so the shuffle is
    executor-count sized, not corpus-sized); the log-ratio table is 256
    rows and broadcasts into the per-doc weighting join; the only
    corpus-sized shuffle is the groupBy(doc_id) weight sum.
    Rank-stability: the top-k orders on the ROUNDED weight with doc_id
    tie-break, so both engines cut the same boundary.
    """
    d = load_table(spark, sf_dir, "documents", spread=True)
    toks = d.select("doc_id", "lang", tokens_ws("text").alias("ts"))
    feats = toks.select(
        "doc_id",
        "lang",
        F.explode(F.concat("ts", shingles("ts", 2))).alias("ng"),
    ).select("doc_id", "lang", F.pmod(hash64("ng"), F.lit(_DSIR_BUCKETS)).alias("b"))
    # one pass for the four consumers below
    feats = pin(feats)

    q = feats.groupBy("b").agg(F.count("*").alias("nq"))
    p = (
        feats.filter(F.col("lang") == _DSIR_TARGET_LANG)
        .groupBy("b")
        .agg(F.count("*").alias("np"))
    )
    tot = feats.agg(
        F.count("*").alias("tq"),
        F.sum(F.when(F.col("lang") == _DSIR_TARGET_LANG, 1).otherwise(0)).alias("tp"),
    )
    ratio = (
        q.join(p, "b", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "b",
            (
                F.log((F.coalesce("np", F.lit(0)) + F.lit(1.0)) / (F.col("tp") + F.lit(_DSIR_BUCKETS)))
                - F.log((F.col("nq") + F.lit(1.0)) / (F.col("tq") + F.lit(_DSIR_BUCKETS)))
            ).alias("lr"),
        )
    )
    w = (
        feats.join(F.broadcast(ratio), "b")
        .groupBy("doc_id")
        .agg(F.round(F.sum("lr"), 4).alias("log_w"), F.count("*").alias("n_feats"))
    )
    return (
        w.join(d.select("doc_id", "lang", "source"), "doc_id")
        .select("doc_id", "lang", "source", "log_w", "n_feats")
        .orderBy(F.col("log_w").desc(), "doc_id")
        .limit(_DSIR_TOP_K)
    )


# ---------------------------------------------------------------------------
# BPE merge learning (Sennrich et al., ACL 2016)
# ---------------------------------------------------------------------------

_BPE_MERGES = 8


def _bpe_oracle() -> str:
    from http_log_anonymizer_spark.operators.bpe import bpe_merges_sql

    return bpe_merges_sql(
        _BPE_MERGES, "SELECT unnest(string_split(text, ' ')) AS tok FROM documents"
    )


@register("bpe_learn_merges", oracle=_bpe_oracle())
def bpe_learn_merges_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 8 (_BPE_MERGES) learned BPE merges over the corpus
    vocabulary (operators/bpe.py): each row is (step, left, right,
    pair_count), the merge table a subword tokenizer trainer emits.
    Every step is deterministic (exact counts, lexicographic
    tie-breaks, greedy folds), so the fixed-k training run unrolls into
    a recursive-CTE oracle (bpe_merges_sql) and the driver hash-checks
    the learned merge table itself (VERDICT r02) — formerly rows-only.
    The distributed learner is additionally proven identical to a
    pure-Python reference BPE in tests/test_bpe.py.
    """
    from http_log_anonymizer_spark.operators.bpe import (
        corpus_vocab,
        learn_bpe_merges,
    )

    d = load_table(spark, sf_dir, "documents", spread=True)
    toks = d.select(F.explode(tokens_ws("text")).alias("tok"))
    merges = learn_bpe_merges(corpus_vocab(toks), k=_BPE_MERGES)
    return spark.createDataFrame(
        merges, "step long, left string, right string, pair_count long"
    ).orderBy("step")


def _bpe_encode_oracle() -> str:
    from http_log_anonymizer_spark.operators.bpe import bpe_vocab_sql

    prefix = bpe_vocab_sql(
        _BPE_MERGES, "SELECT unnest(string_split(text, ' ')) AS tok FROM documents"
    )
    return f"""
{prefix},
tok AS (
  SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents
),
enc AS (
  SELECT t.lang, len(v.sym) AS n_sub, length(t.word) AS n_chars
  FROM tok t JOIN v{_BPE_MERGES} v ON v.word = t.word
)
SELECT lang,
       count(*) AS n_tokens,
       CAST(sum(n_sub) AS BIGINT) AS n_subwords,
       round(sum(n_sub) * 1.0 / count(*), 4) AS subwords_per_token,
       round(sum(n_chars) * 1.0 / sum(n_sub), 4) AS chars_per_subword
FROM enc GROUP BY lang ORDER BY lang
"""


@register("bpe_encode_stats", oracle=_bpe_encode_oracle())
def bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION — the other half of the train/apply loop:
    encode the whole corpus with the 8 merges bpe_learn_merges just
    learned and report per-language fertility (subwords per token,
    chars per subword), the numbers a tokenizer bake-off actually
    compares. The oracle replays training AND encoding in SQL
    (bpe_vocab_sql), so the driver hash-checks the full lifecycle.

    Scale shape: merges are learned on the VOCABULARY (distinct words —
    millions of rows when the corpus is trillions) and the k greedy
    folds apply to each vocab entry ONCE; the corpus-sized side only
    joins its word stream against the encoded vocab (a shuffle the
    tokenize step needs anyway) and aggregates 5 rows per lang with
    map-side combine. No Python anywhere: the folds are Catalyst
    higher-order functions.
    """
    from http_log_anonymizer_spark.operators.bpe import (
        apply_merges,
        corpus_vocab,
        learn_bpe_merges,
    )

    d = load_table(spark, sf_dir, "documents", spread=True)
    toks = d.select(F.explode(tokens_ws("text")).alias("tok"))
    vocab = corpus_vocab(toks)
    merges = learn_bpe_merges(vocab, k=_BPE_MERGES)
    encoded = vocab.select(
        "word", F.size(apply_merges(F.col("sym"), merges)).alias("n_sub")
    )
    words = d.select("lang", F.explode(tokens_ws("text")).alias("word"))
    enc = words.join(encoded, "word").select(
        "lang", "n_sub", F.length("word").alias("n_chars")
    )
    return (
        enc.groupBy("lang")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("n_sub").alias("n_subwords"),
            F.round(F.sum("n_sub") * 1.0 / F.count("*"), 4).alias("subwords_per_token"),
            F.round(F.sum("n_chars") * 1.0 / F.sum("n_sub"), 4).alias("chars_per_subword"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# WordPiece merge learning (Schuster & Nakajima 2012 / Wu et al. 2016)
# ---------------------------------------------------------------------------

_WP_MERGES = 8


def _wp_oracle() -> str:
    from http_log_anonymizer_spark.operators.wordpiece import wordpiece_merges_sql

    return wordpiece_merges_sql(
        _WP_MERGES, "SELECT unnest(string_split(text, ' ')) AS tok FROM documents"
    )


@register("wordpiece_learn_merges", oracle=_wp_oracle())
def wordpiece_learn_merges_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 8 (_WP_MERGES) learned WORDPIECE merges over the corpus
    vocabulary (operators/wordpiece.py): likelihood-driven selection —
    merge the pair maximizing count(ab)/(count(a)*count(b)) — with the
    objective integer-quantized (floor((c*1e9) div (cl*cr)) in
    DECIMAL/HUGEINT) so the argmax is engine-independent and the fixed-k
    training run unrolls into a recursive-CTE oracle (VERDICT r04 item
    7: completes train+apply symmetry for all three subword families —
    the greedy longest-match ENCODER is wordpiece_encode_stats). Each
    row is (step, left, right, pair_count, score). The distributed
    learner is additionally proven identical to a pure-Python reference
    in tests/test_wordpiece.py, where the selection is also shown to
    DIVERGE from BPE's frequency argmax on this corpus (the two
    trainers learn different tables — likelihood is not frequency).

    Scale shape: identical to bpe_learn_merges — vocab-sized pair and
    unigram-symbol aggregations per step (map-side combine), broadcast
    symbol-count probes, 1-row takeOrdered argmax, zero-shuffle greedy
    fold application."""
    from http_log_anonymizer_spark.operators.bpe import corpus_vocab
    from http_log_anonymizer_spark.operators.wordpiece import learn_wordpiece_merges

    d = load_table(spark, sf_dir, "documents", spread=True)
    toks = d.select(F.explode(tokens_ws("text")).alias("tok"))
    merges = learn_wordpiece_merges(corpus_vocab(toks), k=_WP_MERGES)
    return spark.createDataFrame(
        merges, "step long, left string, right string, pair_count long, score long"
    ).orderBy("step")


# ---------------------------------------------------------------------------
# Temperature-scaled mixing (the multilingual-training alpha sampler)
# ---------------------------------------------------------------------------

_TEMP_ALPHA = 0.3  # mT5/XLM-R style alpha: upsample tails, damp heads


@register(
    "temperature_mix_weights",
    oracle=f"""
WITH t AS (
  SELECT lang, len(string_split(text, ' ')) AS n_tok FROM documents
),
agg AS (
  SELECT lang, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS lang_tokens
  FROM t GROUP BY lang
),
share AS (
  SELECT lang, n_docs, lang_tokens,
         lang_tokens * 1.0 / (SELECT sum(lang_tokens) FROM agg) AS p
  FROM agg
),
scaled AS (
  SELECT lang, n_docs, lang_tokens, p, pow(p, {_TEMP_ALPHA}) AS pa FROM share
)
SELECT lang, n_docs, lang_tokens,
       round(p, 6) AS token_share,
       round(pa / (SELECT sum(pa) FROM scaled), 6) AS sample_prob,
       round((pa / (SELECT sum(pa) FROM scaled)) / p, 4) AS upsample_factor
FROM scaled
ORDER BY lang
""",
)
def temperature_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language sampling weights (p_i^alpha /
    sum p_j^alpha, alpha=0.3 — the mT5/XLM-R recipe): the sampling
    distribution a multilingual training loader draws languages from,
    with the head-damping/tail-boosting factor made explicit
    (upsample_factor = sample_prob / token_share). Complements
    apply_mix_sampling (uniform cap): temperature mixing is the
    standard soft alternative.

    Scale shape: one map-side-combined aggregate to 5 language rows;
    every normalization is over that 5-row table (broadcast scalar
    subqueries in the oracle, 1-row cross joins in Spark). Map-only at
    any corpus size."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("lang", F.size(tokens_ws("text")).alias("n_tok"))
    agg = t.groupBy("lang").agg(
        F.count("*").alias("n_docs"), F.sum("n_tok").alias("lang_tokens")
    )
    tot = agg.agg(F.sum("lang_tokens").alias("corpus_tokens"))
    share = agg.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "lang_tokens",
        (F.col("lang_tokens") * 1.0 / F.col("corpus_tokens")).alias("p"),
    )
    scaled = share.select("*", F.pow("p", F.lit(_TEMP_ALPHA)).alias("pa"))
    z = scaled.agg(F.sum("pa").alias("z"))
    return (
        scaled.crossJoin(F.broadcast(z))
        .select(
            "lang",
            "n_docs",
            "lang_tokens",
            F.round("p", 6).alias("token_share"),
            F.round(F.col("pa") / F.col("z"), 6).alias("sample_prob"),
            F.round((F.col("pa") / F.col("z")) / F.col("p"), 4).alias("upsample_factor"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Padding-efficiency accounting (length-bucketed batching)
# ---------------------------------------------------------------------------

_PAD_BUCKETS = (64, 128, 256, 512, 1024)  # max-length tiers


@register(
    "padding_efficiency",
    oracle=f"""
WITH t AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_tok FROM documents
),
b AS (
  SELECT n_tok,
         CASE {" ".join(f"WHEN n_tok <= {c} THEN {c}" for c in _PAD_BUCKETS)}
              ELSE {_PAD_BUCKETS[-1]} END AS bucket,
         least(n_tok, {_PAD_BUCKETS[-1]}) AS kept_tok
  FROM t
)
SELECT bucket,
       count(*) AS n_docs,
       CAST(sum(kept_tok) AS BIGINT) AS real_tokens,
       CAST(count(*) * bucket AS BIGINT) AS padded_tokens,
       round(sum(kept_tok) * 1.0 / (count(*) * bucket), 4) AS fill_ratio,
       CAST(sum(CASE WHEN n_tok > {_PAD_BUCKETS[-1]}
                     THEN n_tok - {_PAD_BUCKETS[-1]} ELSE 0 END) AS BIGINT)
         AS truncated_tokens
FROM b
GROUP BY bucket
ORDER BY bucket
""",
)
def padding_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching audit: assign every document to the
    smallest max-length tier that holds it (64/128/256/512/1024,
    overflow truncated at the top tier) and report per-tier fill ratio
    (real tokens / padded slots) and truncation loss — the numbers
    that decide whether a training loader buckets by length or packs
    (pack_sequences is the packing twin). Pure map + 5-row aggregate;
    map-only at any scale."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(F.size(tokens_ws("text")).alias("n_tok"))
    bucket = F.lit(_PAD_BUCKETS[-1])
    for c in reversed(_PAD_BUCKETS):
        bucket = F.when(F.col("n_tok") <= c, F.lit(c)).otherwise(bucket)
    b = t.select(
        "n_tok",
        bucket.alias("bucket"),
        F.least("n_tok", F.lit(_PAD_BUCKETS[-1])).alias("kept_tok"),
    )
    return (
        b.groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("kept_tok").alias("real_tokens"),
            (F.count("*") * F.col("bucket")).cast("long").alias("padded_tokens"),
            F.round(
                F.sum("kept_tok") * 1.0 / (F.count("*") * F.col("bucket")), 4
            ).alias("fill_ratio"),
            F.sum(
                F.when(
                    F.col("n_tok") > _PAD_BUCKETS[-1],
                    F.col("n_tok") - _PAD_BUCKETS[-1],
                ).otherwise(0)
            ).alias("truncated_tokens"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Unigram-LM subword vocabulary (Kudo, ACL 2018 / SentencePiece) — the
# EM counterpart to bpe_learn_merges, with the Viterbi E-step
# integer-quantized so the whole train loop replays in SQL
# (operators/unigram.py).
# ---------------------------------------------------------------------------

_UNIGRAM_ROUNDS = 2
_UNIGRAM_TOP = 40


def _unigram_oracle() -> str:
    from http_log_anonymizer_spark.operators.unigram import unigram_sql

    return unigram_sql(
        _UNIGRAM_ROUNDS,
        "SELECT unnest(string_split(text, ' ')) AS tok FROM documents",
        _UNIGRAM_TOP,
    )


@register("unigram_lm_vocab", oracle=_unigram_oracle())
def unigram_lm_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-40 subword pieces (piece, cnt, piece_len) after 2 rounds of
    integer-quantized Viterbi-EM unigram-LM training over the corpus
    (operators/unigram.py): the E-step segments every vocabulary word
    by (fewest pieces, then highest cumulative piece count, then
    lexicographic path) — a total order in exact integers + byte
    compares — and the M-step recounts piece usage. The fixed-round
    run unrolls into a MATERIALIZED-CTE DuckDB replay, so the driver
    hash-checks the LEARNED VOCABULARY itself, the same determinism
    contract as bpe_learn_merges / kmeans_quantized.

    Scale shape: trains on the (word, freq) VOCABULARY (one corpus
    shuffle, map-side combined); spans, count joins and both EM rounds
    are vocab-sized; the Viterbi DP is ONE JVM-side higher-order fold
    per word — no Python, no per-position shuffle, nothing on the
    driver. tests/test_unigram.py additionally proves the distributed
    trainer identical to a pure-Python reference implementation."""
    from http_log_anonymizer_spark.operators.unigram import train_unigram

    d = load_table(spark, sf_dir, "documents", spread=True)
    toks = d.select(F.explode(tokens_ws("text")).alias("tok"))
    counts = train_unigram(toks, rounds=_UNIGRAM_ROUNDS)
    return (
        counts.select("piece", "cnt", F.length("piece").alias("piece_len"))
        .orderBy(F.desc("cnt"), "piece")
        .limit(_UNIGRAM_TOP)
    )


def _unigram_encode_oracle() -> str:
    from http_log_anonymizer_spark.operators.unigram import unigram_encode_sql

    prefix = unigram_encode_sql(
        _UNIGRAM_ROUNDS, "SELECT unnest(string_split(text, ' ')) AS tok FROM documents"
    )
    return f"""
{prefix},
tok AS (SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents)
SELECT lang,
       count(*) AS n_tokens,
       CAST(sum(e.n_sub) AS BIGINT) AS n_pieces,
       round(sum(e.n_sub) * 1.0 / count(*), 4) AS pieces_per_token,
       round(sum(length(t.word)) * 1.0 / sum(e.n_sub), 4) AS chars_per_piece
FROM tok t JOIN enc e ON e.word = t.word
GROUP BY lang ORDER BY lang
"""


@register("unigram_encode_stats", oracle=_unigram_encode_oracle())
def unigram_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM APPLICATION — the other half of the train/apply
    lifecycle (the bpe_encode_stats twin): segment the whole corpus
    with the vocabulary unigram_lm_vocab just trained and report
    per-language fertility (pieces per token, chars per piece). The
    oracle replays training AND encoding (one extra unrolled E-step),
    so the driver hash-checks the full lifecycle. Words longer than
    the analysed-word cap are outside the model's domain and excluded
    identically in both engines (inner join on the segmented vocab).

    Scale shape: identical to bpe_encode_stats — the model trains on
    the vocabulary; the corpus-sized side only joins its word stream
    against the per-word segment lengths (a shuffle tokenization needs
    anyway) and aggregates a handful of rows per lang with map-side
    combine. All JVM-side."""
    from http_log_anonymizer_spark.operators.unigram import segment_lengths

    d = load_table(spark, sf_dir, "documents", spread=True)
    toks = d.select(F.explode(tokens_ws("text")).alias("tok"))
    seg = segment_lengths(toks, rounds=_UNIGRAM_ROUNDS)
    words = d.select("lang", F.explode(tokens_ws("text")).alias("word"))
    enc = words.join(seg, "word").select(
        "lang", "n_sub", F.length("word").alias("n_chars")
    )
    return (
        enc.groupBy("lang")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("n_sub").alias("n_pieces"),
            F.round(F.sum("n_sub") * 1.0 / F.count("*"), 4).alias("pieces_per_token"),
            F.round(F.sum("n_chars") * 1.0 / F.sum("n_sub"), 4).alias(
                "chars_per_piece"
            ),
        )
        .orderBy("lang")
    )


def _wordpiece_oracle() -> str:
    from http_log_anonymizer_spark.operators.unigram import greedy_encode_sql

    prefix = greedy_encode_sql(
        _UNIGRAM_ROUNDS, "SELECT unnest(string_split(text, ' ')) AS tok FROM documents"
    )
    return f"""
{prefix},
tok AS (SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents)
SELECT lang,
       count(*) AS n_tokens,
       CAST(sum(e.n_pieces) AS BIGINT) AS n_pieces,
       CAST(sum(e.n_unk) AS BIGINT) AS n_unk,
       round(sum(e.n_pieces) * 1.0 / count(*), 4) AS pieces_per_token,
       round(sum(e.n_unk) * 1.0 / sum(e.n_pieces), 6) AS unk_rate
FROM tok t JOIN genc e ON e.word = t.word
GROUP BY lang ORDER BY lang
"""


@register("wordpiece_encode_stats", oracle=_wordpiece_oracle())
def wordpiece_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece-style GREEDY longest-match encoding (Wu et al., 2016
    — BERT's application-side algorithm) over the vocabulary the
    unigram trainer just learned: per-language fertility plus the UNK
    rate, the coverage number a tokenizer rollout is judged on. The
    third subword lifecycle next to bpe_encode_stats (merge-rule
    application) and unigram_encode_stats (Viterbi application) —
    same corpus, same vocab source, three different application
    semantics, all driver-hash-verified. The oracle replays training,
    the vocabulary cut, the per-position longest-match table and the
    sequential greedy walk (a TRUE recursive CTE — the walk's jumps
    are data-dependent, unlike the unigram DP's unrollable
    positions).

    Scale shape: the longest-match jump table is one vocab-sized
    equi-join + groupBy; the walk is one JVM-side fold per word over
    a per-word int map; the corpus-sized side joins its word stream
    against per-word stats and aggregates per lang with map-side
    combine."""
    from http_log_anonymizer_spark.operators.unigram import greedy_segment_stats

    d = load_table(spark, sf_dir, "documents", spread=True)
    toks = d.select(F.explode(tokens_ws("text")).alias("tok"))
    seg = greedy_segment_stats(toks, rounds=_UNIGRAM_ROUNDS)
    words = d.select("lang", F.explode(tokens_ws("text")).alias("word"))
    enc = words.join(seg, "word")
    return (
        enc.groupBy("lang")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("n_pieces").alias("n_pieces"),
            F.sum("n_unk").alias("n_unk"),
            F.round(F.sum("n_pieces") * 1.0 / F.count("*"), 4).alias(
                "pieces_per_token"
            ),
            F.round(F.sum("n_unk") * 1.0 / F.sum("n_pieces"), 6).alias("unk_rate"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Cross-domain score calibration
# ---------------------------------------------------------------------------

_QN_GRID = 10_000  # score quantization grid (1e-4 buckets)
_QN_TOP = 0.8  # select the per-source top 20%


@register(
    "quality_quantile_normalize",
    oracle=f"""
WITH t AS (SELECT source, string_split(text, ' ') AS toks FROM documents
          WHERE text IS NOT NULL),
f AS (SELECT source, {_FEATURES_SQL} FROM t),
s AS (SELECT source, {_SCORE_SQL} AS score FROM f),
b AS (
  SELECT source, CAST(round(score * {_QN_GRID}) AS BIGINT) AS q, count(*) AS cnt
  FROM s GROUP BY source, q
),
c AS (
  SELECT source, q, cnt,
         COALESCE(sum(cnt) OVER (
           PARTITION BY source ORDER BY q
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_lt,
         sum(cnt) OVER (PARTITION BY source) AS n_src
  FROM b
),
p AS (
  SELECT source, q, cnt, (cum_lt + 0.5 * cnt) / n_src AS pct FROM c
)
SELECT source,
       CAST(sum(cnt) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN pct >= {_QN_TOP} THEN cnt ELSE 0 END) AS BIGINT)
         AS n_selected,
       round(sum(CASE WHEN pct >= {_QN_TOP} THEN cnt ELSE 0 END) * 1.0
             / sum(cnt), 4) AS sel_rate,
       round(min(CASE WHEN pct >= {_QN_TOP} THEN q END) / {_QN_GRID}.0, 4)
         AS raw_threshold,
       -- round(a/(G*n), 4) computed HALF-UP in EXACT integer
       -- arithmetic: the quotient can land exactly on a 4th-decimal
       -- half (the grid divides 10^4), where Spark's BigDecimal
       -- HALF_UP and DuckDB's binary-double round disagree by 1e-4
       -- (the planted-NULL audit's last diff)
       CAST((sum(CAST(CASE WHEN pct >= {_QN_TOP} THEN q * cnt ELSE 0 END
                 AS HUGEINT)) * 20000
             + CAST({_QN_GRID} AS HUGEINT)
               * sum(CASE WHEN pct >= {_QN_TOP} THEN cnt ELSE 0 END))
            // (CAST(2 * {_QN_GRID} AS HUGEINT)
                * sum(CASE WHEN pct >= {_QN_TOP} THEN cnt ELSE 0 END))
            AS DOUBLE) / 10000.0
         AS mean_selected_score
FROM p GROUP BY source ORDER BY source
""",
)
def quality_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source QUANTILE NORMALIZATION of the logistic quality score —
    the cross-domain calibration step between scoring and thresholding:
    a raw classifier cutoff applied globally lets score-inflated
    domains crowd out honest ones, so production curation pipelines
    select the top p% *within each source* instead. Reported per
    source: the selection count at the top-{_QN_TOP:.0%} percentile,
    the source-specific RAW threshold that percentile lands on (the
    number that differs across domains — the point of the operator),
    and the mean selected score.

    Scale shape: scores quantize to a {_QN_GRID}-bucket integer grid,
    so the per-source CDF is a window over the per-(source, bucket)
    COUNT table — partition size is bounded by the grid (<= {_QN_GRID}
    rows per source), never by corpus size; a percent_rank over raw
    docs would be a per-source global sort, exactly the single-task
    window this repo's scale discipline forbids. One scan, one
    groupBy(source, bucket) with map-side combine, one bounded window,
    one 20-row final aggregate. The selection report never joins back
    to the doc stream; a pipeline applying the filter would join docs
    to the 20-row (source, raw_threshold) table — a broadcast."""
    # spread: the tokenize+feature map stage hits the single-file
    # parallelism floor on replica series (the line_dedup finding)
    # a doc without text has no features to score: the NULL score
    # bucket would sit at opposite ends of the CDF window in the two
    # engines (Spark NULLS FIRST vs DuckDB NULLS LAST) — excluded
    # identically in both engines (the planted-NULL audit's
    # divergence).
    d = load_table(
        spark, sf_dir, "documents", spread=True, bytes_per_task=256 * 1024
    ).filter(F.col("text").isNotNull())
    t = d.select("source", tokens_ws("text").alias("toks"))
    feats = _quality_features(F.col("toks"))
    scored = t.select("source", _quality_score(feats).alias("score"))
    b = (
        scored.select(
            "source", F.round(F.col("score") * _QN_GRID).cast("long").alias("q")
        )
        .groupBy("source", "q")
        .agg(F.count("*").alias("cnt"))
    )
    w_lt = (
        Window.partitionBy("source")
        .orderBy("q")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_all = Window.partitionBy("source")
    p = b.select(
        "source",
        "q",
        "cnt",
        (
            (F.coalesce(F.sum("cnt").over(w_lt), F.lit(0)) + 0.5 * F.col("cnt"))
            / F.sum("cnt").over(w_all)
        ).alias("pct"),
    )
    sel = F.col("pct") >= _QN_TOP
    sel_cnt = F.sum(F.when(sel, F.col("cnt")).otherwise(0))
    return (
        p.groupBy("source")
        .agg(
            F.sum("cnt").alias("n_docs"),
            sel_cnt.alias("n_selected"),
            F.round(sel_cnt * 1.0 / F.sum("cnt"), 4).alias("sel_rate"),
            F.round(
                F.min(F.when(sel, F.col("q"))) / float(_QN_GRID), 4
            ).alias("raw_threshold"),
            (
                F.expr(
                    f"CAST((CAST(sum(CASE WHEN pct >= {_QN_TOP} THEN q * cnt "
                    f"ELSE 0 END) AS DECIMAL(38,0)) * 20000 "
                    f"+ CAST({_QN_GRID} AS DECIMAL(38,0)) "
                    f"* sum(CASE WHEN pct >= {_QN_TOP} THEN cnt ELSE 0 END)) "
                    f"DIV (CAST(2 * {_QN_GRID} AS DECIMAL(38,0)) "
                    f"* sum(CASE WHEN pct >= {_QN_TOP} THEN cnt ELSE 0 END)) "
                    f"AS DOUBLE) / 10000.0"
                )
            ).alias("mean_selected_score"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Cross-family tokenizer comparison
# ---------------------------------------------------------------------------


def _fertility_oracle() -> str:
    from http_log_anonymizer_spark.plans.registry import REGISTRY as _R

    bpe = _R["bpe_encode_stats"].oracle
    uni = _R["unigram_encode_stats"].oracle
    wp = _R["wordpiece_encode_stats"].oracle
    return f"""
SELECT * FROM (
  SELECT 'bpe' AS tokenizer, lang, n_tokens,
         n_subwords AS n_pieces, subwords_per_token AS pieces_per_token
  FROM ({bpe}) b
  UNION ALL
  SELECT 'unigram' AS tokenizer, lang, n_tokens, n_pieces, pieces_per_token
  FROM ({uni}) u
  UNION ALL
  SELECT 'wordpiece' AS tokenizer, lang, n_tokens, n_pieces, pieces_per_token
  FROM ({wp}) w
) ORDER BY tokenizer, lang
"""


@register("tokenizer_fertility_report", oracle=_fertility_oracle())
def tokenizer_fertility_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Side-by-side FERTILITY (pieces per whitespace token) of all
    three trained subword families — BPE (frequency-argmax merges),
    Unigram-LM (Viterbi under the EM-trained vocabulary), WordPiece
    (greedy longest-match) — on the same corpus, per language. This is
    the table a curation team actually consults when picking a
    tokenizer: fertility drives context-window economics and
    per-token training cost (a 10% fertility gap is a 10% compute
    gap at fixed token budget).

    Pure composition: each family's full train+apply pipeline is the
    ALREADY-REGISTERED query (bpe_encode_stats / unigram_encode_stats /
    wordpiece_encode_stats), re-projected to the common (tokenizer,
    lang, n_tokens, n_pieces, pieces_per_token) schema and unioned; the
    oracle likewise wraps the three existing oracle statements as
    subqueries — train-and-apply replayed three times in one
    statement. Costs the sum of its parts, shares their scale shapes
    (vocabulary-bound trainings, map-side encodes).

    Measured note: unigram and wordpiece rows COINCIDE on this corpus —
    both encode with the unigram-trained vocabulary, and on its
    unambiguous segmentations greedy longest-match picks exactly the
    Viterbi path; the families separate on corpora with ambiguous
    merges (and BPE's fixed merge budget explains its higher
    fertility)."""
    from http_log_anonymizer_spark.plans.registry import REGISTRY as _R

    b = (
        _R["bpe_encode_stats"]
        .spark_fn(spark, sf_dir)
        .select(
            F.lit("bpe").alias("tokenizer"),
            "lang",
            "n_tokens",
            F.col("n_subwords").alias("n_pieces"),
            F.col("subwords_per_token").alias("pieces_per_token"),
        )
    )
    u = (
        _R["unigram_encode_stats"]
        .spark_fn(spark, sf_dir)
        .select(
            F.lit("unigram").alias("tokenizer"),
            "lang",
            "n_tokens",
            "n_pieces",
            "pieces_per_token",
        )
    )
    w = (
        _R["wordpiece_encode_stats"]
        .spark_fn(spark, sf_dir)
        .select(
            F.lit("wordpiece").alias("tokenizer"),
            "lang",
            "n_tokens",
            "n_pieces",
            "pieces_per_token",
        )
    )
    return b.unionByName(u).unionByName(w).orderBy("tokenizer", "lang")


# ---------------------------------------------------------------------------
# Model evaluation: exact ROC-AUC of the quality classifier
# ---------------------------------------------------------------------------

_AUC_GRID = 10_000  # score quantization grid shared with the calibration op


def _auc_oracle() -> str:
    return f"""
WITH t AS (SELECT source, string_split(text, ' ') AS toks FROM documents
          WHERE text IS NOT NULL),
lab AS (
  SELECT source, toks,
         CASE WHEN len(list_filter(toks, t -> t IN ({_BLOCK_SQL}))) = 0
              THEN 1 ELSE 0 END AS label
  FROM t
),
f AS (SELECT source, label, {_FEATURES_SQL} FROM lab),
s AS (SELECT source, label, {_SCORE_SQL} AS score FROM f),
b AS (
  SELECT source, CAST(round(score * {_AUC_GRID}) AS BIGINT) AS q,
         CAST(sum(label) AS BIGINT) AS pos,
         CAST(sum(1 - label) AS BIGINT) AS neg
  FROM s GROUP BY source, q
),
g0 AS (
  SELECT * FROM b
  UNION ALL
  SELECT 'ALL' AS source, q, CAST(sum(pos) AS BIGINT), CAST(sum(neg) AS BIGINT)
  FROM b GROUP BY q
),
-- re-group so (source, q) is UNIQUE even when a real source is named
-- 'ALL': the ROWS window below is peer-order-dependent on duplicate
-- q, and pos*(2*neg_lt+neg) is not symmetric under peer swaps (the
-- measured 1-at-4dp AUC divergence on a planted 'ALL' source)
g AS (
  SELECT source, q, CAST(sum(pos) AS BIGINT) AS pos,
         CAST(sum(neg) AS BIGINT) AS neg
  FROM g0 GROUP BY source, q
),
c AS (
  SELECT source, q, pos, neg,
         COALESCE(sum(neg) OVER (
           PARTITION BY source ORDER BY q
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS neg_lt,
         sum(pos) OVER (PARTITION BY source) AS p_tot,
         sum(neg) OVER (PARTITION BY source) AS n_tot
  FROM g
)
SELECT source AS cohort,
       CAST(min(p_tot) AS BIGINT) AS n_pos,
       CAST(min(n_tot) AS BIGINT) AS n_neg,
       round(CAST(sum(CAST(pos AS HUGEINT) * (2 * neg_lt + neg)) AS DOUBLE)
             / CAST(2 * min(p_tot) * CAST(min(n_tot) AS HUGEINT) AS DOUBLE),
             4) AS auc,
       CAST(sum(CASE WHEN q >= {_AUC_GRID // 2} THEN pos ELSE 0 END) AS BIGINT)
         AS tp_05,
       CAST(sum(CASE WHEN q >= {_AUC_GRID // 2} THEN neg ELSE 0 END) AS BIGINT)
         AS fp_05,
       round(sum(CASE WHEN q >= {_AUC_GRID // 2} THEN pos ELSE 0 END) * 1.0
             / greatest(sum(CASE WHEN q >= {_AUC_GRID // 2} THEN pos + neg
                            ELSE 0 END), 1), 4) AS precision_05,
       round(sum(CASE WHEN q >= {_AUC_GRID // 2} THEN pos ELSE 0 END) * 1.0
             / min(p_tot), 4) AS recall_05,
       round(2.0 * sum(CASE WHEN q >= {_AUC_GRID // 2} THEN pos ELSE 0 END)
             / greatest(2 * sum(CASE WHEN q >= {_AUC_GRID // 2} THEN pos ELSE 0 END)
                        + sum(CASE WHEN q >= {_AUC_GRID // 2} THEN neg ELSE 0 END)
                        + sum(CASE WHEN q < {_AUC_GRID // 2} THEN pos ELSE 0 END),
                        1), 4) AS f1_05
FROM c
GROUP BY source
HAVING min(p_tot) > 0 AND min(n_tot) > 0
ORDER BY cohort
"""


@register("classifier_auc_report", oracle=_auc_oracle())
def classifier_auc_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of the registered logistic quality model against a
    HELD-OUT rule label (document carries no blocklisted term — a
    signal the model's features never see), per source cohort plus the
    pooled ALL row: the evaluation step between training a quality
    classifier and trusting its threshold, and the per-domain
    breakdown that catches a model that only works on some sources.
    AUC is the Mann-Whitney statistic with the standard tie correction
    (ties at a score value count 1/2), computed from the quantized
    score histogram: AUC = sum_q pos_q*(2*neg_below + neg_q) /
    (2*P*N) — the numerator is EXACT integer arithmetic (accumulated
    in DECIMAL(38)/HUGEINT; P*N overflows int64 at ~3e9 docs), so
    both engines divide the identical integers and the rounded output
    hash-verifies. Also reported: precision/recall/F1 at the
    production 0.5 cutoff (F1 in its integer form 2tp/(2tp+fp+fn)).

    Scale shape (the quality_quantile_normalize discipline): one scan,
    one groupBy(source, score-bucket) with map-side combine, one
    window whose partitions are bounded by the {_AUC_GRID}-bucket grid
    — never by corpus size (a rank over raw docs would be the
    per-cohort global sort this repo forbids), one ~21-row final
    aggregate. The ALL cohort re-aggregates the same bounded bucket
    table, not the doc stream."""
    # a doc without text has no features to score: the NULL score
    # bucket would sit at opposite ends of the CDF window in the two
    # engines (Spark NULLS FIRST vs DuckDB NULLS LAST) — excluded
    # identically in both engines (the planted-NULL audit's
    # divergence).
    d = load_table(
        spark, sf_dir, "documents", spread=True, bytes_per_task=256 * 1024
    ).filter(F.col("text").isNotNull())
    t = d.select("source", tokens_ws("text").alias("toks"))
    label = F.when(
        F.size(F.filter(F.col("toks"), lambda tk: tk.isin(*_BLOCKLIST))) == 0, 1
    ).otherwise(0)
    feats = _quality_features(F.col("toks"))
    s = t.select(
        "source", label.alias("label"), _quality_score(feats).alias("score")
    )
    b = (
        s.select(
            "source",
            "label",
            F.round(F.col("score") * _AUC_GRID).cast("long").alias("q"),
        )
        .groupBy("source", "q")
        .agg(
            F.sum("label").cast("long").alias("pos"),
            F.sum(1 - F.col("label")).cast("long").alias("neg"),
        )
    )
    all_rows = (
        b.groupBy("q")
        .agg(
            F.sum("pos").cast("long").alias("pos"),
            F.sum("neg").cast("long").alias("neg"),
        )
        .select(F.lit("ALL").alias("source"), "q", "pos", "neg")
    )
    # (source, q) must be UNIQUE for the ROWS window below — see the
    # oracle's g CTE comment (planted 'ALL'-named source divergence)
    g = (
        b.unionByName(all_rows)
        .groupBy("source", "q")
        .agg(
            F.sum("pos").cast("long").alias("pos"),
            F.sum("neg").cast("long").alias("neg"),
        )
    )
    w_lt = (
        Window.partitionBy("source")
        .orderBy("q")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_all = Window.partitionBy("source")
    c = g.select(
        "source",
        "q",
        "pos",
        "neg",
        F.coalesce(F.sum("neg").over(w_lt), F.lit(0)).alias("neg_lt"),
        F.sum("pos").over(w_all).alias("p_tot"),
        F.sum("neg").over(w_all).alias("n_tot"),
    )
    dec = "decimal(38,0)"
    half = _AUC_GRID // 2
    kept = F.col("q") >= half
    tp = F.sum(F.when(kept, F.col("pos")).otherwise(0))
    fp = F.sum(F.when(kept, F.col("neg")).otherwise(0))
    fn = F.sum(F.when(~kept, F.col("pos")).otherwise(0))
    return (
        c.groupBy(F.col("source").alias("cohort"))
        .agg(
            F.min("p_tot").cast("long").alias("n_pos"),
            F.min("n_tot").cast("long").alias("n_neg"),
            F.round(
                F.sum(
                    F.col("pos").cast(dec) * (2 * F.col("neg_lt") + F.col("neg"))
                ).cast("double")
                / (2 * F.min("p_tot") * F.min("n_tot").cast(dec)).cast("double"),
                4,
            ).alias("auc"),
            tp.cast("long").alias("tp_05"),
            fp.cast("long").alias("fp_05"),
            F.round(tp * 1.0 / F.greatest(tp + fp, F.lit(1)), 4).alias(
                "precision_05"
            ),
            F.round(tp * 1.0 / F.min("p_tot"), 4).alias("recall_05"),
            F.round(
                2.0 * tp / F.greatest(2 * tp + fp + fn, F.lit(1)), 4
            ).alias("f1_05"),
        )
        .filter((F.col("n_pos") > 0) & (F.col("n_neg") > 0))
        .orderBy("cohort")
    )


# ---------------------------------------------------------------------------
# Model evaluation: calibration (reliability diagram + Brier score)
# ---------------------------------------------------------------------------

_CAL_BINS = 10  # reliability-diagram bins


def _calibration_oracle() -> str:
    g = _AUC_GRID
    return f"""
WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
lab AS (
  SELECT toks,
         CASE WHEN len(list_filter(toks, t -> t IN ({_BLOCK_SQL}))) = 0
              THEN 1 ELSE 0 END AS label
  FROM t
),
f AS (SELECT label, {_FEATURES_SQL} FROM lab),
s AS (SELECT label, {_SCORE_SQL} AS score FROM f),
b AS (
  SELECT CAST(round(score * {g}) AS BIGINT) AS q,
         CAST(sum(label) AS BIGINT) AS pos,
         CAST(sum(1 - label) AS BIGINT) AS neg
  FROM s GROUP BY q
),
tot AS (SELECT CAST(sum(pos + neg) AS BIGINT) AS n FROM b)
SELECT least(q * {_CAL_BINS} // {g}, {_CAL_BINS - 1}) AS bin,
       CAST(sum(pos + neg) AS BIGINT) AS n_docs,
       round(sum(q * (pos + neg)) / {g}.0 / sum(pos + neg), 4)
         AS mean_predicted,
       round(sum(pos) * 1.0 / sum(pos + neg), 4) AS observed_rate,
       round(CAST(sum(CAST(pos AS HUGEINT) * ({g} - q) * ({g} - q)
                      + CAST(neg AS HUGEINT) * q * q) AS DOUBLE)
             / CAST(min(tot.n) * CAST({g} AS HUGEINT) * {g} AS DOUBLE), 6)
         AS brier_contrib
FROM b CROSS JOIN tot
GROUP BY bin
ORDER BY bin
"""


@register("classifier_calibration_report", oracle=_calibration_oracle())
def classifier_calibration_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram of the quality classifier against the
    held-out blocklist label: {_CAL_BINS} predicted-probability bins
    with mean predicted score vs observed positive rate (a calibrated
    model tracks the diagonal), plus each bin's contribution to the
    Brier score — summing the column gives the full Brier
    decomposition-free. The companion to classifier_auc_report: AUC
    ranks, calibration says whether the scores MEAN anything as
    probabilities (the difference between a filter threshold and a
    sampling weight).

    Determinism: scores quantize to the shared {_AUC_GRID} grid; the
    Brier numerator pos_q*(G-q)^2 + neg_q*q^2 is EXACT integer
    arithmetic (HUGEINT/DECIMAL(38)), divided once by N*G^2 at the
    edge. Scale shape: one scan, one groupBy(score-bucket) bounded by
    the grid, one {_CAL_BINS}-row aggregate."""
    g = _AUC_GRID
    d = load_table(spark, sf_dir, "documents", spread=True, bytes_per_task=256 * 1024)
    t = d.select(tokens_ws("text").alias("toks"))
    label = F.when(
        F.size(F.filter(F.col("toks"), lambda tk: tk.isin(*_BLOCKLIST))) == 0, 1
    ).otherwise(0)
    feats = _quality_features(F.col("toks"))
    s = t.select(label.alias("label"), _quality_score(feats).alias("score"))
    b = (
        s.select("label", F.round(F.col("score") * g).cast("long").alias("q"))
        .groupBy("q")
        .agg(
            F.sum("label").cast("long").alias("pos"),
            F.sum(1 - F.col("label")).cast("long").alias("neg"),
        )
    )
    tot = b.agg(F.sum(F.col("pos") + F.col("neg")).cast("long").alias("n"))
    dec = "decimal(38,0)"
    nb = F.sum(F.col("pos") + F.col("neg"))
    brier_num = F.sum(
        F.col("pos").cast(dec) * (g - F.col("q")) * (g - F.col("q"))
        + F.col("neg").cast(dec) * F.col("q") * F.col("q")
    )
    return (
        b.crossJoin(tot)
        .groupBy(
            F.least(
                F.expr(f"(q * {_CAL_BINS}) div {g}"), F.lit(_CAL_BINS - 1)
            ).alias("bin")
        )
        .agg(
            nb.cast("long").alias("n_docs"),
            F.round(
                F.sum(F.col("q") * (F.col("pos") + F.col("neg"))) / float(g) / nb,
                4,
            ).alias("mean_predicted"),
            F.round(F.sum("pos") * 1.0 / nb, 4).alias("observed_rate"),
            F.round(
                brier_num.cast("double")
                / (F.min("n") * F.lit(g).cast(dec) * g).cast("double"),
                6,
            ).alias("brier_contrib"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# Diversity coreset selection — Gonzalez (1985) greedy k-center over the
# embedding space: the coverage-driven data-selection primitive
# (DeepCore / craig-style "select for diversity, not just quality")
# that complements the quality classifier's pointwise filter
# ---------------------------------------------------------------------------

_KC_K = 8  # coreset size (2-approximation to the optimal k-center radius)
_KC_QSCALE = 1000  # integer quantization grid shared with kmeans_quantized


def _kc_oracle(k: int = _KC_K, qscale: int = _KC_QSCALE) -> str:
    """Unrolled greedy replay (the kmeans_lloyd_sql device: fixed
    iteration count, no recursion, pure-integer distances)."""
    d2 = (
        "list_sum(list_transform(generate_series(1, len(v.qv)), "
        "i -> (v.qv[i] - s.qv[i]) * (v.qv[i] - s.qv[i])))"
    )
    parts = [
        f"""kcq AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * {qscale}) AS BIGINT)) AS qv
  FROM embeddings WHERE embedding IS NOT NULL
)""",
        """set1 AS MATERIALIZED (
  SELECT vec_id, qv FROM kcq
  ORDER BY substring(md5('kc|' || CAST(vec_id AS VARCHAR)), 1, 15), vec_id
  LIMIT 1
)""",
    ]
    for r in range(1, k + 1):
        parts.append(
            f"""cand{r} AS MATERIALIZED (
  SELECT v.vec_id, v.qv, min({d2}) AS mind2
  FROM kcq v CROSS JOIN set{r} s
  WHERE v.vec_id NOT IN (SELECT vec_id FROM set{r})
  GROUP BY v.vec_id, v.qv
  ORDER BY mind2 DESC, v.vec_id
  LIMIT 1
)"""
        )
        if r < k:
            parts.append(
                f"""set{r + 1} AS MATERIALIZED (
  SELECT vec_id, qv FROM set{r}
  UNION ALL
  SELECT vec_id, qv FROM cand{r}
)"""
            )
    rows = [
        "SELECT CAST(0 AS INT) AS step, (SELECT vec_id FROM set1) AS vec_id,"
        " CAST(NULL AS BIGINT) AS radius_sq"
    ]
    rows += [
        f"SELECT CAST({r} AS INT), vec_id, CAST(mind2 AS BIGINT) FROM cand{r}"
        for r in range(1, k + 1)
    ]
    return (
        "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL ".join(rows)
        + "\nORDER BY step"
    )


@register("kcenter_coreset", oracle=_kc_oracle())
def kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset over the embeddings table (Gonzalez
    1985, a 2-approximation to the optimal k-center cover): seed with
    the md5-hash-first vector, then repeatedly add the UNSELECTED
    point farthest from the selected set. The output is the greedy
    trajectory — steps 1..7 are the selected centers with the coverage
    radius each one broke, and step 8 is the point the next round
    would pick, i.e. the coreset's current coverage radius (on a table
    with <= 8 points the trajectory simply ends early, identically in
    both engines). Diversity-driven selection
    is the curation counterpart to quality_classifier's pointwise
    filter: a training subsample that COVERS the embedding space
    instead of oversampling its densest mode (and the same trajectory,
    read backwards, is an outlier report — early far points are the
    corpus's isolated modes).

    Determinism: vectors quantize to the kmeans_quantized integer grid
    (floor(x * 1000), BIGINT), so every pairwise distance is an EXACT
    integer and the argmax per round breaks ties on min vec_id in both
    engines — no float comparison anywhere; the oracle replays the
    same greedy with unrolled rounds (the kmeans_lloyd_sql device).

    Scale shape: k passes over the corpus, each a single scan with the
    <= k selected centers folded into the projection (bounded k x d
    state, the kmeans centroid precedent) and a one-row max(struct)
    reduce — no shuffle wider than one row per pass; the quantized
    projection is computed once and cached for the loop. At 100 TB the
    k scans ARE the cost, linear and embarrassingly parallel; for
    large k the documented upgrade is k-means||-style oversampling
    (sample O(k) candidates per pass, then re-run greedy on the
    candidate set), which this trajectory report deliberately keeps
    exact instead."""
    e = load_table(spark, sf_dir, "embeddings", spread=True)
    qv = e.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * _KC_QSCALE).cast("long"),
        ).alias("qv"),
    ).persist()
    try:
        seeds = (
            qv.orderBy(
                F.substring(
                    F.md5(F.concat(F.lit("kc|"), F.col("vec_id").cast("string"))),
                    1,
                    15,
                ),
                "vec_id",
            )
            .limit(1)
            .collect()
        )
        if not seeds:
            # empty table: the oracle's scalar subquery still emits its
            # step-0 row with NULL vec_id — mirror it for parity
            return spark.createDataFrame(
                [(0, None, None)], "step int, vec_id long, radius_sq long"
            )
        seed = seeds[0]
        centers = [list(seed.qv)]
        selected = [int(seed.vec_id)]
        out = [(0, int(seed.vec_id), None)]

        def d2_to(center: list[int]):
            arr = F.array(*[F.lit(int(c)) for c in center])
            return F.aggregate(
                F.zip_with(F.col("qv"), arr, lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )

        for r in range(1, _KC_K + 1):
            mind2 = (
                F.least(*[d2_to(c) for c in centers])
                if len(centers) > 1
                else d2_to(centers[0])
            )
            far = (
                qv.filter(~F.col("vec_id").isin(selected))
                .select(
                    F.max(
                        F.struct(
                            mind2.alias("m"),
                            (-F.col("vec_id")).alias("nv"),
                            F.col("qv").alias("q"),
                        )
                    ).alias("s")
                )
                .collect()[0]["s"]
            )
            if far is None:  # fewer than k+1 points: trajectory just ends
                break
            out.append((r, int(-far.nv), int(far.m)))
            if r < _KC_K:
                centers.append(list(far.q))
                selected.append(int(-far.nv))
    finally:
        qv.unpersist()
    return spark.createDataFrame(
        out, "step int, vec_id long, radius_sq long"
    ).orderBy("step")


# ---------------------------------------------------------------------------
# Unicode hygiene audit — the cleanup pass every web-scrape corpus needs
# before tokenization (UTF-8 decode errors surface as U+FFFD; PDF/OCR
# extractions leak C0 controls; CMS templates leak zero-width chars
# that silently split tokens; double-decoded UTF-8 shows as mojibake
# digraphs). This is the READ side — it measures what a cleanup pass
# would touch; the llm_corpus_report-style filter would consume its
# thresholds.
# ---------------------------------------------------------------------------

# Pattern notes: every class uses only syntax with IDENTICAL semantics
# in Java regex (Spark) and RE2 (DuckDB) — literal chars, \xHH, \x{HHHH}
# ranges; no lookaround, no \p classes. Parity over all four classes is
# pinned on a planted hostile corpus (tests/test_unicode_cleanup.py).
_RE_REPLACEMENT = "�"  # U+FFFD: a decoder already gave up here
_RE_CONTROL = r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]"  # C0 minus \t\n\r, plus DEL
_RE_ZERO_WIDTH = r"[\x{200B}-\x{200D}\x{FEFF}]"  # ZWSP/ZWNJ/ZWJ + stray BOM
# double-decoded UTF-8: a lead-byte-shaped char (Â Ã â cover the
# Latin-1/general-punctuation pages where real text lives) followed by a
# continuation-byte-shaped char U+0080-U+00BF
_RE_MOJIBAKE = "[ÂÃâ][\\x{0080}-\\x{00BF}]"


@register(
    "unicode_cleanup_report",
    oracle=f"""
per_doc AS (
  SELECT source,
    len(regexp_extract_all(coalesce(text, ''), '{_RE_REPLACEMENT}')) AS repl,
    len(regexp_extract_all(coalesce(text, ''), '{_RE_CONTROL}')) AS ctrl,
    len(regexp_extract_all(coalesce(text, ''), '{_RE_ZERO_WIDTH}')) AS zw,
    len(regexp_extract_all(coalesce(text, ''), '{_RE_MOJIBAKE}')) AS moji
  FROM documents
)
SELECT source,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(CASE WHEN repl + ctrl + zw + moji > 0 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_docs_affected,
  CAST(sum(repl) AS BIGINT) AS repl_chars,
  CAST(sum(ctrl) AS BIGINT) AS ctrl_chars,
  CAST(sum(zw) AS BIGINT) AS zw_chars,
  CAST(sum(moji) AS BIGINT) AS moji_seqs,
  round(sum(CASE WHEN repl + ctrl + zw + moji > 0 THEN 1 ELSE 0 END) * 1.0
        / count(*), 4) AS pct_docs_affected
FROM per_doc GROUP BY source ORDER BY source
""".replace("per_doc AS", "WITH per_doc AS"),
)
def unicode_cleanup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Unicode-hygiene audit: how many documents (and how
    many characters) a cleanup pass would touch, split by defect class
    — U+FFFD replacement chars (upstream decode failures), C0 control
    chars other than tab/newline/CR (OCR and PDF extraction debris),
    zero-width chars incl. stray BOMs (CMS/template artifacts that
    silently split tokens and break exact-dedup fingerprints), and
    mojibake digraphs (double-decoded UTF-8: lead-byte-shaped char
    followed by a continuation-byte-shaped char — the 'Ã©'/'â€™'
    signature). The audit-before-mutation pattern: run this, set
    thresholds, then wire the same regexes into the curation filter.

    Determinism: both engines run the same literal patterns restricted
    to syntax Java regex and RE2 interpret identically (literals,
    \\xHH, \\x{{HHHH}} ranges; no lookaround, no \\p). All counts are
    integers; the one ratio is a rounded edge division. Parity incl.
    every defect class is pinned on a planted hostile corpus — the
    sf0.01 corpus is clean ASCII, where this report proves all-zeros
    (itself worth asserting: a false positive on clean text means the
    cleanup pass would corrupt good documents).

    Scale shape: one projection computing four regexp_count's per doc
    (JVM codegen, no Python), then one map-side-combined groupBy on
    source (|sources| groups). At 100 TB this is a single scan at
    regex speed; nothing row-proportional crosses the exchange."""
    docs = load_table(spark, sf_dir, "documents").select(
        "source", F.coalesce("text", F.lit("")).alias("text")
    )
    per_doc = docs.select(
        "source",
        F.regexp_count("text", F.lit(_RE_REPLACEMENT)).alias("repl"),
        F.regexp_count("text", F.lit(_RE_CONTROL)).alias("ctrl"),
        F.regexp_count("text", F.lit(_RE_ZERO_WIDTH)).alias("zw"),
        F.regexp_count("text", F.lit(_RE_MOJIBAKE)).alias("moji"),
    )
    affected = (F.col("repl") + F.col("ctrl") + F.col("zw") + F.col("moji") > 0).cast(
        "long"
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(affected).alias("n_docs_affected"),
            F.sum("repl").cast("long").alias("repl_chars"),
            F.sum("ctrl").cast("long").alias("ctrl_chars"),
            F.sum("zw").cast("long").alias("zw_chars"),
            F.sum("moji").cast("long").alias("moji_seqs"),
            F.round(F.sum(affected) * 1.0 / F.count("*"), 4).alias(
                "pct_docs_affected"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Template / boilerplate mining — the "same scaffold, different fill"
# defect class that exact dedup misses (bodies differ) and near-dup
# underweights (the shared prefix is a small fraction of a long doc):
# CMS headers, cookie banners, SEO boilerplate, auto-generated listing
# pages. Grouping on a normalized fixed-width PREFIX finds scaffolds
# directly — the cheap first pass RefinedWeb/C4-style pipelines run
# before line-level dedup.
# ---------------------------------------------------------------------------

_TPL_PREFIX_CHARS = 48  # scaffold window: long enough to kill chance collisions
_TPL_MIN_DOCS = 3  # a prefix is a template once >= 3 docs share it
_TPL_TOP_K = 5  # templates reported per source


@register(
    "template_prefix_report",
    oracle=f"""
WITH norm AS (
  SELECT source,
         substr(trim(regexp_replace(lower(coalesce(text, '')),
                                    '[ \t\n\r]+', ' ', 'g')),
                1, {_TPL_PREFIX_CHARS}) AS prefix
  FROM documents
),
grp AS (
  SELECT source, prefix, CAST(count(*) AS BIGINT) AS n
  FROM norm GROUP BY source, prefix
),
ranked AS (
  SELECT source, prefix, n,
         row_number() OVER (PARTITION BY source ORDER BY n DESC, prefix) AS rk
  FROM grp
),
summary AS (
  SELECT source,
         CAST(sum(n) AS BIGINT) AS n_docs,
         CAST(count(*) AS BIGINT) AS n_prefixes,
         CAST(sum(CASE WHEN n >= {_TPL_MIN_DOCS} THEN n ELSE 0 END) AS BIGINT)
           AS n_template_docs
  FROM grp GROUP BY source
)
SELECT s.source, s.n_docs, s.n_prefixes, s.n_template_docs,
       round(s.n_template_docs * 1.0 / s.n_docs, 4) AS template_coverage,
       r.prefix AS top_prefix, r.n AS top_prefix_docs
FROM summary s JOIN ranked r ON r.source = s.source AND r.rk = 1
ORDER BY s.source
""",
)
def template_prefix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-template audit per source: documents are normalized
    (lowercase, whitespace runs collapsed to one space, trimmed) and
    grouped on their first {_TPL_PREFIX_CHARS} characters; a prefix
    shared by >= {_TPL_MIN_DOCS} docs is a template (CMS scaffold,
    cookie banner, SEO boilerplate, auto-generated listing — the
    defect class exact dedup misses because bodies differ and near-dup
    underweights because the shared prefix is a small part of a long
    doc). One row per source: doc/distinct-prefix counts, how many
    docs sit under a template and their share, plus the most common
    prefix as the drill-down exhibit. A clean corpus reports coverage
    0.0 with n_prefixes == n_docs — asserted on the synthetic corpus,
    where a false positive would mean the downstream filter deletes
    good documents; detection itself is pinned on a planted-template
    corpus (tests/test_template_prefix.py).

    Determinism: the top prefix is row_number ordered by (n DESC,
    prefix) — prefix is the group key, so the order is total and
    tie-proof (the planted tie-hostility audit class); whitespace
    collapse uses an explicit [ \\t\\n\\r]+ class because Java regex
    and RE2 disagree on \\s (vertical tab) and DuckDB's regexp_replace
    needs the 'g' flag Spark applies implicitly. All counts integer;
    one rounded edge ratio.

    Scale shape: one projection (regex normalize + substr, JVM
    codegen), one map-side-combined groupBy on (source, prefix) — the
    only row-proportional exchange, keyed wide enough to dodge skew —
    then a per-source summary and a rank-1 window over DISTINCT
    prefixes (never raw docs). At 100 TB: one scan, one shuffle of
    (source, 48-char prefix, count) partials."""
    docs = load_table(spark, sf_dir, "documents").select(
        "source", F.coalesce("text", F.lit("")).alias("text")
    )
    norm = docs.select(
        "source",
        F.substring(
            F.trim(F.regexp_replace(F.lower(F.col("text")), "[ \t\n\r]+", " ")),
            1,
            _TPL_PREFIX_CHARS,
        ).alias("prefix"),
    )
    grp = norm.groupBy("source", "prefix").agg(F.count("*").alias("n"))
    # the distinct-prefix table feeds both the summary and the top-1
    # window; it is prefix-bounded but derived from the full scan —
    # pin it to one corpus read (the psi/ks plan-audit lesson)
    grp = pin(grp)
    w = Window.partitionBy("source").orderBy(F.desc("n"), F.asc("prefix"))
    top = (
        grp.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("source", F.col("prefix").alias("top_prefix"), F.col("n").alias("top_prefix_docs"))
    )
    summary = grp.groupBy("source").agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.count("*").alias("n_prefixes"),
        F.sum(
            F.when(F.col("n") >= _TPL_MIN_DOCS, F.col("n")).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("n_template_docs"),
    )
    return (
        summary.join(top, "source")
        .select(
            "source",
            "n_docs",
            "n_prefixes",
            "n_template_docs",
            F.round(F.col("n_template_docs") * 1.0 / F.col("n_docs"), 4).alias(
                "template_coverage"
            ),
            "top_prefix",
            "top_prefix_docs",
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Context-length survival — the dial-setting twin of padding_efficiency
# (that query scores ONE packing config; this one sweeps the candidate
# context lengths and reports what truncation at each would cost).
# Training configs pick max_seq_len off exactly this curve: the
# smallest L whose token loss is acceptable.
# ---------------------------------------------------------------------------

_CTX_LADDER = [16, 32, 64, 128]  # spans the corpus: median ~56 ws-tokens


@register(
    "context_length_survival",
    oracle=f"""
WITH per_doc AS (
  SELECT source,
         CASE WHEN text IS NULL OR text = '' THEN 0
              ELSE len(string_split(text, ' ')) END AS n_tok
  FROM documents
),
ladder AS (SELECT unnest([{", ".join(str(x) for x in _CTX_LADDER)}]) AS ctx_len)
SELECT p.source, l.ctx_len,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(CASE WHEN p.n_tok > l.ctx_len THEN 1 ELSE 0 END) AS BIGINT)
    AS n_docs_truncated,
  CAST(sum(p.n_tok) AS BIGINT) AS tokens_total,
  CAST(sum(greatest(p.n_tok - l.ctx_len, 0)) AS BIGINT) AS tokens_lost,
  round(1.0 - sum(greatest(p.n_tok - l.ctx_len, 0)) * 1.0 / sum(p.n_tok), 4)
    AS token_survival
FROM per_doc p CROSS JOIN ladder l
GROUP BY p.source, l.ctx_len
ORDER BY p.source, l.ctx_len
""",
)
def context_length_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncation-cost sweep over candidate training context lengths
    {_CTX_LADDER}: per (source, ctx_len), how many documents exceed the
    context and how many tokens truncation would discard, with the
    surviving-token share. The curve answers the config question
    padding_efficiency (one fixed packing) cannot: the smallest
    max_seq_len whose token loss is acceptable, and whether a source
    (e.g. books vs web) pays disproportionately — the standard
    pre-training length-budget exhibit.

    Determinism: whitespace token counts (the token_stats convention),
    NULL/empty text counted as 0 tokens explicitly (split('') is
    1-element in both engines — the planted-NULL audit class); all
    integer sums, one rounded edge ratio.

    Scale shape: one projection to (source, n_tok), a {len(_CTX_LADDER)}x
    explode over the ladder literals (map-side, pre-combined before the
    exchange), one groupBy on (source, ctx_len) — |sources| x
    {len(_CTX_LADDER)} groups. At 100 TB: one scan; the shuffle carries
    only combined partials."""
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.when(
        F.col("text").isNull() | (F.col("text") == ""), F.lit(0)
    ).otherwise(F.size(tokens_ws("text")))
    per_doc = d.select("source", n_tok.alias("n_tok"))
    ladder = F.explode(
        F.array(*[F.lit(x) for x in _CTX_LADDER])
    ).alias("ctx_len")
    lost = F.greatest(F.col("n_tok") - F.col("ctx_len"), F.lit(0))
    return (
        per_doc.select("source", "n_tok", ladder)
        .groupBy("source", "ctx_len")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum((F.col("n_tok") > F.col("ctx_len")).cast("long")).alias(
                "n_docs_truncated"
            ),
            F.sum("n_tok").cast("long").alias("tokens_total"),
            F.sum(lost).cast("long").alias("tokens_lost"),
            F.round(
                F.lit(1.0) - F.sum(lost) * 1.0 / F.sum("n_tok"), 4
            ).alias("token_survival"),
        )
        .orderBy("source", "ctx_len")
    )


# ---------------------------------------------------------------------------
# Quality-filter operating curve
# ---------------------------------------------------------------------------

# Candidate cutoffs spanning the calibrated score range (scores span
# ~0.35-0.85 on this corpus; see the logistic-model note above). Plain
# literals so both engines parse the identical double.
_QF_THRESHOLDS = [0.3, 0.35, 0.4, 0.45, 0.5, 0.55, 0.6, 0.65, 0.7, 0.75]
_QF_GRID = 1_000_000  # 1e-6 micro-grid for the mean-score sum (exact)


@register(
    "quality_filter_tradeoff",
    oracle=f"""
WITH t AS (
  SELECT string_split(text, ' ') AS toks FROM documents WHERE text IS NOT NULL
),
f AS (SELECT {_FEATURES_SQL} FROM t),
scored AS (
  SELECT n_toks, {_SCORE_SQL} AS score,
         CAST(round({_SCORE_SQL} * {_QF_GRID}) AS DECIMAL(38,0)) AS q
  FROM f
),
totals AS (
  SELECT count(*) AS total_docs, CAST(sum(n_toks) AS BIGINT) AS total_tokens
  FROM scored
),
grid AS (SELECT unnest([{", ".join(str(t) for t in _QF_THRESHOLDS)}]) AS threshold),
kept AS (
  SELECT g.threshold,
         count(*) FILTER (s.score >= g.threshold) AS n_docs_kept,
         CAST(coalesce(sum(s.n_toks) FILTER (s.score >= g.threshold), 0)
              AS BIGINT) AS tokens_kept,
         coalesce(sum(s.q) FILTER (s.score >= g.threshold),
                  CAST(0 AS DECIMAL(38,0))) AS qsum
  FROM grid g CROSS JOIN scored s
  GROUP BY g.threshold
)
SELECT k.threshold,
       k.n_docs_kept,
       round(k.n_docs_kept * 1.0 / t.total_docs, 4) AS pct_docs_kept,
       k.tokens_kept,
       round(k.tokens_kept * 1.0 / t.total_tokens, 4) AS pct_tokens_kept,
       CASE WHEN k.n_docs_kept > 0
            THEN round(CAST(k.qsum AS DOUBLE) / {_QF_GRID} / k.n_docs_kept, 4)
            END AS mean_score_kept
FROM kept k CROSS JOIN totals t
ORDER BY k.threshold
""",
)
def quality_filter_tradeoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter operating curve: for each candidate cutoff, the
    documents and tokens a `score >= threshold` filter would keep
    (count and corpus share) and the mean score of the kept set — the
    table a training-data pipeline publishes BEFORE committing to a
    cutoff, making the aggressiveness/volume trade explicit (the
    C4-vs-CCNet debate is exactly this curve). Reuses the calibrated
    logistic quality model shared by quality_classifier / the AUC and
    calibration reports, so the curve describes the exact filter those
    queries apply at 0.5.

    Exactness: the score is computed in lockstep operation order in
    both engines (the module's _SCORE_SQL discipline), thresholds are
    plain literals, and the kept-set mean accumulates per-doc scores on
    the 1e-6 integer grid as decimal(38,0) — no double summation-order
    dependence anywhere.

    Scale shape: one corpus scan computes (n_toks, score, grid score)
    per doc; the 10-threshold fan-out explodes a constant array on rows
    that are already 3 narrow numbers, and partial aggregation
    collapses each task's slice to 10 rows before any wire — the
    shuffle moves O(10 x tasks) rows regardless of corpus size. The
    totals travel as two more sum columns on each threshold row (also
    how the streaming monitor's state stays one mergeable table)."""
    d = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    return qf_readout(qf_curve_rollup(qf_doc_stats(d)))


# Shared map/reduce halves — the streaming monitor
# (streaming/quality_curve.py) reuses these so its readout IS the batch
# curve over arrived rows (the repetition/watermark-monitor template).


def qf_doc_stats(d: DataFrame) -> DataFrame:
    """(n_toks, score, q) per document over (text, ...) rows — the map
    half: the calibrated logistic score plus its 1e-6-grid quantization.
    NULL-text rows are dropped (nothing to score)."""
    t = d.where(F.col("text").isNotNull()).select(tokens_ws("text").alias("toks"))
    feats = _quality_features(F.col("toks"))
    score = _quality_score(feats)
    return t.select(
        feats["n_toks"].cast("long").alias("n_toks"),
        score.alias("score"),
        F.round(score * _QF_GRID, 0).cast("decimal(38,0)").alias("q"),
    )


def qf_curve_rollup(scored: DataFrame) -> DataFrame:
    """Per-threshold mergeable state over doc stats: kept counts, kept
    token mass, the grid score sum, and the corpus totals replicated as
    two more sum columns — every field an exact sum, so batch
    boundaries and arrival order cannot change the readout."""
    thr = F.array(*[F.lit(x) for x in _QF_THRESHOLDS])
    keep = F.col("score") >= F.col("threshold")
    return (
        scored.select(F.explode(thr).alias("threshold"), "n_toks", "score", "q")
        .groupBy("threshold")
        .agg(
            F.sum(F.when(keep, 1).otherwise(0)).cast("long").alias("n_docs_kept"),
            F.coalesce(F.sum(F.when(keep, F.col("n_toks"))), F.lit(0))
            .cast("long")
            .alias("tokens_kept"),
            F.coalesce(F.sum(F.when(keep, F.col("q"))), F.lit(0))
            .cast("decimal(38,0)")
            .alias("qsum"),
            F.count("*").cast("long").alias("total_docs"),
            F.sum("n_toks").cast("long").alias("total_tokens"),
        )
    )


def qf_merge_rollups(states: DataFrame) -> DataFrame:
    """Fold any union of curve states back into one row per threshold."""
    aggs = [
        F.sum(c).cast("long").alias(c)
        for c in ("n_docs_kept", "tokens_kept", "total_docs", "total_tokens")
    ]
    aggs.insert(2, F.sum("qsum").cast("decimal(38,0)").alias("qsum"))
    return states.groupBy("threshold").agg(*aggs)


def qf_readout(state: DataFrame) -> DataFrame:
    """The curve rows from a rollup state: counts pass through, shares
    and the kept-set mean derive from exact sums."""
    return state.select(
        "threshold",
        "n_docs_kept",
        F.round(F.col("n_docs_kept") * 1.0 / F.col("total_docs"), 4).alias(
            "pct_docs_kept"
        ),
        "tokens_kept",
        F.round(F.col("tokens_kept") * 1.0 / F.col("total_tokens"), 4).alias(
            "pct_tokens_kept"
        ),
        F.when(
            F.col("n_docs_kept") > 0,
            F.round(
                F.col("qsum").cast("double") / _QF_GRID / F.col("n_docs_kept"), 4
            ),
        ).alias("mean_score_kept"),
    ).orderBy("threshold")


# ---------------------------------------------------------------------------
# Data-constrained epoch planning (repetition budgeting)
# ---------------------------------------------------------------------------

# Token budget as a multiple of the corpus (how much training the run
# will do relative to one full pass), the temperature alpha shared with
# temperature_mix_weights, and the data-constrained-scaling constants
# of Muennighoff et al., NeurIPS 2023: value of repeated data decays
# with half-life R* ~ 15.4 repetitions, and ~4 epochs is the knee
# beyond which repetition stops paying.
_EPOCH_BUDGET_MULT = 4
_EPOCH_RSTAR = 15.4
_EPOCH_KNEE = 4.0


@register(
    "epochs_per_source_report",
    oracle=f"""
WITH t AS (
  SELECT source, len(string_split(text, ' ')) AS n_tok
  FROM documents WHERE text IS NOT NULL
),
agg AS (
  SELECT source, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS source_tokens
  FROM t GROUP BY source
),
share AS (
  SELECT source, n_docs, source_tokens,
         source_tokens * 1.0 / (SELECT sum(source_tokens) FROM agg) AS p
  FROM agg
),
scaled AS (
  SELECT source, n_docs, source_tokens, p, pow(p, {_TEMP_ALPHA}) AS pa FROM share
),
ep AS (
  SELECT source, n_docs, source_tokens, p,
         {_EPOCH_BUDGET_MULT} * (pa / (SELECT sum(pa) FROM scaled)) / p
           AS epochs_raw
  FROM scaled
)
SELECT source, n_docs, source_tokens,
       round(p, 6) AS token_share,
       round(epochs_raw, 4) AS epochs,
       round(1 + {_EPOCH_RSTAR} * (1 - exp(-(epochs_raw - 1) / {_EPOCH_RSTAR})), 4)
         AS effective_epochs,
       epochs_raw > {_EPOCH_KNEE} AS over_knee
FROM ep
ORDER BY source
""",
)
def epochs_per_source_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-constrained epoch planning (Muennighoff et al., NeurIPS
    2023): given a token budget of 4x the corpus and the
    temperature-alpha sampling weights (same alpha as
    temperature_mix_weights, over SOURCE), how many epochs each source
    actually runs — epochs = budget * sample_prob / token_share — plus
    the paper's diminishing-returns correction (repeated data decays
    with half-life R* ~ 15.4: effective epochs =
    1 + R*(1 - exp(-(k-1)/R*))) and the 4-epoch knee flag beyond which
    repetition stops paying. Upsampled tail sources hitting the knee is
    THE failure mode of naive temperature mixing on skewed corpora;
    this is the table that catches it before a run is launched.

    Scale shape: one corpus scan to (source, n_tok), one bounded
    per-source aggregate, totals broadcast back onto the source rows —
    nothing beyond the scan grows with the corpus. Double arithmetic is
    written in lockstep operation order in both engines (pow/exp over
    the same aggregated integers; the repo's round-after discipline)."""
    d = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    t = d.select("source", F.size(tokens_ws("text")).cast("long").alias("n_tok"))
    agg = t.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("source_tokens"),
    )
    totals = agg.agg(
        F.sum("source_tokens").alias("tot_tokens"),
    )
    share = agg.crossJoin(F.broadcast(totals)).select(
        "source",
        "n_docs",
        "source_tokens",
        (F.col("source_tokens") * 1.0 / F.col("tot_tokens")).alias("p"),
    )
    scaled = share.withColumn("pa", F.pow("p", _TEMP_ALPHA))
    pa_tot = scaled.agg(F.sum("pa").alias("pa_tot"))
    ep = scaled.crossJoin(F.broadcast(pa_tot)).select(
        "source",
        "n_docs",
        "source_tokens",
        "p",
        (
            F.lit(_EPOCH_BUDGET_MULT)
            * (F.col("pa") / F.col("pa_tot"))
            / F.col("p")
        ).alias("epochs"),
    )
    eff = F.lit(1) + _EPOCH_RSTAR * (
        F.lit(1) - F.exp(-(F.col("epochs") - 1) / _EPOCH_RSTAR)
    )
    return ep.select(
        "source",
        "n_docs",
        "source_tokens",
        F.round("p", 6).alias("token_share"),
        F.round("epochs", 4).alias("epochs"),
        F.round(eff, 4).alias("effective_epochs"),
        (F.col("epochs") > _EPOCH_KNEE).alias("over_knee"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# Split-conformal threshold calibration (Vovk et al. 2005; Papadopoulos
# et al. 2002; Angelopoulos & Bates 2023 survey) — the finite-sample
# counterpart of quality_filter_tradeoff: instead of reporting keep
# rates at fixed thresholds, pick the threshold FROM a held-out
# calibration split so that a fresh in-distribution document scores
# above it with probability >= 1 - alpha (exchangeability guarantee).
# ---------------------------------------------------------------------------

_CONF_GRID = 10_000  # score grid (the quality_quantile_normalize grid)
_CONF_ALPHAS = (1, 5, 10, 20)  # alpha in percent
_CONF_CAL_PCT = 20  # hash64(doc_id,'conf') % 100 < 20 -> calibration


@register(
    "conformal_threshold_report",
    oracle=f"""
WITH ct AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
  WHERE text IS NOT NULL
),
cf AS (SELECT doc_id, {_FEATURES_SQL} FROM ct),
cs AS (
  SELECT CASE WHEN {hash64_sql("CAST(doc_id AS VARCHAR)", "conf")} % 100
              < {_CONF_CAL_PCT} THEN 'cal' ELSE 'eval' END AS split,
         CAST(round({_SCORE_SQL} * {_CONF_GRID}) AS BIGINT) AS q
  FROM cf
),
ncal AS (SELECT count(*) AS n_cal FROM cs WHERE split = 'cal'),
nev AS (SELECT count(*) AS n_eval FROM cs WHERE split = 'eval'),
cb AS (SELECT q, count(*) AS cnt FROM cs WHERE split = 'cal' GROUP BY q),
cc AS (
  SELECT q, sum(cnt) OVER (
    ORDER BY q ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  ) AS cum FROM cb
),
eb AS (SELECT q, count(*) AS cnt FROM cs WHERE split = 'eval' GROUP BY q),
al (alpha_pct) AS (VALUES (1), (5), (10), (20)),
kk AS (
  SELECT alpha_pct, (alpha_pct * (n.n_cal + 1)) // 100 AS k, n.n_cal
  FROM al CROSS JOIN ncal n
),
th AS (
  SELECT k.alpha_pct, k.n_cal, k.k, min(c.q) AS qt
  FROM kk k LEFT JOIN cc c ON c.cum >= k.k AND k.k >= 1
  GROUP BY k.alpha_pct, k.n_cal, k.k
),
kept AS (
  SELECT t.alpha_pct,
         COALESCE(CAST(sum(CASE WHEN t.qt IS NULL OR e.q >= t.qt
                                THEN e.cnt ELSE 0 END) AS BIGINT), 0)
           AS n_kept_eval
  FROM th t LEFT JOIN eb e ON true
  GROUP BY t.alpha_pct
)
SELECT round(t.alpha_pct / 100.0, 2) AS alpha,
       CAST(t.n_cal AS BIGINT) AS n_cal,
       CAST(t.k AS BIGINT) AS k_rank,
       round(t.qt / {_CONF_GRID}.0, 4) AS threshold,
       CAST(v.n_eval AS BIGINT) AS n_eval,
       k.n_kept_eval,
       CASE WHEN v.n_eval > 0
            THEN round(k.n_kept_eval * 1.0 / v.n_eval, 6) END AS coverage_eval
FROM th t JOIN kept k ON k.alpha_pct = t.alpha_pct CROSS JOIN nev v
ORDER BY alpha
""",
)
def conformal_threshold_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal calibration of the quality filter: a {_CONF_CAL_PCT}%
    hash-held-out calibration split picks, for each alpha in
    {{0.01, 0.05, 0.1, 0.2}}, the threshold t = the k-th smallest
    calibration score with k = floor(alpha * (n_cal + 1)) — by
    exchangeability a fresh in-distribution document scores >= t with
    probability >= 1 - alpha. The report pins the chosen thresholds
    AND the realized coverage on the remaining documents, the number a
    release review actually reads (guarantee is marginal over
    calibration draws; the realized column shows this draw).

    Exactness: scores land on the {_CONF_GRID} integer grid (the
    quantile-normalize discipline), k is exact integer arithmetic, the
    threshold is a grid value selected by an order-only rule (min q
    with cumulative calibration count >= k), and coverage divides
    exact integers once. k < 1 (alpha below 1/(n_cal+1) resolution)
    yields a NULL threshold = keep everything — the conformal
    convention for unattainably small alpha, planted-tested.

    Scale shape: one corpus scan to (split, grid score); per-split
    grid-bucket tables are bounded by the {_CONF_GRID}-value grid, so
    the cumulative window and the 4-row threshold/coverage joins are
    constant-size work (broadcast nested loops over bounded sides, by
    construction). The split rule is the samplers' hash64 — append-
    stable and engine-exact."""
    d = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    toks = d.select("doc_id", tokens_ws("text").alias("toks"))
    feats = _quality_features(F.col("toks"))
    score = _quality_score(feats)
    cs = toks.select(
        F.when(
            hash64(F.col("doc_id").cast("string"), "conf") % 100
            < _CONF_CAL_PCT,
            "cal",
        )
        .otherwise("eval")
        .alias("split"),
        F.round(score * _CONF_GRID).cast("long").alias("q"),
    )
    # ONE corpus scan (r10, guide §2.4): cs was consumed by four
    # branches (n_cal, n_eval, cal buckets, eval buckets), and with no
    # exchange between the scan and the branch filters each one re-ran
    # the tokenize+score pipeline — 4 corpus scans for one report.
    # Aggregating to per-(split, grid-value) counts first is a single
    # scan, and the result is bounded by 2 x {_CONF_GRID} rows, so the
    # pin that stops the four consumers from recomputing it is
    # constant-size at any corpus.
    sq = pin(
        cs.groupBy("split", "q")
        .agg(F.count("*").alias("cnt"))
    )
    ncal = sq.filter("split = 'cal'").agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("n_cal")
    )
    nev = sq.filter("split = 'eval'").agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("n_eval")
    )
    cb = sq.filter("split = 'cal'").select("q", "cnt")
    wq = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, 0)
    cc = cb.select("q", F.sum("cnt").over(wq).alias("cum"))
    eb = sq.filter("split = 'eval'").select("q", "cnt")
    al = spark.createDataFrame(
        [(a,) for a in _CONF_ALPHAS], "alpha_pct long"
    )
    kk = al.crossJoin(F.broadcast(ncal)).select(
        "alpha_pct",
        F.expr("(alpha_pct * (n_cal + 1)) DIV 100").alias("k"),
        "n_cal",
    )
    th = (
        kk.join(
            cc, (F.col("cum") >= F.col("k")) & (F.col("k") >= 1), "left"
        )
        .groupBy("alpha_pct", "n_cal", "k")
        .agg(F.min("q").alias("qt"))
    )
    kept = (
        th.crossJoin(eb)
        .groupBy("alpha_pct")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("qt").isNull() | (F.col("q") >= F.col("qt")),
                        F.col("cnt"),
                    ).otherwise(0)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("n_kept_eval")
        )
    )
    # LEFT join (not inner): the oracle's ``kept`` CTE is built with
    # LEFT JOIN eb ON true, so an EMPTY eval split (degenerate corpus:
    # everything hashed into calibration, or all-NULL text) still
    # yields all alpha rows with n_kept_eval = 0. An inner join here
    # would return 0 rows on that edge — a cross-engine divergence
    # (ADVICE r08).
    return (
        th.join(kept, "alpha_pct", "left")
        .crossJoin(F.broadcast(nev))
        .select(
            F.round(F.col("alpha_pct") / 100.0, 2).alias("alpha"),
            F.col("n_cal").cast("long").alias("n_cal"),
            F.col("k").cast("long").alias("k_rank"),
            F.round(F.col("qt") / float(_CONF_GRID), 4).alias("threshold"),
            F.col("n_eval").cast("long").alias("n_eval"),
            F.coalesce(F.col("n_kept_eval"), F.lit(0))
            .cast("long")
            .alias("n_kept_eval"),
            F.when(
                F.col("n_eval") > 0,
                F.round(F.col("n_kept_eval") * 1.0 / F.col("n_eval"), 6),
            ).alias("coverage_eval"),
        )
        .orderBy("alpha")
    )
