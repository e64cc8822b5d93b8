"""Text-analysis operators over the ``documents`` table (engine-grade
extensions for training-data pipelines: token counting, language ID,
quality scoring, document fingerprinting).

All implementations are pure Catalyst expressions (split/transform/
aggregate higher-order functions) — the entire text path stays in
whole-stage codegen; there is no Python in any of these plans. Each
query's oracle mirrors the arithmetic exactly (see functions/text.py for
the cross-engine determinism contracts).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from http_log_anonymizer_spark.functions.text import (
    count_occurrences,
    count_occurrences_sql,
    hash64,
    hash64_sql,
    shingles,
    shingles_sql,
    tokens_re,
    tokens_ws,
)
from http_log_anonymizer_spark.operators.materialize import pin
from http_log_anonymizer_spark.plans.registry import register
from http_log_anonymizer_spark.sources.batch import load_table


@register(
    "token_stats",
    oracle="""
SELECT
  lang,
  count(*) AS n_docs,
  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens_ws,
  round(avg(len(string_split(text, ' '))), 4) AS avg_tokens_ws,
  CAST(sum(len(string_split_regex(text, '[^a-z0-9]+'))) AS BIGINT) AS total_tokens_re,
  round(avg(n_chars), 4) AS avg_chars
FROM documents
GROUP BY lang
ORDER BY lang
""",
    bench=True,
)
def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace + BPE-ish alphanumeric-run regex) with
    per-language stats. Scan-bound single aggregation; the split arrays
    never materialize beyond the size() call."""
    d = load_table(spark, sf_dir, "documents")
    n_ws = F.size(tokens_ws("text"))
    n_re = F.size(tokens_re("text"))
    return (
        d.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(n_ws).alias("total_tokens_ws"),
            F.round(F.avg(n_ws), 4).alias("avg_tokens_ws"),
            F.sum(n_re).alias("total_tokens_re"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
        .orderBy("lang")
    )


# Marker-based language heuristic — deliberately simple, deterministic and
# identical in both engines. Real language ID would use char-n-gram
# models; the synthetic corpus is English-vocabulary word salad, so the
# heuristic's value here is exercising the classification plumbing.
_LANG_MARKERS = [
    ("de", ["% der %", "% und %", "% nicht %"]),
    ("fr", ["% le %", "% la %", "% est %"]),
    ("es", ["% el %", "% los %", "% es %"]),
]


def _predict_lang_spark(col):
    expr = F.lit("en")
    for lang, pats in reversed(_LANG_MARKERS):
        cond = F.lit(False)
        for p in pats:
            cond = cond | col.like(p)
        expr = F.when(cond, lang).otherwise(expr)
    return expr


def _predict_lang_sql(expr: str) -> str:
    branches = []
    for lang, pats in _LANG_MARKERS:
        cond = " OR ".join(f"{expr} LIKE '{p}'" for p in pats)
        branches.append(f"WHEN {cond} THEN '{lang}'")
    return "CASE " + " ".join(branches) + " ELSE 'en' END"


@register(
    "lang_id_confusion",
    oracle=f"""
SELECT
  lang,
  {_predict_lang_sql("text")} AS predicted,
  count(*) AS n
FROM documents
GROUP BY 1, 2
ORDER BY lang, predicted
""",
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (stopword-marker n-grams) evaluated as a
    confusion matrix against the labeled ``lang`` column."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("lang", _predict_lang_spark(F.col("text")).alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count("*").alias("n"))
        .orderBy("lang", "predicted")
    )


@register(
    "quality_histogram",
    oracle=f"""
WITH scored AS (
  SELECT
    lang,
    len(string_split(text, ' ')) AS n_tokens,
    {count_occurrences_sql("text", "the")} AS the_cnt,
    n_chars
  FROM documents
),
q AS (
  SELECT
    lang,
    least(1.0, n_tokens / 150.0) * 0.6
      + least(1.0, (the_cnt * 10.0) / n_tokens) * 0.2
      + least(1.0, n_chars / 600.0) * 0.2 AS score
  FROM scored
)
SELECT
  lang,
  CAST(floor(score * 10) AS BIGINT) AS bucket,
  count(*) AS n,
  round(avg(score), 4) AS avg_score
FROM q
GROUP BY 1, 2
ORDER BY lang, bucket
""",
)
def quality_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring: length + stopword-density + char-count
    components combined into [0,1], histogrammed per language. All
    integer/double arithmetic — bit-identical across engines."""
    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(tokens_ws("text"))
    the_cnt = count_occurrences("text", "the")
    score = (
        F.least(F.lit(1.0), n_tokens / F.lit(150.0)) * 0.6
        + F.least(F.lit(1.0), (the_cnt * 10.0) / n_tokens) * 0.2
        + F.least(F.lit(1.0), F.col("n_chars") / F.lit(600.0)) * 0.2
    )
    return (
        d.select("lang", score.alias("score"))
        .groupBy("lang", F.floor(F.col("score") * 10).alias("bucket"))
        .agg(F.count("*").alias("n"), F.round(F.avg("score"), 4).alias("avg_score"))
        .orderBy("lang", "bucket")
    )


@register(
    "doc_fingerprints",
    oracle=f"""
WITH t AS (
  SELECT doc_id, source, text, string_split(text, ' ') AS toks FROM documents
),
f AS (
  SELECT
    doc_id,
    source,
    md5(text) AS full_fp,
    list_min(list_transform({shingles_sql("toks")}, s -> {hash64_sql("s")})) AS min_shingle_fp
  FROM t
)
SELECT
  source,
  count(*) AS n_docs,
  count(DISTINCT full_fp) AS distinct_full,
  count(DISTINCT min_shingle_fp) AS distinct_min_shingle
FROM f
GROUP BY source
ORDER BY source
""",
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 of the full text plus a rolling-hash
    style min-shingle fingerprint (min over word-3-gram hashes — the
    1-permutation MinHash). distinct_min_shingle < n_docs exposes
    near-duplicate clusters that the exact fingerprint misses."""
    d = load_table(spark, sf_dir, "documents").select(
        "source", "text", tokens_ws("text").alias("toks")
    )
    min_fp = F.array_min(F.transform(shingles("toks"), lambda s: hash64(s)))
    return (
        d.select("source", F.md5("text").alias("full_fp"), min_fp.alias("min_shingle_fp"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_distinct("full_fp").alias("distinct_full"),
            F.count_distinct("min_shingle_fp").alias("distinct_min_shingle"),
        )
        .orderBy("source")
    )


@register(
    "doc_winnowing",
    oracle=f"""
WITH t AS (
  SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents
),
sh AS (
  SELECT doc_id, source,
         generate_subscripts({shingles_sql('toks')}, 1) AS pos,
         unnest({shingles_sql('toks')}) AS s
  FROM t
),
h AS (
  SELECT doc_id, source, pos,
         lpad(CAST({hash64_sql('s', 'win')} AS VARCHAR), 19, '0')
           || '_' || lpad(CAST(pos AS VARCHAR), 6, '0') AS fp
  FROM sh
),
winmin AS (
  SELECT doc_id, source,
         min(fp) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING
         ) AS sel
  FROM h
),
fps AS (SELECT DISTINCT doc_id, source, sel FROM winmin)
SELECT source,
       count(DISTINCT doc_id) AS n_docs,
       count(*) AS total_fps,
       count(DISTINCT substr(sel, 1, 19)) AS distinct_hashes
FROM fps
GROUP BY source
ORDER BY source
""",
)
def doc_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer et al., MOSS): the minimum
    shingle hash of every sliding window of 4 consecutive shingles,
    deduplicated — a guaranteed-coverage rolling-hash fingerprint set.
    Ties break deterministically by packing (hash, position) into a
    fixed-width string so lexicographic min == numeric min in any
    engine. Per-source fingerprint density; cross-document hash
    collisions (distinct_hashes < total_fps) are the near-dup signal a
    fingerprint index would join on."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", tokens_ws("text").alias("toks")
    )
    sh = d.select(
        "doc_id", "source", F.posexplode(shingles("toks")).alias("pos0", "s")
    ).select("doc_id", "source", (F.col("pos0") + 1).alias("pos"), "s")
    fp = F.concat_ws(
        "_",
        F.lpad(hash64("s", "win").cast("string"), 19, "0"),
        F.lpad(F.col("pos").cast("string"), 6, "0"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, 3)
    winmin = sh.select("doc_id", "source", F.min(fp).over(w).alias("sel"))
    fps = winmin.distinct()
    return (
        fps.groupBy("source")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count("*").alias("total_fps"),
            F.count_distinct(F.substring("sel", 1, 19)).alias("distinct_hashes"),
        )
        .orderBy("source")
    )


@register(
    "tfidf_top_terms",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term),
n AS (SELECT count(*) AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         round(tf.tf * ln((n.n + 1.0) / (df.df + 1.0)), 4) AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY tfidf DESC, term
  ) AS rank
  FROM scored
)
SELECT doc_id, term, rank, tfidf FROM ranked WHERE rank <= 3
ORDER BY doc_id, rank
""",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms — the classic relevance/keyword
    primitive of a text pipeline. tf and df are exact integers; the
    score multiplies an int by one log of an exact ratio, so both
    engines agree to the last ulp (no sum-order risk). Ranking uses the
    rounded score with a term tie-break.

    Scale shape: tf shuffles on (doc_id, term) with map-side partial
    counts; df on term; the corpus size N broadcasts as a 1-row cross
    join (never a driver collect). All JVM built-ins — no UDFs."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens_ws("text")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = d.agg(F.count("*").alias("n"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log((F.col("n") + 1.0) / (F.col("df") + 1.0)), 4
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (
        scored.select("*", F.row_number().over(w).alias("rank"))
        .filter(F.col("rank") <= 3)
        .orderBy("doc_id", "rank")
    )


# ---------------------------------------------------------------------------
# PII scrubbing — the reference's anonymization mission (lib.rs:1-20,
# anonymize_ip in src/lib.rs:278-284) generalized from IPs in HTTP logs
# to emails/phones/IPs in free text, the form a training-data pipeline
# needs. The corpus is synthetic word salad with no real PII, so a
# deterministic `pii` view plants markers derived from doc_id (the same
# derived-view pattern as http_log from events, FIXTURES.md §1): both
# engines construct bit-identical inputs, scrub with identical regexes,
# and the driver hash-checks redacted text + per-type counts.
# ---------------------------------------------------------------------------

# Patterns restricted to syntax with identical semantics in Java regex
# (Spark) and RE2 (DuckDB): ASCII classes, bounded repetition, \d, \b.
_PII_EMAIL = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PII_PHONE = r"\+\d{2}-\d{3}-\d{4}"
_PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"

# Deterministic planted-PII view: ~1/3 of docs get an email, 1/4 a
# phone, 1/5 an IPv4 (overlapping, so some docs carry several types and
# many carry none).
_PII_VIEW_SQL = """
pii AS (
  SELECT doc_id, source,
    text
    || CASE WHEN doc_id % 3 = 0
         THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com'
         ELSE '' END
    || CASE WHEN doc_id % 4 = 0
         THEN ' call +10-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
              || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         ELSE '' END
    || CASE WHEN doc_id % 5 = 0
         THEN ' host 10.' || CAST(doc_id % 256 AS VARCHAR)
              || '.' || CAST(doc_id * 7 % 256 AS VARCHAR)
              || '.' || CAST(doc_id * 13 % 256 AS VARCHAR)
         ELSE '' END AS t
  FROM documents
)
"""


def _pii_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> (doc_id, source, t) with planted PII markers; keep
    in lockstep with _PII_VIEW_SQL."""
    d = load_table(spark, sf_dir, "documents")
    email = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.com"),
        ),
    ).otherwise("")
    phone = F.when(
        F.col("doc_id") % 4 == 0,
        F.concat(
            F.lit(" call +10-"),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ),
    ).otherwise("")
    ip = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(
            F.lit(" host 10."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit("."),
            (F.col("doc_id") * 7 % 256).cast("string"),
            F.lit("."),
            (F.col("doc_id") * 13 % 256).cast("string"),
        ),
    ).otherwise("")
    return d.select(
        "doc_id", "source", F.concat("text", email, phone, ip).alias("t")
    )


@register(
    "scrub_pii",
    oracle=f"""
WITH {_PII_VIEW_SQL}
SELECT
  doc_id,
  len(regexp_extract_all(t, '{_PII_EMAIL}')) AS n_emails,
  len(regexp_extract_all(t, '{_PII_PHONE}')) AS n_phones,
  len(regexp_extract_all(t, '{_PII_IPV4}')) AS n_ips,
  regexp_replace(
    regexp_replace(
      regexp_replace(t, '{_PII_EMAIL}', '<EMAIL>', 'g'),
      '{_PII_PHONE}', '<PHONE>', 'g'),
    '{_PII_IPV4}', '<IP>', 'g') AS redacted
FROM pii
ORDER BY doc_id
""",
)
def scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document PII redaction: emails, then phones, then IPv4s are
    replaced by typed placeholders (fixed order — redaction output is
    order-sensitive), with per-type match counts for audit. One scan,
    zero shuffles, all JVM regex (no Python): the shape of a 100 TB
    scrub pass is map-only, so throughput is scan-bound and linear in
    executors. Patterns stay in the Java/RE2 common subset so both
    engines match identical spans (anonymize_ip analog for free text;
    lib.rs:278-284)."""
    p = _pii_view(spark, sf_dir)
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("t", _PII_EMAIL, "<EMAIL>"),
            _PII_PHONE,
            "<PHONE>",
        ),
        _PII_IPV4,
        "<IP>",
    )
    return p.select(
        "doc_id",
        F.size(F.regexp_extract_all("t", F.lit(_PII_EMAIL), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all("t", F.lit(_PII_PHONE), F.lit(0))).alias("n_phones"),
        F.size(F.regexp_extract_all("t", F.lit(_PII_IPV4), F.lit(0))).alias("n_ips"),
        redacted.alias("redacted"),
    ).orderBy("doc_id")


@register(
    "pii_source_summary",
    oracle=f"""
WITH {_PII_VIEW_SQL},
per_doc AS (
  SELECT source,
         len(regexp_extract_all(t, '{_PII_EMAIL}')) AS e,
         len(regexp_extract_all(t, '{_PII_PHONE}')) AS p,
         len(regexp_extract_all(t, '{_PII_IPV4}')) AS i
  FROM pii
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN e + p + i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
       CAST(sum(e) AS BIGINT) AS total_emails,
       CAST(sum(p) AS BIGINT) AS total_phones,
       CAST(sum(i) AS BIGINT) AS total_ips
FROM per_doc
GROUP BY source
ORDER BY source
""",
)
def pii_source_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level PII exposure rollup per source — the compliance
    dashboard behind any scrub pass: how many documents carry PII and
    how much, by origin. Map-side counts then one small shuffle on
    source (integer sums cast to BIGINT in the oracle: DuckDB sum()
    returns HUGEINT). Built from the shared map/reduce halves below so
    the streaming monitor's (streaming/pii.py) readout IS this query
    over arrived rows."""
    return pii_readout(pii_rollup(pii_doc_counts(_pii_view(spark, sf_dir))))


# Shared map/reduce halves — the streaming PII monitor
# (streaming/pii.py) reuses these so its readout IS the batch summary
# over arrived rows (the quality-curve/repetition-monitor template).


def pii_doc_counts(rows: DataFrame, text_col: str = "t") -> DataFrame:
    """(source, e, p, i) per document over (source, text) rows — the
    map half: per-type PII match counts, all JVM regex. NULL-text rows
    are KEPT as zero-PII documents (NULL match counts aggregate as 0
    in both engines) — the registry-wide null-hostile audit caught an
    isNotNull pre-filter here silently shrinking n_docs vs the
    oracle's count(*)."""
    e = F.size(F.regexp_extract_all(text_col, F.lit(_PII_EMAIL), F.lit(0)))
    ph = F.size(F.regexp_extract_all(text_col, F.lit(_PII_PHONE), F.lit(0)))
    i = F.size(F.regexp_extract_all(text_col, F.lit(_PII_IPV4), F.lit(0)))
    return rows.select("source", e.alias("e"), ph.alias("p"), i.alias("i"))


def pii_rollup(counts: DataFrame) -> DataFrame:
    """Per-source mergeable state over doc counts: every field an exact
    BIGINT sum, so arrival order and batch boundaries cannot change the
    readout and incremental merges equal the one-shot aggregate."""
    return counts.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("e") + F.col("p") + F.col("i") > 0, 1).otherwise(0))
        .cast("long")
        .alias("docs_with_pii"),
        F.sum("e").cast("long").alias("total_emails"),
        F.sum("p").cast("long").alias("total_phones"),
        F.sum("i").cast("long").alias("total_ips"),
    )


def pii_merge_rollups(states: DataFrame) -> DataFrame:
    """Fold any union of per-source states back into one row each."""
    return states.groupBy("source").agg(
        *[
            F.sum(c).cast("long").alias(c)
            for c in (
                "n_docs",
                "docs_with_pii",
                "total_emails",
                "total_phones",
                "total_ips",
            )
        ]
    )


def pii_readout(state: DataFrame) -> DataFrame:
    """The summary rows from a rollup state (counts pass through)."""
    return state.select(
        "source",
        "n_docs",
        "docs_with_pii",
        "total_emails",
        "total_phones",
        "total_ips",
    ).orderBy("source")


@register(
    "doc_perplexity",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
),
bg AS (
  SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
  FROM toks, unnest(generate_series(1, len(ts) - 1)) AS u(i)
),
c2 AS (SELECT w1, w2, count(*) AS n2 FROM bg GROUP BY w1, w2),
c1 AS (SELECT w1, count(*) AS n1 FROM bg GROUP BY w1),
scored AS (
  SELECT b.doc_id, -ln(c2.n2 * 1.0 / c1.n1) AS nll
  FROM bg b JOIN c2 ON b.w1 = c2.w1 AND b.w2 = c2.w2
            JOIN c1 ON b.w1 = c1.w1
)
SELECT doc_id, count(*) AS n_bigrams, round(avg(nll), 4) AS avg_nll
FROM scored
GROUP BY doc_id
HAVING count(*) >= 1
ORDER BY doc_id
""",
)
def doc_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram self-perplexity — the classic LM-based
    quality signal of a training-data pipeline (high avg negative
    log-likelihood = word salad / boilerplate outlier; low = repetitive
    template). The corpus is its own LM: p(w2|w1) = c(w1,w2)/c(w1), so
    every observed bigram has mass and no smoothing constant leaks into
    the contract.

    Scale shape: two count aggregations (bigram, unigram) + two
    equi-joins back onto the bigram stream — all shuffles are on token
    keys with map-side partial counts; nothing is ever per-pair. The
    bigram TYPE table grows with the corpus (not the vocabulary), so
    its join carries a shuffle_hash hint (r10: was merge — same
    no-static-broadcast safety, the build side is hashed per
    partition, but the token stream is no longer sorted for the
    join): the static planner must not choose broadcast off a
    post-agg size estimate (measured OOM at sf10 for the trigram
    family). ln() is evaluated per distinct bigram join row and both
    engines average the same values (round(4) after avg, the float
    discipline used across the registry)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokens_ws("text").alias("ts"))
    bg = toks.select(
        "doc_id",
        F.posexplode(F.slice("ts", 1, F.greatest(F.size("ts") - 1, F.lit(0)))).alias(
            "i", "w1"
        ),
        "ts",
    ).select("doc_id", "w1", F.expr("ts[i + 1]").alias("w2"))
    c2 = bg.groupBy("w1", "w2").agg(F.count("*").alias("n2"))
    c1 = bg.groupBy("w1").agg(F.count("*").alias("n1"))
    # score types, not tokens (see kn_doc_perplexity): the model join
    # runs over the bigram-type table; the token stream crosses once
    model = (
        c2.join(c1.hint("shuffle_hash"), ["w1"])
        .select("w1", "w2", (-F.log(F.col("n2") * 1.0 / F.col("n1"))).alias("nll"))
    )
    scored = bg.join(model.hint("shuffle_hash"), ["w1", "w2"]).select("doc_id", "nll")
    return (
        scored.groupBy("doc_id")
        .agg(F.count("*").alias("n_bigrams"), F.round(F.avg("nll"), 4).alias("avg_nll"))
        .orderBy("doc_id")
    )


# Gopher-rule thresholds (Rae et al. 2021, appendix A1.1): documents
# outside these bands are flagged as repetition/structure outliers. The
# symbol/bullet/ellipsis rules are omitted — this corpus has no such
# characters, so they would be dead columns.
_GOPHER_MWL_LO, _GOPHER_MWL_HI = 3.0, 10.0
_GOPHER_TOP_UNIGRAM_MAX = 0.20
_GOPHER_DUP_2GRAM_MAX = 0.20


@register(
    "gopher_quality_flags",
    oracle=f"""
WITH t AS (
  SELECT doc_id, source, string_split(text, ' ') AS ts FROM documents
),
s AS (
  SELECT doc_id, source,
         len(ts) AS n,
         list_sum(list_transform(ts, x -> len(x))) * 1.0 / len(ts) AS mwl,
         CASE WHEN len(ts) >= 2
              THEN 1.0 - len(list_distinct({shingles_sql('ts', 2)})) * 1.0 / (len(ts) - 1)
              ELSE 0.0 END AS dup2
  FROM t
),
u AS (SELECT doc_id, unnest(ts) AS tok FROM t),
uc AS (SELECT doc_id, tok, count(*) AS c FROM u GROUP BY doc_id, tok),
topu AS (SELECT doc_id, max(c) AS top_cnt FROM uc GROUP BY doc_id),
per_doc AS (
  SELECT s.source, s.mwl, s.dup2, topu.top_cnt * 1.0 / s.n AS topf
  FROM s JOIN topu ON s.doc_id = topu.doc_id
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN mwl < {_GOPHER_MWL_LO} OR mwl > {_GOPHER_MWL_HI}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_word_len,
       CAST(sum(CASE WHEN topf > {_GOPHER_TOP_UNIGRAM_MAX}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_top_unigram,
       CAST(sum(CASE WHEN dup2 > {_GOPHER_DUP_2GRAM_MAX}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_dup_2gram,
       CAST(sum(CASE WHEN mwl >= {_GOPHER_MWL_LO} AND mwl <= {_GOPHER_MWL_HI}
                      AND topf <= {_GOPHER_TOP_UNIGRAM_MAX}
                      AND dup2 <= {_GOPHER_DUP_2GRAM_MAX}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       round(avg(mwl), 4) AS avg_word_len,
       round(avg(topf), 4) AS avg_top_unigram_frac,
       round(avg(dup2), 4) AS avg_dup_2gram_frac
FROM per_doc
GROUP BY source
ORDER BY source
""",
)
def gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/structure quality filters (Rae et al.
    2021): per-document mean word length, top-unigram token fraction and
    duplicate-2-gram fraction, thresholded into keep/flag verdicts and
    summarized per source — the go/no-go report a training-data
    pipeline publishes per crawl slice.

    Scale shape: mean word length and the duplicate-2-gram fraction are
    array-native (fold + array_distinct inside the row — zero shuffle);
    only the top-unigram mode needs the token explode, and both its
    aggregations key on (doc_id[, tok]) so they combine map-side and
    never concentrate. The per-doc join is narrow (doc_id, 3 doubles)
    and reuses the aggregation's hash partitioning. All flag arithmetic
    is exact (integer ratios), so the thresholds cut identically in
    both engines; only the final averages are floats, rounded after the
    avg as everywhere in the registry."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", "source", tokens_ws("text").alias("ts"))
    n = F.size("ts")
    sum_len = F.aggregate("ts", F.lit(0).cast("long"), lambda a, x: a + F.length(x))
    dup2 = F.when(
        n >= 2,
        F.lit(1.0) - F.size(F.array_distinct(shingles("ts", 2))) * F.lit(1.0) / (n - 1),
    ).otherwise(F.lit(0.0))
    s = t.select(
        "doc_id",
        "source",
        n.alias("n"),
        (sum_len * 1.0 / n).alias("mwl"),
        dup2.alias("dup2"),
    )
    topu = (
        t.select("doc_id", F.explode("ts").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_cnt"))
    )
    per_doc = s.join(topu, "doc_id").select(
        "source", "mwl", "dup2", (F.col("top_cnt") * 1.0 / F.col("n")).alias("topf")
    )
    mwl_ok = (F.col("mwl") >= _GOPHER_MWL_LO) & (F.col("mwl") <= _GOPHER_MWL_HI)
    topf_ok = F.col("topf") <= _GOPHER_TOP_UNIGRAM_MAX
    dup2_ok = F.col("dup2") <= _GOPHER_DUP_2GRAM_MAX
    one_if = lambda c: F.sum(F.when(c, 1).otherwise(0))
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            one_if(~mwl_ok).alias("n_bad_word_len"),
            one_if(~topf_ok).alias("n_bad_top_unigram"),
            one_if(~dup2_ok).alias("n_bad_dup_2gram"),
            one_if(mwl_ok & topf_ok & dup2_ok).alias("n_keep"),
            F.round(F.avg("mwl"), 4).alias("avg_word_len"),
            F.round(F.avg("topf"), 4).alias("avg_top_unigram_frac"),
            F.round(F.avg("dup2"), 4).alias("avg_dup_2gram_frac"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# CCNet-style perplexity bucketing (Wenzek et al., LREC 2020)
# ---------------------------------------------------------------------------


@register(
    "ccnet_perplexity_buckets",
    oracle="""
WITH toks AS (
  SELECT doc_id, lang, string_split(text, ' ') AS ts FROM documents
),
bg AS (
  SELECT doc_id, lang, ts[i] AS w1, ts[i + 1] AS w2
  FROM toks, unnest(generate_series(1, len(ts) - 1)) AS u(i)
),
c2 AS (SELECT lang, w1, w2, count(*) AS n2 FROM bg GROUP BY lang, w1, w2),
c1 AS (SELECT lang, w1, count(*) AS n1 FROM bg GROUP BY lang, w1),
scored AS (
  SELECT b.doc_id, b.lang, -ln(c2.n2 * 1.0 / c1.n1) AS nll
  FROM bg b JOIN c2 ON b.lang = c2.lang AND b.w1 = c2.w1 AND b.w2 = c2.w2
            JOIN c1 ON b.lang = c1.lang AND b.w1 = c1.w1
),
per_doc AS (
  SELECT doc_id, lang, round(avg(nll), 4) AS nll
  FROM scored GROUP BY doc_id, lang
),
bucketed AS (
  SELECT lang, nll,
         ntile(3) OVER (PARTITION BY lang ORDER BY nll, doc_id) AS t
  FROM per_doc
)
SELECT lang,
       CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket,
       count(*) AS n_docs,
       round(avg(nll), 4) AS avg_nll,
       round(min(nll), 4) AS min_nll,
       round(max(nll), 4) AS max_nll
FROM bucketed
GROUP BY lang, t
ORDER BY lang, t
""",
)
def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail quality split (Wenzek et al., LREC
    2020): fit a per-LANGUAGE bigram LM on the corpus itself, score
    every document by average NLL, and cut each language into
    perplexity terciles — 'head' is the cleanest third a pipeline keeps
    outright, 'tail' the third it drops or re-filters.

    Scale shape: LM fitting is two count aggregations keyed by
    (lang, bigram)/(lang, unigram) with map-side combine (vocabulary-
    sized outputs, broadcast candidates); scoring joins the bigram
    stream against them on the same keys; the tercile cut is ONE
    window per language partition over (rounded nll, doc_id) — rank
    determinism across engines comes from ordering on the already-
    rounded score with the id tie-break, the same discipline as the
    registry's other float rankings.
    """
    d = load_table(spark, sf_dir, "documents", spread=True)
    toks = d.select("doc_id", "lang", tokens_ws("text").alias("ts"))
    bg = toks.select(
        "doc_id",
        "lang",
        F.posexplode(F.slice("ts", 1, F.greatest(F.size("ts") - 1, F.lit(0)))).alias(
            "i", "w1"
        ),
        "ts",
    ).select("doc_id", "lang", "w1", F.expr("ts[i + 1]").alias("w2"))
    c2 = bg.groupBy("lang", "w1", "w2").agg(F.count("*").alias("n2"))
    c1 = bg.groupBy("lang", "w1").agg(F.count("*").alias("n1"))
    # score types, not tokens (see kn_doc_perplexity)
    model = (
        c2.join(c1.hint("shuffle_hash"), ["lang", "w1"])
        .select(
            "lang",
            "w1",
            "w2",
            (-F.log(F.col("n2") * 1.0 / F.col("n1"))).alias("nll"),
        )
    )
    scored = bg.join(model.hint("shuffle_hash"), ["lang", "w1", "w2"]).select(
        "doc_id", "lang", "nll"
    )
    per_doc = scored.groupBy("doc_id", "lang").agg(
        F.round(F.avg("nll"), 4).alias("nll")
    )
    w = Window.partitionBy("lang").orderBy("nll", "doc_id")
    bucketed = per_doc.select(
        "lang", "nll", F.ntile(3).over(w).alias("t")
    )
    return (
        bucketed.groupBy("lang", "t")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("nll"), 4).alias("avg_nll"),
            F.round(F.min("nll"), 4).alias("min_nll"),
            F.round(F.max("nll"), 4).alias("max_nll"),
        )
        .select(
            "lang",
            F.when(F.col("t") == 1, "head")
            .when(F.col("t") == 2, "middle")
            .otherwise("tail")
            .alias("bucket"),
            "n_docs",
            "avg_nll",
            "min_nll",
            "max_nll",
        )
        .orderBy("lang", "t")
    )


# ---------------------------------------------------------------------------
# BM25 retrieval (Robertson & Zaragoza, 2009) — the lexical-retrieval
# primitive a RAG / retrieval-augmented training pipeline needs next to
# the embedding ANN tier (plans/similarity.py).
# ---------------------------------------------------------------------------

_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_QTERMS = 5
_BM25_TOPK = 20


@register(
    "bm25_retrieval",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n,
         (SELECT sum(dl) * 1.0 / count(*) FROM dl) AS avgdl
),
q AS (
  SELECT term, df FROM df ORDER BY df DESC, term LIMIT {_BM25_QTERMS}
),
contrib AS (
  SELECT tf.doc_id,
         ln(1 + (s.n - q.df + 0.5) / (q.df + 0.5))
           * tf.tf * ({_BM25_K1} + 1)
           / (tf.tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl.dl / s.avgdl))
           AS c
  FROM tf
  JOIN q ON q.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
),
scored AS (
  SELECT doc_id, round(sum(c), 4) AS bm25 FROM contrib GROUP BY doc_id
),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank FROM scored
)
SELECT doc_id, rank, bm25 FROM ranked WHERE rank <= {_BM25_TOPK}
ORDER BY rank
""",
)
def bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 retrieval (k1=1.2, b=0.75) for a deterministic
    5-term query (the corpus's highest-df terms, df-desc/term
    tie-break) — the lexical twin of ann_brute_topk, so a retrieval
    pipeline has both sparse and dense rankers in one engine.

    Scale shape: tf shuffles once on (doc_id, term) with map-side
    combine, df once on term; the query-term table is LIMIT 5 and
    BROADCASTS into the tf stream, so scoring is a map-side semi-join
    that touches only rows containing query terms (at 100 TB: corpus *
    p(term in query), not corpus * |vocab|); N and avgdl ride a 1-row
    broadcast cross join, never a driver collect. The per-doc score sum
    shuffles only the surviving (doc, term in query) rows.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens_ws("text")).alias("term"))
    dl = tok.groupBy("doc_id").agg(F.count("*").alias("dl"))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = tok.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    stats = d.agg(F.count("*").alias("n")).crossJoin(
        dl.agg((F.sum("dl") * 1.0 / F.count("*")).alias("avgdl"))
    )
    q = df.orderBy(F.desc("df"), "term").limit(_BM25_QTERMS)
    idf = F.log(
        1 + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    contrib = (
        tf.join(F.broadcast(q), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (
                idf
                * F.col("tf")
                * (_BM25_K1 + 1)
                / (
                    F.col("tf")
                    + _BM25_K1
                    * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
                )
            ).alias("c"),
        )
    )
    scored = contrib.groupBy("doc_id").agg(F.round(F.sum("c"), 4).alias("bm25"))
    # top-k FIRST via orderBy+limit (TakeOrderedAndProject: per-partition
    # partial top-k, never a global single-task sort), then rank the k
    # survivors with a trivially small window
    top = scored.orderBy(F.desc("bm25"), "doc_id").limit(_BM25_TOPK)
    w = Window.orderBy(F.desc("bm25"), "doc_id")
    return (
        top.select("*", F.row_number().over(w).alias("rank"))
        .select("doc_id", "rank", "bm25")
        .orderBy("rank")
    )


# --- parameterized (many-query) BM25: the lexical twin of the ANN tier's
# many-query shape (ann_lsh_topk & co. probe one query PER corpus slice) ---

_BMQ_STRIDE = 100  # every 100th doc becomes a query (corpus-proportional)
_BMQ_QTERMS = 5  # top-tf terms of the query doc form its term set
_BMQ_TOPK = 10


def _bmq_pipeline(spark: SparkSession, sf_dir: str):
    """(query-term table, full ranked top-k) of the many-query BM25
    workload — factored so retrieval_eval_report can score the SAME
    ranking bm25_query_table reports. Pure extraction: the construction
    is byte-identical to what bm25_query_table inlined before, so its
    plan and oracle are unchanged."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens_ws("text")).alias("term"))
    dl = tok.groupBy("doc_id").agg(F.count("*").alias("dl"))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tok.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    stats = d.agg(F.count("*").alias("n")).crossJoin(
        dl.agg((F.sum("dl") * 1.0 / F.count("*")).alias("avgdl"))
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("tf"), "term")
    qt = (
        tf.filter((F.col("doc_id") % _BMQ_STRIDE) == 0)
        .select(F.col("doc_id").alias("query_id"), "term", "tf")
        .select("query_id", "term", F.row_number().over(wq).alias("r"))
        .filter(F.col("r") <= _BMQ_QTERMS)
        .drop("r")
    )
    idf = F.log(1 + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    contrib = (
        tf.join(qt, "term")  # deliberate non-broadcast: query set scales with corpus
        .filter(F.col("doc_id") != F.col("query_id"))
        .join(dfreq, "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            "doc_id",
            (
                idf
                * F.col("tf")
                * (_BM25_K1 + 1)
                / (
                    F.col("tf")
                    + _BM25_K1
                    * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
                )
            ).alias("c"),
        )
    )
    scored = contrib.groupBy("query_id", "doc_id").agg(
        F.round(F.sum("c"), 4).alias("bm25")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("bm25"), "doc_id")
    ranked = (
        scored.select("query_id", "doc_id", F.row_number().over(w).alias("rank"), "bm25")
        .filter(F.col("rank") <= _BMQ_TOPK)
        .select("query_id", "doc_id", "rank", "bm25")
    )
    return qt, ranked


@register(
    "bm25_query_table",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n,
         (SELECT sum(dl) * 1.0 / count(*) FROM dl) AS avgdl
),
qt AS (
  SELECT query_id, term FROM (
    SELECT doc_id AS query_id, term,
           row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, term) AS r
    FROM tf WHERE doc_id % {_BMQ_STRIDE} = 0
  ) WHERE r <= {_BMQ_QTERMS}
),
contrib AS (
  SELECT q.query_id, tf.doc_id,
         ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
           * tf.tf * ({_BM25_K1} + 1)
           / (tf.tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl.dl / s.avgdl))
           AS c
  FROM tf
  JOIN qt q ON q.term = tf.term AND tf.doc_id <> q.query_id
  JOIN df d ON d.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
),
scored AS (
  SELECT query_id, doc_id, round(sum(c), 4) AS bm25
  FROM contrib GROUP BY query_id, doc_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY bm25 DESC, doc_id) AS rank
  FROM scored
)
SELECT query_id, doc_id, rank, bm25 FROM ranked WHERE rank <= {_BMQ_TOPK}
ORDER BY query_id, rank
""",
)
def bm25_query_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 over a query TABLE: every {_BMQ_STRIDE}th document becomes a
    query whose term set is its own top-{_BMQ_QTERMS} tf terms
    (tf-desc/term tie-break), and each query retrieves its top-
    {_BMQ_TOPK} other documents — the parameterized lexical workload
    matching the ANN tier's many-query shape (``ann_lsh_topk`` probes
    one query per corpus slice the same way). In production the query
    table is any parquet/stream of (query_id, term) rows; here it is
    derived deterministically from the corpus so the DuckDB oracle can
    replay it exactly.

    Scale shape — the query set is CORPUS-PROPORTIONAL, so it is never
    broadcast and never collected (the ``operators/topk.py`` lesson):
    scoring is a posting-list equi-join of tf against the query-term
    table on ``term`` — both sides shuffle-partition by term, which is
    exactly the inverted-index sharding a distributed lexical engine
    uses. High-df terms are hot keys; AQE skew-join splits them at
    runtime. Per-query ranking is one window partitioned by query_id
    (parallel across queries), never a global sort.
    """
    _, ranked = _bmq_pipeline(spark, sf_dir)
    return ranked.orderBy("query_id", "rank")



# ---------------------------------------------------------------------------
# Document chunking — the RAG / context-window prep step: split every
# document into fixed-size overlapping token windows with stable ids.
# ---------------------------------------------------------------------------

_CHUNK_TOKENS = 64
_CHUNK_STRIDE = 48  # 16-token overlap between consecutive chunks


@register(
    "doc_chunking",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
),
c AS (
  SELECT doc_id, lang,
         unnest(generate_series(1, len(toks), {_CHUNK_STRIDE})) AS start,
         toks
  FROM tok
),
chunks AS (
  SELECT doc_id, lang,
         CAST((start - 1) / {_CHUNK_STRIDE} AS BIGINT) AS chunk_id,
         start AS chunk_start,
         len(toks[start : start + {_CHUNK_TOKENS - 1}]) AS chunk_len,
         md5(array_to_string(toks[start : start + {_CHUNK_TOKENS - 1}], ' ')) AS chunk_hash
  FROM c
)
SELECT doc_id, chunk_id, chunk_start, chunk_len, chunk_hash
FROM chunks
ORDER BY doc_id, chunk_id
""",
)
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-window document chunking (64-token windows, stride 48 →
    16-token overlap): the chunk manifest a RAG indexer or a
    context-window packer consumes — (doc_id, chunk_id, start, length,
    md5-of-chunk-text). The hash column makes the oracle verify the
    chunk CONTENT, not just the arithmetic.

    Scale shape: pure map — one projection computes all chunk starts
    (sequence + explode), slices are array ops on the already-split
    token array, and nothing shuffles except the final presentation
    sort. Row count = total chunks, linear in corpus tokens with a
    1/stride constant. No Python."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", "lang", tokens_ws("text").alias("toks"))
    c = toks.select(
        "doc_id",
        "lang",
        "toks",
        F.explode(
            F.sequence(F.lit(1), F.size("toks"), F.lit(_CHUNK_STRIDE))
        ).alias("start"),
    )
    chunk = F.slice("toks", F.col("start"), _CHUNK_TOKENS)
    return c.select(
        "doc_id",
        ((F.col("start") - 1) / _CHUNK_STRIDE).cast("long").alias("chunk_id"),
        F.col("start").alias("chunk_start"),
        F.size(chunk).alias("chunk_len"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_hash"),
    ).orderBy("doc_id", "chunk_id")


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of the lexical (BM25) and
# dense (hyperplane-LSH ANN) rankers — the standard way a RAG stack
# combines sparse and dense retrieval (Cormack, Clarke & Buettcher,
# SIGIR 2009: RRF outperforms either system and needs no score
# calibration, only ranks).
# ---------------------------------------------------------------------------

_RRF_K = 60  # the canonical damping constant from the RRF paper
_RRF_TOPK = 10


def _rrf_oracle() -> str:
    from http_log_anonymizer_spark.plans.registry import REGISTRY

    lex = REGISTRY["bm25_query_table"].oracle
    dense = REGISTRY["ann_lsh_topk"].oracle
    return f"""
WITH lex AS ({lex}),
dense AS ({dense}),
pooled AS (
  SELECT query_id, doc_id AS cand, rank FROM lex
  UNION ALL
  SELECT query_id, neighbor_id AS cand, rank FROM dense
),
fused AS (
  SELECT query_id, cand,
         round(sum(1.0 / ({_RRF_K} + rank)), 6) AS rrf,
         count(*) AS n_systems
  FROM pooled GROUP BY query_id, cand
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY rrf DESC, cand
  ) AS rank FROM fused
)
SELECT query_id, cand, rank, rrf, n_systems
FROM ranked WHERE rank <= {_RRF_TOPK}
ORDER BY query_id, rank
"""


@register("hybrid_rrf_fusion", oracle=_rrf_oracle())
def hybrid_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (k={_RRF_K}) of ``bm25_query_table``
    (sparse, over documents) and ``ann_lsh_topk`` (dense, over
    embeddings): each candidate scores sum(1/(k + rank)) across the
    systems that retrieved it, re-ranked per query. Queries present in
    only one system fuse over that system alone (RRF's standard
    degenerate case); candidates retrieved by both get the additive
    boost that makes hybrid retrieval beat either ranker.

    Scale note: the dense input is the DEMO LSH tier, so this query
    inherits its registry scale gate transitively (the gate's error
    names ann_lsh_topk and its wide twin); at scale, fuse
    bm25_query_table with ann_lsh_wide_topk or the sqrt-IVF tiers —
    the fusion stage itself is rank-bounded and indifferent to which
    ranker feeds it.

    Scale shape: both inputs are already per-query top-k tables (each
    bounded at queries x k rows), so fusion is one groupBy and one
    per-query window over a RANK-bounded set — the fusion stage adds no
    corpus-sized work regardless of corpus scale, which is exactly why
    RRF is the production default for hybrid search. Determinism: ranks
    fuse (not raw scores), the fused score is rounded before ordering,
    and candidate id breaks ties."""
    from http_log_anonymizer_spark.plans.registry import REGISTRY

    lex = REGISTRY["bm25_query_table"].spark_fn(spark, sf_dir)
    dense = REGISTRY["ann_lsh_topk"].spark_fn(spark, sf_dir)
    pooled = lex.select(
        "query_id", F.col("doc_id").alias("cand"), "rank"
    ).unionByName(dense.select("query_id", F.col("neighbor_id").alias("cand"), "rank"))
    fused = pooled.groupBy("query_id", "cand").agg(
        F.round(F.sum(1.0 / (_RRF_K + F.col("rank"))), 6).alias("rrf"),
        F.count("*").alias("n_systems"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rrf"), "cand")
    return (
        fused.select("*", F.row_number().over(w).alias("rank"))
        .filter(F.col("rank") <= _RRF_TOPK)
        .select("query_id", "cand", "rank", "rrf", "n_systems")
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# Rerank stage over the fused candidate pool — the third tier of the
# retrieval stack (retrieve -> fuse -> rerank). A production deployment
# puts a cross-encoder model here (batched Pandas-UDF inference over
# (query, candidate) text pairs); model weights don't exist in this
# container, so the scorer is the deterministic feature twin — exact
# unit-cosine + token Jaccard, linearly combined — which keeps ALL the
# engine-side plumbing real (candidate pooling, per-side feature joins,
# per-query rerank window) and makes the stage oracle-checkable.
# ---------------------------------------------------------------------------

_RERANK_TOP = 5
_RERANK_WCOS = 0.7
_RERANK_WJAC = 0.3


def _rerank_oracle() -> str:
    from http_log_anonymizer_spark.functions.vectors import UNIT_CTE_SQL, dot_sql
    from http_log_anonymizer_spark.plans.registry import REGISTRY

    fused = REGISTRY["hybrid_rrf_fusion"].oracle
    dim = 64
    return f"""
WITH fused AS ({fused}),
{UNIT_CTE_SQL.strip().lstrip()},
toks AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS tk FROM documents
),
feat AS (
  SELECT f.query_id, f.cand, f.rank AS rrf_rank,
         COALESCE(round({dot_sql('uq.ue', 'uc.ue', dim)}, 4), 0.0) AS cos,
         COALESCE(round(len(list_intersect(tq.tk, tc.tk)) * 1.0 /
                        len(list_distinct(list_concat(tq.tk, tc.tk))), 6), 0.0) AS jacc
  FROM fused f
  LEFT JOIN unit uq ON uq.vec_id = f.query_id
  LEFT JOIN unit uc ON uc.vec_id = f.cand
  LEFT JOIN toks tq ON tq.doc_id = f.query_id
  LEFT JOIN toks tc ON tc.doc_id = f.cand
),
scored AS (
  SELECT *, round({_RERANK_WCOS} * cos + {_RERANK_WJAC} * jacc, 6) AS rerank_score
  FROM feat
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY rerank_score DESC, cand
  ) AS new_rank FROM scored
)
SELECT query_id, cand, new_rank, rerank_score, rrf_rank
FROM ranked WHERE new_rank <= {_RERANK_TOP}
ORDER BY query_id, new_rank
"""


@register("rerank_fusion_topk", oracle=_rerank_oracle())
def rerank_fusion_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_RERANK_TOP} per query after RERANKING the hybrid RRF pool
    with exact interaction features: 0.7 x exact unit-cosine
    (embeddings) + 0.3 x token Jaccard (document texts), ties broken
    by candidate id. Candidates missing a modality score 0 on that
    feature (the standard missing-feature convention). The oracle
    replays retrieve + fuse + rerank end to end, so the driver
    hash-checks the full three-tier stack.

    Scale shape: the pool is rank-bounded (queries x {_RRF_TOPK} rows)
    BEFORE any expensive feature — that is the entire point of a
    rerank tier: exact cosine and Jaccard run on O(Q * k) pairs, not
    the corpus. Feature lookups are equi-joins keyed on vec_id/doc_id
    (dimension-style; broadcastable when the candidate pool is small
    relative to the corpus); the rerank window partitions by query.
    All JVM-side (zip_with/aggregate folds + array_intersect) — a real
    cross-encoder would swap the scorer for a batched Pandas UDF with
    the same join/window frame."""
    from http_log_anonymizer_spark.functions.vectors import dot
    from http_log_anonymizer_spark.plans.registry import REGISTRY
    from http_log_anonymizer_spark.plans.similarity import _unit_table

    fused = REGISTRY["hybrid_rrf_fusion"].spark_fn(spark, sf_dir)
    # r10 (guide §2.4, §3.2): pin the rank-bounded pool (queries x k
    # rows at ANY corpus size) — it feeds both the candidate-id set
    # below and the feature chain, and unpinned the whole retrieve+fuse
    # pipeline would re-derive per consumer. Then SEMI-JOIN-prefilter
    # the corpus-scale feature tables with the pool's id set (the
    # broadcast form of the Bloom prefilter): unit-normalization and
    # tokenization run on O(Q*k) candidate rows instead of the corpus,
    # and the pool ids stay executor-side. LEFT-joined dimension rows
    # outside the pool never matched, so results are unchanged.
    pool = pin(fused.select("query_id", "cand", F.col("rank").alias("rrf_rank")))
    ids = (
        pool.select(F.col("query_id").alias("vec_id"))
        .unionByName(pool.select(F.col("cand").alias("vec_id")))
        .distinct()
    )
    unit = _unit_table(spark, sf_dir, cache=False).join(
        F.broadcast(ids), "vec_id", "left_semi"
    )
    toks = (
        load_table(spark, sf_dir, "documents")
        .join(
            F.broadcast(ids.select(F.col("vec_id").alias("doc_id"))),
            "doc_id",
            "left_semi",
        )
        .select("doc_id", F.array_distinct(tokens_ws("text")).alias("tk"))
    )
    uq = unit.select(F.col("vec_id").alias("query_id"), F.col("ue").alias("qe"))
    uc = unit.select(F.col("vec_id").alias("cand"), F.col("ue").alias("ce"))
    tq = toks.select(F.col("doc_id").alias("query_id"), F.col("tk").alias("qtk"))
    tc = toks.select(F.col("doc_id").alias("cand"), F.col("tk").alias("ctk"))
    feat = (
        pool
        .join(uq, "query_id", "left")
        .join(uc, "cand", "left")
        .join(tq, "query_id", "left")
        .join(tc, "cand", "left")
        .select(
            "query_id",
            "cand",
            "rrf_rank",
            F.coalesce(F.round(dot("qe", "ce"), 4), F.lit(0.0)).alias("cos"),
            F.coalesce(
                F.round(
                    F.size(F.array_intersect("qtk", "ctk"))
                    * 1.0
                    / F.size(F.array_union("qtk", "ctk")),
                    6,
                ),
                F.lit(0.0),
            ).alias("jacc"),
        )
    )
    scored = feat.select(
        "*",
        F.round(
            _RERANK_WCOS * F.col("cos") + _RERANK_WJAC * F.col("jacc"), 6
        ).alias("rerank_score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rerank_score"), "cand")
    return (
        scored.select("*", F.row_number().over(w).alias("new_rank"))
        .filter(F.col("new_rank") <= _RERANK_TOP)
        .select("query_id", "cand", "new_rank", "rerank_score", "rrf_rank")
        .orderBy("query_id", "new_rank")
    )


@register(
    "kn_doc_perplexity",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
),
bg AS (
  SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
  FROM toks, unnest(generate_series(1, len(ts) - 1)) AS u(i)
),
c2 AS (SELECT w1, w2, count(*) AS n2 FROM bg GROUP BY w1, w2),
ctx AS (
  SELECT w1, count(*) AS f1, CAST(sum(n2) AS BIGINT) AS c1
  FROM c2 GROUP BY w1
),
pred AS (SELECT w2, count(*) AS p2 FROM c2 GROUP BY w2),
cc AS (
  SELECT CAST(sum(CASE WHEN n2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1cc,
         CAST(sum(CASE WHEN n2 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2cc,
         count(*) AS tt
  FROM c2
),
scored AS (
  SELECT b.doc_id,
         -ln((greatest(c2.n2 - (CASE WHEN cc.n1cc + 2 * cc.n2cc > 0
                  THEN cc.n1cc * 1.0 / greatest(cc.n1cc + 2 * cc.n2cc, 1)
                  ELSE 0.5 END), 0.0)
              + (CASE WHEN cc.n1cc + 2 * cc.n2cc > 0
                  THEN cc.n1cc * 1.0 / greatest(cc.n1cc + 2 * cc.n2cc, 1)
                  ELSE 0.5 END)
                * ctx.f1 * pred.p2 / cc.tt) / ctx.c1) AS nll
  FROM bg b
  JOIN c2 ON b.w1 = c2.w1 AND b.w2 = c2.w2
  JOIN ctx ON b.w1 = ctx.w1
  JOIN pred ON b.w2 = pred.w2
  CROSS JOIN cc
)
SELECT doc_id, count(*) AS n_bigrams, round(avg(nll), 4) AS avg_nll
FROM scored
GROUP BY doc_id
ORDER BY doc_id
""",
)
def kn_doc_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document perplexity under an interpolated KNESER-NEY bigram
    LM (Kneser & Ney, ICASSP 1995; Chen & Goodman, CSL 1999 eq. 18) —
    the smoothing the CCNet/KenLM quality-filter stack actually uses,
    upgrading doc_perplexity's unsmoothed MLE:

        p_KN(w2|w1) = max(c(w1,w2) - D, 0) / c(w1.)
                      + D * N1+(w1,.) / c(w1.) * N1+(.,w2) / N1+(.,.)

    with the absolute discount D = n1 / (n1 + 2*n2) estimated from the
    bigram counts-of-counts (Ney, Essen & Kneser 1994) and the
    continuation distribution N1+(.,w2)/N1+(.,.) replacing the raw
    unigram fallback — the "how many contexts has this word completed"
    correction that makes KN the strongest count-based smoother.
    Because the model interpolates, every bigram gets mass even when
    the discounted head term clips to zero, so the operator is total
    without any OOV epsilon leaking into the contract.

    Cross-engine determinism: every model quantity (n2, c1, f1 =
    N1+(w1,.), p2 = N1+(.,w2), tt = N1+(.,.), n1cc, n2cc) is an exact
    integer aggregate; the per-bigram probability is ONE fixed
    arithmetic expression over those integers evaluated identically
    (left-associative IEEE ops) in both engines, and the only
    order-sensitive float reduction is the final per-doc avg —
    rounded to 4 after the avg, the registry-wide discipline
    doc_perplexity established.

    Scale shape: identical to doc_perplexity — two token-keyed count
    aggregations (bigram types, contexts) + one distinct-predecessor
    aggregation, all with map-side partial counts; the counts-of-counts
    reduce to ONE 3-long row (crossJoin-broadcast, never a driver
    collect); the scoring joins key on token ids. The
    bigram TYPE table grows with the corpus, so its join is
    shuffle_hash-hinted (see doc_perplexity; r10: was merge — the
    per-partition hash build is corpus-safe and skips the stream
    sort). Nothing is per-pair; no Python
    anywhere in the plan."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokens_ws("text").alias("ts"))
    bg = toks.select(
        "doc_id",
        F.posexplode(F.slice("ts", 1, F.greatest(F.size("ts") - 1, F.lit(0)))).alias(
            "i", "w1"
        ),
        "ts",
    ).select("doc_id", "w1", F.expr("ts[i + 1]").alias("w2"))
    # NOT checkpointed: measured at sf100, materializing the ~9M-row
    # bigram-type table costs more than the 4 consumers' scan+partial-agg
    # recomputes save (86.8 s -> 102.8 s); the TRIGRAM table in
    # mkn_trigram_perplexity measured the opposite (373 -> 214 s) and
    # stays pinned
    c2 = bg.groupBy("w1", "w2").agg(F.count("*").alias("n2"))
    ctx = c2.groupBy("w1").agg(
        F.count("*").alias("f1"), F.sum("n2").alias("c1")
    )
    pred = c2.groupBy("w2").agg(F.count("*").alias("p2"))
    cc = c2.agg(
        F.sum(F.when(F.col("n2") == 1, 1).otherwise(0)).alias("n1cc"),
        F.sum(F.when(F.col("n2") == 2, 1).otherwise(0)).alias("n2cc"),
        F.count("*").alias("tt"),
    )
    # D = n1/(n1 + 2*n2); greatest-1 denominator keeps ANSI Spark from
    # throwing when common-subexpression elimination evaluates the
    # division under the (false) guard, and the guard supplies the
    # D = 0.5 absolute-discount default on count-of-count-free corpora
    # (the saturated-vocabulary sf0.1 documents table has NO singleton
    # or doubleton bigram types — measured, not hypothetical).
    disc = F.when(
        F.col("n1cc") + 2 * F.col("n2cc") > 0,
        F.col("n1cc")
        * 1.0
        / F.greatest(F.col("n1cc") + 2 * F.col("n2cc"), F.lit(1)),
    ).otherwise(0.5)
    prob = (
        F.greatest(F.col("n2") - disc, F.lit(0.0))
        + disc * F.col("f1") * F.col("p2") / F.col("tt")
    ) / F.col("c1")
    # Score TYPES, not tokens: the model joins run over the bigram-type
    # table (corpus-sublinear), and the token stream crosses ONE join
    # that carries the finished nll — at sf100 the stream is 260M+ rows
    # and routing it through every model join OOM'd an 8g heap.
    model = (
        c2.join(ctx.hint("shuffle_hash"), ["w1"])
        .join(pred.hint("shuffle_hash"), ["w2"])
        .crossJoin(F.broadcast(cc))
        .select("w1", "w2", (-F.log(prob)).alias("nll"))
    )
    scored = bg.join(model.hint("shuffle_hash"), ["w1", "w2"]).select("doc_id", "nll")
    return (
        scored.groupBy("doc_id")
        .agg(F.count("*").alias("n_bigrams"), F.round(F.avg("nll"), 4).alias("avg_nll"))
        .orderBy("doc_id")
    )


@register(
    "mkn_trigram_perplexity",
    bench=True,  # tracked: the text path's heaviest count-agg + wide-join plan
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
),
bg3 AS (
  SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2, ts[i + 2] AS w3
  FROM toks, unnest(generate_series(1, len(ts) - 2)) AS u(i)
  WHERE len(ts) >= 3
),
c3 AS (SELECT w1, w2, w3, count(*) AS n3c FROM bg3 GROUP BY w1, w2, w3),
ctx12 AS (
  SELECT w1, w2,
         CAST(sum(n3c) AS BIGINT) AS c12,
         CAST(sum(CASE WHEN n3c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS t1,
         CAST(sum(CASE WHEN n3c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS t2,
         CAST(sum(CASE WHEN n3c >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS t3p
  FROM c3 GROUP BY w1, w2
),
cc3 AS (
  SELECT CAST(sum(CASE WHEN n3c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a1,
         CAST(sum(CASE WHEN n3c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS a2,
         CAST(sum(CASE WHEN n3c = 3 THEN 1 ELSE 0 END) AS BIGINT) AS a3,
         CAST(sum(CASE WHEN n3c = 4 THEN 1 ELSE 0 END) AS BIGINT) AS a4
  FROM c3
),
d3 AS (
  SELECT
    greatest(1 - 2 * (CASE WHEN a1 + 2 * a2 > 0
                           THEN a1 * 1.0 / greatest(a1 + 2 * a2, 1) ELSE 0.5 END)
               * a2 / greatest(a1, 1), 0.0) AS d31,
    greatest(2 - 3 * (CASE WHEN a1 + 2 * a2 > 0
                           THEN a1 * 1.0 / greatest(a1 + 2 * a2, 1) ELSE 0.5 END)
               * a3 / greatest(a2, 1), 0.0) AS d32,
    greatest(3 - 4 * (CASE WHEN a1 + 2 * a2 > 0
                           THEN a1 * 1.0 / greatest(a1 + 2 * a2, 1) ELSE 0.5 END)
               * a4 / greatest(a3, 1), 0.0) AS d33
  FROM cc3
),
cb AS (SELECT w2, w3, count(*) AS cb2 FROM c3 GROUP BY w2, w3),
ctx2 AS (
  SELECT w2,
         CAST(sum(cb2) AS BIGINT) AS cdot2,
         CAST(sum(CASE WHEN cb2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS u1,
         CAST(sum(CASE WHEN cb2 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS u2,
         CAST(sum(CASE WHEN cb2 >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS u3p
  FROM cb GROUP BY w2
),
cc2 AS (
  SELECT CAST(sum(CASE WHEN cb2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b1,
         CAST(sum(CASE WHEN cb2 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS b2,
         CAST(sum(CASE WHEN cb2 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS b3,
         CAST(sum(CASE WHEN cb2 = 4 THEN 1 ELSE 0 END) AS BIGINT) AS b4,
         count(*) AS tt
  FROM cb
),
d2 AS (
  SELECT
    greatest(1 - 2 * (CASE WHEN b1 + 2 * b2 > 0
                           THEN b1 * 1.0 / greatest(b1 + 2 * b2, 1) ELSE 0.5 END)
               * b2 / greatest(b1, 1), 0.0) AS d21,
    greatest(2 - 3 * (CASE WHEN b1 + 2 * b2 > 0
                           THEN b1 * 1.0 / greatest(b1 + 2 * b2, 1) ELSE 0.5 END)
               * b3 / greatest(b2, 1), 0.0) AS d22,
    greatest(3 - 4 * (CASE WHEN b1 + 2 * b2 > 0
                           THEN b1 * 1.0 / greatest(b1 + 2 * b2, 1) ELSE 0.5 END)
               * b4 / greatest(b3, 1), 0.0) AS d23,
    tt
  FROM cc2
),
cu AS (SELECT w3, count(*) AS p3 FROM cb GROUP BY w3),
scored AS (
  SELECT b.doc_id,
         -ln(
           (c3.n3c - CASE WHEN c3.n3c = 1 THEN d3.d31
                          WHEN c3.n3c = 2 THEN d3.d32
                          ELSE d3.d33 END) / x12.c12
           + ((d3.d31 * x12.t1 + d3.d32 * x12.t2 + d3.d33 * x12.t3p) / x12.c12)
             * (
               (cb.cb2 - CASE WHEN cb.cb2 = 1 THEN d2.d21
                              WHEN cb.cb2 = 2 THEN d2.d22
                              ELSE d2.d23 END) / x2.cdot2
               + ((d2.d21 * x2.u1 + d2.d22 * x2.u2 + d2.d23 * x2.u3p) / x2.cdot2)
                 * (cu.p3 * 1.0 / d2.tt)
             )
         ) AS nll
  FROM bg3 b
  JOIN c3 ON b.w1 = c3.w1 AND b.w2 = c3.w2 AND b.w3 = c3.w3
  JOIN ctx12 x12 ON b.w1 = x12.w1 AND b.w2 = x12.w2
  JOIN cb ON b.w2 = cb.w2 AND b.w3 = cb.w3
  JOIN ctx2 x2 ON b.w2 = x2.w2
  JOIN cu ON b.w3 = cu.w3
  CROSS JOIN d3 CROSS JOIN d2
)
SELECT doc_id, count(*) AS n_trigrams, round(avg(nll), 4) AS avg_nll
FROM scored
GROUP BY doc_id
ORDER BY doc_id
""",
)
def mkn_trigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document perplexity under a MODIFIED Kneser-Ney TRIGRAM LM —
    the exact algorithm KenLM implements at order 3 (Chen & Goodman,
    CSL 1999 §3; Heafield 2011), i.e. the LM behind the CCNet/LLaMA
    perplexity quality filters, upgrading kn_doc_perplexity's
    single-discount bigram:

    - THREE discounts per level, estimated from counts-of-counts
      (D1 = 1 - 2*Y*n2/n1, D2 = 2 - 3*Y*n3/n2, D3+ = 3 - 4*Y*n4/n3
      with Y = n1/(n1 + 2*n2)), applied by the count of the n-gram
      being discounted — Chen & Goodman's empirically-derived fix to
      the single-D absolute discount;
    - the backoff weight gamma(w1,w2) paying out exactly the discounted
      mass (D1*N1 + D2*N2 + D3+*N3+)/c(w1,w2), so each level's
      distribution sums to exactly 1 over the vocabulary (asserted by
      the reference-model test);
    - CONTINUATION counts at every lower level: the bigram level counts
      distinct left-extensions N1+(*, w2, w3) rather than raw bigram
      frequency, with its OWN modified discounts from its own
      counts-of-counts, interpolating into the continuation unigram
      N1+(*, w3)/N1+(*, *) — the full Kneser-Ney recursion, not the
      truncated one-level variant.

    Division guards (greatest(n, 1) denominators, a CASE'd Y) keep the
    estimator total on degenerate corpora and are written IDENTICALLY
    in both engines, so parity is preserved whichever branch fires.

    Cross-engine determinism: every model quantity is an exact integer
    aggregate; the three discounts are fixed scalar expressions over
    the 1-row counts-of-counts (crossJoin-broadcast); each trigram's
    probability is ONE arithmetic expression evaluated identically in
    both engines, and the only order-sensitive reduction is the final
    per-doc avg, rounded to 4 — the registry discipline.

    Scale shape: three count aggregations (trigram types, bigram-
    continuation types, unigram-continuation types) + per-context
    aggregations, all keyed on tokens with map-side partial counts;
    counts-of-counts collapse to ONE row per level. The trigram-type
    and continuation-type tables grow with the corpus (2.7M trigram
    types at sf10, measured — a static-planner broadcast OOM'd there),
    so those two joins are shuffle_hash-hinted (r10: was merge —
    both hints share the no-static-broadcast safety, but shuffled
    hash builds the type table per partition, ~35k rows/partition
    even at sf100's 9M types, and drops the SORT of the token stream
    the merge join forced: measured sf1 16.6 -> 9.5 s); the per-context and
    unigram tables stay vocabulary-bounded. Nothing is per-pair and
    no Python appears anywhere in the plan."""
    # byte-bounded fan-out: each task's map-side partial aggregate over
    # (w1, w2, w3) holds only the trigram types of ~256 KB of documents
    # (~100k types, tens of MB) — without it a 22 GB corpus put multi-
    # million-entry partial maps in 32 concurrent tasks and OOM'd the
    # default 8g heap at the scan+aggregate stage (measured, sf100)
    d = load_table(spark, sf_dir, "documents", spread=True, bytes_per_task=256 * 1024)
    toks = d.select("doc_id", tokens_ws("text").alias("ts")).filter(
        F.size("ts") >= 3
    )
    bg3 = toks.select(
        "doc_id",
        F.posexplode(F.slice("ts", 1, F.size("ts") - 2)).alias("i", "w1"),
        "ts",
    ).select(
        "doc_id",
        "w1",
        F.expr("ts[i + 1]").alias("w2"),
        F.expr("ts[i + 2]").alias("w3"),
    )
    # pinned: five model aggregates read the trigram-type table and
    # ReuseExchange does not fire across their differing re-shuffle keys
    # — measured 8 scans + 8 explodes without this, and sf100 wall
    # 373 -> 214 s with it (the bigram-level queries measured the
    # OPPOSITE trade and stay unpinned)
    c3 = pin(bg3.groupBy("w1", "w2", "w3").agg(F.count("*").alias("n3c")))
    ctx12 = c3.groupBy("w1", "w2").agg(
        F.sum("n3c").alias("c12"),
        F.sum(F.when(F.col("n3c") == 1, 1).otherwise(0)).alias("t1"),
        F.sum(F.when(F.col("n3c") == 2, 1).otherwise(0)).alias("t2"),
        F.sum(F.when(F.col("n3c") >= 3, 1).otherwise(0)).alias("t3p"),
    )

    def discounts(cdf: DataFrame, col: str, names: tuple[str, str, str]):
        cc = cdf.agg(
            F.sum(F.when(F.col(col) == 1, 1).otherwise(0)).alias("n1"),
            F.sum(F.when(F.col(col) == 2, 1).otherwise(0)).alias("n2"),
            F.sum(F.when(F.col(col) == 3, 1).otherwise(0)).alias("n3"),
            F.sum(F.when(F.col(col) == 4, 1).otherwise(0)).alias("n4"),
            F.count("*").alias("tt"),
        )
        # greatest-1 denominator: ANSI Spark evaluates the division
        # even under the false guard once CSE hoists it (measured on
        # the saturated sf0.1 corpus) — the CASE still picks the value
        y = F.when(
            F.col("n1") + 2 * F.col("n2") > 0,
            F.col("n1")
            * 1.0
            / F.greatest(F.col("n1") + 2 * F.col("n2"), F.lit(1)),
        ).otherwise(0.5)
        return cc.select(
            F.greatest(
                1 - 2 * y * F.col("n2") / F.greatest(F.col("n1"), F.lit(1)),
                F.lit(0.0),
            ).alias(names[0]),
            F.greatest(
                2 - 3 * y * F.col("n3") / F.greatest(F.col("n2"), F.lit(1)),
                F.lit(0.0),
            ).alias(names[1]),
            F.greatest(
                3 - 4 * y * F.col("n4") / F.greatest(F.col("n3"), F.lit(1)),
                F.lit(0.0),
            ).alias(names[2]),
            "tt",
        )

    d3 = discounts(c3, "n3c", ("d31", "d32", "d33")).drop("tt")
    cb = c3.groupBy("w2", "w3").agg(F.count("*").alias("cb2"))
    ctx2 = cb.groupBy("w2").agg(
        F.sum("cb2").alias("cdot2"),
        F.sum(F.when(F.col("cb2") == 1, 1).otherwise(0)).alias("u1"),
        F.sum(F.when(F.col("cb2") == 2, 1).otherwise(0)).alias("u2"),
        F.sum(F.when(F.col("cb2") >= 3, 1).otherwise(0)).alias("u3p"),
    )
    d2 = discounts(cb, "cb2", ("d21", "d22", "d23"))
    cu = cb.groupBy("w3").agg(F.count("*").alias("p3"))

    dd3 = (
        F.when(F.col("n3c") == 1, F.col("d31"))
        .when(F.col("n3c") == 2, F.col("d32"))
        .otherwise(F.col("d33"))
    )
    dd2 = (
        F.when(F.col("cb2") == 1, F.col("d21"))
        .when(F.col("cb2") == 2, F.col("d22"))
        .otherwise(F.col("d23"))
    )
    gamma12 = (
        F.col("d31") * F.col("t1")
        + F.col("d32") * F.col("t2")
        + F.col("d33") * F.col("t3p")
    ) / F.col("c12")
    gamma2 = (
        F.col("d21") * F.col("u1")
        + F.col("d22") * F.col("u2")
        + F.col("d23") * F.col("u3p")
    ) / F.col("cdot2")
    p2 = (F.col("cb2") - dd2) / F.col("cdot2") + gamma2 * (
        F.col("p3") * 1.0 / F.col("tt")
    )
    prob = (F.col("n3c") - dd3) / F.col("c12") + gamma12 * p2
    # Score TYPES, not tokens: all five model joins run over the
    # trigram-TYPE table (corpus-sublinear — 2.7M types vs 26M stream
    # rows at sf10), and the token stream crosses ONE hash join that
    # carries the finished nll. Routing the 260M-row sf100 stream
    # through the five-join chain OOM'd an 8g heap; this shape ran it
    # in one shuffle per side.
    # r10 optimization (guide §3.1): shuffle_hash instead of merge on
    # every model join — same no-static-broadcast scale safety (the
    # build side is hashed PER PARTITION: even sf100's 9M trigram
    # types are ~35k rows/partition at 256 shuffle partitions, never a
    # driver broadcast), but the 26M-row token stream is no longer
    # SORTED by three string keys before the scoring join. Measured
    # sf1: 16.4 -> 9.5 s full-query; plans show the SortMergeJoin
    # chain and its Sort nodes replaced by ShuffledHashJoin.
    model = (
        c3.join(ctx12.hint("shuffle_hash"), ["w1", "w2"])
        .join(cb.hint("shuffle_hash"), ["w2", "w3"])
        .join(ctx2.hint("shuffle_hash"), ["w2"])
        .join(cu.hint("shuffle_hash"), ["w3"])
        .crossJoin(F.broadcast(d3))
        .crossJoin(F.broadcast(d2))
        .select("w1", "w2", "w3", (-F.log(prob)).alias("nll"))
    )
    scored = bg3.join(model.hint("shuffle_hash"), ["w1", "w2", "w3"]).select(
        "doc_id", "nll"
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_trigrams"),
            F.round(F.avg("nll"), 4).alias("avg_nll"),
        )
        .orderBy("doc_id")
    )


@register(
    "ccnet_kn_buckets",
    oracle="""
WITH toks AS (
  SELECT doc_id, lang, string_split(text, ' ') AS ts FROM documents
),
bg AS (
  SELECT doc_id, lang, ts[i] AS w1, ts[i + 1] AS w2
  FROM toks, unnest(generate_series(1, len(ts) - 1)) AS u(i)
),
c2 AS (SELECT lang, w1, w2, count(*) AS n2 FROM bg GROUP BY lang, w1, w2),
ctx AS (
  SELECT lang, w1, count(*) AS f1, CAST(sum(n2) AS BIGINT) AS c1
  FROM c2 GROUP BY lang, w1
),
pred AS (SELECT lang, w2, count(*) AS p2 FROM c2 GROUP BY lang, w2),
cc AS (
  SELECT lang,
         CAST(sum(CASE WHEN n2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1cc,
         CAST(sum(CASE WHEN n2 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2cc,
         count(*) AS tt
  FROM c2 GROUP BY lang
),
scored AS (
  SELECT b.doc_id, b.lang,
         -ln((greatest(c2.n2 - (CASE WHEN cc.n1cc + 2 * cc.n2cc > 0
                  THEN cc.n1cc * 1.0 / greatest(cc.n1cc + 2 * cc.n2cc, 1)
                  ELSE 0.5 END), 0.0)
              + (CASE WHEN cc.n1cc + 2 * cc.n2cc > 0
                  THEN cc.n1cc * 1.0 / greatest(cc.n1cc + 2 * cc.n2cc, 1)
                  ELSE 0.5 END)
                * ctx.f1 * pred.p2 / cc.tt) / ctx.c1) AS nll
  FROM bg b
  JOIN c2 ON b.lang = c2.lang AND b.w1 = c2.w1 AND b.w2 = c2.w2
  JOIN ctx ON b.lang = ctx.lang AND b.w1 = ctx.w1
  JOIN pred ON b.lang = pred.lang AND b.w2 = pred.w2
  JOIN cc ON b.lang = cc.lang
),
per_doc AS (
  SELECT doc_id, lang, round(avg(nll), 4) AS nll
  FROM scored GROUP BY doc_id, lang
),
bucketed AS (
  SELECT lang, nll,
         ntile(3) OVER (PARTITION BY lang ORDER BY nll, doc_id) AS t
  FROM per_doc
)
SELECT lang,
       CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket,
       count(*) AS n_docs,
       round(avg(nll), 4) AS avg_nll,
       round(min(nll), 4) AS min_nll,
       round(max(nll), 4) AS max_nll
FROM bucketed
GROUP BY lang, t
ORDER BY lang, t
""",
)
def ccnet_kn_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail split driven by a per-language
    KNESER-NEY bigram LM — what Wenzek et al. (LREC 2020) actually do:
    their quality signal is a KenLM (Kneser-Ney) model's perplexity,
    not the unsmoothed MLE that ccnet_perplexity_buckets uses as its
    didactic baseline. Each language fits its OWN interpolated-KN
    model (per-language counts-of-counts discount, per-language
    continuation distribution — see kn_doc_perplexity for the
    estimator and its division guards), documents score by average
    NLL, and each language cuts into perplexity terciles.

    Scale shape: identical to ccnet_perplexity_buckets plus one extra
    vocabulary-keyed aggregation (distinct predecessors) and a
    per-language 3-long counts-of-counts row (tiny equi-join on lang,
    broadcast at any scale); the tercile window stays one partition
    per language over (rounded nll, doc_id). Determinism: rank on the
    ROUNDED score with the id tie-break; the KN probability is one
    fixed arithmetic expression over exact integer aggregates,
    identical in both engines."""
    d = load_table(spark, sf_dir, "documents", spread=True)
    toks = d.select("doc_id", "lang", tokens_ws("text").alias("ts"))
    bg = toks.select(
        "doc_id",
        "lang",
        F.posexplode(F.slice("ts", 1, F.greatest(F.size("ts") - 1, F.lit(0)))).alias(
            "i", "w1"
        ),
        "ts",
    ).select("doc_id", "lang", "w1", F.expr("ts[i + 1]").alias("w2"))
    c2 = bg.groupBy("lang", "w1", "w2").agg(F.count("*").alias("n2"))
    ctx = c2.groupBy("lang", "w1").agg(
        F.count("*").alias("f1"), F.sum("n2").alias("c1")
    )
    pred = c2.groupBy("lang", "w2").agg(F.count("*").alias("p2"))
    cc = c2.groupBy("lang").agg(
        F.sum(F.when(F.col("n2") == 1, 1).otherwise(0)).alias("n1cc"),
        F.sum(F.when(F.col("n2") == 2, 1).otherwise(0)).alias("n2cc"),
        F.count("*").alias("tt"),
    )
    disc = F.when(
        F.col("n1cc") + 2 * F.col("n2cc") > 0,
        F.col("n1cc")
        * 1.0
        / F.greatest(F.col("n1cc") + 2 * F.col("n2cc"), F.lit(1)),
    ).otherwise(0.5)
    prob = (
        F.greatest(F.col("n2") - disc, F.lit(0.0))
        + disc * F.col("f1") * F.col("p2") / F.col("tt")
    ) / F.col("c1")
    # score types, not tokens (see kn_doc_perplexity): model joins run
    # over the per-language type table; the token stream crosses once
    model = (
        c2.join(ctx.hint("shuffle_hash"), ["lang", "w1"])
        .join(pred.hint("shuffle_hash"), ["lang", "w2"])
        .join(F.broadcast(cc), ["lang"])
        .select("lang", "w1", "w2", (-F.log(prob)).alias("nll"))
    )
    scored = bg.join(model.hint("shuffle_hash"), ["lang", "w1", "w2"]).select(
        "doc_id", "lang", "nll"
    )
    per_doc = scored.groupBy("doc_id", "lang").agg(
        F.round(F.avg("nll"), 4).alias("nll")
    )
    w = Window.partitionBy("lang").orderBy("nll", "doc_id")
    bucketed = per_doc.select("lang", "nll", F.ntile(3).over(w).alias("t"))
    return (
        bucketed.groupBy("lang", "t")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("nll"), 4).alias("avg_nll"),
            F.round(F.min("nll"), 4).alias("min_nll"),
            F.round(F.max("nll"), 4).alias("max_nll"),
        )
        .select(
            "lang",
            F.when(F.col("t") == 1, "head")
            .when(F.col("t") == 2, "middle")
            .otherwise("tail")
            .alias("bucket"),
            "n_docs",
            "avg_nll",
            "min_nll",
            "max_nll",
        )
        .orderBy("lang", "t")
    )


# ---------------------------------------------------------------------------
# Vocabulary growth (Heaps' law) — exact, integer-only
# ---------------------------------------------------------------------------


@register(
    "vocab_growth_report",
    oracle="""
WITH t AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
first_seen AS (
  SELECT tok, min(doc_id) AS fd FROM t GROUP BY tok
),
tok_counts AS (
  SELECT doc_id, count(*) AS n_tok FROM t GROUP BY doc_id
),
buckets AS (
  SELECT CAST(ceil(log2(fd + 2)) AS BIGINT) AS b, count(*) AS new_types
  FROM first_seen GROUP BY 1
),
tok_buckets AS (
  SELECT CAST(ceil(log2(doc_id + 2)) AS BIGINT) AS b,
         CAST(sum(n_tok) AS BIGINT) AS n_tokens
  FROM tok_counts GROUP BY 1
),
grid AS (
  SELECT DISTINCT b FROM (SELECT b FROM buckets UNION ALL SELECT b FROM tok_buckets)
),
cum_tok AS (
  SELECT g.b, CAST(sum(tb.n_tokens) AS BIGINT) AS n_tokens
  FROM grid g LEFT JOIN tok_buckets tb ON tb.b <= g.b GROUP BY g.b
),
cum_typ AS (
  SELECT g.b, CAST(sum(bu.new_types) AS BIGINT) AS n_types
  FROM grid g LEFT JOIN buckets bu ON bu.b <= g.b GROUP BY g.b
)
SELECT t.b AS prefix_pow, t.n_tokens, y.n_types
FROM cum_tok t JOIN cum_typ y ON t.b = y.b
ORDER BY prefix_pow
""",
)
def vocab_growth_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth measured EXACTLY: for each
    power-of-two prefix of the corpus (docs with ``doc_id < ~2^b``),
    the cumulative token count and the cumulative number of DISTINCT
    token types first seen inside it. The V(n) ~ K * n^beta curve this
    table traces is what sizes tokenizer vocabularies, embedding
    hash-trick widths, and the perplexity family's type tables (the
    mkn sf100 lesson: type-table growth, not doc growth, set the
    memory wall) — and the synthetic corpus's early saturation is
    visible as the flat n_types tail.

    All integer aggregates (no logs on data values — the log2 only
    buckets doc_ids), so the whole curve hash-verifies. Scale shape:
    one explode, one groupBy(token).min(doc_id) with map-side combine
    (the type table — grows with the corpus, shuffles once), one
    <= 64-bucket histogram, and a <= 64 x 64 triangular join for the
    running sums — never a corpus-proportional window."""
    # spread: single-file replica series floor the tokenize+explode map
    # stage (the line_dedup_report finding); ~30% here, byte-sized so
    # small SFs don't shatter.
    d = load_table(spark, sf_dir, "documents", spread=True, bytes_per_task=256 * 1024)
    t = d.select("doc_id", F.explode(tokens_ws("text")).alias("tok"))
    first_seen = t.groupBy("tok").agg(F.min("doc_id").alias("fd"))
    tok_counts = t.groupBy("doc_id").agg(F.count("*").alias("n_tok"))
    bucket = lambda c: F.ceil(F.log2(F.col(c) + 2)).cast("long")  # noqa: E731
    buckets = (
        first_seen.select(bucket("fd").alias("b"))
        .groupBy("b")
        .agg(F.count("*").alias("new_types"))
    )
    tok_buckets = (
        tok_counts.select(bucket("doc_id").alias("b"), "n_tok")
        .groupBy("b")
        .agg(F.sum("n_tok").alias("n_tokens"))
    )
    grid = (
        buckets.select("b")
        .unionByName(tok_buckets.select("b"))
        .distinct()
        .select(F.col("b").alias("gb"))
    )
    return (
        grid.join(tok_buckets, F.col("b") <= F.col("gb"), "left")
        .groupBy("gb")
        .agg(F.sum("n_tokens").alias("n_tokens"))
        .join(
            grid.join(buckets, F.col("b") <= F.col("gb"), "left")
            .groupBy(F.col("gb").alias("gb2"))
            .agg(F.sum("new_types").alias("n_types")),
            F.col("gb") == F.col("gb2"),
        )
        .select(
            F.col("gb").alias("prefix_pow"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("n_types").cast("long").alias("n_types"),
        )
        .orderBy("prefix_pow")
    )


@register(
    "heaps_fit_report",
    oracle="""
WITH t AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
first_seen AS (
  SELECT tok, min(doc_id) AS fd FROM t GROUP BY tok
),
tok_counts AS (
  SELECT doc_id, count(*) AS n_tok FROM t GROUP BY doc_id
),
buckets AS (
  SELECT CAST(ceil(log2(fd + 2)) AS BIGINT) AS b, count(*) AS new_types
  FROM first_seen GROUP BY 1
),
tok_buckets AS (
  SELECT CAST(ceil(log2(doc_id + 2)) AS BIGINT) AS b,
         CAST(sum(n_tok) AS BIGINT) AS n_tokens
  FROM tok_counts GROUP BY 1
),
grid AS (
  SELECT DISTINCT b FROM (SELECT b FROM buckets UNION ALL SELECT b FROM tok_buckets)
),
curve AS (
  SELECT g.b,
         (SELECT CAST(sum(tb.n_tokens) AS BIGINT) FROM tok_buckets tb WHERE tb.b <= g.b) AS n,
         (SELECT CAST(sum(bu.new_types) AS BIGINT) FROM buckets bu WHERE bu.b <= g.b) AS v
  FROM grid g
),
xy AS (
  SELECT n, v, ln(CAST(n AS DOUBLE)) AS x, ln(CAST(v AS DOUBLE)) AS y FROM curve
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_points,
         CAST(max(n) AS BIGINT) AS n_tokens,
         CAST(max(v) AS BIGINT) AS n_types,
         CAST(max(v) AS BIGINT) AS max_v,
         CAST(min(v) AS BIGINT) AS min_v,
         sum(x) AS sx, sum(y) AS sy,
         count(*) * sum(x * y) - sum(x) * sum(y) AS sxy_n,
         count(*) * sum(x * x) - sum(x) * sum(x) AS sxx_n,
         count(*) * sum(y * y) - sum(y) * sum(y) AS syy_n
  FROM xy
)
-- zipf_fit_report's exact-integer gate discipline: x (ln cumulative
-- tokens) is strictly increasing, so n_points > 1 is the exact slope
-- gate; y variance exists iff the INTEGER prefix vocabularies differ
-- (max_v > min_v) — never the sign of a cancelled float moment.
SELECT n_points, n_tokens, n_types,
       round(CASE WHEN n_points > 1 THEN
                  CASE WHEN max_v = min_v THEN 0.0
                       ELSE sxy_n / sxx_n END
             END, 4) AS heaps_beta,
       round(CASE WHEN n_points > 1 THEN
                  exp((sy - (CASE WHEN max_v = min_v THEN 0.0
                                  ELSE sxy_n / sxx_n END) * sx) / n_points)
             END, 4) AS heaps_k,
       round(CASE WHEN n_points > 1 AND max_v > min_v
                  THEN (sxy_n * sxy_n) / (sxx_n * syy_n) END, 4) AS r2
FROM agg
""",
)
def heaps_fit_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit V(n) = K * n^beta over the EXACT vocabulary-growth
    curve that vocab_growth_report traces (power-of-two doc-id prefixes;
    <= 64 integer points): least-squares slope of ln(V) on ln(n), the
    growth exponent that sizes tokenizer vocabularies and the perplexity
    family's type tables ahead of a scale-up (the mkn sf100 lesson:
    type-table growth set the memory wall, and beta is its forecast).
    Natural text sits at beta ~ 0.4-0.6 (Heaps 1978); this synthetic
    corpus's saturated vocabulary shows as beta near 0 with the fit's
    honesty preserved by the gates.

    Determinism: the curve points are exact integers (the
    vocab_growth_report contract); the <= 64-point moment sums are
    doubles; degenerate cases gate on EXACT integers per the zipf
    precedent — one point yields NULL beta/K/r2; a flat integer curve
    (max_v = min_v) yields literal beta 0.0, K = exp(mean ln V), NULL
    r2. x is strictly increasing (each non-empty bucket adds tokens),
    so sxx_n is bounded away from 0 whenever n_points > 1 and the
    float division is safe inside the gate.

    Scale shape: identical to vocab_growth_report (one explode, one
    vocabulary-bounded groupBy, a <= 64-bucket histogram and a 64x64
    triangular join) plus a single-row fit over <= 64 points — the fit
    itself adds no shuffle; the whole report is the curve's cost."""
    curve = vocab_growth_report(spark, sf_dir)
    xy = curve.select(
        F.col("n_tokens").alias("n"),
        F.col("n_types").alias("v"),
        F.log(F.col("n_tokens").cast("double")).alias("x"),
        F.log(F.col("n_types").cast("double")).alias("y"),
    )
    n = F.count("*")
    agg = xy.agg(
        n.alias("n_points"),
        F.max("n").alias("n_tokens"),
        F.max("v").alias("n_types"),
        F.max("v").alias("max_v"),
        F.min("v").alias("min_v"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        (n * F.sum(F.col("x") * F.col("y")) - F.sum("x") * F.sum("y")).alias(
            "sxy_n"
        ),
        (n * F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x")).alias(
            "sxx_n"
        ),
        (n * F.sum(F.col("y") * F.col("y")) - F.sum("y") * F.sum("y")).alias(
            "syy_n"
        ),
    )
    slope = F.when(F.col("max_v") == F.col("min_v"), F.lit(0.0)).otherwise(
        F.col("sxy_n") / F.col("sxx_n")
    )
    return agg.select(
        "n_points",
        "n_tokens",
        "n_types",
        F.round(F.when(F.col("n_points") > 1, slope), 4).alias("heaps_beta"),
        F.round(
            F.when(
                F.col("n_points") > 1,
                F.exp((F.col("sy") - slope * F.col("sx")) / F.col("n_points")),
            ),
            4,
        ).alias("heaps_k"),
        F.round(
            F.when(
                (F.col("n_points") > 1) & (F.col("max_v") > F.col("min_v")),
                (F.col("sxy_n") * F.col("sxy_n"))
                / (F.col("sxx_n") * F.col("syy_n")),
            ),
            4,
        ).alias("r2"),
    )


# ---------------------------------------------------------------------------
# Exact phrase search over a positional inverted index — the retrieval
# capability BM25's bag-of-words scoring cannot express (term ORDER and
# ADJACENCY), and the index shape (term -> (doc, position) postings)
# every phrase/proximity engine builds.
# ---------------------------------------------------------------------------

_PHRASES = [
    "window join",  # common 2-gram
    "order order",  # repeated token: overlapping matches must count
    "agg part filter",  # 3-term phrase (two adjacency joins)
    "slow merge scan",  # absent at some SFs: the zero-hit row path
]


def _phrase_oracle() -> str:
    # Independent formulation on purpose (stronger than a shared
    # construction): a direct position scan with list_filter over
    # 1-indexed subscripts, not the postings join the Spark plan uses.
    parts = []
    for ph in _PHRASES:
        terms = ph.split()
        n = len(terms)
        cond = " AND ".join(
            f"toks[i+{j}] = '{t}'" for j, t in enumerate(terms)
        )
        parts.append(f"""SELECT '{ph}' AS phrase, {n} AS n_terms,
       CAST(COALESCE(sum(CASE WHEN m > 0 THEN 1 ELSE 0 END), 0) AS BIGINT)
         AS n_docs,
       CAST(COALESCE(sum(m), 0) AS BIGINT) AS n_occurrences,
       CAST(COALESCE(max(m), 0) AS BIGINT) AS max_per_doc
FROM (
  SELECT len(list_filter(generate_series(1, len(toks) - {n - 1}),
                         i -> {cond})) AS m
  FROM (SELECT string_split(text, ' ') AS toks FROM documents)
)""")
    return "\nUNION ALL\n".join(parts) + "\nORDER BY phrase"


@register("phrase_search_report", oracle=_phrase_oracle())
def phrase_search_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase matching via a positional inverted index: tokens
    posexplode to (term, doc, position) postings, the postings are
    pruned to the phrase vocabulary BEFORE any shuffle (predicate
    pushdown does the index's job: only occurrences of the phrase's own
    terms move), and a phrase of k terms resolves as k-1 adjacency
    equi-joins on (doc_id, pos + offset) — the standard positional-
    index intersection every phrase-query engine runs. Overlapping
    matches count (see the repeated-token phrase in the fixture list);
    a zero-hit phrase still emits its row with zero counts.

    The oracle is an INDEPENDENT formulation — a direct per-document
    position scan — so parity checks the algorithm, not a shared
    construction.

    Scale shape: the postings table is filtered to the phrase terms at
    the scan (a fraction of corpus tokens), the adjacency joins key on
    (doc_id, pos) — high-cardinality, skew-free keys — and per-doc
    match counts aggregate with map-side combine. Nothing
    corpus-proportional survives the first filter; a real engine would
    persist the postings bucketed by term and skip the scan entirely
    (the bucketing layout operators/bucketing.py already provides)."""
    d = load_table(spark, sf_dir, "documents", spread=True, bytes_per_task=256 * 1024)
    all_terms = sorted({t for ph in _PHRASES for t in ph.split()})
    postings = (
        d.select(
            "doc_id", F.posexplode(tokens_ws("text")).alias("pos", "term")
        )
        .filter(F.col("term").isin(all_terms))
    )
    parts = []
    for ph in _PHRASES:
        terms = ph.split()
        n = len(terms)
        m = postings.filter(F.col("term") == terms[0]).select("doc_id", "pos")
        for j, t in enumerate(terms[1:], start=1):
            pj = postings.filter(F.col("term") == t).select(
                "doc_id", (F.col("pos") - j).alias("pos")
            )
            m = m.join(pj, ["doc_id", "pos"])
        per_doc = m.groupBy("doc_id").agg(F.count("*").alias("m"))
        parts.append(
            per_doc.agg(
                F.lit(ph).alias("phrase"),
                F.lit(n).cast("int").alias("n_terms"),
                F.coalesce(F.count("*"), F.lit(0)).cast("long").alias("n_docs"),
                F.coalesce(F.sum("m"), F.lit(0)).cast("long").alias(
                    "n_occurrences"
                ),
                F.coalesce(F.max("m"), F.lit(0)).cast("long").alias(
                    "max_per_doc"
                ),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("phrase")


# ---------------------------------------------------------------------------
# Data-mixture divergence: how far each source's unigram distribution
# sits from the corpus mixture — the quantity data-mixing work (domain
# reweighting, mixture tuning) tracks per domain.
# ---------------------------------------------------------------------------


@register(
    "source_divergence_report",
    oracle="""
WITH u AS (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
sc AS (SELECT source, tok, count(*) AS c FROM u GROUP BY source, tok),
st AS (SELECT source, CAST(sum(c) AS BIGINT) AS ns FROM sc GROUP BY source),
ct AS (SELECT tok, CAST(sum(c) AS BIGINT) AS ctot FROM sc GROUP BY tok),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM sc),
terms AS (
  SELECT sc.source, sc.c, st.ns, ct.ctot, tot.n,
         sc.c * 1.0 / st.ns AS ps,
         ct.ctot * 1.0 / tot.n AS pc
  FROM sc
  JOIN st ON st.source = sc.source
  JOIN ct ON ct.tok = sc.tok
  CROSS JOIN tot
)
SELECT source,
       CAST(min(ns) AS BIGINT) AS n_tokens,
       count(*) AS n_types,
       round(sum(ctot) * 1.0 / min(n), 4) AS covered_mass,
       round(sum(ps * ln(ps / pc)), 4) AS kl_div,
       round(sum(0.5 * (ps * ln(2 * ps / (ps + pc))
                        + pc * ln(2 * pc / (ps + pc))))
             + 0.5 * ln(2) * (1 - sum(ctot) * 1.0 / min(n)), 4) AS js_div
FROM terms
GROUP BY source
ORDER BY source
""",
)
def source_divergence_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KL and Jensen-Shannon divergence of the unigram token
    distribution against the corpus mixture — the domain-distance table
    data-mixing decisions read (a source far from the mixture is
    under-represented or genuinely different; reweighting work tracks
    exactly this quantity per domain). KL is over the source's support
    (where p_src > 0, so no zero terms); JS handles the corpus tokens
    ABSENT from a source in closed form: their contribution is
    0.5*ln(2)*(1 - covered_mass), with covered_mass the corpus
    probability mass of the source's vocabulary — an exact integer
    ratio, so no source x vocabulary cross join is ever built.

    Scale shape: the per-(source, token) count table is the one
    corpus-proportional aggregate (map-side combined); everything after
    joins TYPE tables keyed by token — the perplexity family's
    score-types-not-tokens discipline — and the token-keyed join is
    skew-free merge material at any vocabulary size. Double sums span
    a source's type list and round to 4 decimals (the avg_nll
    precedent)."""
    d = load_table(spark, sf_dir, "documents", spread=True, bytes_per_task=256 * 1024)
    sc = (
        d.select("source", F.explode(tokens_ws("text")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count("*").alias("c"))
    )
    st = sc.groupBy("source").agg(F.sum("c").cast("long").alias("ns"))
    ct = sc.groupBy("tok").agg(F.sum("c").cast("long").alias("ctot"))
    tot = sc.agg(F.sum("c").cast("long").alias("n"))
    terms = (
        sc.join(st, "source")
        .join(ct, "tok")
        .crossJoin(tot)
        .select(
            "source",
            "c",
            "ns",
            "ctot",
            "n",
            (F.col("c") * 1.0 / F.col("ns")).alias("ps"),
            (F.col("ctot") * 1.0 / F.col("n")).alias("pc"),
        )
    )
    ps, pc = F.col("ps"), F.col("pc")
    ln2 = F.log(F.lit(2.0))
    return (
        terms.groupBy("source")
        .agg(
            F.min("ns").cast("long").alias("n_tokens"),
            F.count("*").alias("n_types"),
            F.round(F.sum("ctot") * 1.0 / F.min("n"), 4).alias("covered_mass"),
            F.round(F.sum(ps * F.log(ps / pc)), 4).alias("kl_div"),
            F.round(
                F.sum(
                    0.5
                    * (
                        ps * F.log(2 * ps / (ps + pc))
                        + pc * F.log(2 * pc / (ps + pc))
                    )
                )
                + 0.5 * ln2 * (1 - F.sum("ctot") * 1.0 / F.min("n")),
                4,
            ).alias("js_div"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Collocation mining: pointwise mutual information of adjacent token
# pairs — the association statistic between raw counts (vocab_growth)
# and full LMs (kn/mkn): which bigrams occur far above chance?
# ---------------------------------------------------------------------------

_PMI_MIN_COUNT = 5
_PMI_TOP = 25


@register(
    "token_pmi_report",
    oracle=f"""
WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
bg AS (
  SELECT p.w1, p.w2
  FROM t, unnest(list_transform(generate_series(1, len(toks) - 1),
                 i -> struct_pack(w1 := toks[i], w2 := toks[i + 1]))) AS u(p)
),
cb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cab FROM bg GROUP BY w1, w2),
uni AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(toks) AS tok FROM t) GROUP BY tok
),
tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS n,
         (SELECT CAST(sum(cab) AS BIGINT) FROM cb) AS b
  FROM uni
)
SELECT cb.w1, cb.w2, cb.cab AS n_pair,
       round(ln(CAST(cb.cab * CAST(tot.n AS HUGEINT) * tot.n AS DOUBLE)
                / CAST(tot.b * CAST(u1.c AS HUGEINT) * u2.c AS DOUBLE)), 4)
         AS pmi
FROM cb
JOIN uni u1 ON u1.tok = cb.w1
JOIN uni u2 ON u2.tok = cb.w2
CROSS JOIN tot
WHERE cb.cab >= {_PMI_MIN_COUNT}
ORDER BY pmi DESC, cb.w1, cb.w2
LIMIT {_PMI_TOP}
""",
)
def token_pmi_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_PMI_TOP} adjacent-token collocations by pointwise mutual
    information (min pair count {_PMI_MIN_COUNT}): PMI =
    ln(c_ab*N^2 / (B*c_a*c_b)) compares each bigram's rate against the
    unigram-independence baseline — the classic collocation statistic
    (Church & Hanks 1990) and the cheap screen before any phrase-aware
    tokenizer or merge rule. The log argument is a ratio of EXACT
    integers (HUGEINT/DECIMAL(38): c_ab*N^2 overflows int64 from ~100M
    tokens), converted to double once, so both engines take ln of the
    identical value; ranking is on the rounded PMI with a (w1, w2)
    tie-break.

    Scale shape: bigrams come from a map-only array transform (no
    window, no explode-then-self-join); the pair and unigram count
    tables are the corpus aggregates (map-side combined); the PMI join
    touches TYPE tables keyed by token (merge material at any
    vocabulary); TakeOrdered for the top-k."""
    d = load_table(spark, sf_dir, "documents", spread=True, bytes_per_task=256 * 1024)
    t = d.select(tokens_ws("text").alias("toks"))
    bg = t.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1), "
                "i -> struct(element_at(toks, i) AS w1, "
                "element_at(toks, i + 1) AS w2))"
            )
        ).alias("p")
    ).select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    cb = bg.groupBy("w1", "w2").agg(F.count("*").cast("long").alias("cab"))
    uni = (
        t.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("c"))
    )
    tot = uni.agg(F.sum("c").cast("long").alias("n")).crossJoin(
        cb.agg(F.sum("cab").cast("long").alias("b"))
    )
    dec = "decimal(38,0)"
    u1 = uni.select(F.col("tok").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("tok").alias("w2"), F.col("c").alias("c2"))
    return (
        cb.filter(F.col("cab") >= _PMI_MIN_COUNT)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(tot)
        .select(
            "w1",
            "w2",
            F.col("cab").alias("n_pair"),
            F.round(
                F.log(
                    (F.col("cab").cast(dec) * F.col("n") * F.col("n")).cast(
                        "double"
                    )
                    / (F.col("b").cast(dec) * F.col("c1") * F.col("c2")).cast(
                        "double"
                    )
                ),
                4,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(_PMI_TOP)
    )


# ---------------------------------------------------------------------------
# Zipf rank-frequency fit — the corpus-health power law
# ---------------------------------------------------------------------------


@register(
    "zipf_fit_report",
    oracle="""
WITH t AS (
  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
),
tc0 AS (
  SELECT source AS cohort, tok, CAST(count(*) AS BIGINT) AS cnt
  FROM t GROUP BY ALL
),
tc AS (
  SELECT * FROM tc0
  UNION ALL
  SELECT 'ALL' AS cohort, tok, CAST(sum(cnt) AS BIGINT) FROM tc0 GROUP BY tok
),
r AS (
  SELECT cohort, cnt,
         row_number() OVER (PARTITION BY cohort ORDER BY cnt DESC, tok) AS rnk
  FROM tc
),
xy AS (
  SELECT cohort, cnt, ln(CAST(rnk AS DOUBLE)) AS x, ln(CAST(cnt AS DOUBLE)) AS y
  FROM r
),
agg AS (
  SELECT cohort,
         CAST(count(*) AS BIGINT) AS n_types,
         CAST(sum(cnt) AS BIGINT) AS n_tokens,
         CAST(max(cnt) AS BIGINT) AS top_cnt,
         CAST(min(cnt) AS BIGINT) AS min_cnt,
         count(*) * sum(x * y) - sum(x) * sum(y) AS sxy_n,
         count(*) * sum(x * x) - sum(x) * sum(x) AS sxx_n,
         count(*) * sum(y * y) - sum(y) * sum(y) AS syy_n
  FROM xy GROUP BY cohort
)
-- Gates are EXACT-INTEGER predicates (engine-identical), never the
-- catastrophically-cancelled float moments: rank variance exists iff
-- n_types > 1; count variance exists iff max(cnt) > min(cnt). The
-- float sxx_n/syy_n are only used INSIDE already-gated arithmetic.
SELECT cohort, n_types, n_tokens,
       round(CASE WHEN n_types > 1 THEN
                  CASE WHEN top_cnt = min_cnt THEN 0.0
                       ELSE sxy_n / sxx_n END
             END, 4) AS zipf_slope,
       round(CASE WHEN n_types > 1 AND top_cnt > min_cnt
                  THEN (sxy_n * sxy_n) / (sxx_n * syy_n) END, 4) AS r2,
       round(top_cnt * 1.0 / n_tokens, 4) AS top_share
FROM agg
ORDER BY cohort
""",
)
def zipf_fit_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency fit per source plus pooled ALL: least-
    squares slope of ln(count) on ln(rank) over the vocabulary, with
    R^2 and the top token's mass share. Natural text sits near slope
    -1 (Zipf 1949); the fit is the corpus-health check that flags
    synthetic, template or degenerate text (near-uniform counts give a
    flat slope with low R^2 — exactly what this synthetic corpus's
    saturated ~31-word vocabulary shows, which is the point of
    registering the measurement), and its slope feeds smoothing
    choices for the n-gram LM family.

    Determinism: the per-type (x, y) = (ln rank, ln count) come from
    exact integers, the per-cohort moment sums are doubles over the
    VOCABULARY-bounded type table, and outputs round at 4dp — the PSI
    precedent (a 31k-term double sum agrees across engines to ~1e-10,
    far inside the rounding). Degenerate cohorts gate on EXACT-INTEGER
    predicates, never on the sign of a cancelled float moment: a
    single type (n_types = 1) yields NULL slope and R^2 (no rank
    variance); uniform counts (max(cnt) = min(cnt), BIGINT-exact in
    both engines) yield literal slope 0.0 with NULL R^2 (zero count
    variance). The float sxx_n/syy_n only appear inside already-gated
    arithmetic, so an engine-dependent summation-order sign at ±1 ulp
    of 0 can never flip a NULL/non-NULL decision (the r07 divergence
    on zero-variance input).

    Scale shape: one explode to the (cohort, token) type table with
    map-side combine; the rank window partitions BY COHORT over
    vocabulary-bounded rows (never corpus-proportional); the fit is a
    single moment aggregate per cohort."""
    d = load_table(
        spark, sf_dir, "documents", spread=True, bytes_per_task=256 * 1024
    )
    t = d.select("source", F.explode(tokens_ws("text")).alias("tok"))
    tc0 = t.groupBy(F.col("source").alias("cohort"), "tok").agg(
        F.count("*").alias("cnt")
    )
    # vocabulary-bounded: one materialization feeds both union branches
    tc0 = pin(tc0)
    tc = tc0.unionByName(
        tc0.groupBy("tok")
        .agg(F.sum("cnt").alias("cnt"))
        .select(F.lit("ALL").alias("cohort"), "tok", "cnt")
    )
    w = Window.partitionBy("cohort").orderBy(F.desc("cnt"), "tok")
    xy = tc.select(
        "cohort",
        "cnt",
        F.log(F.row_number().over(w).cast("double")).alias("x"),
        F.log(F.col("cnt").cast("double")).alias("y"),
    )
    n = F.count("*")
    agg = xy.groupBy("cohort").agg(
        n.alias("n_types"),
        F.sum("cnt").alias("n_tokens"),
        F.max("cnt").alias("top_cnt"),
        F.min("cnt").alias("min_cnt"),
        (n * F.sum(F.col("x") * F.col("y")) - F.sum("x") * F.sum("y")).alias(
            "sxy_n"
        ),
        (n * F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x")).alias(
            "sxx_n"
        ),
        (n * F.sum(F.col("y") * F.col("y")) - F.sum("y") * F.sum("y")).alias(
            "syy_n"
        ),
    )
    return agg.select(
        "cohort",
        "n_types",
        "n_tokens",
        # Exact-integer gates (see the oracle's comment): n_types > 1
        # for rank variance, max(cnt) > min(cnt) for count variance.
        # The float moments stay inside the already-gated arithmetic
        # so an engine-dependent cancellation sign can never flip a
        # NULL/non-NULL decision (the r07 divergence).
        F.round(
            F.when(
                F.col("n_types") > 1,
                F.when(F.col("top_cnt") == F.col("min_cnt"), F.lit(0.0)).otherwise(
                    F.col("sxy_n") / F.col("sxx_n")
                ),
            ),
            4,
        ).alias("zipf_slope"),
        F.round(
            F.when(
                (F.col("n_types") > 1) & (F.col("top_cnt") > F.col("min_cnt")),
                (F.col("sxy_n") * F.col("sxy_n"))
                / (F.col("sxx_n") * F.col("syy_n")),
            ),
            4,
        ).alias("r2"),
        F.round(F.col("top_cnt") * 1.0 / F.col("n_tokens"), 4).alias("top_share"),
    ).orderBy("cohort")


# ---------------------------------------------------------------------------
# Term burstiness / adaptation (Church & Gale 1995; Church 2000) — the
# "lightning strikes twice" statistic behind document-frequency-based
# weighting and dedup sizing
# ---------------------------------------------------------------------------

_BURST_TOP = 30


@register(
    "token_burstiness_report",
    oracle=f"""
WITH t AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
dt AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS c
  FROM t GROUP BY doc_id, term
),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM t),
st AS (
  SELECT term,
         CAST(count(*) AS BIGINT) AS df,
         CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS df2,
         CAST(sum(c) AS BIGINT) AS cnt
  FROM dt GROUP BY term
),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY df DESC, term) AS rnk FROM st
)
SELECT r.term, r.df, r.df2, r.cnt,
       round(r.df2 * 1.0 / r.df, 4) AS adaptation,
       round(r.df * 1.0 / n.n_docs, 4) AS doc_rate
FROM ranked r CROSS JOIN n
WHERE r.rnk <= {_BURST_TOP}
ORDER BY r.df DESC, r.term
""",
)
def token_burstiness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness (Church's ADAPTATION) of the {_BURST_TOP} highest-df
    terms: P(term recurs in a doc | it appeared at all) = df2/df next
    to the unconditional doc rate df/N. Content words adapt far above
    their doc rate (a doc that says "reactor" once likely says it
    again) while function words sit near it — the statistic behind
    Church & Gale's rejection of the Poisson document model, and a
    practical curation read: terms whose adaptation is ~1 across a
    source flag boilerplate/template text (every occurrence doc
    repeats them), feeding the same decisions as the novelty and
    line-dedup reports.

    Determinism: every quantity is an exact integer count (per-doc
    term counts, document frequencies); the two ratios divide <=2^53
    integers at the edge, rounded 4dp; top-{_BURST_TOP} ties break on
    the term string in both engines.

    Scale shape: one explode with map-side combine into the per-(doc,
    term) table, one groupBy(term) over it (vocabulary-bounded
    output), and a TakeOrdered top-{_BURST_TOP} — no corpus-sized
    shuffle past the first aggregate; the doc count is one scalar
    broadcast."""
    t = load_table(
        spark, sf_dir, "documents", spread=True, bytes_per_task=256 * 1024
    ).select("doc_id", F.explode(tokens_ws("text")).alias("term"))
    dt = t.groupBy("doc_id", "term").agg(F.count("*").alias("c"))
    n = t.agg(F.countDistinct("doc_id").alias("n_docs"))
    st = dt.groupBy("term").agg(
        F.count("*").alias("df"),
        F.sum(F.when(F.col("c") >= 2, 1).otherwise(0)).alias("df2"),
        F.sum("c").alias("cnt"),
    )
    w = Window.orderBy(F.desc("df"), "term")
    return (
        st.select("*", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= _BURST_TOP)
        .crossJoin(F.broadcast(n))
        .select(
            "term",
            "df",
            "df2",
            "cnt",
            F.round(F.col("df2") * 1.0 / F.col("df"), 4).alias("adaptation"),
            F.round(F.col("df") * 1.0 / F.col("n_docs"), 4).alias("doc_rate"),
        )
        .orderBy(F.desc("df"), "term")
    )


# ---------------------------------------------------------------------------
# LLM-watermark detection (Kirchenbauer et al. 2023, "A Watermark for
# Large Language Models") — the curation screen that keeps watermarked
# model output OUT of a training corpus
# ---------------------------------------------------------------------------

_WM_SEED = "wm"  # deploy-time greenlist seed (the detector's only secret)
_WM_DENOM = 4  # gamma = 1/4 greenlist fraction
_WM_DOC_Z = 2.0  # per-doc screening threshold (one-sided ~2.3% FPR)
_WM_COHORT_Z = 4.0  # cohort-level alarm (the paper's detection z)


def _wm_pairs_sql() -> str:
    """(source, doc_id, bigram) rows — DuckDB twin of the Spark
    2-shingle explode."""
    return f"""
toks AS (
  SELECT source, doc_id, string_split(text, ' ') AS t FROM documents
),
pairs AS (
  SELECT source, doc_id, unnest({shingles_sql('t', 2)}) AS g FROM toks
)"""


@register(
    "watermark_greenlist_report",
    oracle=f"""
WITH {_wm_pairs_sql()},
docs0 AS (
  SELECT source, doc_id,
         CAST(count(*) AS BIGINT) AS n_d,
         CAST(sum(CASE WHEN {hash64_sql("g", _WM_SEED)} % {_WM_DENOM} = 0
                       THEN 1 ELSE 0 END) AS BIGINT) AS g_d,
         CAST(count(DISTINCT g) AS BIGINT) AS u_d,
         CAST(count(DISTINCT CASE WHEN {hash64_sql("g", _WM_SEED)} % {_WM_DENOM} = 0
                             THEN g END) AS BIGINT) AS ug_d
  FROM pairs GROUP BY source, doc_id
),
docs AS (
  SELECT * FROM docs0
  UNION ALL
  SELECT 'ALL' AS source, doc_id, n_d, g_d, u_d, ug_d FROM docs0
),
dz AS (
  SELECT source AS cohort, doc_id, n_d, g_d, u_d, ug_d,
         ({_WM_DENOM} * ug_d - u_d) / sqrt({_WM_DENOM - 1}.0 * u_d) AS z_d
  FROM docs
),
agg AS (
  SELECT cohort,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_d) AS BIGINT) AS n_pairs,
         CAST(sum(g_d) AS BIGINT) AS n_green,
         CAST(sum(u_d) AS BIGINT) AS n_uniq,
         CAST(sum(ug_d) AS BIGINT) AS n_uniq_green,
         max(struct_pack(z := z_d, d := -doc_id)) AS mx,
         CAST(sum(CASE WHEN z_d >= {_WM_DOC_Z} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_docs_flagged
  FROM dz GROUP BY cohort
)
SELECT cohort, n_docs, n_pairs, n_green,
       round(n_green * 1.0 / n_pairs, 4) AS green_rate,
       round(({_WM_DENOM} * n_green - n_pairs)
             / sqrt({_WM_DENOM - 1}.0 * n_pairs), 4) AS z_raw,
       round(({_WM_DENOM} * n_uniq_green - n_uniq)
             / sqrt({_WM_DENOM - 1}.0 * n_uniq), 4) AS z,
       round(mx.z, 4) AS max_doc_z,
       CAST(-mx.d AS BIGINT) AS max_doc_id,
       n_docs_flagged,
       ({_WM_DENOM} * n_uniq_green - n_uniq)
         / sqrt({_WM_DENOM - 1}.0 * n_uniq) >= {_WM_COHORT_Z} AS wm_flag
FROM agg
ORDER BY cohort
""",
)
def watermark_greenlist_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greenlist-watermark detection z-scores per source plus pooled
    ALL (Kirchenbauer et al. 2023): partition the vocabulary
    pseudorandomly by the PREVIOUS token (here: hash the bigram, a
    gamma = 1/{_WM_DENOM} greenlist) and test whether the observed
    green fraction exceeds gamma. Un-watermarked text sits at
    z ~ N(0, 1); text sampled from a watermarked LM concentrates green
    tokens and drives z up by sqrt(n). The report gives the corpus-
    curation read (which SOURCES are contaminated with watermarked
    model output — the training-data feedback-loop guard), the
    per-doc screening count at z >= {_WM_DOC_Z}, and the single most
    suspect document per cohort.

    The headline ``z`` counts each DISTINCT bigram once per document —
    the paper's §5 remedy for repeated n-grams, whose green/red draw
    is identical on every repetition and therefore inflates (or
    deflates) the raw statistic within a document. ``z_raw`` keeps the
    naive per-occurrence count as the diagnostic. Known caveat, shown
    honestly by this corpus: on LOW-ENTROPY text the z's are not
    calibrated, because distinct documents still share the same small
    bigram population and so re-count the same greenlist coin flips
    (evidence is not independent across docs). The synthetic template
    corpus's ~916-bigram population is 25.9% green (within 0.6 sigma
    of gamma), yet its heavy bigrams lean green, pooling every source's
    identical lean into ALL z ~ 6.4 — the same template-text signature
    zipf_fit_report shows as a flat slope. Per-source and per-doc z's
    are the operating read; natural large-vocabulary text restores the
    N(0,1) null (the planted tests demonstrate both regimes).

    Determinism: green membership is the exact-integer predicate
    hash64(bigram) % {_WM_DENOM} == 0 (the repo's md5-based 60-bit
    hash, bit-equal across engines); every aggregate is a BIGINT
    count; z = ({_WM_DENOM}g - n)/sqrt({_WM_DENOM - 1}n) is ONE float
    expression over those integers (identical IEEE evaluation both
    sides), rounded 4dp; the argmax doc breaks ties on min doc_id via
    the same max(struct) device as ks_drift_report.

    Scale shape: one array-native 2-shingle explode (no self-join),
    one map-side-combined groupBy(source, doc_id) whose output is
    doc-bounded, then a cohort-bounded rollup — the same single-
    shuffle shape as token_stats. The greenlist hash is pure Catalyst
    (md5/conv), so the whole plan stays in whole-stage codegen."""
    d = load_table(
        spark, sf_dir, "documents", spread=True, bytes_per_task=256 * 1024
    )
    # source-bounded; one pin feeds the per-source and pooled-ALL
    # readout branches
    state = pin(wm_cohort_rollup(wm_doc_stats(d.select("source", "doc_id", "text"))))
    return wm_readout(state)


def wm_doc_stats(docs: DataFrame) -> DataFrame:
    """Per-document watermark evidence over (source, doc_id, text)
    rows: raw and distinct pair/green counts plus the per-doc deduped
    z — the map side of the report, shared with the streaming monitor
    (a document is one row, so its within-doc dedup is computable in
    whichever micro-batch delivers it).

    TWO-STAGE aggregate, measured best of three shapes at sf1/sf10
    (doc counts below are noop-write, 32 threads): dedupe first on
    (source, doc_id, bigram) with map-side combine, then roll the
    per-distinct-pair rows up per doc — the greenlist md5 runs once
    per DISTINCT pair, and no stage shuffles more than the per-doc
    type table. The single-groupBy multi-countDistinct shape pays
    Spark's expand (3x the pair rows through one shuffle): 14.6/39.9 s
    at sf1/sf10. The fully array-native shape (array_distinct inside
    the projection, zero pair shuffle) loses to string-array
    materialization: 25.0/54.9 s. This shape: 11.8/21.6 s. Docs
    shorter than two tokens carry no evidence and drop out naturally.
    The oracle keeps an intentionally INDEPENDENT construction
    (unnest + GROUP BY + count(DISTINCT)), so parity checks the
    arithmetic, not a shared implementation."""
    pairs = docs.select(
        "source", "doc_id", tokens_ws("text").alias("t")
    ).select("source", "doc_id", F.explode(shingles("t", 2)).alias("g"))
    per_pair = pairs.groupBy("source", "doc_id", "g").agg(
        F.count("*").alias("c")
    )
    is_green = F.when(hash64("g", _WM_SEED) % _WM_DENOM == 0, 1).otherwise(0)
    per_pair = per_pair.select("source", "doc_id", "c", is_green.alias("green"))
    out = per_pair.groupBy("source", "doc_id").agg(
        F.sum("c").alias("n_d"),
        F.sum(F.col("c") * F.col("green")).alias("g_d"),
        F.count("*").alias("u_d"),
        F.sum("green").alias("ug_d"),
    )
    z_d = (_WM_DENOM * F.col("ug_d") - F.col("u_d")) / F.sqrt(
        (_WM_DENOM - 1) * 1.0 * F.col("u_d")
    )
    return out.withColumn("z_d", z_d)


def wm_cohort_rollup(dz: DataFrame) -> DataFrame:
    """Per-source additive state over wm_doc_stats rows: every field is
    a sum or a max (the argmax struct), so partial rollups from
    micro-batches merge into exactly the full-corpus rollup."""
    return dz.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_d").alias("n_pairs"),
        F.sum("g_d").alias("g"),
        F.sum("u_d").alias("u"),
        F.sum("ug_d").alias("ug"),
        F.max(F.struct(F.col("z_d").alias("z"), (-F.col("doc_id")).alias("d"))).alias(
            "mx"
        ),
        F.sum(F.when(F.col("z_d") >= _WM_DOC_Z, 1).otherwise(0)).alias(
            "n_docs_flagged"
        ),
    )


def wm_merge_rollups(parts: DataFrame) -> DataFrame:
    """Fold a union of wm_cohort_rollup outputs back into one rollup
    per source (sums add, the argmax struct maxes)."""
    return parts.groupBy("source").agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("n_pairs").cast("long").alias("n_pairs"),
        F.sum("g").cast("long").alias("g"),
        F.sum("u").cast("long").alias("u"),
        F.sum("ug").cast("long").alias("ug"),
        F.max("mx").alias("mx"),
        F.sum("n_docs_flagged").cast("long").alias("n_docs_flagged"),
    )


def wm_readout(state: DataFrame) -> DataFrame:
    """Cohort report rows (per source plus pooled ALL) from the
    per-source rollup — the reduce side of the report, shared verbatim
    with the streaming monitor's readout.

    The union re-aggregates through wm_merge_rollups so a source
    literally named 'ALL' merges with the pooled row exactly as the
    oracle's GROUP BY does (without it the Spark side would emit two
    'ALL' rows where the oracle emits one — a latent parity
    divergence, planted-tested)."""
    all_row = state.groupBy(F.lit("ALL").alias("source")).agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("n_pairs").cast("long").alias("n_pairs"),
        F.sum("g").cast("long").alias("g"),
        F.sum("u").cast("long").alias("u"),
        F.sum("ug").cast("long").alias("ug"),
        F.max("mx").alias("mx"),
        F.sum("n_docs_flagged").cast("long").alias("n_docs_flagged"),
    )
    agg = wm_merge_rollups(state.unionByName(all_row)).withColumnRenamed(
        "source", "cohort"
    )
    z_raw = (_WM_DENOM * F.col("g") - F.col("n_pairs")) / F.sqrt(
        (_WM_DENOM - 1) * 1.0 * F.col("n_pairs")
    )
    z = (_WM_DENOM * F.col("ug") - F.col("u")) / F.sqrt(
        (_WM_DENOM - 1) * 1.0 * F.col("u")
    )
    return agg.select(
        "cohort",
        "n_docs",
        "n_pairs",
        F.col("g").alias("n_green"),
        F.round(F.col("g") * 1.0 / F.col("n_pairs"), 4).alias("green_rate"),
        F.round(z_raw, 4).alias("z_raw"),
        F.round(z, 4).alias("z"),
        F.round(F.col("mx.z"), 4).alias("max_doc_z"),
        (-F.col("mx.d")).cast("long").alias("max_doc_id"),
        "n_docs_flagged",
        (z >= _WM_COHORT_Z).alias("wm_flag"),
    ).orderBy("cohort")


# ---------------------------------------------------------------------------
# Gopher repetition filters — the character-fraction half (Rae et al. 2021)
# ---------------------------------------------------------------------------

# (n, integer percent threshold) from Rae et al. 2021 Table A1: a doc is
# flagged when the top-n-gram's character mass exceeds pct% of the text
# (n = 2..4), or when characters inside DUPLICATED n-grams exceed pct%
# (n = 5..10). Integer-percent form so the gates are exact in both
# engines: 100 * mass > pct * total_chars, all BIGINT.
_REP_TOP = [(2, 20), (3, 18), (4, 16)]
_REP_DUP = [(5, 15), (6, 14), (7, 13), (8, 12), (9, 11), (10, 10)]
# 1e-6 quantization grid for the per-doc fractions (see _rep_oracle_sql)
_REP_GRID = 1_000_000


def _rep_fold(sorted_grams: Column) -> Column:
    """One O(L) fold over a SORTED gram array returning struct(dup,
    best): ``best`` = max over distinct grams of count * length (the
    top-gram character mass), ``dup`` = sum of count * length over
    grams with count >= 2 (duplicated-gram character mass). Equal
    grams are adjacent after array_sort, so runs are contiguous and
    one (prev, run, dup, best) accumulator closes each run as the next
    distinct gram arrives; ``finish`` closes the last run. Pure
    Catalyst higher-order functions — no explode, no shuffle, no
    Python."""
    zero = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("dup"),
        F.lit(0).cast("long").alias("best"),
    )

    def _close(acc):
        # character mass of the run being closed (0 for the sentinel)
        return acc["run"] * F.length(acc["prev"]).cast("long")

    def merge(acc, x):
        same = acc["prev"] == x
        contrib = _close(acc)
        dup = F.when(same, acc["dup"]).otherwise(
            acc["dup"] + F.when(acc["run"] >= 2, contrib).otherwise(F.lit(0).cast("long"))
        )
        best = F.when(same, acc["best"]).otherwise(F.greatest(acc["best"], contrib))
        run = F.when(same, acc["run"] + F.lit(1).cast("long")).otherwise(
            F.lit(1).cast("long")
        )
        return F.struct(
            x.alias("prev"),
            run.cast("long").alias("run"),
            dup.cast("long").alias("dup"),
            best.cast("long").alias("best"),
        )

    def finish(acc):
        contrib = _close(acc)
        dup = acc["dup"] + F.when(acc["run"] >= 2, contrib).otherwise(
            F.lit(0).cast("long")
        )
        best = F.greatest(acc["best"], contrib)
        return F.struct(dup.cast("long").alias("dup"), best.cast("long").alias("best"))

    return F.aggregate(sorted_grams, zero, merge, finish)


def _rep_oracle_sql() -> str:
    g_ctes, s_ctes, coal, joins = [], [], [], []
    for n, _ in _REP_TOP + _REP_DUP:
        g_ctes.append(
            f"g{n} AS (SELECT doc_id, g, count(*) AS c FROM "
            f"(SELECT doc_id, unnest({shingles_sql('ts', n)}) AS g FROM t) "
            f"GROUP BY doc_id, g)"
        )
        coal.append(f"coalesce(s{n}.v, 0) AS v{n}")
        joins.append(f"LEFT JOIN s{n} ON t.doc_id = s{n}.doc_id")
    for n, _ in _REP_TOP:
        s_ctes.append(
            f"s{n} AS (SELECT doc_id, CAST(max(c * length(g)) AS BIGINT) AS v "
            f"FROM g{n} GROUP BY doc_id)"
        )
    for n, _ in _REP_DUP:
        s_ctes.append(
            f"s{n} AS (SELECT doc_id, CAST(sum(CASE WHEN c >= 2 THEN c * length(g) "
            f"ELSE 0 END) AS BIGINT) AS v FROM g{n} GROUP BY doc_id)"
        )
    bad = {
        n: f"100 * v{n} > {pct} * total" for n, pct in _REP_TOP + _REP_DUP
    }
    flag_cols = [
        f"CAST(sum(CASE WHEN {bad[n]} THEN 1 ELSE 0 END) AS BIGINT) AS "
        f"n_bad_top{n}"
        for n, _ in _REP_TOP
    ] + [
        f"CAST(sum(CASE WHEN {bad[n]} THEN 1 ELSE 0 END) AS BIGINT) AS "
        f"n_bad_dup{n}"
        for n, _ in _REP_DUP
    ]
    keep = " AND ".join(f"NOT ({bad[n]})" for n, _ in _REP_TOP + _REP_DUP)
    # per-doc fraction quantized to the 1e-6 integer grid (the
    # sampling.py micro-unit precedent): sums over the grid are EXACT
    # decimals in both engines, so the streaming monitor's incremental
    # state equals the one-shot batch aggregate bit for bit, and the
    # cross-engine average never depends on double summation order.
    q = lambda n: (
        f"CASE WHEN total > 0 THEN CAST(round(v{n} * {_REP_GRID}.0 / total) "
        f"AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END"
    )
    avg = lambda n: f"round(CAST(sum({q(n)}) AS DOUBLE) / {_REP_GRID} / count(*), 4)"
    g_block = ",\n".join(g_ctes)
    s_block = ",\n".join(s_ctes)
    flag_block = ",\n       ".join(flag_cols)
    return f"""
WITH t AS (
  SELECT doc_id, source, CAST(length(text) AS BIGINT) AS total,
         string_split(text, ' ') AS ts
  FROM documents WHERE text IS NOT NULL
),
{g_block},
{s_block},
per_doc AS (
  SELECT t.source, t.total, {", ".join(coal)}
  FROM t
  {" ".join(joins)}
)
SELECT source,
       count(*) AS n_docs,
       {flag_block},
       CAST(sum(CASE WHEN {keep} THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       {avg(2)} AS avg_top2_frac,
       {avg(5)} AS avg_dup5_frac,
       {avg(10)} AS avg_dup10_frac
FROM per_doc
GROUP BY source
ORDER BY source
"""


@register("gopher_repetition_report", oracle=_rep_oracle_sql())
def gopher_repetition_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition filters, character-fraction half (Rae et al.
    2021, Table A1): per document, the character mass of the single
    most frequent {2,3,4}-gram and the character mass inside DUPLICATED
    {5..10}-grams, each as a fraction of the text's characters,
    thresholded at the paper's limits (20/18/16% top, 15..10% dup) and
    summarized per source. Complements gopher_quality_flags (mean word
    length / top unigram / dup-2gram token fractions) — together they
    are the full Gopher repetition suite minus the line/paragraph rules
    (this corpus has no newlines, so those would be dead columns).

    Duplicated-gram mass counts every occurrence (count * gram length),
    the occurrence-sum form standard in public reimplementations —
    overlapping occurrences are not de-overlapped, so the fraction can
    exceed 1 on pathological repetition; the thresholds only test
    exceedance, and the gates are exact integers
    (100 * mass > pct * total_chars) so both engines cut identically.

    Scale shape: ZERO data shuffle for the per-document work — each of
    the nine gram sizes is an array_sort + one O(L) higher-order fold
    inside the row (_rep_fold; no explode, no Python, whole-stage
    codegen), so a 100 TB corpus streams through map tasks and only the
    narrow (source, 13 numbers) aggregate crosses the wire. Contrast
    gopher_quality_flags' top-unigram mode, which needs the token
    explode + two keyed aggregations."""
    # spread=True: the per-doc fold work is CPU-heavy while the table is
    # byte-small (50k docs ~ 22 MB = ONE parquet split), so without the
    # round-robin exchange the nine folds run at scan parallelism —
    # measured at sf1: 43.6 s -> 14.1 s cold / 8.2 s warm; at sf10:
    # 92.6 s -> 53.8 s. The isNotNull guard is a plain
    # column predicate, safe to push into the scan (contrast the
    # hashed_shingle_transform lesson, SCALE.md "Predicate pushdown can
    # silently defeat the spread").
    d = load_table(spark, sf_dir, "documents", spread=True).where(
        F.col("text").isNotNull()
    )
    return rep_readout(rep_cohort_rollup(rep_doc_stats(d)))


# Shared map/reduce halves — the streaming monitor
# (streaming/repetition.py) reuses these so its readout IS the batch
# report over arrived rows (the watermark-monitor template).


def rep_doc_stats(d: DataFrame) -> DataFrame:
    """(source, total, v2..v10) per document over (source, text, ...)
    rows — the map half: nine array_sort + O(L) folds inside the row,
    zero shuffle. NULL-text rows are dropped (no content to measure)."""
    t = d.where(F.col("text").isNotNull()).select(
        "source",
        F.length("text").cast("long").alias("total"),
        tokens_ws("text").alias("ts"),
    )
    sel = [F.col("source"), F.col("total")]
    for n, _ in _REP_TOP:
        sel.append(_rep_fold(F.array_sort(shingles("ts", n)))["best"].alias(f"v{n}"))
    for n, _ in _REP_DUP:
        sel.append(_rep_fold(F.array_sort(shingles("ts", n)))["dup"].alias(f"v{n}"))
    return t.select(*sel)


def rep_cohort_rollup(per_doc: DataFrame) -> DataFrame:
    """Per-source mergeable state over doc stats: every field is an
    exact sum (BIGINT counts; fraction sums on the 1e-6 integer grid as
    decimal(38,0)), so batch boundaries and arrival order cannot change
    the readout and incremental merges equal the one-shot aggregate bit
    for bit."""
    bad = {
        n: (F.lit(100) * F.col(f"v{n}") > F.lit(pct) * F.col("total"))
        for n, pct in _REP_TOP + _REP_DUP
    }
    keep = None
    for n, _ in _REP_TOP + _REP_DUP:
        keep = ~bad[n] if keep is None else keep & ~bad[n]
    grid = lambda n: F.when(
        F.col("total") > 0,
        F.round(F.col(f"v{n}") * float(_REP_GRID) / F.col("total"), 0),
    ).otherwise(F.lit(0.0)).cast("decimal(38,0)")
    one_if = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")
    aggs = [F.count("*").cast("long").alias("n_docs")]
    for n, _ in _REP_TOP:
        aggs.append(one_if(bad[n]).alias(f"n_bad_top{n}"))
    for n, _ in _REP_DUP:
        aggs.append(one_if(bad[n]).alias(f"n_bad_dup{n}"))
    aggs.append(one_if(keep).alias("n_keep"))
    aggs += [
        F.sum(grid(2)).cast("decimal(38,0)").alias("q2"),
        F.sum(grid(5)).cast("decimal(38,0)").alias("q5"),
        F.sum(grid(10)).cast("decimal(38,0)").alias("q10"),
    ]
    return per_doc.groupBy("source").agg(*aggs)


_REP_STATE_SUMS = [
    "n_docs",
    *[f"n_bad_top{n}" for n, _ in _REP_TOP],
    *[f"n_bad_dup{n}" for n, _ in _REP_DUP],
    "n_keep",
]


def rep_merge_rollups(states: DataFrame) -> DataFrame:
    """Fold any union of rollup states back into one state per source."""
    aggs = [F.sum(c).cast("long").alias(c) for c in _REP_STATE_SUMS]
    aggs += [F.sum(c).cast("decimal(38,0)").alias(c) for c in ("q2", "q5", "q10")]
    return states.groupBy("source").agg(*aggs)


def rep_readout(state: DataFrame) -> DataFrame:
    """The report rows from a rollup state: counts pass through, the
    grid sums become averages (exact integers until the final two
    deterministic double ops)."""
    avg = lambda c: F.round(
        F.col(c).cast("double") / _REP_GRID / F.col("n_docs"), 4
    )
    return state.select(
        "source",
        *_REP_STATE_SUMS,
        avg("q2").alias("avg_top2_frac"),
        avg("q5").alias("avg_dup5_frac"),
        avg("q10").alias("avg_dup10_frac"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# RHO-style excess-loss token selection (reference-model contrast)
# ---------------------------------------------------------------------------

# Selection threshold in nats: keep bigram occurrences the corpus model
# finds at least exp(0.25) ~ 1.28x more surprising than the reference
# model (measured spread on the synthetic corpus: quartiles ~ +-0.25,
# so the gate is non-degenerate). Plain literal in both engines.
_RHO_TAU = 0.25
_RHO_GRID = 1_000_000  # 1e-6 micro-grid for the mean-excess sum
# Deterministic reference ("holdout") slice: docs with doc_id % 5 == 0.
_RHO_REF_MOD = 5


@register(
    "rho_excess_loss_report",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, source, string_split(text, ' ') AS ts
  FROM documents WHERE text IS NOT NULL
),
bg AS (
  SELECT doc_id, source, ts[i] AS w1, ts[i + 1] AS w2
  FROM toks, unnest(generate_series(1, len(ts) - 1)) AS u(i)
),
c2C AS (SELECT w1, w2, count(*) AS n2c FROM bg GROUP BY w1, w2),
c1C AS (SELECT w1, sum(n2c) AS n1c FROM c2C GROUP BY w1),
c2R AS (
  SELECT w1, w2, count(*) AS n2r FROM bg
  WHERE doc_id % {_RHO_REF_MOD} = 0 GROUP BY w1, w2
),
c1R AS (SELECT w1, sum(n2r) AS n1r FROM c2R GROUP BY w1),
ex AS (
  SELECT c2C.w1, c2C.w2,
         (-ln(c2C.n2c * 1.0 / c1C.n1c)) - (-ln(c2R.n2r * 1.0 / c1R.n1r))
           AS excess
  FROM c2C
  JOIN c1C ON c2C.w1 = c1C.w1
  JOIN c2R ON c2C.w1 = c2R.w1 AND c2C.w2 = c2R.w2
  JOIN c1R ON c2C.w1 = c1R.w1
),
scored AS (
  SELECT bg.source, ex.excess FROM bg
  LEFT JOIN ex ON bg.w1 = ex.w1 AND bg.w2 = ex.w2
)
SELECT source,
       count(*) AS n_pairs,
       CAST(count(excess) AS BIGINT) AS n_scored,
       CAST(count(*) - count(excess) AS BIGINT) AS n_oov,
       CAST(sum(CASE WHEN excess > {_RHO_TAU} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CASE WHEN count(excess) > 0
            THEN round(sum(CASE WHEN excess > {_RHO_TAU} THEN 1 ELSE 0 END)
                       * 1.0 / count(excess), 4) END AS kept_share,
       CASE WHEN count(excess) > 0
            THEN round(CAST(sum(CAST(round(excess * {_RHO_GRID})
                                     AS DECIMAL(38,0))) AS DOUBLE)
                       / {_RHO_GRID} / count(excess), 4) END AS mean_excess
FROM scored
GROUP BY source
ORDER BY source
""",
)
def rho_excess_loss_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RHO-style excess-loss token selection (Mindermann et al., ICML
    2022; RHO-1, Lin et al. 2024): score every bigram occurrence by how
    much MORE surprising the corpus model finds it than a reference
    model trained on a deterministic holdout slice (doc_id % 5 == 0) —
    occurrences with high excess loss are 'learnable but not yet
    learnt' (valuable under the target distribution, underfit by the
    corpus), the mass RHO-1's selective LM training keeps. Per source:
    occurrence counts, reference-OOV mass (bigram types the holdout
    never saw — unscorable, reported not hidden), kept share above the
    tau = 0.25-nat gate, and the mean excess on the 1e-6 integer grid.

    Both models are self-normalized bigram MLEs (p(w2|w1) = c2/c1, no
    smoothing constant in the contract); the unigram denominators are
    derived FROM the bigram type tables (sum over w2), so the corpus is
    scanned twice (full + slice), not four times. The excess expression
    is written in lockstep operation order in both engines.

    Scale shape: the perplexity family's type-table discipline — all
    counting shuffles key on token types with map-side combine, the
    excess TYPE table is hash-joined onto the occurrence stream
    (shuffle_hash hints, r10 — was merge: the static planner must not
    broadcast off a post-agg estimate, the measured sf10 OOM class,
    and the per-partition hash build skips the stream sort), and
    nothing is ever per-pair."""
    d = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    toks = d.select("doc_id", "source", tokens_ws("text").alias("ts"))
    bg = toks.select(
        "doc_id",
        "source",
        F.posexplode(
            F.slice("ts", 1, F.greatest(F.size("ts") - 1, F.lit(0)))
        ).alias("i", "w1"),
        "ts",
    ).select("doc_id", "source", "w1", F.expr("ts[i + 1]").alias("w2"))
    c2c = bg.groupBy("w1", "w2").agg(F.count("*").alias("n2c"))
    c1c = c2c.groupBy("w1").agg(F.sum("n2c").alias("n1c"))
    c2r = (
        bg.filter(F.col("doc_id") % _RHO_REF_MOD == 0)
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("n2r"))
    )
    c1r = c2r.groupBy("w1").agg(F.sum("n2r").alias("n1r"))
    nll_c = -F.log(F.col("n2c") * 1.0 / F.col("n1c"))
    nll_r = -F.log(F.col("n2r") * 1.0 / F.col("n1r"))
    ex = (
        c2c.join(c1c.hint("shuffle_hash"), "w1")
        .join(c2r.hint("shuffle_hash"), ["w1", "w2"])
        .join(c1r.hint("shuffle_hash"), "w1")
        .select("w1", "w2", (nll_c - nll_r).alias("excess"))
    )
    scored = bg.join(ex.hint("shuffle_hash"), ["w1", "w2"], "left").select(
        "source", "excess"
    )
    kept = F.sum(F.when(F.col("excess") > _RHO_TAU, 1).otherwise(0)).cast("long")
    n_scored = F.count("excess")
    grid = F.round(F.col("excess") * _RHO_GRID, 0).cast("decimal(38,0)")
    return (
        scored.groupBy("source")
        .agg(
            F.count("*").alias("n_pairs"),
            n_scored.cast("long").alias("n_scored"),
            (F.count("*") - n_scored).cast("long").alias("n_oov"),
            kept.alias("n_kept"),
            F.when(
                n_scored > 0,
                F.round(kept * 1.0 / n_scored, 4),
            ).alias("kept_share"),
            F.when(
                n_scored > 0,
                F.round(
                    F.sum(grid).cast("double") / _RHO_GRID / n_scored, 4
                ),
            ).alias("mean_excess"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004) — damped
# PageRank over the token co-occurrence graph (window 2 = adjacent
# tokens, undirected, weight = co-occurrence count). The graph-over-
# text member of the ranking family: PMI scores pairs, TF-IDF scores
# (doc, term), TextRank scores terms by global graph centrality.
# ---------------------------------------------------------------------------

_TR_SCALE = 1_000_000_000
_TR_ROUNDS = 5
_TR_TOP = 30
_TR_BASE = int(0.15 * _TR_SCALE)


def _textrank_oracle() -> str:
    parts = [
        f"""trt AS (
  SELECT string_split(text, ' ') AS ts FROM documents WHERE text IS NOT NULL
),
trbg AS (
  SELECT ts[i] AS a, ts[i + 1] AS b
  FROM trt, unnest(generate_series(1, len(ts) - 1)) AS u(i)
  WHERE ts[i] <> ts[i + 1]
),
tredges AS (
  SELECT src, dst, count(*) AS w FROM (
    SELECT a AS src, b AS dst FROM trbg
    UNION ALL
    SELECT b AS src, a AS dst FROM trbg
  ) GROUP BY src, dst
),
troutw AS (SELECT src, CAST(sum(w) AS BIGINT) AS wout FROM tredges GROUP BY src),
trnodes AS (SELECT DISTINCT src AS node FROM tredges),
trr0 AS (SELECT node, CAST({_TR_SCALE} AS BIGINT) AS r FROM trnodes)"""
    ]
    for t in range(_TR_ROUNDS):
        parts.append(
            f"""trr{t + 1} AS (
  SELECT node, CAST(sum(f) AS BIGINT) AS r FROM (
    SELECT e.dst AS node,
           CAST((CAST(p.r AS HUGEINT) * 85 * e.w)
                // (100 * CAST(o.wout AS HUGEINT)) AS BIGINT) AS f
    FROM trr{t} p
    JOIN tredges e ON e.src = p.node
    JOIN troutw o ON o.src = e.src
    UNION ALL
    SELECT node, {_TR_BASE} AS f FROM trnodes
  ) GROUP BY node
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT node AS token, r AS rank_scaled, pos FROM (
  SELECT node, r,
         row_number() OVER (ORDER BY r DESC, node) AS pos
  FROM trr{_TR_ROUNDS}
) WHERE pos <= {_TR_TOP}
ORDER BY pos"""
    )


@register("textrank_keywords", oracle=_textrank_oracle())
def textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_TR_TOP} corpus keywords by TextRank: damped PageRank
    (d = 0.85, {_TR_ROUNDS} fixed rounds) over the undirected
    adjacent-token co-occurrence graph. The scaled-integer
    determinization is pagerank_copurchase's — rank mass on a 1e-9
    grid, per-edge flow (r * 85 * w) div (100 * wout) with truncating
    division — except the flow numerator is computed in
    HUGEINT/DECIMAL(38,0): token hubs concentrate mass and edge
    weights grow with the corpus, so the BIGINT headroom argument that
    held for co-purchase weights does not transfer (overflow by
    design-margin, not by luck).

    Scale shape: the bigram pass is one map-only projection; the edge
    table is a TYPE table (distinct adjacent-token pairs — vocabulary-
    bounded growth, the perplexity-family discipline) and every round
    is one equi-join of the |V|-row rank state onto it plus one
    map-side-combined groupBy(dst); all {_TR_ROUNDS} rounds reuse the
    same edge shuffle via ReusedExchange (the pagerank lesson — no
    memory pinning). The final ranking window runs over the
    vocabulary-bounded node table. Self-loops (a token repeated
    adjacently) are dropped, the TextRank convention; dangling nodes
    cannot exist in an undirected graph."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.where(F.col("text").isNotNull()).select(
        tokens_ws("text").alias("ts")
    )
    bg = (
        toks.select(
            F.posexplode(
                F.slice("ts", 1, F.greatest(F.size("ts") - 1, F.lit(0)))
            ).alias("i", "a"),
            "ts",
        )
        .select("a", F.expr("ts[i + 1]").alias("b"))
        .filter(F.col("a") != F.col("b"))
    )
    und = bg.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionAll(
        bg.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    edges = und.groupBy("src", "dst").agg(F.count("*").alias("w"))
    outw = edges.groupBy("src").agg(F.sum("w").alias("wout"))
    # The (edges ⋈ outw) join is loop-invariant: pin it ONCE instead
    # of re-probing it inside every round
    # (ReusedExchange shares the exchange INPUTS across rounds, but the
    # join itself re-executed per round — r10 measurement at sf0.1:
    # 2.45 -> 2.03 s warm, results bit-identical). Safe to pin at any
    # corpus size: the edge table is a TYPE table (distinct adjacent
    # token pairs, vocabulary-bounded — the reason this is NOT applied
    # to the corpus-scaled co-purchase graphs, whose sf100 edge sets
    # are ~1.8B rows).
    ew = pin(edges.join(outw, "src"))
    nodes = pin(ew.select(F.col("src").alias("node")).distinct())
    ranks = nodes.select("node", F.lit(_TR_SCALE).cast("long").alias("r"))
    flow_expr = (
        "CAST((CAST(r AS DECIMAL(38,0)) * 85 * w) "
        "DIV (100 * CAST(wout AS DECIMAL(38,0))) AS LONG)"
    )
    for _ in range(_TR_ROUNDS):
        flow = (
            ew.join(ranks, ew.src == ranks.node)
            .select(F.col("dst").alias("node"), F.expr(flow_expr).alias("f"))
            .unionByName(
                nodes.select("node", F.lit(_TR_BASE).cast("long").alias("f"))
            )
            .groupBy("node")
            .agg(F.sum("f").cast("long").alias("r"))
        )
        ranks = flow
    w30 = Window.orderBy(F.desc("r"), "node")
    return (
        ranks.select(
            F.col("node").alias("token"),
            F.col("r").alias("rank_scaled"),
            F.row_number().over(w30).alias("pos"),
        )
        .filter(F.col("pos") <= _TR_TOP)
        .orderBy("pos")
    )


# ---------------------------------------------------------------------------
# Retrieval evaluation (nDCG@k / MRR / recall@k — Järvelin & Kekäläinen,
# TOIS 2002 for DCG; the standard TREC trio): score the SAME ranking
# bm25_query_table reports against conjunctive-containment
# pseudo-relevance (a document is relevant to a query iff it contains
# ALL the query's terms — boolean-AND ground truth, independent of the
# BM25 scoring being judged). Every metric is exact integer fixed
# point: the DCG rank weights round(1e6/log2(rank+1)) and their
# cumulative ideal sums are PRECOMPUTED integer literals (k = 10
# admits only ten values — no engine evaluates a logarithm, the
# HyperBall discipline), so the whole report hash-verifies.
# ---------------------------------------------------------------------------

# round(1e6 / log2(i + 1)) for rank i = 1..k, and cumulative ideal sums
_EVAL_W = [1000000, 630930, 500000, 430677, 386853, 356207, 333333, 315465, 301030, 289065]
_EVAL_IDCG = [1000000, 1630930, 2130930, 2561607, 2948460, 3304667, 3638000, 3953465, 4254495, 4543560]


def _eval_w_case(col: str) -> str:
    whens = " ".join(
        f"WHEN {col} = {i + 1} THEN {w}" for i, w in enumerate(_EVAL_W)
    )
    return f"CASE {whens} ELSE 0 END"


def _eval_idcg_case(col: str) -> str:
    whens = " ".join(
        f"WHEN {col} >= {i + 1} THEN {c}"
        for i, c in reversed(list(enumerate(_EVAL_IDCG)))
    )
    return f"CASE {whens} ELSE 0 END"


def _retrieval_eval_oracle() -> str:
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n,
         (SELECT sum(dl) * 1.0 / count(*) FROM dl) AS avgdl
),
qt AS (
  SELECT query_id, term FROM (
    SELECT doc_id AS query_id, term,
           row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, term) AS r
    FROM tf WHERE doc_id % {_BMQ_STRIDE} = 0
  ) WHERE r <= {_BMQ_QTERMS}
),
contrib AS (
  SELECT q.query_id, tf.doc_id,
         ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
           * tf.tf * ({_BM25_K1} + 1)
           / (tf.tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl.dl / s.avgdl))
           AS c
  FROM tf
  JOIN qt q ON q.term = tf.term AND tf.doc_id <> q.query_id
  JOIN df d ON d.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
),
scored AS (
  SELECT query_id, doc_id, round(sum(c), 4) AS bm25
  FROM contrib GROUP BY query_id, doc_id
),
ranked AS (
  SELECT query_id, doc_id, rank FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY bm25 DESC, doc_id) AS rank
    FROM scored
  ) WHERE rank <= {_BMQ_TOPK}
),
nq AS (SELECT query_id, count(*) AS nq FROM qt GROUP BY query_id),
rel AS (
  SELECT q.query_id, t.doc_id
  FROM tf t JOIN qt q ON q.term = t.term AND t.doc_id <> q.query_id
  GROUP BY q.query_id, t.doc_id
  HAVING count(*) = max((SELECT nq FROM nq WHERE nq.query_id = q.query_id))
),
nrel AS (SELECT query_id, count(*) AS n_relevant FROM rel GROUP BY query_id),
hit AS (
  SELECT r.query_id, r.rank
  FROM ranked r JOIN rel ON rel.query_id = r.query_id AND rel.doc_id = r.doc_id
),
hagg AS (
  SELECT query_id,
         count(*) AS hits_at_k,
         min(rank) AS min_rank,
         CAST(sum({_eval_w_case("rank")}) AS BIGINT) AS dcg_micro
  FROM hit GROUP BY query_id
),
per AS (
  SELECT n.query_id,
         n.n_relevant,
         coalesce(h.hits_at_k, 0) AS hits_at_k,
         CAST(coalesce(h.hits_at_k, 0) * 1000000 // n.n_relevant AS BIGINT) AS recall_ppm,
         CAST(CASE WHEN h.min_rank IS NULL THEN 0
              ELSE 1000000 // h.min_rank END AS BIGINT) AS mrr_ppm,
         CAST(coalesce(h.dcg_micro, 0) * 1000000
              // {_eval_idcg_case("least(n.n_relevant, 10)")} AS BIGINT) AS ndcg_ppm
  FROM nrel n LEFT JOIN hagg h ON h.query_id = n.query_id
)
SELECT query_id, n_relevant, hits_at_k, recall_ppm, mrr_ppm, ndcg_ppm FROM per
UNION ALL
SELECT CAST(-1 AS BIGINT),
       CAST(sum(n_relevant) AS BIGINT),
       CAST(sum(hits_at_k) AS BIGINT),
       CAST(sum(hits_at_k) * 1000000 // sum(n_relevant) AS BIGINT),
       CAST(sum(mrr_ppm) // count(*) AS BIGINT),
       CAST(sum(ndcg_ppm) // count(*) AS BIGINT)
FROM per
ORDER BY query_id
"""


@register("retrieval_eval_report", oracle=_retrieval_eval_oracle())
def retrieval_eval_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TREC-style evaluation of the bm25_query_table ranking:
    per-query n_relevant, hits@{_BMQ_TOPK}, recall, MRR and
    nDCG@{_BMQ_TOPK} in exact parts-per-million, plus a pooled row
    (query_id = -1: recall micro-averaged as the exact ratio of summed
    hits to summed relevant; MRR/nDCG macro-averaged by integer
    division over queries). Relevance is conjunctive containment — a
    document is relevant iff it contains ALL the query's terms — so
    the ground truth is independent of the BM25 scorer under test.
    Queries with zero relevant documents are excluded (the standard
    IR-eval convention).

    Scale shape: shares _bmq_pipeline with bm25_query_table (the
    posting-list equi-join story documented there). The relevance set
    adds ONE more term-keyed join of the distinct posting table
    against the query terms with a count-equality HAVING — the same
    inverted-index sharding — and the metric arithmetic runs on
    query-keyed aggregates (one row per query). The DCG weights and
    ideal cumulative sums are ten integer literals each, so nothing
    floating ever enters the report and the driver hash-checks it
    end to end."""
    qt, ranked = _bmq_pipeline(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    dtok = d.select("doc_id", F.explode(tokens_ws("text")).alias("term")).distinct()
    nq = qt.groupBy("query_id").agg(F.count("*").alias("nq"))
    rel = (
        dtok.join(qt, "term")
        .filter(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.count("*").alias("nmatch"))
        .join(nq, "query_id")
        .filter(F.col("nmatch") == F.col("nq"))
        .select("query_id", "doc_id")
    )
    nrel = rel.groupBy("query_id").agg(F.count("*").alias("n_relevant"))
    hit = ranked.join(rel, ["query_id", "doc_id"]).select("query_id", "rank")
    hagg = hit.groupBy("query_id").agg(
        F.count("*").alias("hits_at_k"),
        F.min("rank").alias("min_rank"),
        F.expr(f"CAST(sum({_eval_w_case('rank')}) AS BIGINT)").alias("dcg_micro"),
    )
    per = nrel.join(hagg, "query_id", "left").select(
        "query_id",
        "n_relevant",
        F.coalesce("hits_at_k", F.lit(0)).alias("hits_at_k"),
        F.expr(
            "CAST(coalesce(hits_at_k, 0) * 1000000 DIV n_relevant AS BIGINT)"
        ).alias("recall_ppm"),
        F.expr(
            "CAST(CASE WHEN min_rank IS NULL THEN 0"
            " ELSE 1000000 DIV min_rank END AS BIGINT)"
        ).alias("mrr_ppm"),
        F.expr(
            f"CAST(coalesce(dcg_micro, 0) * 1000000"
            f" DIV {_eval_idcg_case('least(n_relevant, 10)')} AS BIGINT)"
        ).alias("ndcg_ppm"),
    )
    # pinned (r10, guide §2.4/§5): per feeds both the output rows and the
    # pooled row — unpinned, the union re-derives the whole BM25 pipeline
    # for the pooled branch (sf1 24.3 s → 13-14 s pinned). per is one row
    # per query, so the pin is query-count-bounded at any corpus size.
    # Measured negative: ALSO pinning rel makes it slower at every SF
    # (sf1 21.2 s, sf0.1 +1.1 s) — rel's consumers already share the
    # upstream exchanges via ReusedExchange, and the eager materialization
    # of the corpus-scale explode+distinct serializes the job for nothing.
    per = pin(per)
    pooled = per.agg(
        F.lit(-1).cast("long").alias("query_id"),
        F.sum("n_relevant").cast("long").alias("n_relevant"),
        F.sum("hits_at_k").cast("long").alias("hits_at_k"),
        F.expr(
            "CAST(sum(hits_at_k) * 1000000 DIV sum(n_relevant) AS BIGINT)"
        ).alias("recall_ppm"),
        F.expr("CAST(sum(mrr_ppm) DIV count(*) AS BIGINT)").alias("mrr_ppm"),
        F.expr("CAST(sum(ndcg_ppm) DIV count(*) AS BIGINT)").alias("ndcg_ppm"),
    )
    return per.unionByName(pooled).orderBy("query_id")
