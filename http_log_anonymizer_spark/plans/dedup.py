"""Deduplication operators over ``documents`` (engine-grade extensions:
exact hash dedup, MinHash+LSH, SimHash, n-gram Jaccard).

Design for 100 TB:

- Exact dedup is a hash-groupBy — one shuffle on the fingerprint.
- MinHash+LSH is the scale path for near-dup: signatures are computed
  array-natively per document (no per-shingle shuffle), candidates come
  from equi-joins on band keys (shuffle proportional to candidate
  count, never all-pairs), and only candidates pay the exact-Jaccard
  verification.
- The brute-force n-gram Jaccard query is the small-scale oracle of
  record for the LSH pipeline; its all-pairs-sharing-a-shingle join is
  quadratic in shingle frequency and exists to validate, not to scale.
- SimHash packs a document into one 64-bit word; candidate pairing via
  hamming distance. (All-pairs here for verifiability; at scale one
  would band the simhash bits exactly like LSH.)

Determinism: every hash is the md5-based ``hash64`` (functions/text.py)
so DuckDB reproduces signatures bit-for-bit.
"""

from __future__ import annotations

import hashlib
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from http_log_anonymizer_spark.functions.text import (
    hash64,
    hash64_sql,
    shingles,
    shingles_sql,
    tokens_ws,
)
from http_log_anonymizer_spark.operators.materialize import pin, pin_counted
from http_log_anonymizer_spark.plans.registry import ScaleGate, register
from http_log_anonymizer_spark.sources.batch import load_table

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle="""
WITH fp AS (
  SELECT md5(lower(trim(text))) AS f FROM documents
),
g AS (SELECT f, count(*) AS c FROM fp GROUP BY f)
SELECT
  CAST(sum(c) AS BIGINT) AS n_docs,
  count(*) AS n_distinct,
  CAST(sum(c - 1) AS BIGINT) AS n_duplicate_docs,
  CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups
FROM g
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via normalized-text hash groupBy: one shuffle on the
    128-bit fingerprint, partial map-side counts. The canonical first
    pass of any training-data pipeline."""
    d = load_table(spark, sf_dir, "documents")
    g = (
        d.select(F.md5(F.lower(F.trim(F.col("text")))).alias("f"))
        .groupBy("f")
        .agg(F.count("*").alias("c"))
    )
    return g.agg(
        F.sum("c").alias("n_docs"),
        F.count("*").alias("n_distinct"),
        F.sum(F.col("c") - 1).alias("n_duplicate_docs"),
        F.sum(F.when(F.col("c") > 1, 1).otherwise(0)).alias("n_dup_groups"),
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup (the scale path)
# ---------------------------------------------------------------------------

_N_HASHES = 8
_BAND_R = 2  # rows per band -> 4 bands
_JACCARD_THRESHOLD = 0.5

# One md5 per shingle, then 8 affine remixes of its two 30-bit halves —
# instead of 8 md5 calls per shingle (~25% faster end-to-end on
# dedup_minhash_lsh at sf0.1: 2.2-2.6 s vs 3.0-3.1 s steady-state; the
# candidate join and Jaccard verification own the rest). Each remix is
# (a*hi + b*lo + c) % P with a,b < 2^30 and c < P = 2^61-1 (Mersenne):
# every product < 2^60 and the sum < 2^62, so int64 never overflows —
# safe under ANSI mode in Spark and exact in DuckDB.
_MERSENNE_P = (1 << 61) - 1
_LO_MASK = (1 << 30) - 1


def _remix_consts(i: int) -> tuple[int, int, int]:
    def h(tag: str) -> int:
        return int(hashlib.md5(f"remix|{tag}|{i}".encode()).hexdigest()[:15], 16)

    return (h("a") % (1 << 30)) | 1, (h("b") % (1 << 30)) | 1, h("c") % _MERSENNE_P


_REMIX = [_remix_consts(i) for i in range(_N_HASHES)]


def _remix_sql(h: str, i: int) -> str:
    a, b, c = _REMIX[i]
    return f"(({a} * ({h} >> 30) + {b} * ({h} & {_LO_MASK}) + {c}) % {_MERSENNE_P})"


# Word k-gram width shared by every shingle pipeline in this module
# (functions.text.shingles' default). The cheap pre-filter in
# hashed_shingle_transform depends on it: docs with fewer than K tokens
# produce zero shingles.
_SHINGLE_K = 3


def _shingle_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sh): distinct word-3-gram shingle array per document.
    Tokens materialize in their own projection (see functions/text.py
    shingles docstring re: CSE through lambdas)."""
    d = load_table(spark, sf_dir, "documents", spread=True)
    return d.select("doc_id", tokens_ws("text").alias("toks")).select(
        "doc_id", F.array_distinct(shingles("toks")).alias("sh")
    )


def _shingle_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, s): exploded distinct shingles per document."""
    return _shingle_arrays(spark, sf_dir).select("doc_id", F.explode("sh").alias("s"))


def hashed_shingle_transform(d: DataFrame) -> DataFrame:
    """(doc_id, text, ...) -> (doc_id, sh): the tokenize+hash projection
    of :func:`_hashed_shingle_arrays`, reusable over any document-shaped
    DataFrame (batch tables, micro-batches — streaming/neardup.py)."""
    return (
        d.select("doc_id", tokens_ws("text").alias("toks"))
        # Docs with no shingles (NULL/empty/too-short text) carry no
        # content to match and never enter the ORACLE either (its
        # unnest emits no edge rows). Keeping them here is worse than
        # asymmetric: their empty arrays fold to identical init-value
        # MinHash signatures, so every contentless doc bands with every
        # other and exact-Jaccard verification divides 0/0 (found by
        # examples/hostile_nulls_audit.py; pinned in
        # tests/test_null_hostile.py).
        #
        # The predicate MUST be the cheap token-count test, placed
        # BEFORE the shingle projection: `size(sh) > 0` (the obvious
        # spelling) inlines the whole shingle+md5 pipeline into the
        # filter, and Catalyst pushes that filter through the _spread
        # round-robin exchange into the FileScan stage — the entire
        # 60-bit-hash computation then runs at SCAN parallelism (1-2
        # tasks on a byte-packed table) and a second time in the
        # projection above the exchange. Measured at sf10: 88.7 s vs
        # 16.7 s, a 5.3x regression from one filter placement.
        # Equivalence: shingles() yields [] exactly when size(toks) < 3
        # (NULL text -> NULL toks -> NULL size -> dropped either way),
        # and hash64/array_distinct never empty a non-empty array.
        .filter(F.size("toks") >= _SHINGLE_K)
        .select(
            "doc_id",
            F.array_distinct(
                F.transform(shingles("toks"), lambda s: hash64(s))
            ).alias("sh"),
        )
    )


def _hashed_shingle_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sh): distinct HASHED word-3-gram shingles per document —
    ``sh`` is ``array<long>``, each element ``hash64(shingle)``.

    The MinHash pipeline never needs the shingle strings after hashing
    (signatures remix the hash; exact-Jaccard verification is a set
    intersection, equally valid over 60-bit hashes), so hashing at
    tokenize time keeps everything downstream — the cached index, the
    broadcast-join probe sides, the array_intersect — on fixed-width
    8-byte longs instead of ~20-byte strings: smaller cache, cheaper
    comparisons, no string allocation in the verify loop. The DuckDB
    oracle (_HASHED_EDGES_SQL) hashes with the same md5-based function,
    so a hash collision (p ~ n^2/2^61, negligible) would affect both
    engines identically rather than breaking parity.

    distinct-after-hash equals hash-after-distinct as a SET (duplicate
    shingles collapse either way), so signatures are unchanged from the
    string-keyed pipeline."""
    return hashed_shingle_transform(load_table(spark, sf_dir, "documents", spread=True))


_EDGES_SQL = f"""
t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
e AS (
  SELECT doc_id, unnest(list_distinct({shingles_sql('toks')})) AS s FROM t
)
"""

# Hashed twin of _EDGES_SQL: h = hash64(shingle), distinct per doc —
# the oracle-side mirror of _hashed_shingle_arrays (keep in lockstep).
_HASHED_EDGES_SQL = f"""
t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
e AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform({shingles_sql('toks')},
                                             s -> {hash64_sql('s')}))) AS h
  FROM t
)
"""


# CTE pipeline ending in `pairs(doc_a, doc_b, jr)` — the verified
# near-dup pairs; shared by dedup_minhash_lsh and dedup_clusters.
# Sizes and intersections are over hashed shingle sets, matching the
# Spark pipeline (see _hashed_shingle_arrays on collision parity).
_PAIRS_CTES = f"""
{_HASHED_EDGES_SQL},
sig AS (
  SELECT doc_id,
         {", ".join(f"min({_remix_sql('h', i)}) AS mh{i}" for i in range(_N_HASHES))}
  FROM e GROUP BY doc_id
),
bands AS (
  {" UNION ALL ".join(
    f"SELECT doc_id, {b} AS band_id, "
    f"CAST(mh{2 * b} AS VARCHAR) || '_' || CAST(mh{2 * b + 1} AS VARCHAR) AS bkey FROM sig"
    for b in range(_N_HASHES // _BAND_R)
  )}
),
cand AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.bkey = b.bkey AND a.doc_id < b.doc_id
),
sz AS (SELECT doc_id, count(*) AS n FROM e GROUP BY doc_id),
inter AS (
  SELECT c.da, c.db, count(*) AS i
  FROM cand c
  JOIN e ea ON ea.doc_id = c.da
  JOIN e eb ON eb.doc_id = c.db AND ea.h = eb.h
  GROUP BY c.da, c.db
),
pairs AS (
  SELECT i.da AS doc_a, i.db AS doc_b,
         i.i * 1.0 / (sa.n + sb.n - i.i) AS jr
  FROM inter i
  JOIN sz sa ON sa.doc_id = i.da
  JOIN sz sb ON sb.doc_id = i.db
  WHERE i.i * 1.0 / (sa.n + sb.n - i.i) >= {_JACCARD_THRESHOLD}
)
"""


def minhash_signatures(d: DataFrame) -> DataFrame:
    """(doc_id, mh0..mh{_N_HASHES-1}) from a (doc_id, sh) HASHED shingle
    table (array<long>, see :func:`_hashed_shingle_arrays`).

    SINGLE PASS: one ``aggregate`` over the hashed-shingle array folds
    all {_N_HASHES} seed minima into a struct accumulator — the array is
    traversed once and no per-seed remixed copy ever materializes
    (previously: 8 transform+array_min passes, each allocating a remixed
    array the length of the document). Memory per row is the 8-long
    struct, bounded regardless of document size.

    The md5 happens upstream, ONCE per shingle, when the hashed shingle
    table is built (hashing inside the fold's merge lambda would re-run
    md5 per seed — Catalyst does not CSE through lambdas). The struct
    lands in ONE projection and is expanded by a separate select;
    CollapseProject keeps the non-cheap aggregate unduplicated (verified
    via .explain: the fold appears once in the plan).

    NB: transform lambdas must take exactly one parameter — a second
    parameter makes PySpark pass the element *index*, silently replacing
    the seed."""
    hs = d.select("doc_id", F.col("sh").alias("hs"))

    def _remix(h, i: int):
        a, b, c = _REMIX[i]
        return (
            F.lit(a) * F.shiftright(h, 30)
            + F.lit(b) * h.bitwiseAND(F.lit(_LO_MASK))
            + F.lit(c)
        ) % F.lit(_MERSENNE_P)

    # Empty documents fold to the sentinel P (array_min would give
    # NULL); both collapse to a shared band key, and verification drops
    # empty-vs-empty pairs either way (jr = 0/0 -> NULL -> filtered).
    init = F.struct(
        *[F.lit(_MERSENNE_P).cast("long").alias(f"m{i}") for i in range(_N_HASHES)]
    )
    fold = F.aggregate(
        "hs",
        init,
        lambda acc, h: F.struct(
            *[
                F.least(acc[f"m{i}"], _remix(h, i)).alias(f"m{i}")
                for i in range(_N_HASHES)
            ]
        ),
    )
    sig = hs.select("doc_id", fold.alias("_sig"))
    return sig.select(
        "doc_id", *[F.col(f"_sig.m{i}").alias(f"mh{i}") for i in range(_N_HASHES)]
    )


def band_index(sig: DataFrame) -> DataFrame:
    """(doc_id, band_id, k1, k2, mh0..mh{_N_HASHES-1}) LSH band index
    from a signature table.

    The band key is the raw minhash pair (k1, k2) — two longs, joined
    natively, never a concatenated string (no allocation, fixed-width
    shuffle rows, and numeric comparators in the join). Each index row
    also carries the FULL signature: that is what lets candidate
    generation drop duplicate pairs (a pair agreeing on several bands)
    with an in-place first-match filter instead of a `distinct` shuffle
    (see :func:`band_candidates`), and it is the standard LSH-index
    layout anyway — verification wants the signature without a second
    lookup."""
    mh = [F.col(f"mh{i}") for i in range(_N_HASHES)]
    band_structs = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.col(f"mh{2 * b}").alias("k1"),
            F.col(f"mh{2 * b + 1}").alias("k2"),
        )
        for b in range(_N_HASHES // _BAND_R)
    ]
    return sig.select(
        "doc_id", *mh, F.explode(F.array(*band_structs)).alias("band")
    ).select("doc_id", "band.band_id", "band.k1", "band.k2", *mh)


def band_candidates(bands_a: DataFrame, bands_b: DataFrame, ordered: bool = True) -> DataFrame:
    """Unique candidate pairs (da, db) from two band indexes WITHOUT a
    distinct: the equi-join on (band_id, k1, k2) emits one row per
    MATCHING band, and a pair is kept only on its FIRST matching band —
    computable in place from the two carried signatures, so duplicate
    suppression costs zero shuffles (the same trick
    :func:`simhash_banded_pairs` uses). ``ordered=True`` restricts to
    da < db (self-join); ``False`` keeps all a-vs-b probes
    (incremental batch-vs-corpus, where the sides are disjoint)."""
    a, b = bands_a.alias("a"), bands_b.alias("b")
    cond = (
        (F.col("a.band_id") == F.col("b.band_id"))
        & (F.col("a.k1") == F.col("b.k1"))
        & (F.col("a.k2") == F.col("b.k2"))
    )
    if ordered:
        cond = cond & (F.col("a.doc_id") < F.col("b.doc_id"))
    else:
        cond = cond & (F.col("a.doc_id") != F.col("b.doc_id"))

    def _match(bd: int) -> F.Column:
        return (F.col(f"a.mh{2 * bd}") == F.col(f"b.mh{2 * bd}")) & (
            F.col(f"a.mh{2 * bd + 1}") == F.col(f"b.mh{2 * bd + 1}")
        )

    first_match = reduce(
        lambda acc, bd: acc.when(_match(bd), F.lit(bd)),
        range(1, _N_HASHES // _BAND_R),
        F.when(_match(0), F.lit(0)),
    )
    return (
        a.join(b, cond)
        .filter(F.col("a.band_id") == first_match)
        .select(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
    )


def verify_pairs(cand: DataFrame, d: DataFrame) -> DataFrame:
    """Exact-Jaccard verification of (da, db) candidates against the
    shingle table (string or hashed-long arrays — set semantics are
    identical); returns (doc_a, doc_b, jr) above threshold.

    The candidate lookups are left UNHINTED on purpose (r10 sweep —
    the stats-less-join-side audit): candidate volume is corpus- AND
    duplication-rate-dependent (O(n) on a clean corpus, explosive on a
    repetitive one), so a forced F.broadcast(cand) — the pre-r10
    formulation, worth ~8% at sf0.1 — is exactly the linkage-class
    static-broadcast trap at 100 TB: the planner commits before any
    true size exists and AQE cannot demote it. Unhinted, the static
    plan is a shuffle join (join-output estimates are large) and AQE
    re-promotes to broadcast AT RUNTIME from the candidates' ACTUAL
    size — the small-corpus win is kept, decided from truth instead of
    fiction. Plan-asserted in tests/test_plan_shapes.py."""
    pairs = (
        cand
        .join(d.select(F.col("doc_id").alias("da"), F.col("sh").alias("sh_a")), "da")
        .join(d.select(F.col("doc_id").alias("db"), F.col("sh").alias("sh_b")), "db")
        .select(
            F.col("da").alias("doc_a"),
            F.col("db").alias("doc_b"),
            F.size(F.array_intersect("sh_a", "sh_b")).alias("i"),
            F.size("sh_a").alias("na"),
            F.size("sh_b").alias("nb"),
        )
    )
    j = pairs.select(
        "doc_a",
        "doc_b",
        (F.col("i") * 1.0 / (F.col("na") + F.col("nb") - F.col("i"))).alias("jr"),
    )
    return j.filter(F.col("jr") >= _JACCARD_THRESHOLD)


def minhash_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, jr): LSH candidates that survived exact-Jaccard
    verification — the Spark twin of the `pairs` CTE above. The cached
    verification table holds hashed shingle sets (array<long>) — ~2.5x
    smaller than the string arrays it replaced, and array_intersect
    compares longs instead of strings."""
    d = _hashed_shingle_arrays(spark, sf_dir).cache()
    # Cache the band index: it is both sides of the candidate self-join,
    # and (like any LSH index) is built once and probed many times.
    # Without this, Spark re-derives the md5 signature pipeline inside
    # the join — measured ~10x slower than probing the cached index.
    # ONE eager action builds BOTH caches: the index derives from d in a
    # single linear pass, so counting it populates d's cache on the way
    # (no join double-build hazard), and verification then probes the
    # warm d from both sides.
    bands = band_index(minhash_signatures(d)).cache()
    bands.count()  # eager build before the self-join probes it twice
    return verify_pairs(band_candidates(bands, bands), d)


@register(
    "dedup_minhash_lsh",
    oracle=f"""
WITH {_PAIRS_CTES}
SELECT doc_a, doc_b, round(jr, 3) AS jaccard
FROM pairs
ORDER BY doc_a, doc_b
""",
    bench=True,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(8)+LSH(4 bands x 2) near-duplicate detection with exact
    Jaccard verification of candidates.

    Pipeline: shingle -> minhash signature (array-native: transform +
    array_min per seed, zero shuffle) -> band keys -> equi-join on
    (band, key) for candidates -> exact Jaccard via array_intersect on
    the two shingle arrays (JVM set ops, no explode). At 100 TB the
    only all-pairs step is within LSH buckets, and verification cost is
    proportional to true near-duplicates, not the corpus square.
    """
    return (
        minhash_verified_pairs(spark, sf_dir)
        .select("doc_a", "doc_b", F.round("jr", 3).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


# Recursive-CTE components over the verified near-dup pairs — shared
# oracle for BOTH distributed components algorithms (they must agree).
_CLUSTERS_ORACLE = f"""
WITH RECURSIVE {_PAIRS_CTES},
edges2 AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION
  SELECT doc_b AS s, doc_a AS d FROM pairs
),
reach(src, dst) AS (
  SELECT s, d FROM edges2
  UNION
  SELECT r.src, e.d FROM reach r JOIN edges2 e ON r.dst = e.s
),
comp AS (
  SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
  FROM reach GROUP BY src
)
SELECT cluster_id,
       count(*) AS n_docs,
       max(doc_id) AS max_doc
FROM comp
GROUP BY cluster_id
ORDER BY cluster_id
"""


def _cluster_rollup(comp: DataFrame) -> DataFrame:
    return (
        comp.groupBy("cluster_id")
        .agg(F.count("*").alias("n_docs"), F.max("doc_id").alias("max_doc"))
        .orderBy("cluster_id")
    )


@register("dedup_clusters", oracle=_CLUSTERS_ORACLE)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate CLUSTERS from verified near-dup pairs: connected
    components via iterative min-label propagation
    (operators/components.py) — the step that turns pairwise similarity
    into a dedup policy (keep min-id doc per cluster). The oracle
    computes the same components with a recursive CTE, proving the
    distributed iteration's fixpoint.
    """
    from http_log_anonymizer_spark.operators.components import connected_components

    pairs = minhash_verified_pairs(spark, sf_dir)
    comp = connected_components(pairs, src="doc_a", dst="doc_b").select(
        F.col("node").alias("doc_id"), F.col("cluster").alias("cluster_id")
    )
    return _cluster_rollup(comp)


# Golden-record survivorship (the MDM canonicalization step — see e.g.
# Talburt, "Entity Resolution and Information Quality", ch. 6): once
# near-duplicate clusters exist, a downstream consumer needs ONE
# canonical record per cluster plus attribute-level survivorship
# decisions. Rules used here (each a standard survivorship policy):
# completeness (canonical member = longest text, tie-break min id),
# frequency (surviving lang = cluster mode, tie-break lexicographic),
# and lineage (how many distinct sources merged). Shares the verified
# near-dup pair pipeline and the recursive-CTE component replay with
# dedup_clusters, so the whole chain stays hash-checkable.
_GOLDEN_ORACLE = f"""
WITH RECURSIVE {_PAIRS_CTES},
edges2 AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION
  SELECT doc_b AS s, doc_a AS d FROM pairs
),
reach(src, dst) AS (
  SELECT s, d FROM edges2
  UNION
  SELECT r.src, e.d FROM reach r JOIN edges2 e ON r.dst = e.s
),
comp AS (
  SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
  FROM reach GROUP BY src
),
mem AS (
  SELECT c.cluster_id, d.doc_id, d.lang, d.source, d.n_chars
  FROM comp c JOIN documents d ON d.doc_id = c.doc_id
),
canon AS (
  SELECT cluster_id, doc_id AS canonical_doc, n_chars AS canonical_chars,
         row_number() OVER (
           PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id
         ) AS rn
  FROM mem
),
lang_mode AS (
  SELECT cluster_id, lang AS lang_survived,
         row_number() OVER (
           PARTITION BY cluster_id ORDER BY count(*) DESC, lang
         ) AS rn
  FROM mem GROUP BY cluster_id, lang
),
agg AS (
  SELECT cluster_id, count(*) AS n_members,
         count(DISTINCT source) AS n_sources
  FROM mem GROUP BY cluster_id
)
SELECT a.cluster_id, a.n_members, a.n_sources,
       c.canonical_doc, c.canonical_chars, l.lang_survived
FROM agg a
JOIN canon c ON c.cluster_id = a.cluster_id AND c.rn = 1
JOIN lang_mode l ON l.cluster_id = a.cluster_id AND l.rn = 1
ORDER BY a.cluster_id
"""


@register("golden_record_report", oracle=_GOLDEN_ORACLE)
def golden_record_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One golden record per near-duplicate cluster, with attribute
    survivorship: canonical member by the COMPLETENESS rule (longest
    text, tie-break min doc_id), surviving lang by the FREQUENCY rule
    (cluster mode, tie-break lexicographic), and source LINEAGE
    (distinct sources merged into the cluster) — the canonicalization
    step every dedup pipeline needs between "pairs found" and "corpus
    rewritten".

    Scale shape: components are the O(log^2 n)-round distributed
    iteration shared with dedup_clusters (node-sized state, never
    pair-sized); membership is one doc-keyed equi-join against the
    corpus; every survivorship rule is a groupBy/window keyed on
    cluster_id, so the widest shuffle row is (cluster, attribute,
    count). No rule ever needs the cluster's full text collected
    anywhere. Deterministic tie-breaks make the whole report
    hash-stable across engines."""
    from http_log_anonymizer_spark.operators.components import connected_components

    pairs = minhash_verified_pairs(spark, sf_dir)
    comp = connected_components(pairs, src="doc_a", dst="doc_b").select(
        F.col("node").alias("doc_id"), F.col("cluster").alias("cluster_id")
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    mem = comp.join(docs, "doc_id")
    wc = Window.partitionBy("cluster_id").orderBy(F.desc("n_chars"), "doc_id")
    canon = (
        mem.select(
            "cluster_id",
            F.col("doc_id").alias("canonical_doc"),
            F.col("n_chars").alias("canonical_chars"),
            F.row_number().over(wc).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    # NULL-lang groups lose ties (asc_nulls_last): Spark's default ASC
    # is NULLS FIRST while DuckDB's is NULLS LAST — the planted-NULL
    # audit caught the mode tie going to NULL on one engine only.
    wl = Window.partitionBy("cluster_id").orderBy(
        F.desc("cnt"), F.asc_nulls_last("lang_survived")
    )
    lang_mode = (
        mem.groupBy("cluster_id", F.col("lang").alias("lang_survived"))
        .agg(F.count("*").alias("cnt"))
        .select("*", F.row_number().over(wl).alias("rn"))
        .filter(F.col("rn") == 1)
        .select("cluster_id", "lang_survived")
    )
    agg = mem.groupBy("cluster_id").agg(
        F.count("*").alias("n_members"),
        F.countDistinct("source").alias("n_sources"),
    )
    return (
        agg.join(canon, "cluster_id")
        .join(lang_mode, "cluster_id")
        .select(
            "cluster_id",
            "n_members",
            "n_sources",
            "canonical_doc",
            "canonical_chars",
            "lang_survived",
        )
        .orderBy("cluster_id")
    )


@register("dedup_clusters_star", oracle=_CLUSTERS_ORACLE)
def dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same duplicate clusters, computed with the adversarial-graph-safe
    large-star/small-star algorithm (Kiveris et al., SoCC'14;
    operators/components.py:connected_components_star) instead of
    min-label propagation: O(log^2 n) rounds regardless of component
    diameter, so chain-shaped duplicate graphs (quote cascades,
    near-identical revision chains) cannot stretch the iteration count.
    Shares dedup_clusters' recursive-CTE oracle — both algorithms must
    land on identical clusters."""
    from http_log_anonymizer_spark.operators.components import (
        connected_components_star,
    )

    pairs = minhash_verified_pairs(spark, sf_dir)
    comp = connected_components_star(pairs, src="doc_a", dst="doc_b").select(
        F.col("node").alias("doc_id"), F.col("cluster").alias("cluster_id")
    )
    return _cluster_rollup(comp)


# ---------------------------------------------------------------------------
# Brute-force n-gram Jaccard (oracle-of-record for LSH; small scale only)
# ---------------------------------------------------------------------------


@register(
    "dedup_ngram_jaccard",
    # brute all-pairs Jaccard via the shingle self-join (the exact
    # oracle of record): pair work grows with the square of per-shingle
    # document frequency — boilerplate-heavy corpora blow up first.
    # The ceiling is the sf1 corpus size; MinHash LSH is the scale path.
    scale_gate=ScaleGate(
        table="documents", max_rows=50_000, wide_twin="dedup_minhash_lsh"
    ),
    oracle=f"""
WITH {_EDGES_SQL},
sz AS (SELECT doc_id, count(*) AS n FROM e GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
  FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT
  i.da AS doc_a,
  i.db AS doc_b,
  round(i.i * 1.0 / (sa.n + sb.n - i.i), 3) AS jaccard
FROM inter i
JOIN sz sa ON sa.doc_id = i.da
JOIN sz sb ON sb.doc_id = i.db
WHERE i.i * 1.0 / (sa.n + sb.n - i.i) >= 0.6
ORDER BY doc_a, doc_b
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing at least
    one shingle. Quadratic in per-shingle frequency — this is the
    correctness baseline the LSH path is validated against, not the
    scale path (see dedup_minhash_lsh)."""
    e = _shingle_edges(spark, sf_dir).cache()
    e.count()  # eager: probed from three sides below
    sz = e.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = e.alias("a"), e.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .agg(F.count("*").alias("i"))
    )
    j = (
        inter.join(sz.alias("sa"), F.col("sa.doc_id") == F.col("da"))
        .join(sz.alias("sb"), F.col("sb.doc_id") == F.col("db"))
        .select(
            F.col("da").alias("doc_a"),
            F.col("db").alias("doc_b"),
            (F.col("i") * 1.0 / (F.col("sa.n") + F.col("sb.n") - F.col("i"))).alias("jr"),
        )
    )
    return (
        j.filter(F.col("jr") >= 0.6)
        .select("doc_a", "doc_b", F.round("jr", 3).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

_SIMHASH_BITS = 32
_HAMMING_MAX = 4


@register(
    "dedup_simhash",
    bench=True,
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tk FROM documents
),
h AS (SELECT doc_id, {hash64_sql('tk', 'sim')} AS hv FROM tok),
bits AS (
  SELECT doc_id,
         {", ".join(
           f"sum(CASE WHEN (hv >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
           for j in range(_SIMHASH_BITS)
         )}
  FROM h GROUP BY doc_id
),
sig AS (
  SELECT doc_id,
         {" + ".join(
           f"(CASE WHEN s{j} >= 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
           for j in range(_SIMHASH_BITS)
         )} AS simhash
  FROM bits
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {_HAMMING_MAX}
ORDER BY doc_a, doc_b
""",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: each document folds to a {_SIMHASH_BITS}-bit
    signature (per-bit majority vote over token hashes); pairs within
    hamming distance {_HAMMING_MAX} are near-duplicates.

    Candidate generation is the LOSSLESS banded equi-join
    (:func:`simhash_banded_pairs`) — the plan that survives 100 TB: a
    pair only meets other rows sharing a whole band value, never the
    full O(n^2) cross. On THIS synthetic corpus (~98% of pairs within
    the threshold) the all-pairs baseline
    (:func:`simhash_allpairs_pairs`) is faster since banding adds x5
    key duplication with little pruning to show for it — but density is
    an artifact of the tiny vocabulary; real corpora are sparse, so the
    banded plan is the registered one and all-pairs remains the
    equivalence baseline (tests/test_operators.py).

    The signature table is cached eagerly: it feeds BOTH sides of the
    candidate self-join, and signature construction (the corpus scan)
    is the expensive stage — uncached, Spark would run it twice.

    No final sort: the pair set is deterministic and the correctness
    contract is order-insensitive (the driver's comparator sorts rows
    before hashing), so a global orderBy would add one full exchange +
    sort of the ENTIRE pair output — at sf1 that single sort was 10 s
    of a 12.5 s query (r04 measurement: the banded join itself emits
    30 M pairs in 2.2 s)."""
    sig = simhash_signatures(load_table(spark, sf_dir, "documents", spread=True)).cache()
    sig.count()  # eager: lazily-built caches double-build when first
    #            probed from both sides of a join within one action
    return simhash_banded_pairs(sig)


# Bit-vote counters pack 4-per-long (16-bit fields): the groupBy
# shuffles 8 packed sums instead of 32, and the 32 shift/mask ops per
# token stay in the codegen'd projection BEFORE the exchange. A 16-bit
# field caps a document at 65,535 DISTINCT tokens (~0.5 MB of unique
# words) — far past real corpora; cap documented here deliberately
# rather than paying double-width shuffles for a pathological case.
_PACK_FIELDS = 4
_PACK_WIDTH = 16
_PACK_MASK = (1 << _PACK_WIDTH) - 1
_N_PACKS = -(-_SIMHASH_BITS // _PACK_FIELDS)


def simhash_signatures(d: DataFrame, bits: int = _SIMHASH_BITS) -> DataFrame:
    """(doc_id, text) -> (doc_id, simhash): per-bit majority vote over
    the document's distinct token hashes, folded to a signed-long
    signature of ``bits`` (< 63: the fold must stay positive in a
    signed BIGINT, and DuckDB errors on BIGINT overflow where Spark
    would wrap). One explode + one groupBy; majority vote for bit j is
    2*cnt_j >= n (identical to sum(+/-1) >= 0, and to the DuckDB
    oracle's CASE sum)."""
    assert bits < 63, bits
    n_packs = -(-bits // _PACK_FIELDS)
    # The md5 hash is PROJECTED ONCE before the aggregation instead of
    # being repeated inline in all {bits} sum terms: codegen's
    # subexpression elimination does not fully dedupe it across the
    # packed aggregate expressions (r10 measurement at sf10: 4.54 s
    # inline vs 3.52 s projected for the warm signature build, -22%).
    # The per-bit folds are rendered as SQL text and parsed by ONE
    # F.expr each: the Column-API construction issued ~6 py4j
    # round-trips per bit (hundreds per query, ~2 s of driver time,
    # r10 optimization measurement) for an identical expression tree.
    hv = "CAST(conv(substring(md5(concat('sim|', tk)), 1, 15), 16, 10) AS BIGINT)"
    tok = d.select(
        "doc_id", F.explode(F.array_distinct(tokens_ws("text"))).alias("tk")
    ).select("doc_id", F.expr(hv).alias("h"))

    def _packed_sql(p: int) -> str:
        brange = list(range(p * _PACK_FIELDS, min((p + 1) * _PACK_FIELDS, bits)))
        terms = [f"(shiftright(h, {brange[0]}) & 1)"] + [
            f"shiftleft(shiftright(h, {j}) & 1, {(j - p * _PACK_FIELDS) * _PACK_WIDTH})"
            for j in brange[1:]
        ]
        return " + ".join(terms)

    packed = tok.groupBy("doc_id").agg(
        F.count("*").alias("n"),
        *[F.expr(f"sum({_packed_sql(p)})").alias(f"p{p}") for p in range(n_packs)],
    )

    def _cnt_sql(j: int) -> str:
        p, k = divmod(j, _PACK_FIELDS)
        return f"(shiftright(p{p}, {k * _PACK_WIDTH}) & {_PACK_MASK})"

    simhash = " + ".join(
        f"(CASE WHEN {_cnt_sql(j)} * 2 >= n THEN CAST({1 << j} AS BIGINT)"
        " ELSE CAST(0 AS BIGINT) END)"
        for j in range(bits)
    )
    return packed.select("doc_id", F.expr(simhash).alias("simhash"))


def simhash_allpairs_pairs(sig: DataFrame, hamming_max: int = _HAMMING_MAX) -> DataFrame:
    """All-pairs baseline for :func:`simhash_banded_pairs` — O(n^2)
    theta join, oracle-verifiable by construction. NOT the registered
    plan (scale anti-pattern); kept as the equivalence baseline and for
    dense corpora where banding can't prune."""
    a, b = sig.alias("a"), sig.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .filter(ham <= hamming_max)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
    )


# hamming_max + 1 bands is the minimum lossless layout (pigeonhole:
# hamming_max differing bits corrupt at most hamming_max bands, leaving
# one intact). Fewer, wider bands beat the naive 8x4-bit split twice
# over: join duplication drops 8x -> 5x AND each band key carries 6-7
# bits instead of 4, so buckets are up to 8x finer — fewer false
# candidates to hamming-filter.
_BAND_WIDTHS = (7, 7, 6, 6, 6)  # sums to _SIMHASH_BITS; len = _HAMMING_MAX + 1


def band_widths(bits: int, hamming_max: int) -> tuple[int, ...]:
    """Minimum-count lossless band layout: ``hamming_max + 1`` bands of
    near-equal width summing to ``bits`` (widest first)."""
    n = hamming_max + 1
    base, rem = divmod(bits, n)
    return tuple([base + 1] * rem + [base] * (n - rem))


def simhash_banded_pairs(
    sig: DataFrame,
    hamming_max: int = _HAMMING_MAX,
    widths: tuple[int, ...] = _BAND_WIDTHS,
) -> DataFrame:
    """Banded SimHash candidate join — the scale path when qualifying
    pairs are SPARSE (real corpora; the registered query's corpus is
    dense, see dedup_simhash docstring).

    Bands the {_SIMHASH_BITS}-bit signature into ``hamming_max + 1``
    keys ({_BAND_WIDTHS}-bit wide) and equi-joins on (band, key).
    LOSSLESS by pigeonhole: <= hamming_max (={_HAMMING_MAX}) differing
    bits corrupt at most that many bands, so every qualifying pair
    still agrees on at least one whole band. Duplicate candidates
    (pairs matching several bands) are dropped WITHOUT a distinct: a
    pair is kept only where the matched band is its FIRST matching
    band, computable from the two signatures in place.

    Input: (doc_id, simhash). Output: (doc_a, doc_b, hamming), same
    contract as dedup_simhash.

    Key width is the SCALE knob: candidates grow as n^2 / 2^width per
    band, so a fingerprint must be wide enough that band keys carry
    ~log2(n) bits (measured r04: the 32-bit layout's 6-7-bit keys
    degenerate at 500k docs — ~5G candidate probes, 186 s — while the
    60-bit layout's 12-bit keys cut that 30x; see dedup_simhash_wide).
    """
    n_bands = len(widths)
    offsets = tuple(sum(widths[:i]) for i in range(n_bands))

    def _key(col, bd: int) -> F.Column:
        mask = (1 << widths[bd]) - 1
        return F.shiftright(col, offsets[bd]).bitwiseAND(F.lit(mask))

    band_structs = [
        F.struct(
            F.lit(bd).alias("band_id"),
            _key(F.col("simhash"), bd).alias("bkey"),
        )
        for bd in range(n_bands)
    ]
    bands = sig.select(
        "doc_id", "simhash", F.explode(F.array(*band_structs)).alias("bd")
    ).select("doc_id", "simhash", "bd.band_id", "bd.bkey")
    a, b = bands.alias("a"), bands.alias("b")

    first_match = reduce(
        lambda acc, bd: acc.when(
            _key(F.col("a.simhash"), bd) == _key(F.col("b.simhash"), bd), F.lit(bd)
        ),
        range(1, n_bands),
        F.when(_key(F.col("a.simhash"), 0) == _key(F.col("b.simhash"), 0), F.lit(0)),
    )
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter((ham <= hamming_max) & (F.col("a.band_id") == first_match))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
    )


@register(
    "dedup_simhash_stats",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tk FROM documents
),
h AS (SELECT doc_id, {hash64_sql('tk', 'sim')} AS hv FROM tok),
bits AS (
  SELECT doc_id,
         {", ".join(
           f"sum(CASE WHEN (hv >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
           for j in range(_SIMHASH_BITS)
         )}
  FROM h GROUP BY doc_id
),
sig AS (
  SELECT doc_id,
         {" + ".join(
           f"(CASE WHEN s{j} >= 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
           for j in range(_SIMHASH_BITS)
         )} AS simhash
  FROM bits
),
pairs AS (
  SELECT bit_count(xor(a.simhash, b.simhash)) AS hamming
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= {_HAMMING_MAX}
)
SELECT hamming, count(*) AS n_pairs
FROM pairs GROUP BY hamming ORDER BY hamming
""",
)
def dedup_simhash_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counts-only companion to :func:`dedup_simhash`: the pair-count
    histogram by hamming distance. A dedup CAMPAIGN usually needs this
    number first (how aggressive is a given threshold on this corpus?)
    — and it must not cost a pair-table materialization to answer: the
    banded join's output feeds straight into a 5-group aggregate with
    map-side combine, so the full pair set never hits storage or a
    sort, only {_HAMMING_MAX} + 1 counter rows per partition shuffle."""
    sig = simhash_signatures(load_table(spark, sf_dir, "documents", spread=True)).cache()
    sig.count()
    return (
        simhash_banded_pairs(sig)
        .groupBy("hamming")
        .agg(F.count("*").alias("n_pairs"))
        .orderBy("hamming")
    )


def _simhash_sig_sql(bits: int) -> str:
    """DuckDB CTEs computing (doc_id, simhash) at ``bits`` — the oracle
    twin of :func:`simhash_signatures`."""
    sums = ", ".join(
        f"sum(CASE WHEN (hv >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(bits)
    )
    fold = " + ".join(
        f"(CASE WHEN s{j} >= 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        for j in range(bits)
    )
    return f"""tok AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tk FROM documents
),
h AS (SELECT doc_id, {hash64_sql('tk', 'sim')} AS hv FROM tok),
bits AS (SELECT doc_id, {sums} FROM h GROUP BY doc_id),
sig AS (SELECT doc_id, {fold} AS simhash FROM bits)"""


_WIDE_BITS = 60


@register(
    "dedup_simhash_wide",
    bench=True,  # the scale-path simhash tier belongs in the headline set
    oracle=f"""
WITH {_simhash_sig_sql(_WIDE_BITS)}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {_HAMMING_MAX}
ORDER BY doc_a, doc_b
""",
)
def dedup_simhash_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup with a {_WIDE_BITS}-bit fingerprint (hamming <=
    {_HAMMING_MAX}) — the layout that survives web-scale corpora, after
    Manku, Jain & Sarma's production design (WWW 2007: 64-bit simhash,
    small hamming radius, wide table keys). Banding is the same
    pigeonhole equi-join as :func:`dedup_simhash`, but each of the 5
    band keys now carries {_WIDE_BITS // 5} bits instead of 6-7, so
    per-band bucket occupancy — and with it the candidate count, which
    grows as n^2 / 2^width — drops by ~2^5 per band. Measured r04 on
    the 500k-doc sf10 corpus: the 32-bit layout probes ~5G candidate
    pairs (186 s); this layout is the one registered in the sf10 bench
    series. The wider fingerprint also makes hamming <= 4 a stricter
    RELATIVE threshold (4/60 vs 4/32), which is the Manku et al.
    operating point: high precision near-dup at web scale, not a dense
    similarity report (dedup_simhash keeps that role)."""
    sig = simhash_signatures(
        load_table(spark, sf_dir, "documents", spread=True), bits=_WIDE_BITS
    ).cache()
    sig.count()
    return simhash_banded_pairs(
        sig, widths=band_widths(_WIDE_BITS, _HAMMING_MAX)
    )


# ---------------------------------------------------------------------------
# Multi-word SimHash: fingerprints past the one-BIGINT ceiling.
#
# A signed 64-bit column caps single-word fingerprints at 60 usable
# bits, which caps lossless band keys at 12 bits (hamming <= 4) — and
# banded candidates grow as n^2 / 2^key_width, so 12-bit keys saturate
# around ~1M documents. The fix is the same as going 32 -> 60: more
# fingerprint bits, carried as MULTIPLE long columns with independent
# md5 hash streams per word. Bands are laid out so none straddles a
# word boundary; hamming is the sum of per-word popcounts. Everything
# stays engine-replayable (the oracle folds the same words).
# ---------------------------------------------------------------------------

_XWIDE_WORDS = (60, 40)  # 100 bits -> 5 aligned bands of 20
_XWIDE_BANDS = ((0, 0, 20), (0, 20, 20), (0, 40, 20), (1, 0, 20), (1, 20, 20))


def simhash_signatures_words(
    d: DataFrame, word_bits: tuple[int, ...] = _XWIDE_WORDS
) -> DataFrame:
    """(doc_id, text) -> (doc_id, sig0, sig1, ...): one majority-vote
    fingerprint word per entry of ``word_bits``, each fed by an
    independent md5 hash stream (seed ``sim{w}``), all folded in ONE
    explode + ONE groupBy (the packed bit-vote counters of
    :func:`simhash_signatures`, concatenated across words)."""
    assert all(b < 63 for b in word_bits), word_bits
    # SQL-text folds parsed by one F.expr each (same py4j-chatter
    # rationale as :func:`simhash_signatures`; identical expression
    # trees), and each word's md5 stream projected ONCE before the
    # aggregation (same codegen-CSE gap as simhash_signatures).
    hvs = [
        f"CAST(conv(substring(md5(concat('sim{w}|', tk)), 1, 15), 16, 10) AS BIGINT)"
        for w in range(len(word_bits))
    ]
    tok = d.select(
        "doc_id", F.explode(F.array_distinct(tokens_ws("text"))).alias("tk")
    ).select(
        "doc_id", *[F.expr(h).alias(f"h{w}") for w, h in enumerate(hvs)]
    )

    aggs = [F.count("*").alias("n")]
    for w, bits in enumerate(word_bits):
        n_packs = -(-bits // _PACK_FIELDS)
        for p in range(n_packs):
            brange = list(range(p * _PACK_FIELDS, min((p + 1) * _PACK_FIELDS, bits)))
            terms = [f"(shiftright(h{w}, {brange[0]}) & 1)"] + [
                f"shiftleft(shiftright(h{w}, {j}) & 1,"
                f" {(j - p * _PACK_FIELDS) * _PACK_WIDTH})"
                for j in brange[1:]
            ]
            aggs.append(F.expr(f"sum({' + '.join(terms)})").alias(f"w{w}p{p}"))
    packed = tok.groupBy("doc_id").agg(*aggs)

    sigs = []
    for w, bits in enumerate(word_bits):

        def _cnt_sql(j: int, w=w) -> str:
            p, k = divmod(j, _PACK_FIELDS)
            return f"(shiftright(w{w}p{p}, {k * _PACK_WIDTH}) & {_PACK_MASK})"

        sig = " + ".join(
            f"(CASE WHEN {_cnt_sql(j)} * 2 >= n THEN CAST({1 << j} AS BIGINT)"
            " ELSE CAST(0 AS BIGINT) END)"
            for j in range(bits)
        )
        sigs.append(F.expr(sig).alias(f"sig{w}"))
    return packed.select("doc_id", *sigs)


def simhash_banded_pairs_words(
    sig: DataFrame,
    bands: tuple[tuple[int, int, int], ...] = _XWIDE_BANDS,
    hamming_max: int = _HAMMING_MAX,
) -> DataFrame:
    """Banded candidate join over multi-word signatures: ``bands`` is a
    tuple of (word, offset, width) triples tiling every fingerprint bit
    (pigeonhole losslessness needs exactly that); key extraction,
    first-match dedup and the hamming filter mirror
    :func:`simhash_banded_pairs`, with hamming summed across words."""
    n_words = 1 + max(b[0] for b in bands)
    sig_cols = [f"sig{w}" for w in range(n_words)]

    def _key(prefix: str, bd: int) -> F.Column:
        w, off, width = bands[bd]
        return F.shiftright(F.col(f"{prefix}sig{w}"), off).bitwiseAND(
            F.lit((1 << width) - 1)
        )

    band_structs = [
        F.struct(F.lit(bd).alias("band_id"), _key("", bd).alias("bkey"))
        for bd in range(len(bands))
    ]
    rows = sig.select(
        "doc_id", *sig_cols, F.explode(F.array(*band_structs)).alias("bd")
    ).select("doc_id", *sig_cols, "bd.band_id", "bd.bkey")
    a, b = rows.alias("a"), rows.alias("b")

    first_match = reduce(
        lambda acc, bd: acc.when(_key("a.", bd) == _key("b.", bd), F.lit(bd)),
        range(1, len(bands)),
        F.when(_key("a.", 0) == _key("b.", 0), F.lit(0)),
    )
    ham = reduce(
        lambda acc, w: acc
        + F.bit_count(F.col(f"a.sig{w}").bitwiseXOR(F.col(f"b.sig{w}"))),
        range(1, n_words),
        F.bit_count(F.col("a.sig0").bitwiseXOR(F.col("b.sig0"))),
    )
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter((ham <= hamming_max) & (F.col("a.band_id") == first_match))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
    )


def _simhash_sig_words_sql(word_bits: tuple[int, ...]) -> str:
    """DuckDB CTEs computing (doc_id, sig0, sig1, ...) — oracle twin of
    :func:`simhash_signatures_words`."""
    hv_cols = ", ".join(
        f"{hash64_sql('tk', f'sim{w}')} AS hv{w}" for w in range(len(word_bits))
    )
    sums = ", ".join(
        f"sum(CASE WHEN (hv{w} >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{w}_{j}"
        for w, bits in enumerate(word_bits)
        for j in range(bits)
    )
    folds = ", ".join(
        " + ".join(
            f"(CASE WHEN s{w}_{j} >= 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
            for j in range(bits)
        )
        + f" AS sig{w}"
        for w, bits in enumerate(word_bits)
    )
    return f"""tok AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tk FROM documents
),
h AS (SELECT doc_id, {hv_cols} FROM tok),
bits AS (SELECT doc_id, {sums} FROM h GROUP BY doc_id),
sig AS (SELECT doc_id, {folds} FROM bits)"""


@register(
    "dedup_simhash_xwide",
    oracle=f"""
WITH {_simhash_sig_words_sql(_XWIDE_WORDS)}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.sig0, b.sig0)) + bit_count(xor(a.sig1, b.sig1)) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sig0, b.sig0)) + bit_count(xor(a.sig1, b.sig1)) <= {_HAMMING_MAX}
ORDER BY doc_a, doc_b
""",
)
def dedup_simhash_xwide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup with a 100-bit TWO-WORD fingerprint (60+40-bit
    longs, independent md5 streams; hamming <= {_HAMMING_MAX} summed
    across words) banded into 5 aligned 20-bit keys — the layout for
    corpora past the single-word ceiling: 12-bit keys
    (dedup_simhash_wide) saturate around ~1M docs, 20-bit keys carry
    to ~100M-1B docs, and the same construction extends word-by-word
    (banded candidates stay n^2 / 2^20 per band while the signature
    cost grows only linearly in words). Signature build is still ONE
    explode + ONE groupBy — the packed bit-vote counters just
    concatenate across words. Measured r04 at sf10 (500k docs): see
    SCALE.md."""
    sig = simhash_signatures_words(
        load_table(spark, sf_dir, "documents", spread=True)
    ).cache()
    sig.count()
    return simhash_banded_pairs_words(sig)


def winnow_fingerprints(d: DataFrame) -> DataFrame:
    """(doc_id, wh) winnow fingerprint index from a (doc_id, toks)
    table: per-document window minima of position-tagged shingle
    hashes (window size 4), deduplicated. Fingerprints are a pure
    per-document function — appending documents never changes existing
    index rows, which is what makes the index incrementally
    maintainable (tests/test_incremental_dedup.py)."""
    sh = d.select("doc_id", F.posexplode(shingles("toks")).alias("pos0", "s")).select(
        "doc_id", (F.col("pos0") + 1).alias("pos"), "s"
    )
    fp = F.concat_ws(
        "_",
        F.lpad(hash64("s", "win").cast("string"), 19, "0"),
        F.lpad(F.col("pos").cast("string"), 6, "0"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, 3)
    return (
        sh.select("doc_id", F.min(fp).over(w).alias("sel"))
        .select("doc_id", F.substring("sel", 1, 19).alias("wh"))
        .distinct()
    )


def winnow_candidates(
    fps_a: DataFrame, fps_b: DataFrame, min_shared: int = 2, ordered: bool = True
) -> DataFrame:
    """Candidate pairs sharing >= ``min_shared`` winnow fingerprints
    between two fingerprint indexes (equi-join on the fingerprint —
    never all-pairs). ``ordered=True`` restricts to da < db."""
    a, b = fps_a.alias("a"), fps_b.alias("b")
    cond = F.col("a.wh") == F.col("b.wh")
    cond = cond & (
        (F.col("a.doc_id") < F.col("b.doc_id"))
        if ordered
        else (F.col("a.doc_id") != F.col("b.doc_id"))
    )
    return (
        a.join(b, cond)
        .groupBy(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= min_shared)
        .select("da", "db")
    )



@register(
    "dedup_winnow_join",
    oracle=f"""
WITH {_EDGES_SQL},
t2 AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
sh2 AS (
  SELECT doc_id,
         generate_subscripts({shingles_sql('toks')}, 1) AS pos,
         unnest({shingles_sql('toks')}) AS s
  FROM t2
),
h AS (
  SELECT doc_id, pos,
         lpad(CAST({hash64_sql('s', 'win')} AS VARCHAR), 19, '0')
           || '_' || lpad(CAST(pos AS VARCHAR), 6, '0') AS fp
  FROM sh2
),
winmin AS (
  SELECT doc_id,
         min(fp) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING
         ) AS sel
  FROM h
),
fps AS (SELECT DISTINCT doc_id, substr(sel, 1, 19) AS wh FROM winmin),
cand AS (
  SELECT a.doc_id AS da, b.doc_id AS db
  FROM fps a JOIN fps b ON a.wh = b.wh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
  HAVING count(*) >= 2
),
sz AS (SELECT doc_id, count(*) AS n FROM e GROUP BY doc_id),
inter AS (
  SELECT c.da, c.db, count(*) AS i
  FROM cand c
  JOIN e ea ON ea.doc_id = c.da
  JOIN e eb ON eb.doc_id = c.db AND ea.s = eb.s
  GROUP BY c.da, c.db
)
SELECT i.da AS doc_a, i.db AS doc_b,
       round(i.i * 1.0 / (sa.n + sb.n - i.i), 3) AS jaccard
FROM inter i
JOIN sz sa ON sa.doc_id = i.da
JOIN sz sb ON sb.doc_id = i.db
WHERE i.i * 1.0 / (sa.n + sb.n - i.i) >= {_JACCARD_THRESHOLD}
ORDER BY doc_a, doc_b
""",
)
def dedup_winnow_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-index near-dup (the MOSS pipeline end-to-end):
    candidates are document pairs sharing >= 2 winnow fingerprints
    (equi-join on the fingerprint hash — like LSH, never all-pairs),
    then exact-Jaccard verification. An independent candidate generator
    cross-checking the MinHash path: both must find the same true
    near-duplicate pairs."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens_ws("text").alias("toks")
    )
    fps = winnow_fingerprints(d).cache()
    fps.count()  # eager: both sides of the self-join below
    cand = winnow_candidates(fps, fps)
    sharr = _shingle_arrays(spark, sf_dir).cache()
    sharr.count()
    return (
        verify_pairs(cand, sharr)
        .select("doc_a", "doc_b", F.round("jr", 3).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# Exact similarity join via prefix filtering (PPJoin-style)
# ---------------------------------------------------------------------------


@register(
    "dedup_prefix_filter_join",
    oracle=f"""
WITH {_EDGES_SQL},
sz AS (SELECT doc_id, count(*) AS n FROM e GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
  FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT
  i.da AS doc_a,
  i.db AS doc_b,
  round(i.i * 1.0 / (sa.n + sb.n - i.i), 3) AS jaccard
FROM inter i
JOIN sz sa ON sa.doc_id = i.da
JOIN sz sb ON sb.doc_id = i.db
WHERE i.i * 1.0 / (sa.n + sb.n - i.i) >= {_JACCARD_THRESHOLD}
ORDER BY doc_a, doc_b
""",
)
def dedup_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard similarity join via prefix filtering (the
    PPJoin/SSJoin principle): order every document's shingles by global
    rarity, keep only the first n - ceil(t*n) + 1 as its PREFIX — any
    pair with Jaccard >= t provably shares a prefix token — and
    equi-join on prefix tokens for candidates, then verify exactly.

    Unlike MinHash-LSH (probabilistic recall) this is lossless: the
    oracle is the brute-force ALL-PAIRS join, and results must match
    row-for-row. Unlike the brute-force path, the candidate join runs
    over prefix tokens only — the rarest slice of each document — so
    frequency-ordered candidate counts stay near the true-pair count.
    At 100 TB: one extra shuffle to build the token-frequency order,
    prefix edges are ~(1-t) of all edges and skew toward RARE tokens,
    taming the quadratic per-token blowup that kills the naive join.
    """
    e = _shingle_edges(spark, sf_dir).cache()
    e.count()  # eager: frequency build + prefix build + verification sizes
    freq = e.groupBy("s").agg(F.count("*").alias("tf"))
    ranked = e.join(freq, "s").select(
        "doc_id",
        "s",
        F.row_number()
        .over(Window.partitionBy("doc_id").orderBy("tf", "s"))
        .alias("rn"),
        F.count("*").over(Window.partitionBy("doc_id")).alias("n"),
    )
    prefix = ranked.filter(
        F.col("rn") <= F.col("n") - F.ceil(_JACCARD_THRESHOLD * F.col("n")) + 1
    ).select("doc_id", "s")
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .distinct()
    )
    sharr = _shingle_arrays(spark, sf_dir).cache()
    sharr.count()
    return (
        verify_pairs(cand, sharr)
        .select("doc_a", "doc_b", F.round("jr", 3).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination (n-gram overlap against a reference set)
# ---------------------------------------------------------------------------


@register(
    "decontaminate_docs",
    oracle=f"""
WITH {_EDGES_SQL},
bench AS (SELECT DISTINCT s FROM e WHERE doc_id % 20 = 0),
train AS (SELECT doc_id, s FROM e WHERE doc_id % 20 <> 0),
tot AS (SELECT doc_id, count(*) AS n_total FROM train GROUP BY doc_id),
shared AS (
  SELECT t.doc_id, count(*) AS n_shared
  FROM train t JOIN bench b ON t.s = b.s
  GROUP BY t.doc_id
)
SELECT t.doc_id, s.n_shared, t.n_total,
       round(s.n_shared * 1.0 / t.n_total, 3) AS overlap
FROM shared s JOIN tot t ON t.doc_id = s.doc_id
WHERE s.n_shared * 1.0 / t.n_total >= 0.3
ORDER BY t.doc_id
""",
)
def decontaminate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents whose word-3-
    gram shingles overlap a held-out benchmark set (doc_id % 20 == 0
    stands in for the eval corpus) above 30% — the standard n-gram
    contamination check run before LLM training. The benchmark shingle
    set is DISTINCT and typically tiny vs the corpus, so the overlap
    probe is a semi-join-shaped equi-join that broadcasts at scale;
    per-doc counts are one shuffle on doc_id. Built from the shared
    halves below so the streaming monitor's
    (streaming/decontamination.py) flagged rows ARE this query over
    arrived documents."""
    e = _shingle_edges(spark, sf_dir).cache()
    e.count()  # eager: split into bench + train below
    bench = e.filter(F.col("doc_id") % 20 == 0).select("s").distinct()
    train = e.filter(F.col("doc_id") % 20 != 0)
    return decon_flagged(train, bench).orderBy("doc_id")


# Shared halves — the streaming decontamination monitor
# (streaming/decontamination.py) reuses these so its per-doc flagged
# rows ARE the batch query's over arrived documents.

_DECON_THRESHOLD = 0.3


def decon_shingle_rows(d: DataFrame) -> DataFrame:
    """(doc_id, s) distinct word-3-gram shingles over any
    document-shaped DataFrame (batch tables, micro-batches)."""
    return d.select("doc_id", tokens_ws("text").alias("toks")).select(
        "doc_id", F.explode(F.array_distinct(shingles("toks"))).alias("s")
    )


def decon_bench_set(d: DataFrame) -> DataFrame:
    """The DISTINCT shingle set of a benchmark corpus."""
    return decon_shingle_rows(d).select("s").distinct()


def decon_flagged(train: DataFrame, bench: DataFrame) -> DataFrame:
    """Per-document contamination rows over (doc_id, s) training
    shingles vs a benchmark shingle set: docs whose shared-shingle
    share reaches {_DECON_THRESHOLD} (the batch query's output shape,
    unordered)."""
    tot = train.groupBy("doc_id").agg(F.count("*").alias("n_total"))
    shared = (
        train.join(F.broadcast(bench), "s")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
    )
    overlap = F.col("n_shared") * 1.0 / F.col("n_total")
    return (
        shared.join(tot, "doc_id")
        .filter(overlap >= _DECON_THRESHOLD)
        .select(
            "doc_id", "n_shared", "n_total", F.round(overlap, 3).alias("overlap")
        )
    )


# ---------------------------------------------------------------------------
# Ingest-time incremental dedup: new batch vs existing corpus
# ---------------------------------------------------------------------------


@register(
    "dedup_incremental_batch",
    oracle=f"""
WITH {_HASHED_EDGES_SQL},
sig AS (
  SELECT doc_id,
         {", ".join(f"min({_remix_sql('h', i)}) AS mh{i}" for i in range(_N_HASHES))}
  FROM e GROUP BY doc_id
),
bands AS (
  {" UNION ALL ".join(
    f"SELECT doc_id, {b} AS band_id, "
    f"CAST(mh{2 * b} AS VARCHAR) || '_' || CAST(mh{2 * b + 1} AS VARCHAR) AS bkey FROM sig"
    for b in range(_N_HASHES // _BAND_R)
  )}
),
cand AS (
  SELECT DISTINCT n.doc_id AS da, c.doc_id AS db
  FROM bands n JOIN bands c
    ON n.band_id = c.band_id AND n.bkey = c.bkey
  WHERE n.doc_id % 10 = 0 AND c.doc_id % 10 <> 0
),
sz AS (SELECT doc_id, count(*) AS n FROM e GROUP BY doc_id),
inter AS (
  SELECT c.da, c.db, count(*) AS i
  FROM cand c
  JOIN e ea ON ea.doc_id = c.da
  JOIN e eb ON eb.doc_id = c.db AND ea.h = eb.h
  GROUP BY c.da, c.db
)
SELECT i.da AS new_doc, i.db AS corpus_doc,
       round(i.i * 1.0 / (sa.n + sb.n - i.i), 3) AS jaccard
FROM inter i
JOIN sz sa ON sa.doc_id = i.da
JOIN sz sb ON sb.doc_id = i.db
WHERE i.i * 1.0 / (sa.n + sb.n - i.i) >= {_JACCARD_THRESHOLD}
ORDER BY new_doc, corpus_doc
""",
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time dedup: check an incoming batch (doc_id % 10 == 0
    stands in for today's crawl) against the EXISTING corpus only —
    candidates come from joining the batch's band keys against the
    persisted corpus band index, so cost is O(batch), never
    O(corpus^2). This is the shape production dedup actually runs daily
    (the all-pairs dedup_minhash_lsh is the backfill job); the
    incremental band-index append itself is tested in
    tests/test_incremental_dedup.py."""
    d = _hashed_shingle_arrays(spark, sf_dir).cache()
    bands = band_index(minhash_signatures(d)).cache()
    bands.count()  # in production: the persisted index, not recomputed
    #              (one eager action warms both caches — see
    #              minhash_verified_pairs)
    is_new = F.col("doc_id") % 10 == 0
    cand = band_candidates(bands.filter(is_new), bands.filter(~is_new), ordered=False)
    return (
        verify_pairs(cand, d)
        .select(
            F.col("doc_a").alias("new_doc"),
            F.col("doc_b").alias("corpus_doc"),
            F.round("jr", 3).alias("jaccard"),
        )
        .orderBy("new_doc", "corpus_doc")
    )


# ---------------------------------------------------------------------------
# Exact-substring (duplicated-span) dedup — Lee et al. 2021
# ---------------------------------------------------------------------------

# Span length in tokens: a window of _SPAN_K consecutive tokens shared
# verbatim between two documents marks both spans as duplicated text.
# Lee et al. use 50 BPE tokens on real corpora; the synthetic corpus's
# documents are ~30 tokens, so the window is scaled down to keep the
# operator exercised end-to-end.
_SPAN_K = 8


@register(
    "dup_span_report",
    oracle=f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
sp AS (
  SELECT doc_id,
         generate_subscripts({shingles_sql('toks', _SPAN_K)}, 1) AS pos,
         unnest(list_transform({shingles_sql('toks', _SPAN_K)},
                               g -> {hash64_sql('g', 'span')})) AS h
  FROM t
),
hc AS (
  SELECT h FROM sp GROUP BY h HAVING count(DISTINCT doc_id) >= 2
),
d AS (SELECT sp.doc_id, sp.pos FROM sp JOIN hc ON sp.h = hc.h),
isl AS (
  SELECT doc_id, pos,
         CASE WHEN pos > coalesce(max(pos + {_SPAN_K} - 1) OVER (
                  PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                ), -1) + 1
              THEN 1 ELSE 0 END AS new_island
  FROM d
),
lab AS (
  SELECT doc_id, pos,
         sum(new_island) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS island_id
  FROM isl
),
per_island AS (
  SELECT doc_id, island_id,
         max(pos + {_SPAN_K} - 1) - min(pos) + 1 AS cov
  FROM lab GROUP BY doc_id, island_id
),
per_doc AS (
  SELECT doc_id,
         CAST(sum(cov) AS BIGINT) AS n_dup_tokens,
         count(*) AS n_islands
  FROM per_island GROUP BY doc_id
)
SELECT t.doc_id,
       len(t.toks) AS n_tokens,
       coalesce(p.n_dup_tokens, 0) AS n_dup_tokens,
       round(coalesce(p.n_dup_tokens, 0) * 1.0 / len(t.toks), 4) AS dup_frac,
       coalesce(p.n_islands, 0) AS n_islands
FROM t LEFT JOIN per_doc p ON t.doc_id = p.doc_id
ORDER BY t.doc_id
""",
)
def dup_span_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup accounting (Lee et al. 2021, ExactSubstr):
    every {_SPAN_K}-token window shared VERBATIM by >= 2 documents marks
    duplicated text; overlapping/adjacent duplicated windows merge into
    maximal islands per document, and the report gives each document's
    duplicated-token fraction and island count — the table the cut step
    consumes to excise (not drop) duplicated regions.

    The Spark-first reformulation of the paper's suffix array: span
    HASHES are exploded once ({_SPAN_K}-gram, position-tagged), a
    hash-level aggregation finds spans living in >= 2 distinct
    documents, and interval merging is a per-document running-max
    window (an island starts where pos exceeds every previous span's
    end + 1). Two shuffles total — one on the span hash (map-side
    combined; heavy hitters are bounded because a hash repeated across
    the corpus collapses to one group row), one on doc_id for the
    window — both keyed on values whose cardinality scales with the
    data, never all-pairs. Everything is integer arithmetic; the only
    float is the final fraction, rounded identically in both engines.
    """
    t = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens_ws("text").alias("toks")
    )
    sp = t.select(
        "doc_id", F.posexplode(shingles("toks", _SPAN_K)).alias("pos0", "g")
    ).select(
        "doc_id", (F.col("pos0") + 1).alias("pos"), hash64("g", "span").alias("h")
    )
    hc = (
        sp.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    d = sp.join(hc, "h").select("doc_id", "pos")
    prev_end = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, -1
    )
    isl = d.select(
        "doc_id",
        "pos",
        F.when(
            F.col("pos")
            > F.coalesce(
                F.max(F.col("pos") + _SPAN_K - 1).over(prev_end), F.lit(-1)
            )
            + 1,
            1,
        )
        .otherwise(0)
        .alias("new_island"),
    )
    run = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, 0
    )
    lab = isl.select("doc_id", "pos", F.sum("new_island").over(run).alias("island_id"))
    per_island = lab.groupBy("doc_id", "island_id").agg(
        (F.max(F.col("pos") + _SPAN_K - 1) - F.min("pos") + 1).alias("cov")
    )
    per_doc = per_island.groupBy("doc_id").agg(
        F.sum("cov").alias("n_dup_tokens"), F.count("*").alias("n_islands")
    )
    return (
        t.select("doc_id", F.size("toks").alias("n_tokens"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_dup_tokens", F.lit(0)).alias("n_dup_tokens"),
            F.round(
                F.coalesce("n_dup_tokens", F.lit(0)) * 1.0 / F.col("n_tokens"), 4
            ).alias("dup_frac"),
            F.coalesce("n_islands", F.lit(0)).alias("n_islands"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Cross-source contamination matrix: pairwise shingle overlap between
# corpus SOURCES — the dedup diagnostic that tells you which crawls /
# dumps share content before any document-level policy runs.
# ---------------------------------------------------------------------------


@register(
    "source_overlap_matrix",
    oracle=f"""
WITH t AS (
  SELECT source, string_split(text, ' ') AS toks FROM documents
),
e AS (
  SELECT DISTINCT source, unnest(list_transform({shingles_sql('toks')},
         s -> {hash64_sql('s')})) AS h
  FROM t
),
sz AS (SELECT source, count(*) AS n FROM e GROUP BY source),
inter AS (
  SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
  FROM e a JOIN e b ON a.h = b.h AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT i.source_a, i.source_b, i.n_shared,
       sa.n AS n_a, sb.n AS n_b,
       round(i.n_shared * 1.0 / (sa.n + sb.n - i.n_shared), 4) AS jaccard
FROM inter i
JOIN sz sa ON sa.source = i.source_a
JOIN sz sb ON sb.source = i.source_b
ORDER BY source_a, source_b
""",
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise word-3-gram overlap between SOURCES (per-source distinct
    hashed shingle sets -> intersection counts + Jaccard): the
    corpus-level contamination matrix a curation run reads before
    choosing dedup scope (decontaminate_docs is the doc-level analog
    against a benchmark set).

    Scale shape: the per-source distinct collapses via map-side
    combine; the pairwise intersection is ONE equi-join on the shingle
    hash (shuffle keyed on h — never source x source scans), and
    output is sources^2 rows. Hashed shingles keep the join fixed-width
    (see _hashed_shingle_arrays)."""
    d = load_table(spark, sf_dir, "documents", spread=True)
    e = (
        d.select("source", tokens_ws("text").alias("toks"))
        .select("source", F.explode(shingles("toks")).alias("s"))
        .select("source", hash64("s").alias("h"))
        .distinct()
    )
    e = pin(e)  # sizes + self-join reuse one build
    sz = e.groupBy("source").agg(F.count("*").alias("n"))
    a, b = e.alias("a"), e.alias("b")
    inter = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b"))
        .agg(F.count("*").alias("n_shared"))
    )
    sa = sz.select(F.col("source").alias("source_a"), F.col("n").alias("n_a"))
    sb = sz.select(F.col("source").alias("source_b"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            "n_a",
            "n_b",
            F.round(
                F.col("n_shared") * 1.0 / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
                4,
            ).alias("jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# Suffix-array exact-substring dedup (Lee et al. 2022, ExactSubstr —
# the FULL construction): distributed prefix-doubling suffix array over
# the sentinel-concatenated token corpus, adjacent-LCP by binary
# descent, and maximal cross-document duplicated spans from
# nearest-other-document LCPs. dup_span_report is the fixed-K
# shared-window approximation of this operator; on a collision-free
# corpus the two must agree exactly on coverage (proven in
# tests/test_suffix_array.py), while only this one yields TRUE maximal
# span lengths.
# ---------------------------------------------------------------------------

# 2^_SA_ROUNDS must exceed the longest document + its sentinel (the
# testdata caps at 100 tokens; docs longer than 127 tokens need one
# more round — a parameter, not a redesign).
_SA_ROUNDS = 7
_SA_MINLEN = _SPAN_K  # same threshold as the approximation: comparable


def _sa_build(spark: SparkSession, sf_dir: str):
    """Shared suffix-array build over the documents corpus: returns
    (t2 = (doc_id, toks-with-sentinel, n), corpus positions, rank
    tables, suffix order, adjacent LCPs). See operators/suffix_array.py
    for the construction and its scale discipline."""
    from http_log_anonymizer_spark.operators.suffix_array import (
        adjacent_lcp,
        build_rank_tables,
        cumsum_by_range,
        suffix_order,
    )

    # a doc without text has no suffixes, and a NULL token count
    # poisons every LATER document's global offset through the
    # running-sum window (the planted-NULL audit: the oracle's
    # corrupted offsets blew its doubling joins into a 78 GB temp
    # spill on a 50-doc corpus) — excluded identically in both engines
    t = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", tokens_ws("text").alias("toks"))
    )
    t2 = t.select(
        "doc_id",
        F.concat(
            "toks",
            F.array(F.concat(F.lit("\x00"), F.col("doc_id").cast("string"))),
        ).alias("toks"),
        F.size("toks").alias("n"),
    )
    offs = cumsum_by_range(
        t2.select("doc_id", "toks", "n", (F.col("n") + 1).alias("ln")),
        "doc_id",
        "ln",
    ).select("doc_id", "toks", "n", (F.col("cum") - F.col("ln")).alias("off"))
    corpus = offs.select(
        "doc_id", "n", "off", F.posexplode("toks").alias("pos0", "tok")
    ).select(
        (F.col("off") + F.col("pos0") + 1).alias("gpos"),
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),
        "tok",
        (F.col("pos0") + 1 > F.col("n")).alias("is_sent"),
    )

    # pin_counted reads N from the written footers (no count job) — it
    # feeds the arithmetic bucket ids that replace the per-round
    # RangePartitioner sampling passes (r10).
    corpus, n_pos = pin_counted(corpus)

    tables = build_rank_tables(corpus.select("gpos", "tok"), _SA_ROUNDS, n_rows=n_pos)
    sa = suffix_order(tables[-1], n_rows=n_pos)
    # pin: al is consumed by several downstream subplans (descent
    # output feeds lcp minima, run windows AND the min tables).
    al = pin(adjacent_lcp(sa, tables, corpus.select("gpos", "tok")))
    return t2, corpus, tables, sa, al, n_pos


# The corpus-prefix SQL shared by both suffix-array oracles.
_SA_CORPUS_SQL = """tk AS (
  SELECT doc_id,
         list_append(string_split(text, ' '), chr(0) || CAST(doc_id AS VARCHAR)) AS toks,
         len(string_split(text, ' ')) AS n
  FROM documents WHERE text IS NOT NULL
),
offs AS (
  SELECT doc_id, toks, n,
         COALESCE(sum(n + 1) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
  FROM tk
),
corpus AS MATERIALIZED (
  SELECT off + pos AS gpos, doc_id, pos, tok, pos > n AS is_sent FROM (
    SELECT doc_id, n, off,
           generate_subscripts(toks, 1) AS pos, unnest(toks) AS tok
    FROM offs
  )
)"""


def _sa_oracle() -> str:
    from http_log_anonymizer_spark.operators.suffix_array import suffix_sql_parts

    return f"""
WITH {_SA_CORPUS_SQL},
{suffix_sql_parts(_SA_ROUNDS)},
ord AS MATERIALIZED (
  SELECT a.sa_idx, a.gpos, a.lcp, c.doc_id, c.pos, c.is_sent,
         CASE WHEN p.doc_id IS NULL OR p.doc_id <> c.doc_id THEN 1 ELSE 0 END AS chg
  FROM alcp a
  JOIN corpus c ON c.gpos = a.gpos
  LEFT JOIN corpus p ON p.gpos = a.prv
),
runs AS MATERIALIZED (
  SELECT *, sum(chg) OVER (ORDER BY sa_idx
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
  FROM ord
),
updown AS MATERIALIZED (
  SELECT r.*,
         min(lcp) OVER (PARTITION BY run_id ORDER BY sa_idx
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS up,
         min(nl) OVER (PARTITION BY run_id ORDER BY sa_idx DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS down
  FROM (
    -- COALESCE at the lead join, not after the window min: the
    -- corpus-last suffix has no successor, and a NULL nl would be
    -- SKIPPED by min(), letting the final same-doc run's intra-doc
    -- adjacent LCPs stand in for the (nonexistent) next other-doc
    -- neighbor. Flooring nl at 0 per row keeps the down-chain honest.
    SELECT r.*, COALESCE(n.lcp, 0) AS nl
    FROM runs r LEFT JOIN runs n ON n.sa_idx = r.sa_idx + 1
  ) r
),
marked AS (
  SELECT doc_id, pos, greatest(up, down) AS dl,
         pos + greatest(up, down) - 1 AS en
  FROM updown
  WHERE NOT is_sent AND greatest(up, down) >= {_SA_MINLEN}
),
isl AS (
  SELECT doc_id, pos, en,
         CASE WHEN pos > COALESCE(max(en) OVER (
                  PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                ), -1) + 1
              THEN 1 ELSE 0 END AS new_island
  FROM marked
),
lab AS (
  SELECT doc_id, pos, en,
         sum(new_island) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS island_id
  FROM isl
),
per_island AS (
  SELECT doc_id, island_id, max(en) - min(pos) + 1 AS cov
  FROM lab GROUP BY doc_id, island_id
),
per_doc AS (
  SELECT m.doc_id,
         CAST(sum(cov) AS BIGINT) AS n_dup_tokens,
         count(*) AS n_islands
  FROM per_island m GROUP BY m.doc_id
),
span_max AS (
  SELECT doc_id, CAST(max(dl) AS BIGINT) AS max_dup_span FROM marked GROUP BY doc_id
)
SELECT t.doc_id,
       t.n AS n_tokens,
       COALESCE(p.n_dup_tokens, 0) AS n_dup_tokens,
       round(COALESCE(p.n_dup_tokens, 0) * 1.0 / t.n, 4) AS dup_frac,
       COALESCE(p.n_islands, 0) AS n_islands,
       COALESCE(s.max_dup_span, 0) AS max_dup_span
FROM tk t
LEFT JOIN per_doc p ON t.doc_id = p.doc_id
LEFT JOIN span_max s ON t.doc_id = s.doc_id
ORDER BY t.doc_id
"""


@register("suffix_array_dup_report", oracle=_sa_oracle())
def suffix_array_dup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup via the FULL suffix-array construction
    (Lee et al. 2022), not the fixed-K window approximation: build the
    token-level suffix array of the sentinel-concatenated corpus by
    distributed prefix doubling (radix-2 pair start + {_SA_ROUNDS - 1}
    doubling rounds for 2^{_SA_ROUNDS}-token coverage — operators/
    suffix_array.py), recover adjacent LCPs by binary descent over the
    retained rank tables plus a final raw-token unit step, and mark
    every position whose MAXIMAL common
    prefix with a suffix of ANOTHER document (= max LCP against the
    nearest other-doc neighbor above/below in SA order, computed with
    run-scoped window minima) reaches {_SA_MINLEN} tokens. Maximal
    spans merge into per-document islands; the report adds
    ``max_dup_span`` — the true longest cross-document duplicated span,
    which no fixed-K window method can observe.

    Equivalence contract (tests/test_suffix_array.py): with the same
    threshold, coverage/island columns equal dup_span_report exactly on
    a collision-free corpus — the approximation's windows union to the
    same intervals as the maximal spans — while this operator is
    hash-free (zero collision risk) and span-exact.

    Scale shape: NO single-task global windows — dense ranks and the
    suffix order use the range-partitioned two-level rank
    (operators/suffix_array.py:ranked, the TeraSort layout), running
    sums use the same pattern, lag/lead are sa_idx equi-joins, and the
    up/down minima partition by the distributed run id. Cost is
    O(N log maxlen) with ~3 shuffles per doubling round — the honest
    price of exactness; dup_span_report remains the 2-shuffle
    approximation for when fixed-K coverage suffices."""
    from http_log_anonymizer_spark.operators.suffix_array import cumsum_by_range

    t2, corpus, tables, sa, al, n_pos = _sa_build(spark, sf_dir)
    cd = corpus.select("gpos", "doc_id", "pos", "is_sent")
    pd_ = corpus.select(F.col("gpos").alias("prv"), F.col("doc_id").alias("pdoc"))
    ord_ = (
        al.join(cd, "gpos")
        .join(pd_, "prv", "left")
        .select(
            "sa_idx",
            "gpos",
            "lcp",
            "doc_id",
            "pos",
            "is_sent",
            F.when(
                F.col("pdoc").isNull() | (F.col("pdoc") != F.col("doc_id")), 1
            )
            .otherwise(0)
            .alias("chg"),
        )
    )
    runs = cumsum_by_range(ord_, "sa_idx", "chg", out="run_id", n_max=n_pos)
    nxt = runs.select((F.col("sa_idx") - 1).alias("sa_idx"), F.col("lcp").alias("nl"))
    # coalesce nl at the lead join (not after the run-window min): the
    # corpus-last suffix has no successor row, and min() skips NULLs —
    # without the floor, the final same-doc run's down-chain would fall
    # back to INTRA-document adjacent LCPs, violating the "suffix of
    # ANOTHER document" contract (ADVICE r05, verified live: a tail doc
    # of ten repeated tokens reported dup_frac 0.9 with zero cross-doc
    # overlap).
    rr = runs.join(nxt, "sa_idx", "left").withColumn(
        "nl", F.coalesce("nl", F.lit(0))
    )
    w_up = (
        Window.partitionBy("run_id")
        .orderBy("sa_idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_dn = (
        Window.partitionBy("run_id")
        .orderBy(F.desc("sa_idx"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ud = rr.select(
        "doc_id",
        "pos",
        "is_sent",
        F.min("lcp").over(w_up).alias("up"),
        F.min("nl").over(w_dn).alias("down"),
    )
    marked = ud.filter(
        (~F.col("is_sent"))
        & (F.greatest("up", "down") >= _SA_MINLEN)
    ).select(
        "doc_id",
        "pos",
        F.greatest("up", "down").alias("dl"),
        (F.col("pos") + F.greatest("up", "down") - 1).alias("en"),
    )
    prev_end = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, -1
    )
    isl = marked.select(
        "doc_id",
        "pos",
        "en",
        "dl",
        F.when(
            F.col("pos") > F.coalesce(F.max("en").over(prev_end), F.lit(-1)) + 1, 1
        )
        .otherwise(0)
        .alias("new_island"),
    )
    run_w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, 0
    )
    lab = isl.select(
        "doc_id", "pos", "en", "dl", F.sum("new_island").over(run_w).alias("island_id")
    )
    per_island = lab.groupBy("doc_id", "island_id").agg(
        (F.max("en") - F.min("pos") + 1).alias("cov")
    )
    per_doc = per_island.groupBy("doc_id").agg(
        F.sum("cov").alias("n_dup_tokens"), F.count("*").alias("n_islands")
    )
    span_max = marked.groupBy("doc_id").agg(F.max("dl").alias("max_dup_span"))
    return (
        t2.select("doc_id", F.col("n").alias("n_tokens"))
        .join(per_doc, "doc_id", "left")
        .join(span_max, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_dup_tokens", F.lit(0)).alias("n_dup_tokens"),
            F.round(
                F.coalesce("n_dup_tokens", F.lit(0)) * 1.0 / F.col("n_tokens"), 4
            ).alias("dup_frac"),
            F.coalesce("n_islands", F.lit(0)).alias("n_islands"),
            F.coalesce("max_dup_span", F.lit(0)).alias("max_dup_span"),
        )
        .orderBy("doc_id")
    )


def _sa_selfrep_oracle() -> str:
    from http_log_anonymizer_spark.operators.suffix_array import (
        pair_descent_sql,
        suffix_sql_parts,
    )

    return f"""
WITH {_SA_CORPUS_SQL},
{suffix_sql_parts(_SA_ROUNDS)},
ordx AS MATERIALIZED (
  SELECT a.sa_idx, a.gpos, a.lcp, c.doc_id, c.pos, c.is_sent
  FROM alcp a JOIN corpus c ON c.gpos = a.gpos
),
dpair AS (
  SELECT doc_id, gpos AS gk,
         lag(gpos) OVER (PARTITION BY doc_id ORDER BY sa_idx) AS gj
  FROM ordx WHERE NOT is_sent
),
prange AS MATERIALIZED (
  SELECT doc_id, gj, gk FROM dpair WHERE gj IS NOT NULL
),
{pair_descent_sql(_SA_ROUNDS, "prange", "gj", "gk", "plcp")},
contrib AS (
  SELECT gk AS gpos, lcp FROM plcp
  UNION ALL
  SELECT gj AS gpos, lcp FROM plcp
),
intra AS MATERIALIZED (
  SELECT gpos, max(lcp) AS il FROM contrib GROUP BY gpos
),
marked AS (
  SELECT o.doc_id, o.pos, i.il AS dl, o.pos + i.il - 1 AS en
  FROM intra i JOIN ordx o ON o.gpos = i.gpos
  WHERE i.il >= {_SA_MINLEN}
),
isl AS (
  SELECT doc_id, pos, en, dl,
         CASE WHEN pos > COALESCE(max(en) OVER (
                  PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                ), -1) + 1
              THEN 1 ELSE 0 END AS new_island
  FROM marked
),
lab AS (
  SELECT doc_id, pos, en, dl,
         sum(new_island) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS island_id
  FROM isl
),
per_island AS (
  SELECT doc_id, island_id, max(en) - min(pos) + 1 AS cov
  FROM lab GROUP BY doc_id, island_id
),
per_doc AS (
  SELECT doc_id,
         CAST(sum(cov) AS BIGINT) AS n_rep_tokens,
         count(*) AS n_islands
  FROM per_island GROUP BY doc_id
),
span_max AS (
  SELECT doc_id, CAST(max(dl) AS BIGINT) AS max_rep_span FROM marked GROUP BY doc_id
)
SELECT t.doc_id,
       t.n AS n_tokens,
       COALESCE(p.n_rep_tokens, 0) AS n_rep_tokens,
       round(COALESCE(p.n_rep_tokens, 0) * 1.0 / t.n, 4) AS rep_frac,
       COALESCE(p.n_islands, 0) AS n_islands,
       COALESCE(s.max_rep_span, 0) AS max_rep_span
FROM tk t
LEFT JOIN per_doc p ON t.doc_id = p.doc_id
LEFT JOIN span_max s ON t.doc_id = s.doc_id
ORDER BY t.doc_id
"""


@register("suffix_selfrep_report", oracle=_sa_selfrep_oracle())
def suffix_selfrep_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTRA-document repetition via the suffix array — the exact
    counterpart of the Gopher repetition heuristics
    (gopher_quality_flags counts repeated fixed n-grams; this reports
    the true maximal self-repeated spans): a position is repeated iff
    its suffix shares >= {_SA_MINLEN} tokens with ANOTHER suffix of the
    SAME document. The max same-doc LCP of a suffix is the max against
    its two nearest same-doc neighbors in suffix-array order
    (LCP-interval monotonicity), and because the rank tables are
    retained, each pair's LCP is a DIRECT binary descent
    (operators/suffix_array.py:pair_lcp) — log(maxlen) equi-joins, no
    RMQ structure, no extra materializations.

    Scale shape: everything the base construction already guarantees
    (two-level ranks/prefix sums, no single-task global windows), plus
    per-DOC windows for the pairing and islands and one descent chain
    over the doc-consecutive pair table. The report columns mirror
    suffix_array_dup_report with rep_* naming; max_rep_span is the
    longest exact self-repeat — the span the Gopher n-gram ratios can
    only bound."""
    from http_log_anonymizer_spark.operators.suffix_array import pair_lcp

    t2, corpus, tables, sa, al, _n_pos = _sa_build(spark, sf_dir)
    cd = corpus.select("gpos", "doc_id", "pos", "is_sent")
    ordx = al.join(cd, "gpos").select(
        "sa_idx", "gpos", "lcp", "doc_id", "pos", "is_sent"
    )

    wdoc = Window.partitionBy("doc_id").orderBy("sa_idx")
    dpair = (
        ordx.filter(~F.col("is_sent"))
        .select(
            "doc_id",
            F.col("gpos").alias("gk"),
            F.lag("gpos").over(wdoc).alias("gj"),
        )
        .filter(F.col("gj").isNotNull())
    )
    # pin: consumed twice by the contribution union below
    plcp = pin(pair_lcp(dpair, tables, "gj", "gk", corpus.select("gpos", "tok")))

    contrib = plcp.select(F.col("gk").alias("gpos"), "lcp").unionByName(
        plcp.select(F.col("gj").alias("gpos"), "lcp")
    )
    intra = contrib.groupBy("gpos").agg(F.max("lcp").alias("il"))
    marked = (
        intra.join(ordx, "gpos")
        .filter(F.col("il") >= _SA_MINLEN)
        .select(
            "doc_id",
            "pos",
            F.col("il").alias("dl"),
            (F.col("pos") + F.col("il") - 1).alias("en"),
        )
    )
    prev_end = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, -1
    )
    isl = marked.select(
        "doc_id",
        "pos",
        "en",
        "dl",
        F.when(
            F.col("pos") > F.coalesce(F.max("en").over(prev_end), F.lit(-1)) + 1, 1
        )
        .otherwise(0)
        .alias("new_island"),
    )
    run_w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, 0
    )
    lab = isl.select(
        "doc_id", "pos", "en", "dl", F.sum("new_island").over(run_w).alias("island_id")
    )
    per_island = lab.groupBy("doc_id", "island_id").agg(
        (F.max("en") - F.min("pos") + 1).alias("cov")
    )
    per_doc = per_island.groupBy("doc_id").agg(
        F.sum("cov").alias("n_rep_tokens"), F.count("*").alias("n_islands")
    )
    span_max = marked.groupBy("doc_id").agg(F.max("dl").alias("max_rep_span"))
    return (
        t2.select("doc_id", F.col("n").alias("n_tokens"))
        .join(per_doc, "doc_id", "left")
        .join(span_max, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_rep_tokens", F.lit(0)).alias("n_rep_tokens"),
            F.round(
                F.coalesce("n_rep_tokens", F.lit(0)) * 1.0 / F.col("n_tokens"), 4
            ).alias("rep_frac"),
            F.coalesce("n_islands", F.lit(0)).alias("n_islands"),
            F.coalesce("max_rep_span", F.lit(0)).alias("max_rep_span"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Line-level (chunk) dedup — the C4 rule
# ---------------------------------------------------------------------------

_LINE_L = 10  # tokens per "line" (the synthetic corpus has no newlines)


def line_chunk_table(d: DataFrame) -> DataFrame:
    """(doc_id, source?, chunk_idx, n_tok, chunk): the fixed-grid line
    chunking of a (doc_id, text, ...) document table — non-overlapping
    {_LINE_L}-token chunks, array-native until the one explode. Shared
    by ``line_dedup_report`` and the streaming chunk-dedup sink
    (streaming/chunk_dedup.py) so batch and stream chunk identically."""
    L = _LINE_L
    extra = [c for c in ("source",) if c in d.columns]
    t = d.select("doc_id", *extra, tokens_ws("text").alias("toks"))
    return t.select(
        "doc_id",
        *extra,
        F.size("toks").alias("n"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.ceil(F.size("toks") / F.lit(L)).cast("long") - 1),
                lambda i: F.array_join(F.slice(F.col("toks"), i * L + 1, L), " "),
            )
        ).alias("chunk_idx", "chunk"),
    ).select(
        "doc_id",
        *extra,
        "chunk_idx",
        F.least(F.lit(L), F.col("n") - F.col("chunk_idx") * L).alias("n_tok"),
        "chunk",
    )


@register(
    "line_dedup_report",
    bench=True,
    oracle=f"""
WITH t AS (
  SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents
),
c AS (
  SELECT doc_id, source, i AS chunk_idx,
         least({_LINE_L}, len(toks) - CAST(i AS BIGINT) * {_LINE_L}) AS n_tok,
         array_to_string(
           toks[(CAST(i AS BIGINT) * {_LINE_L} + 1):(CAST(i AS BIGINT) * {_LINE_L} + {_LINE_L})],
           ' '
         ) AS chunk
  FROM t, UNNEST(range(CAST(ceil(len(toks) / {_LINE_L}.0) AS BIGINT))) AS u(i)
),
occ AS (
  SELECT source, doc_id, n_tok,
         {hash64_sql("chunk")} AS h,
         struct_pack(d := doc_id, i := chunk_idx) AS occ_key
  FROM c
),
g AS (
  SELECT h, count(*) AS cnt, min(occ_key) AS keep_key FROM occ GROUP BY h
)
SELECT
  o.source,
  count(DISTINCT o.doc_id) AS n_docs,
  count(*) AS n_chunks,
  CAST(sum(o.n_tok) AS BIGINT) AS n_tokens,
  CAST(sum(CASE WHEN g.cnt >= 2 AND o.occ_key <> g.keep_key THEN 1 ELSE 0 END)
       AS BIGINT) AS n_removed_chunks,
  CAST(sum(CASE WHEN g.cnt >= 2 AND o.occ_key <> g.keep_key THEN o.n_tok ELSE 0 END)
       AS BIGINT) AS n_removed_tokens,
  round(sum(CASE WHEN g.cnt >= 2 AND o.occ_key <> g.keep_key THEN o.n_tok ELSE 0 END)
        / sum(o.n_tok), 6) AS removed_token_frac
FROM occ o JOIN g USING (h)
GROUP BY o.source
ORDER BY o.source
""",
)
def line_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level dedup, the C4 rule (Raffel et al., JMLR 2020 §2.2:
    "we discarded all but one of any three-sentence span occurring more
    than once"): any *line* occurring >= 2 times corpus-wide is removed
    everywhere except its first occurrence (minimal ``(doc_id,
    chunk_idx)``). The synthetic corpus has no newlines or sentence
    marks, so a "line" is a non-overlapping 10-token chunk — same rule,
    deterministic chunk grain (and deliberately distinct from
    ``dup_span_report``'s *overlapping* windows, which measure span
    coverage rather than apply a removal policy).

    Scale shape (100 TB): one explode (chunk stream = tokens/10 rows),
    one hash groupBy with map-side partial counts (the type table), and
    one equi-join of occurrences back to their type row. The type table
    grows with the corpus so it is never broadcast (the mkn lesson); the
    join is sort-merge with AQE skew-split handling boilerplate lines —
    the classic hot keys of real web corpora. Nothing is all-pairs and
    no driver action touches corpus-proportional data.

    Reference parity: the reference pipeline (anonymizer/src/lib.rs)
    dedups whole records via ReplacingMergeTree; this is the intra-
    document generalization a curation pipeline needs."""
    # spread: the chunk+hash map stage is compute-heavy, and a replica-
    # scaled series can land all its documents in ONE parquet file
    # (~2 row groups = 2-way map parallelism: measured 34-40 s at sf10
    # vs 11-15 s with byte-sized fan-out). bytes_per_task keeps sf0.1
    # from shattering (the r04 lesson baked into spread).
    chunks = line_chunk_table(
        load_table(spark, sf_dir, "documents", spread=True, bytes_per_task=256 * 1024)
    )
    occ = chunks.select(
        "source",
        "doc_id",
        "n_tok",
        hash64("chunk").alias("h"),
        # struct min, not an int64 packing (ADVICE r06): lexicographic
        # (doc_id, chunk_idx) works for ANY doc_id type/magnitude, where
        # doc_id*1e9+chunk_idx overflowed past ~9.2e9 numeric ids and
        # NULLed out string ids.
        F.struct(
            F.col("doc_id").alias("d"), F.col("chunk_idx").alias("i")
        ).alias("occ_key"),
    )
    g = occ.groupBy("h").agg(
        F.count("*").alias("cnt"), F.min("occ_key").alias("keep_key")
    )
    removed = (F.col("cnt") >= 2) & (F.col("occ_key") != F.col("keep_key"))
    # chunk-TYPE table: grows with the corpus like the perplexity
    # n-gram type tables — shuffle_hash hint (r10-opt: was merge) so
    # the static planner never broadcasts it (the measured sf100
    # broadcast-OOM class; surfaced here by the r08 byte-bounded
    # layout shrinking size ESTIMATES below the 64 MiB threshold at
    # sf10), while the per-partition hash build skips the sort of the
    # corpus-sized occurrence stream the merge join forced.
    return (
        occ.join(g.hint("shuffle_hash"), "h")
        .groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_chunks"),
            F.sum("n_tok").alias("n_tokens"),
            F.sum(F.when(removed, 1).otherwise(0)).alias("n_removed_chunks"),
            F.sum(F.when(removed, F.col("n_tok")).otherwise(0)).alias("n_removed_tokens"),
        )
        .withColumn(
            "removed_token_frac",
            F.round(F.col("n_removed_tokens") / F.col("n_tokens"), 6),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Content-defined chunking dedup — the rsync/LBFS trick
# ---------------------------------------------------------------------------

_CDC_K = 3  # rolling-window width (token shingles)
_CDC_D = 8  # boundary divisor: expected chunk length ~ D tokens


def cdc_chunk_table(d: DataFrame) -> DataFrame:
    """(doc_id, source?, chunk_idx, n_tok, chunk): content-defined
    chunking of a (doc_id, text, ...) document table — boundaries where
    the {_CDC_K}-token rolling hash is 0 mod {_CDC_D}, array-native
    until the one explode. Shared by ``cdc_dedup_report`` and the
    streaming chunk-dedup sink's ``chunker="cdc"`` mode so batch and
    stream chunk identically."""
    K, D = _CDC_K, _CDC_D
    extra = [c for c in ("source",) if c in d.columns]
    t = d.select("doc_id", *extra, tokens_ws("text").alias("toks"))
    s1 = t.select(
        "doc_id", *extra, "toks", F.size("toks").alias("n"),
        shingles("toks", K).alias("sh"),
    )
    s2 = s1.select(
        "doc_id", *extra, "toks", "n",
        F.transform(F.col("sh"), lambda s: hash64(s, "cdc")).alias("hs"),
    )
    mid = F.when(
        F.size("hs") >= 2,
        F.filter(
            F.sequence(F.lit(2).cast("long"), F.size("hs").cast("long")),
            lambda p: F.element_at(F.col("hs"), p.cast("int")) % D == 0,
        ),
    ).otherwise(F.array().cast("array<long>"))
    s3 = s2.select(
        "doc_id", *extra, "toks", "n",
        F.concat(
            F.array(F.lit(1).cast("long")),
            mid,
            F.array((F.col("n") + 1).cast("long")),
        ).alias("bounds"),
    )
    return s3.select(
        "doc_id",
        *extra,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("bounds") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("bounds"), i).alias("start"),
                    (
                        F.element_at(F.col("bounds"), i + 1)
                        - F.element_at(F.col("bounds"), i)
                    ).alias("ln"),
                ),
            )
        ).alias("idx0", "ch"),
        F.col("toks"),
    ).select(
        "doc_id",
        *extra,
        (F.col("idx0") + 1).alias("chunk_idx"),
        F.col("ch.ln").alias("n_tok"),
        F.array_join(
            F.slice(F.col("toks"), F.col("ch.start").cast("int"), F.col("ch.ln").cast("int")),
            " ",
        ).alias("chunk"),
    )


@register(
    "cdc_dedup_report",
    oracle=f"""
WITH t AS (
  SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents
),
s1 AS (
  SELECT doc_id, source, toks, len(toks) AS n,
         {shingles_sql('toks', _CDC_K)} AS sh
  FROM t
),
s2 AS (
  SELECT doc_id, source, toks, n,
         list_transform(sh, s -> {hash64_sql('s', 'cdc')}) AS hs
  FROM s1
),
s3 AS (
  SELECT doc_id, source, toks, n,
         [CAST(1 AS BIGINT)]
         || CASE WHEN len(hs) >= 2
              THEN list_filter(generate_series(CAST(2 AS BIGINT), len(hs)),
                               p -> hs[p] % {_CDC_D} = 0)
              ELSE [] END
         || [CAST(n + 1 AS BIGINT)] AS bounds
  FROM s2
),
c AS (
  SELECT doc_id, source, i AS chunk_idx,
         bounds[i + 1] - bounds[i] AS n_tok,
         array_to_string(toks[bounds[i]:(bounds[i + 1] - 1)], ' ') AS chunk
  FROM s3, UNNEST(generate_series(CAST(1 AS BIGINT), len(bounds) - 1)) AS u(i)
),
occ AS (
  SELECT source, doc_id, n_tok,
         {hash64_sql('chunk')} AS h,
         struct_pack(d := doc_id, i := chunk_idx) AS occ_key
  FROM c
),
g AS (
  SELECT h, count(*) AS cnt, min(occ_key) AS keep_key FROM occ GROUP BY h
)
SELECT
  o.source,
  count(DISTINCT o.doc_id) AS n_docs,
  count(*) AS n_chunks,
  CAST(sum(o.n_tok) AS BIGINT) AS n_tokens,
  round(sum(o.n_tok) * 1.0 / count(*), 4) AS avg_chunk_len,
  CAST(sum(CASE WHEN g.cnt >= 2 AND o.occ_key <> g.keep_key THEN 1 ELSE 0 END)
       AS BIGINT) AS n_removed_chunks,
  CAST(sum(CASE WHEN g.cnt >= 2 AND o.occ_key <> g.keep_key THEN o.n_tok ELSE 0 END)
       AS BIGINT) AS n_removed_tokens,
  round(sum(CASE WHEN g.cnt >= 2 AND o.occ_key <> g.keep_key THEN o.n_tok ELSE 0 END)
        / sum(o.n_tok), 6) AS removed_token_frac
FROM occ o JOIN g USING (h)
GROUP BY o.source
ORDER BY o.source
""",
)
def cdc_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup (the rsync / LBFS rolling-hash
    trick, Muthitacharoen et al. SOSP 2001): chunk boundaries fall
    where the rolling hash of the local {_CDC_K}-token window is
    0 mod {_CDC_D}, so boundaries are determined by CONTENT, not
    position — a few inserted tokens shift every fixed-grid line of
    ``line_dedup_report`` but leave CDC chunks aligned after the next
    boundary (pinned by the shift-robustness test). Expected chunk
    length ~{_CDC_D} tokens; no min/max clamp (the deterministic
    textbook variant — production CDC adds bounds against pathological
    runs, noted, not needed for the policy semantics). Removal policy
    is identical to line_dedup_report: any chunk occurring >= 2 times
    corpus-wide keeps only its first occurrence.

    Scale shape: boundary detection is ARRAY-NATIVE per document (one
    projection, no shuffle — shingle hashes, filter, slice), then the
    same explode + hash-groupBy + occurrence-join as
    line_dedup_report: one shuffle for the chunk-type table, one
    equi-join back, AQE skew-split for boilerplate chunks. The chunk
    stream is ~tokens/{_CDC_D} rows."""
    # spread: same single-file map-parallelism floor as line_dedup_report
    # (the boundary detection is even heavier — rolling shingle hashes).
    chunks = cdc_chunk_table(
        load_table(spark, sf_dir, "documents", spread=True, bytes_per_task=256 * 1024)
    )
    occ = chunks.select(
        "source",
        "doc_id",
        "n_tok",
        hash64("chunk").alias("h"),
        # struct min, not an int64 packing (ADVICE r06): lexicographic
        # (doc_id, chunk_idx) works for ANY doc_id type/magnitude, where
        # doc_id*1e9+chunk_idx overflowed past ~9.2e9 numeric ids and
        # NULLed out string ids.
        F.struct(
            F.col("doc_id").alias("d"), F.col("chunk_idx").alias("i")
        ).alias("occ_key"),
    )
    g = occ.groupBy("h").agg(
        F.count("*").alias("cnt"), F.min("occ_key").alias("keep_key")
    )
    removed = (F.col("cnt") >= 2) & (F.col("occ_key") != F.col("keep_key"))
    # chunk-TYPE table: grows with the corpus like the perplexity
    # n-gram type tables — shuffle_hash hint (r10-opt: was merge) so
    # the static planner never broadcasts it (the measured sf100
    # broadcast-OOM class; surfaced here by the r08 byte-bounded
    # layout shrinking size ESTIMATES below the 64 MiB threshold at
    # sf10), while the per-partition hash build skips the sort of the
    # corpus-sized occurrence stream the merge join forced.
    return (
        occ.join(g.hint("shuffle_hash"), "h")
        .groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_chunks"),
            F.sum("n_tok").alias("n_tokens"),
            F.round(F.sum("n_tok") * 1.0 / F.count("*"), 4).alias("avg_chunk_len"),
            F.sum(F.when(removed, 1).otherwise(0)).alias("n_removed_chunks"),
            F.sum(F.when(removed, F.col("n_tok")).otherwise(0)).alias(
                "n_removed_tokens"
            ),
        )
        .withColumn(
            "removed_token_frac",
            F.round(F.col("n_removed_tokens") / F.col("n_tokens"), 6),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# LSH candidate-recall audit — the dedup twin of the ANN recall reports
# ---------------------------------------------------------------------------


def _lsh_recall_oracle() -> str:
    sig_cols = ", ".join(
        f"min({_remix_sql('h', i)}) AS mh{i}" for i in range(_N_HASHES)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, mh{2 * b} AS k1, mh{2 * b + 1} AS k2 FROM sig"
        for b in range(_N_HASHES // _BAND_R)
    )
    return f"""
WITH {_HASHED_EDGES_SQL},
sig AS (SELECT doc_id, {sig_cols} FROM e GROUP BY doc_id),
bands AS ({band_rows}),
cand AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.k1 = b.k1 AND a.k2 = b.k2
   AND a.doc_id < b.doc_id
),
sz AS (SELECT doc_id, count(*) AS n FROM e GROUP BY doc_id),
inter AS (
  SELECT ea.doc_id AS da, eb.doc_id AS db, count(*) AS i
  FROM e ea JOIN e eb ON ea.h = eb.h AND ea.doc_id < eb.doc_id
  GROUP BY ea.doc_id, eb.doc_id
),
truth AS (
  SELECT i.da, i.db
  FROM inter i JOIN sz sa ON sa.doc_id = i.da JOIN sz sb ON sb.doc_id = i.db
  WHERE i.i * 1.0 / (sa.n + sb.n - i.i) >= {_JACCARD_THRESHOLD}
),
hit AS (SELECT t.da, t.db FROM truth t JOIN cand c ON t.da = c.da AND t.db = c.db)
SELECT
  (SELECT count(*) FROM truth) AS n_true_pairs,
  (SELECT count(*) FROM cand) AS n_candidates,
  (SELECT count(*) FROM hit) AS n_hit,
  round((SELECT count(*) FROM hit) * 1.0
        / greatest((SELECT count(*) FROM truth), 1), 6) AS recall,
  round((SELECT count(*) FROM hit) * 1.0
        / greatest((SELECT count(*) FROM cand), 1), 6) AS candidate_precision
"""


@register(
    "dedup_lsh_recall_report",
    # the ground-truth side is all-pairs Jaccard BY DESIGN (audit
    # artifact; sf1 measured 47.8 s, excluded from scale series)
    scale_gate=ScaleGate(
        table="documents",
        max_rows=100_000,
        wide_twin="dedup_minhash_lsh",
        advice=(
            "Recall audits at scale run on a SAMPLED stratum (the "
            "brute ground-truth side is the cost)."
        ),
    ),
    oracle=_lsh_recall_oracle(),
)
def dedup_lsh_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered accuracy artifact for the MinHash-LSH candidate
    generator (the ann_*_recall_report pattern applied to dedup): exact
    all-pairs Jaccard >= {_JACCARD_THRESHOLD} is the ground truth, the
    banded signature join is the system under audit, and the report is
    (n_true_pairs, n_candidates, n_hit, recall, candidate_precision) —
    so the LSH tier's accuracy claim is driver-hash-verified every
    round instead of living in a local test aside. Theory check the
    numbers should track: with {_N_HASHES // _BAND_R} bands of
    r={_BAND_R}, P(candidate | j) = 1 - (1 - j^{_BAND_R})^{_N_HASHES // _BAND_R}
    (0.68 at j = 0.5, ~1.0 at j >= 0.8 — near-identical synthetic
    twins sit in the high-j regime, so recall should be ~1).

    Scale shape: the ground-truth all-pairs intersection join is the
    AUDIT's cost, not the pipeline's — exactly like ann_brute_topk it
    exists at gate/sample scale to measure the production tier
    (signatures + band join), which stays candidate-bounded. At 100 TB
    the audit runs on a sampled stratum; the audited construction is
    unchanged."""
    # Shared subtrees pinned (r10, guide §2.4): unpinned, the shingle
    # table fed both the signature chain and the ground-truth edges
    # (2x corpus re-derivation), the band index was probed from both
    # sides of the candidate self-join, and — worst — the all-pairs
    # intersection ran TWICE (the hit join and the n_true count each
    # re-executed it): 32 document-scan references in the physical
    # plan. truth/cand are pair tables at audit scale; sh/bands are
    # exactly the tables dedup_minhash_lsh itself caches.
    sh = pin(_hashed_shingle_arrays(spark, sf_dir))
    sig = minhash_signatures(sh)
    bands = pin(band_index(sig))
    cand = pin(band_candidates(bands, bands))

    edges = sh.select("doc_id", F.explode("sh").alias("h"))
    sz = edges.groupBy("doc_id").agg(F.count("*").alias("n"))
    ea = edges.select(F.col("doc_id").alias("da"), "h")
    eb = edges.select(F.col("doc_id").alias("db"), "h")
    inter = (
        ea.join(eb, ["h"])
        .filter(F.col("da") < F.col("db"))
        .groupBy("da", "db")
        .agg(F.count("*").alias("i"))
    )
    truth = pin(
        inter.join(sz.select(F.col("doc_id").alias("da"), F.col("n").alias("na")), "da")
        .join(sz.select(F.col("doc_id").alias("db"), F.col("n").alias("nb")), "db")
        .filter(
            F.col("i") * 1.0 / (F.col("na") + F.col("nb") - F.col("i"))
            >= _JACCARD_THRESHOLD
        )
        .select("da", "db")
    )
    hit = truth.join(cand, ["da", "db"])

    n_true = truth.agg(F.count("*").alias("n_true_pairs"))
    n_cand = cand.agg(F.count("*").alias("n_candidates"))
    n_hit = hit.agg(F.count("*").alias("n_hit"))
    return (
        n_true.crossJoin(n_cand)
        .crossJoin(n_hit)
        .select(
            "n_true_pairs",
            "n_candidates",
            "n_hit",
            F.round(
                F.col("n_hit") * 1.0 / F.greatest(F.col("n_true_pairs"), F.lit(1)), 6
            ).alias("recall"),
            F.round(
                F.col("n_hit") * 1.0 / F.greatest(F.col("n_candidates"), F.lit(1)), 6
            ).alias("candidate_precision"),
        )
    )


# ---------------------------------------------------------------------------
# Edit-distance similarity join (Ed-Join, Xiao/Wang/Lin PVLDB'08) —
# CHARACTER-level fuzzy matching, the family token-level Jaccard
# (MinHash/PPJoin) cannot express: typo-grade variants of names, URLs,
# and entity strings. Candidates come from the q-gram PREFIX filter
# (grams sorted by global frequency; two strings within edit distance k
# must share a gram in their first q*k+1 grams), so the join is an
# equi-join on rare grams — never all-pairs — and only candidates pay
# the O(len^2) Levenshtein verification.
# ---------------------------------------------------------------------------

_ED_K = 2  # edit-distance threshold
_ED_Q = 2  # q-gram width
_ED_PREFIX = _ED_Q * _ED_K + 1  # Ed-Join prefix length


@register(
    "fuzzy_editdist_join",
    oracle=f"""
WITH n AS (SELECT p_name, count(*) AS c FROM part GROUP BY p_name)
SELECT a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS ed,
       CAST(a.c AS BIGINT) AS n_parts_a,
       CAST(b.c AS BIGINT) AS n_parts_b
FROM n a JOIN n b ON a.p_name < b.p_name
WHERE abs(len(a.p_name) - len(b.p_name)) <= {_ED_K}
  AND levenshtein(a.p_name, b.p_name) <= {_ED_K}
ORDER BY ed, name_a, name_b
""",
)
def fuzzy_editdist_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All pairs of distinct part names within Levenshtein distance
    {_ED_K} — entity-resolution-grade fuzzy matching. The registered
    plan is the Ed-Join shape: (1) distinct names with occurrence
    counts (one hash-groupBy); (2) positional q-grams (q={_ED_Q}) per
    name, ranked by GLOBAL gram frequency (the gram vocabulary is
    bounded by the alphabet, not the corpus); (3) each name keeps only
    its first {_ED_PREFIX} rarest grams (q*k+1 — the Ed-Join prefix
    theorem: strings within edit distance k share at least one gram in
    these prefixes, so the pruning is LOSSLESS); (4) candidates from a
    gram equi-join with the length filter |len_a - len_b| <= k; (5)
    only candidates pay Levenshtein (JVM built-in, codegen'd). The
    DuckDB oracle is the INDEPENDENT quadratic all-pairs ground truth
    (gate-scale only), so parity empirically proves the prefix filter
    lossless on this data.

    Scale shape: the only corpus-sized shuffles are the distinct-name
    groupBy and the gram equi-join whose volume is candidate-bound
    (rare grams by construction — each name contributes its least
    frequent grams); the per-name window ranking grams is bounded by
    string length. Strings shorter than q produce no grams and would
    need a trivial-length side channel; part names ({_ED_Q}+ chars) do
    not hit it."""
    names = (
        load_table(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(F.count("*").alias("c"))
    )
    grams = names.select(
        "p_name",
        F.explode(
            F.expr(
                f"transform(sequence(1, char_length(p_name) - {_ED_Q - 1}), "
                f"i -> struct(substring(p_name, i, {_ED_Q}) AS g, i AS pos))"
            )
        ).alias("gp"),
    ).select("p_name", F.col("gp.g").alias("g"), F.col("gp.pos").alias("pos"))
    freq = grams.groupBy("g").agg(F.count("*").alias("freq"))
    w = Window.partitionBy("p_name").orderBy("freq", "g", "pos")
    # freq is bounded by the q-gram alphabet (|charset|^q), not the
    # corpus — broadcast it explicitly; left to its own estimates the
    # static planner builds the NAME-GRAM side instead, which grows
    # with distinct names (caught by the sf100 plan audit; guard in
    # tests/test_r06_reports.py)
    prefix = (
        grams.join(F.broadcast(freq), "g")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _ED_PREFIX)
        .select("p_name", "g")
    )
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.p_name") < F.col("b.p_name")),
        )
        .select(
            F.col("a.p_name").alias("name_a"), F.col("b.p_name").alias("name_b")
        )
        .filter(
            F.abs(F.length("name_a") - F.length("name_b")) <= _ED_K
        )
        .distinct()
    )
    verified = cand.withColumn(
        "ed", F.levenshtein("name_a", "name_b").cast("long")
    ).filter(F.col("ed") <= _ED_K)
    ca = names.select(
        F.col("p_name").alias("name_a"), F.col("c").cast("long").alias("n_parts_a")
    )
    cb = names.select(
        F.col("p_name").alias("name_b"), F.col("c").cast("long").alias("n_parts_b")
    )
    return (
        verified.join(ca, "name_a")
        .join(cb, "name_b")
        .select("name_a", "name_b", "ed", "n_parts_a", "n_parts_b")
        .orderBy("ed", "name_a", "name_b")
    )


# ---------------------------------------------------------------------------
# N-gram novelty curve — the redundancy-growth diagnostic (how fast a
# corpus stops contributing new n-grams as it grows)
# ---------------------------------------------------------------------------

_NOVELTY_DECILES = 10


@register(
    "ngram_novelty_report",
    oracle=f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, {hash64_sql('g')} AS g FROM (
    SELECT doc_id, unnest({shingles_sql('toks')}) AS g FROM t
  )
),
ranked_docs AS (
  -- decile by explicit rank formula, NOT ntile: Spark's side uses the
  -- two-level TeraSort rank (no single-task global window), so both
  -- engines must share the same remainder rule
  SELECT doc_id,
         CAST((CAST(rn - 1 AS BIGINT) * {_NOVELTY_DECILES})
              // (SELECT count(*) FROM (SELECT DISTINCT doc_id FROM t))
              AS BIGINT) + 1 AS decile
  FROM (
    SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS rn
    FROM (SELECT DISTINCT doc_id FROM t)
  )
),
first AS (
  SELECT g, min(doc_id) AS first_doc FROM sh GROUP BY g
),
occ AS (
  SELECT r.decile, s.doc_id,
         CASE WHEN s.doc_id = f.first_doc THEN 1 ELSE 0 END AS novel
  FROM sh s JOIN first f USING (g) JOIN ranked_docs r USING (doc_id)
)
SELECT decile,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       count(*) AS n_doc_gram_pairs,
       CAST(sum(novel) AS BIGINT) AS n_novel,
       round(sum(novel) * 1.0 / count(*), 6) AS novelty_rate
FROM occ
GROUP BY decile
ORDER BY decile
""",
)
def ngram_novelty_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram novelty curve: the corpus is split into {_NOVELTY_DECILES}
    equal-count deciles by doc_id (ingest order), and each decile
    reports what fraction of its documents' distinct 3-gram types are
    NOVEL — first seen in that document (minimal doc_id over the
    type's occurrences). This is the redundancy-growth diagnostic a
    curation pipeline reads before sizing dedup: a corpus whose
    novelty_rate decays steeply is mostly repeating itself (scrape
    overlap, boilerplate), and the curve's tail predicts the marginal
    value of the next crawl batch; per-doc distinct grain means
    within-document repetition (already measured by the Gopher flags)
    does not distort the cross-document signal.

    Determinism: novelty is an integer comparison against a min-
    aggregate; deciles come from the explicit ((r-1)*D) DIV n + 1
    formula over the unique-doc_id rank (NOT either engine's ntile,
    whose remainder placement is an engine choice) so both engines
    share the same remainder rule; the only division is the final 6dp
    rate. The denominator column is n_doc_gram_pairs — distinct
    (doc, gram) occurrence ROWS, a gram appearing in two docs of one
    decile counts twice — because novelty_rate is a per-occurrence
    fraction; a count of distinct gram TYPES per decile would be a
    different (coarser) statistic.

    Scale shape: one scan to the distinct (doc_id, gram-hash) pairs
    (array-native shingles, no per-token explode), one hash groupBy
    for the type table's min-doc (map-side combined), one equi-join of
    occurrences back to their type row (sort-merge, AQE-skew-split for
    boilerplate grams — exactly line_dedup_report's shape), and a
    {_NOVELTY_DECILES}-row aggregate. The decile assignment joins
    occurrences against a doc_id->decile table that is |docs| rows —
    broadcast at any realistic shard size, SMJ beyond."""
    t = load_table(
        spark, sf_dir, "documents", spread=True, bytes_per_task=256 * 1024
    ).select("doc_id", tokens_ws("text").alias("toks"))
    # sh feeds the type table AND the occurrence join; without a hard
    # boundary each consumer re-tokenizes + re-shingles the heavy text
    # column (plan-audited: 5 FileScans -> 1 text scan + doc_id-only
    # scans). The pin is (doc_id, hash) = 16 bytes/row.
    sh = pin(
        t.select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(shingles("toks"), lambda s: hash64(s))
                )
            ).alias("g"),
        )
    )
    # decile via the two-level TeraSort rank (operators/suffix_array.
    # ranked) — a global ntile window would funnel every doc_id
    # through ONE task, the single-task-window antipattern this repo
    # bans; the explicit ((r-1)*D) div n + 1 formula replicates in the
    # oracle, so no engine's ntile remainder rule is relied on
    from http_log_anonymizer_spark.operators.suffix_array import ranked

    docs = t.select("doc_id").distinct()
    tot = docs.agg(F.count("*").alias("n_total"))
    ranked_docs = (
        docs.join(ranked(docs, ["doc_id"]), "doc_id")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.expr(
                f"CAST(((r - 1) * {_NOVELTY_DECILES}) DIV n_total AS BIGINT) + 1"
            ).alias("decile"),
        )
    )
    first = sh.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    occ = (
        sh.join(first, "g")
        .join(ranked_docs, "doc_id")
        .select(
            "decile",
            "doc_id",
            F.when(F.col("doc_id") == F.col("first_doc"), 1).otherwise(0).alias(
                "novel"
            ),
        )
    )
    return (
        occ.groupBy("decile")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_doc_gram_pairs"),
            F.sum("novel").alias("n_novel"),
            F.round(F.sum("novel") * 1.0 / F.count("*"), 6).alias("novelty_rate"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# Set-containment join — asymmetric doc-in-doc duplication (quotes,
# boilerplate inclusion) that symmetric Jaccard under-scores
# ---------------------------------------------------------------------------

# containment threshold t = _CONT_NUM/_CONT_DEN, kept rational so the
# cut i >= ceil(t*n) is exact integer arithmetic in both engines
_CONT_NUM, _CONT_DEN = 4, 5


@register(
    "containment_join",
    oracle=f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, {hash64_sql('g')} AS g FROM (
    SELECT doc_id, unnest({shingles_sql('toks')}) AS g FROM t
  )
),
sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS i
  FROM sh a JOIN sh b USING (g) WHERE a.doc_id <> b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, sz.n AS n_a, i AS inter,
       round(i * 1.0 / sz.n, 4) AS containment
FROM inter JOIN sz ON sz.doc_id = doc_a
WHERE {_CONT_DEN} * i >= {_CONT_NUM} * sz.n
ORDER BY doc_a, doc_b
""",
)
def containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric set-containment join: pairs (A, B) where at least
    {_CONT_NUM}/{_CONT_DEN} of A's distinct 3-gram shingles also occur
    in B — the doc-in-doc relation (quotes, boilerplate inclusion,
    article-plus-comments wrappers) that symmetric Jaccard structurally
    under-scores (a 100-token doc fully contained in a 10k-token doc
    has Jaccard ~0.01 but containment 1.0). Both directions are
    reported; the oracle is the INDEPENDENT quadratic ground truth, so
    parity proves the pruning lossless (the fuzzy_editdist_join
    pattern).

    Prefix filter (the Chaudhuri/Xiao prefix theorem, containment
    form): if |A ∩ B| >= ceil(t*|A|) then A's first
    |A| - ceil(t*|A|) + 1 shingles in a GLOBAL rarest-first order
    (df asc, hash asc) must intersect B — so only that short prefix
    probes the full posting index, and candidate cost is the df-sum of
    each doc's RAREST shingles, not all of them. The threshold cut
    {_CONT_DEN}*i >= {_CONT_NUM}*n and the prefix length use exact
    integer arithmetic (a float ceil(0.8*n) straddles ULP boundaries).

    Scale shape: distinct (doc, gram-hash) pairs once (array-native
    shingles); df via one hash groupBy; the within-doc rarity rank
    windows over one document's shingles (bounded by doc length); the
    prefix->index probe is an equi-join on the hash whose skew AQE
    splits; verification attaches the two hashed-shingle ARRAYS per
    candidate pair and intersects in-task — per-pair work bounded by
    the two doc lengths, never |A| x |B|, and the candidate stream
    shuffles ids only (guide §2.3)."""
    t = load_table(
        spark, sf_dir, "documents", spread=True, bytes_per_task=256 * 1024
    ).select("doc_id", tokens_ws("text").alias("toks"))
    # pin the ARRAY form (doc-sized rows) — the exploded posting
    # list AND the verify legs both derive from it, and the md5 shingle
    # pipeline runs exactly once either way, but the array table is the
    # shape verification wants (see below)
    arr = pin(
        t.select(
            "doc_id",
            F.array_distinct(F.transform(shingles("toks"), lambda s: hash64(s))).alias(
                "sh"
            ),
        )
    )
    sh = arr.select("doc_id", F.explode("sh").alias("g"))
    sz = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    dfq = sh.groupBy("g").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "g")
    pref = (
        sh.join(dfq, "g")
        .select("doc_id", "g", F.row_number().over(w).alias("rk"))
        .join(sz, "doc_id")
        .filter(
            F.col("rk")
            <= F.col("n")
            - F.expr(f"({_CONT_NUM} * n + {_CONT_DEN - 1}) DIV {_CONT_DEN}")
            + 1
        )
        .select(F.col("doc_id").alias("doc_a"), "g")
    )
    cand = (
        pref.join(sh.select(F.col("doc_id").alias("doc_b"), "g"), "g")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    # Verification via array_intersect over the hashed-shingle ARRAYS
    # (the minhash_verified_pairs shape — provably identical here
    # because the oracle intersects the SAME hash64 values, both sides
    # distinct): the pre-r10 formulation exploded every candidate pair
    # to |A| posting rows (sf0.1: 299k candidates -> ~39M join rows)
    # and re-aggregated them, a guide-§2.3 payload shuffle; the array
    # join touches each candidate once and the per-pair hash-set
    # intersect is bounded by the two doc lengths (measured: the
    # verify leg 5.2 -> ~1.5 s at sf0.1, exec 7.2 -> ~4 s).
    inter = (
        cand.join(
            arr.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")),
            "doc_a",
        )
        .join(
            arr.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("i"),
            F.size("sh_a").alias("n"),
        )
    )
    return (
        inter.filter(_CONT_DEN * F.col("i") >= _CONT_NUM * F.col("n"))
        .select(
            "doc_a",
            "doc_b",
            F.col("n").cast("long").alias("n_a"),
            F.col("i").cast("long").alias("inter"),
            F.round(F.col("i") * 1.0 / F.col("n"), 4).alias("containment"),
        )
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# MinHash estimator-error audit — how good is m/8 as a Jaccard
# estimate on the pairs the index actually surfaces? The measurement
# that sizes (bands, rows) choices, in the same registered-audit
# spirit as dedup_lsh_recall_report.
# ---------------------------------------------------------------------------


@register(
    "minhash_estimator_error_report",
    oracle=f"""
WITH {_PAIRS_CTES},
m AS (
  SELECT c.da, c.db,
         {" + ".join(f"CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END" for i in range(_N_HASHES))}
           AS m_matches
  FROM cand c JOIN sig sa ON sa.doc_id = c.da JOIN sig sb ON sb.doc_id = c.db
),
ex AS (
  SELECT m.da, m.db, m.m_matches,
         COALESCE(i.i, 0) AS i,
         sa.n + sb.n - COALESCE(i.i, 0) AS u
  FROM m
  JOIN sz sa ON sa.doc_id = m.da
  JOIN sz sb ON sb.doc_id = m.db
  LEFT JOIN inter i ON i.da = m.da AND i.db = m.db
),
q AS (
  SELECT m_matches,
         CAST(m_matches * 125000 AS BIGINT) AS est_q,
         CAST(round(i * 1000000.0 / u) AS BIGINT) AS ex_q
  FROM ex WHERE u > 0
)
SELECT m_matches,
       CAST(count(*) AS BIGINT) AS n_pairs,
       round(sum(ex_q) * 1.0 / (count(*) * 1000000), 4) AS mean_exact_jaccard,
       round(sum(abs(est_q - ex_q)) * 1.0 / (count(*) * 1000000), 4) AS mean_abs_err,
       round(max(abs(est_q - ex_q)) / 1000000.0, 6) AS max_abs_err
FROM q
GROUP BY m_matches
ORDER BY m_matches
""",
)
def minhash_estimator_error_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator calibration over the pairs the LSH index
    actually surfaces: for each signature-agreement level m (of
    {_N_HASHES} components), the estimator says Jaccard ~ m/{_N_HASHES};
    this report puts the EXACT Jaccard of those candidate pairs next to
    it (mean, mean |error|, worst |error|). This is the audit that
    sizes (bands, rows): the estimator's bias/variance at the
    threshold level decides how many hashes verification can trust,
    and a fat error tail at low m is the empirical case for exact
    verification after candidate generation (which the registered
    dedup pipeline does). Candidates carry >= 1 matching band by
    construction, so m >= {_BAND_R}; both-empty pairs (u = 0, the
    sentinel-signature artifact) are excluded by the exact integer
    gate.

    Determinism: m is an exact integer component count; the exact
    Jaccard quantizes to a 1e-6 grid per pair (round of a <=2^53
    integer ratio — identical in both engines), so every aggregate is
    an integer sum/max with edge-only division; the PSI/Neyman grid
    discipline.

    Scale shape: reuses the cached signature/band index build of
    dedup_minhash_lsh (one corpus pass + banded equi-join candidates);
    the audit adds two CANDIDATE-sized lookups — unhinted, so AQE
    promotes them to broadcast at runtime from their true size (the
    r10 stats-less-join-side rule: candidate volume is corpus- and
    dup-rate-dependent, so a forced broadcast is the static trap) —
    and one {_N_HASHES}+1-row aggregate; no new corpus-sized work."""
    d = _hashed_shingle_arrays(spark, sf_dir).cache()
    sig = minhash_signatures(d).cache()
    bands = band_index(sig).cache()
    bands.count()  # eager build before the self-join probes it twice
    cand = band_candidates(bands, bands)
    sa = sig.select(
        F.col("doc_id").alias("da"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(_N_HASHES)],
    )
    sb = sig.select(
        F.col("doc_id").alias("db"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(_N_HASHES)],
    )
    m_col = reduce(
        lambda acc, i: acc
        + F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0),
        range(1, _N_HASHES),
        F.when(F.col("a0") == F.col("b0"), 1).otherwise(0),
    )
    withm = (
        cand.join(sa, "da").join(sb, "db").select(
            "da", "db", m_col.alias("m_matches")
        )
    )
    ex = (
        withm
        .join(d.select(F.col("doc_id").alias("da"), F.col("sh").alias("sh_a")), "da")
        .join(d.select(F.col("doc_id").alias("db"), F.col("sh").alias("sh_b")), "db")
        .select(
            "m_matches",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("i"),
            (
                F.size("sh_a") + F.size("sh_b")
                - F.size(F.array_intersect("sh_a", "sh_b"))
            ).alias("u"),
        )
    )
    q = ex.filter(F.col("u") > 0).select(
        "m_matches",
        (F.col("m_matches") * F.lit(1_000_000 // _N_HASHES)).alias("est_q"),
        F.round(F.col("i") * 1_000_000.0 / F.col("u")).cast("long").alias("ex_q"),
    )
    err = F.abs(F.col("est_q") - F.col("ex_q"))
    return (
        q.groupBy("m_matches")
        .agg(
            F.count("*").alias("n_pairs"),
            F.round(F.sum("ex_q") * 1.0 / (F.count("*") * 1_000_000), 4).alias(
                "mean_exact_jaccard"
            ),
            F.round(F.sum(err) * 1.0 / (F.count("*") * 1_000_000), 4).alias(
                "mean_abs_err"
            ),
            F.round(F.max(err) / 1_000_000.0, 6).alias("max_abs_err"),
        )
        .orderBy("m_matches")
    )


# ---------------------------------------------------------------------------
# Soft dedup: duplicate-aware down-weighting instead of dropping
# ---------------------------------------------------------------------------


@register(
    "soft_dedup_weights",
    oracle=f"""
WITH RECURSIVE {_PAIRS_CTES},
edges2 AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION
  SELECT doc_b AS s, doc_a AS d FROM pairs
),
reach(src, dst) AS (
  SELECT s, d FROM edges2
  UNION
  SELECT r.src, e.d FROM reach r JOIN edges2 e ON r.dst = e.s
),
comp AS (
  SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
  FROM reach GROUP BY src
),
csize AS (SELECT cluster_id, count(*) AS c FROM comp GROUP BY cluster_id),
docs AS (
  SELECT doc_id, source,
         CASE WHEN text IS NULL THEN 0
              ELSE len(string_split(text, ' ')) END AS n_toks
  FROM documents
),
weighted AS (
  SELECT d.source, d.n_toks, coalesce(cs.c, 1) AS c
  FROM docs d
  LEFT JOIN comp ON d.doc_id = comp.doc_id
  LEFT JOIN csize cs ON comp.cluster_id = cs.cluster_id
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
       CAST(sum(n_toks) AS BIGINT) AS n_tokens,
       round(sum(1.0 / c), 4) AS soft_mass,
       round(sum(n_toks * 1.0 / c), 2) AS effective_tokens,
       round(sum(1.0 / c) / count(*), 4) AS keep_ratio
FROM weighted
GROUP BY source
ORDER BY source
""",
)
def soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SoftDeDup down-weighting (Xue et al., ACL Findings 2024): instead
    of DROPPING near-duplicates, every document gets sampling weight
    1 / commonness, where commonness is the size of its verified
    near-dup cluster (the same MinHash-LSH + exact-Jaccard + connected
    components as dedup_clusters; singletons and docs too short to
    shingle keep weight 1). A cluster of c copies then contributes
    total mass 1 — hard dedup's keep-one policy — while preserving
    intra-cluster diversity for the sampler. Per source: document and
    token counts, the soft mass (sum of weights), the weighted
    effective token count the corpus contributes to a training mix,
    and the keep ratio (soft mass / docs).

    Scale shape: the cluster table is built once from the verified
    pairs (banded equi-join, never all-pairs) and is proportional to
    DUPLICATED docs only; weight assignment is two narrow equi-joins
    ((doc_id, cluster_id) then (cluster_id, c)) against the corpus scan
    followed by one (source) aggregate — no step touches the corpus
    more than once, so the whole report rides the dedup pipeline's
    existing 100 TB story. The oracle replays the clusters with the
    recursive CTE shared by both components algorithms."""
    from http_log_anonymizer_spark.operators.components import connected_components

    pairs = minhash_verified_pairs(spark, sf_dir)
    comp = connected_components(pairs, src="doc_a", dst="doc_b").select(
        F.col("node").alias("doc_id"), F.col("cluster").alias("cluster_id")
    )
    csize = comp.groupBy("cluster_id").agg(F.count("*").alias("c"))
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.when(F.col("text").isNull(), F.lit(0))
        .otherwise(F.size(tokens_ws("text")))
        .cast("long")
        .alias("n_toks"),
    )
    weighted = (
        docs.join(comp, "doc_id", "left")
        .join(csize, "cluster_id", "left")
        .select("source", "n_toks", F.coalesce("c", F.lit(1)).alias("c"))
    )
    w = F.lit(1.0) / F.col("c")
    return (
        weighted.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("c") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_docs"),
            F.sum("n_toks").cast("long").alias("n_tokens"),
            F.round(F.sum(w), 4).alias("soft_mass"),
            F.round(F.sum(F.col("n_toks") * w), 2).alias("effective_tokens"),
            F.round(F.sum(w) / F.count("*"), 4).alias("keep_ratio"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Split leakage: near-dup pairs crossing the train/val/test boundary
# ---------------------------------------------------------------------------

# The split rule IS train_val_test_split's (plans/sampling.py): hash64
# of doc_id under the "split" seed, 80/10/10. Keep in lockstep.
_SPLIT_CASE = (
    "CASE WHEN {h} % 100 < 80 THEN 'train' "
    "WHEN {h} % 100 < 90 THEN 'val' ELSE 'test' END"
)


@register(
    "split_leakage_report",
    oracle=f"""
WITH {_PAIRS_CTES},
cls AS (
  SELECT doc_a, doc_b, jr,
         least({_SPLIT_CASE.format(h=hash64_sql("CAST(doc_a AS VARCHAR)", "split"))},
               {_SPLIT_CASE.format(h=hash64_sql("CAST(doc_b AS VARCHAR)", "split"))})
           AS split_a,
         greatest({_SPLIT_CASE.format(h=hash64_sql("CAST(doc_a AS VARCHAR)", "split"))},
                  {_SPLIT_CASE.format(h=hash64_sql("CAST(doc_b AS VARCHAR)", "split"))})
           AS split_b
  FROM pairs
),
grp AS (
  SELECT split_a, split_b, count(*) AS n_pairs,
         round(max(jr), 3) AS max_jaccard
  FROM cls GROUP BY split_a, split_b
),
docs AS (
  SELECT split_a, split_b, count(DISTINCT d) AS n_docs FROM (
    SELECT split_a, split_b, doc_a AS d FROM cls
    UNION ALL
    SELECT split_a, split_b, doc_b AS d FROM cls
  ) GROUP BY split_a, split_b
)
SELECT g.split_a, g.split_b, g.n_pairs, d.n_docs, g.max_jaccard,
       g.split_a <> g.split_b AS is_leak
FROM grp g JOIN docs d ON g.split_a = d.split_a AND g.split_b = d.split_b
ORDER BY g.split_a, g.split_b
""",
)
def split_leakage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-contamination check: verified near-duplicate pairs that
    CROSS the train/val/test boundary (the split rule is
    train_val_test_split's deterministic hash, kept in lockstep) —
    the classic ordering bug where splitting happens before dedup, so
    the test set contains near-copies of training documents and every
    eval number is inflated (Lee et al. 2022 measured this on C4/Wiki40B
    derivatives). Per unordered split pair: pair count, distinct
    documents involved, worst-case Jaccard, and the is_leak verdict —
    any non-zero cross-split row means dedup (or leakage removal) must
    run BEFORE the split is consumed.

    Scale shape: classification is a projection over the verified-pair
    table (already candidate-bounded by the banded LSH join, never
    all-pairs); the rollup groups at most 6 unordered split pairs, and
    the distinct-doc count shuffles only pair endpoints. Rides the
    dedup pipeline's existing 100 TB story end to end."""
    pairs = minhash_verified_pairs(spark, sf_dir)

    def split_of(c: str):
        b = hash64(F.col(c).cast("string"), "split") % 100
        return (
            F.when(b < 80, "train").when(b < 90, "val").otherwise("test")
        )

    cls = pairs.select(
        "doc_a",
        "doc_b",
        "jr",
        F.least(split_of("doc_a"), split_of("doc_b")).alias("split_a"),
        F.greatest(split_of("doc_a"), split_of("doc_b")).alias("split_b"),
    )
    grp = cls.groupBy("split_a", "split_b").agg(
        F.count("*").alias("n_pairs"),
        F.round(F.max("jr"), 3).alias("max_jaccard"),
    )
    docs = (
        cls.select(
            "split_a", "split_b", F.explode(F.array("doc_a", "doc_b")).alias("d")
        )
        .groupBy("split_a", "split_b")
        .agg(F.countDistinct("d").alias("n_docs"))
    )
    return (
        grp.join(docs, ["split_a", "split_b"])
        .select(
            "split_a",
            "split_b",
            "n_pairs",
            "n_docs",
            "max_jaccard",
            (F.col("split_a") != F.col("split_b")).alias("is_leak"),
        )
        .orderBy("split_a", "split_b")
    )
