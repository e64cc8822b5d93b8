"""Suffix-array exact-substring dedup (operators/suffix_array.py +
plans/dedup.py:suffix_array_dup_report): construction invariants on a
hand-checkable corpus, and the equivalence contract with the fixed-K
window approximation (dup_span_report)."""

from __future__ import annotations

from pyspark.sql import functions as F

from http_log_anonymizer_spark.operators.materialize import pin
from http_log_anonymizer_spark.operators.suffix_array import (
    adjacent_lcp,
    adjacent_lcp_plcp,
    build_rank_tables,
    cumsum_by_range,
    pair_lcp,
    prefix_max_by_range,
    ranked,
    suffix_order,
)

SF = "/root/testdata/sf0.001"


def _tiny_corpus(spark):
    # "a b c a b" + sentinel — small enough to verify by hand
    toks = ["a", "b", "c", "a", "b", "\x00x"]
    return spark.createDataFrame(
        [(i + 1, t) for i, t in enumerate(toks)], "gpos long, tok string"
    )


def test_ranked_is_dense_rank(spark):
    df = spark.createDataFrame([(x,) for x in [3, 1, 3, 7, 1]], "v long")
    got = {r.v: r.r for r in ranked(df, ["v"]).collect()}
    assert got == {1: 1, 3: 2, 7: 3}


def test_cumsum_by_range_matches_sequential(spark):
    rows = [(i, i % 3) for i in range(1, 101)]
    df = spark.createDataFrame(rows, "k long, v long")
    got = {r.k: r.cum for r in cumsum_by_range(df, "k", "v").collect()}
    acc, want = 0, {}
    for k, v in rows:
        acc += v
        want[k] = acc
    assert got == want


def test_suffix_order_and_lcp_on_tiny_corpus(spark):
    """Reference check: suffixes of 'a b c a b $' sorted, with the
    known adjacent LCPs ($ sorts first; 'a b c...' vs 'a b $' share 2
    tokens; 'b c a b $' vs 'b $' share 1)."""
    tokens = _tiny_corpus(spark)
    tables = build_rank_tables(tokens, 3)  # 2^3 = 8 >= corpus length
    sa = suffix_order(tables[-1])
    order = [
        r.gpos for r in sa.orderBy("sa_idx").collect()
    ]
    # suffixes: 1:'a b c a b $' 2:'b c a b $' 3:'c a b $' 4:'a b $'
    #           5:'b $'         6:'$'
    assert order == [6, 4, 1, 5, 2, 3]
    al = {r.sa_idx: r.lcp for r in adjacent_lcp(sa, tables, tokens).collect()}
    # $ | a b $ (0) | a b c.. (2) | b $ (0) | b c .. (1) | c .. (0)
    assert al == {1: 0, 2: 0, 3: 2, 4: 0, 5: 1, 6: 0}


def test_report_equals_fixed_k_approximation(spark):
    """The directive's equivalence bar (VERDICT r04 item 9): at the
    same threshold, maximal-span coverage from the suffix array must
    union to EXACTLY the windows the hash-based approximation marks —
    per doc: same n_dup_tokens, same islands, same fraction. (The SA
    adds max_dup_span, which the window method cannot observe.)"""
    from http_log_anonymizer_spark.plans import REGISTRY

    sa = {
        r.doc_id: (r.n_tokens, r.n_dup_tokens, r.dup_frac, r.n_islands)
        for r in REGISTRY["suffix_array_dup_report"].spark_fn(spark, SF).collect()
    }
    ap = {
        r.doc_id: (r.n_tokens, r.n_dup_tokens, r.dup_frac, r.n_islands)
        for r in REGISTRY["dup_span_report"].spark_fn(spark, SF).collect()
    }
    assert sa == ap


def test_max_dup_span_bounds(spark):
    """max_dup_span sanity: zero iff no duplicated tokens; otherwise
    >= the threshold and <= the document's token count."""
    from http_log_anonymizer_spark.plans import REGISTRY
    from http_log_anonymizer_spark.plans.dedup import _SA_MINLEN

    rows = REGISTRY["suffix_array_dup_report"].spark_fn(spark, SF).collect()
    assert any(r.max_dup_span > 0 for r in rows)
    for r in rows:
        if r.n_dup_tokens == 0:
            assert r.max_dup_span == 0
        else:
            assert _SA_MINLEN <= r.max_dup_span <= r.n_tokens
            assert r.max_dup_span <= r.n_dup_tokens


def test_pair_lcp_on_tiny_corpus(spark):
    """Direct binary-descent pair LCP: 'a b c a b $' — suffixes at
    gpos 1 ('a b c a b $') and 4 ('a b $') share 2 tokens; 2 and 5
    share 1; 1 and 2 share 0."""
    tokens = _tiny_corpus(spark)
    tables = build_rank_tables(tokens, 3)
    pairs = spark.createDataFrame(
        [(1, 4), (2, 5), (1, 2), (3, 6)], "ga long, gb long"
    )
    got = {
        (r.ga, r.gb): r.lcp
        for r in pair_lcp(pairs, tables, "ga", "gb", tokens).collect()
    }
    assert got == {(1, 4): 2, (2, 5): 1, (1, 2): 0, (3, 6): 0}


def test_pin_breaks_quadratic_chains(spark):
    """Regression pin for the Spark 4.1.2 behavior that motivated
    pin(): a chained self-join loop where each level is materialized
    by localCheckpoint re-executes GROWING work per level over a base
    from this module (measured: 0.3, 0.5, 1.1, 2.7, 7.4 s ... at a
    constant 28k rows), while a parquet round-trip stays flat. This
    test asserts the pin()-ed chain completes a depth that the
    checkpoint chain demonstrably cannot within the same budget —
    flat-cost per level on a small table."""
    import time

    from pyspark.sql import functions as F

    base = pin(
        spark.range(20000).select(
            F.col("id").alias("i"), (F.col("id") % 5).alias("v")
        )
    )
    prev = base
    times = []
    for r in range(1, 9):
        h = 1 << (r - 1)
        b = prev.select((F.col("i") - h).alias("i"), F.col("v").alias("vb"))
        t0 = time.perf_counter()
        prev = pin(prev.join(b, "i").select("i", F.least("v", "vb").alias("v")))
        times.append(time.perf_counter() - t0)
    # flat: the last level must not cost more than 5x the median level
    mid = sorted(times)[len(times) // 2]
    assert times[-1] < 5 * mid + 1.0, times


def test_selfrep_detects_planted_repetition(spark, tmp_path):
    """A document repeating an 8-token phrase twice (separated by a
    non-matching token) must be flagged with exactly two 8-token
    islands and max_rep_span 8; an all-distinct doc must report zero.
    (At sf0.001 no intra-doc 8-token repeats exist — the oracle-parity
    run there is all-zero on both engines — so this plants its own.)"""
    from http_log_anonymizer_spark.plans import REGISTRY

    phrase = " ".join(f"p{i}" for i in range(8))
    docs = [
        (1, f"{phrase} z {phrase}"),          # 17 tokens, repeat of 8
        (2, " ".join(f"q{i}" for i in range(12))),  # no repetition
    ]
    spark.createDataFrame(docs, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "documents.parquet"))

    rows = {
        r.doc_id: r
        for r in REGISTRY["suffix_selfrep_report"].spark_fn(spark, str(tmp_path)).collect()
    }
    r1, r2 = rows[1], rows[2]
    assert (r1.n_rep_tokens, r1.n_islands, r1.max_rep_span) == (16, 2, 8)
    assert (r2.n_rep_tokens, r2.n_islands, r2.max_rep_span) == (0, 0, 0)


def test_intra_doc_repeat_at_sa_tail_is_not_cross_doc(spark, tmp_path):
    """ADVICE r05 (medium): the corpus-LAST suffix has no successor, so
    its nl is NULL — and a min() that SKIPS the NULL lets the final
    same-doc run's intra-document adjacent LCPs impersonate the
    (nonexistent) next other-document neighbor. Plant exactly that
    shape: doc 2 is ten repeated 'z' tokens (z sorts after every doc-1
    token and after the sentinels, so its suffixes occupy the SA tail)
    with ZERO cross-document overlap. Pre-fix both engines reported
    n_dup_tokens=9 / dup_frac=0.9 / max_dup_span=9 for doc 2; the
    contract says 0. The selfrep report must still see the repetition
    (it is intra-doc), which pins that the fix floors the CROSS-doc
    chain only."""
    import duckdb

    from http_log_anonymizer_spark.plans import REGISTRY

    docs = [
        (1, " ".join(f"q{i}" for i in range(12))),  # all-distinct filler
        (2, " ".join(["z"] * 10)),                  # intra-doc repeat, SA tail
    ]
    spark.createDataFrame(docs, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "documents.parquet"))

    q = REGISTRY["suffix_array_dup_report"]
    rows = {r.doc_id: r for r in q.spark_fn(spark, str(tmp_path)).collect()}
    assert (rows[1].n_dup_tokens, rows[1].n_islands, rows[1].max_dup_span) == (0, 0, 0)
    assert (rows[2].n_dup_tokens, rows[2].n_islands, rows[2].max_dup_span) == (0, 0, 0)
    assert rows[2].dup_frac == 0.0

    # the oracle must agree on the planted corpus (shared-flaw guard:
    # both engines had the bug, so sf-parity alone could never catch it)
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"'{tmp_path}/documents.parquet/*.parquet'"
        )
        duck = con.execute(q.oracle).df()
    finally:
        con.close()
    from tests.oracle import compare

    ok, msg = compare(q.spark_fn(spark, str(tmp_path)), duck)
    assert ok, msg

    # intra-doc repetition is still visible to the SELFREP report
    rep = {
        r.doc_id: r
        for r in REGISTRY["suffix_selfrep_report"].spark_fn(spark, str(tmp_path)).collect()
    }
    assert rep[2].n_rep_tokens == 10 and rep[2].max_rep_span == 9


def test_pin_honors_configured_scratch_root(spark, tmp_path):
    """ADVICE r05: on a multi-node cluster pin() and the vector side
    inputs must write to shared storage, not the driver's local
    tempdir — spark.graft.scratchDir routes every scratch write. Both
    must land under the configured root and read back intact."""
    from http_log_anonymizer_spark.operators.side_input import read_shard, shard_vectors

    root = tmp_path / "shared-scratch"
    spark.conf.set("spark.graft.scratchDir", str(root))
    try:
        df = pin(spark.range(100).select(F.col("id").alias("i")))
        assert df.count() == 100
        files = df.inputFiles()
        assert files and all(str(root) in f for f in files), (
            "pin() did not use the configured scratch root"
        )
        vecs = spark.range(10).select(
            F.col("id").alias("vec_id"), F.array(F.col("id") * 1.0, F.lit(1.0)).alias("ue")
        )
        side, n_shards = shard_vectors(vecs, 10, 2)
        assert side.startswith(str(root)), "shard_vectors ignored the scratch root"
        ids = [read_shard(f"{side}/_shard={k}", 2)[0] for k in range(n_shards)]
        assert sorted(i for a in ids for i in a.tolist()) == list(range(10))
    finally:
        spark.conf.unset("spark.graft.scratchDir")


def test_prefix_max_by_range_matches_sequential(spark):
    rows = [(i, v) for i, v in enumerate([None, 3, None, None, 7, 2, None, 9, None])]
    df = spark.createDataFrame(rows, "o long, v long")
    got = {r.o: r.pmax for r in prefix_max_by_range(df, "o", "v").collect()}
    run, want = None, {}
    for o, v in rows:
        if v is not None and (run is None or v > run):
            run = v
        want[o] = -1 if run is None else run
    assert got == want


def test_plcp_variant_equals_full_descent_tiny(spark):
    tokens = _tiny_corpus(spark)
    tables = build_rank_tables(tokens, 3)
    sa = suffix_order(tables[-1])
    full = {r.sa_idx: (r.gpos, r.prv, r.lcp)
            for r in adjacent_lcp(sa, tables, tokens).collect()}
    plcp = {r.sa_idx: (r.gpos, r.prv, r.lcp)
            for r in adjacent_lcp_plcp(sa, tables, tokens).collect()}
    assert plcp == full


def test_one_pass_rounds_equal_dense_rounds(spark):
    """The r10 one-pass non-dense doubling rounds (build_rank_tables
    with n_rows) must produce the IDENTICAL suffix order and adjacent
    LCPs as the dense sampled-range path — rank tables are internal,
    only order/equality of ranks is contracted, and this pins that
    invariance on a duplication-heavy corpus."""
    docs = [
        "the cat sat on the mat and the cat sat again",
        "the cat sat on the mat and the dog sat again",
        "a completely different document with fresh words here",
    ]
    toks = []
    for d, text in enumerate(docs):
        toks += text.split() + [f"\x00{d}"]
    tokens = spark.createDataFrame(
        [(i + 1, t) for i, t in enumerate(toks)], "gpos long, tok string"
    )
    n = len(toks)
    dense_tables = build_rank_tables(tokens, 6)
    dense_sa = suffix_order(dense_tables[-1])
    fast_tables = build_rank_tables(tokens, 6, n_rows=n)
    fast_sa = suffix_order(fast_tables[-1], n_rows=n)
    dense_order = [r.gpos for r in dense_sa.orderBy("sa_idx").collect()]
    fast_order = [r.gpos for r in fast_sa.orderBy("sa_idx").collect()]
    assert fast_order == dense_order
    dense_lcp = {
        r.sa_idx: r.lcp
        for r in adjacent_lcp(dense_sa, dense_tables, tokens).collect()
    }
    fast_lcp = {
        r.sa_idx: r.lcp
        for r in adjacent_lcp(fast_sa, fast_tables, tokens).collect()
    }
    assert fast_lcp == dense_lcp
    # non-dense ranks are still positive (the rb-coalesce-0 floor)
    assert fast_tables[-1].agg(F.min("r")).first()[0] >= 1


def test_plcp_variant_equals_full_descent_duplicated_corpus(spark):
    """A duplication-heavy corpus (the operator's target workload):
    three near-identical documents with per-doc sentinels — reducible
    positions dominate, every telescoped value must still be exact."""
    docs = [
        "the cat sat on the mat and the cat sat again",
        "the cat sat on the mat and the dog sat again",
        "the cat sat on the mat and the cat sat again",
        "a completely different document with fresh words here",
    ]
    toks = []
    for d, text in enumerate(docs):
        toks += text.split() + [f"\x00{d}"]
    tokens = spark.createDataFrame(
        [(i, t) for i, t in enumerate(toks)], "gpos long, tok string"
    )
    tables = build_rank_tables(tokens, 6)  # 2^6 = 64 >= corpus length
    sa = suffix_order(tables[-1])
    full = {r.sa_idx: r.lcp for r in adjacent_lcp(sa, tables, tokens).collect()}
    plcp = {r.sa_idx: r.lcp for r in adjacent_lcp_plcp(sa, tables, tokens).collect()}
    assert plcp == full
    assert max(full.values()) >= 10  # the planted duplication is seen
