"""Distributed suffix-array construction + LCP — the FULL exact-
substring machinery of Lee et al. 2022 ("Deduplicating Training Data
Makes Language Models Better", ExactSubstr), as opposed to the fixed-K
shared-window approximation in ``plans/dedup.py:dup_span_report``.

Construction (token-level, over the sentinel-concatenated corpus):

- **Prefix doubling** (Manber & Myers 1990) with a **radix-2 start**
  (r05 verdict item 6): rank_0 orders token PAIRS directly — one
  ranked() round cheaper than doubling up from single tokens — and
  round k then orders prefixes of length 2^(k+1) by the pair
  (rank_{k-1}[i], rank_{k-1}[i + 2^k] or 0), re-densified each round.
  Every rank is an exact integer produced by a deterministic total
  order, so a FIXED number of rounds replays in SQL as unrolled
  dense_rank CTEs (:func:`suffix_sql_parts`).
- **Adjacent LCP by binary descent** over the retained rank tables:
  lcp += 2^(k+1) whenever rank_k matches at the current offset, k
  from high to low, then one raw-token equality step (+1) restores
  the single-token granularity the pair tables skip — the standard
  parallel alternative to Kasai's sequential scan. Per-doc unique
  sentinels (chr(0) || doc_id) bound every common prefix at document
  ends, so concatenated-corpus LCPs are document-local by
  construction.

Scale discipline — NO single-task global windows anywhere:

- :func:`ranked`: distributed dense rank = distinct keys ->
  ``repartitionByRange`` (total order across partitions; the TeraSort
  layout) -> per-PARTITION row_number window (parallel) + per-partition
  count offsets (a #partitions-row table, broadcast-joined back — no
  driver collect between the sequential doubling rounds).
- :func:`cumsum_by_range`: distributed prefix sum with the same
  two-level pattern (range partition, per-partition cumsum, offsets of
  per-partition totals).
- lag/lead along suffix order are equi-joins on ``sa_idx ± 1``, not
  windows; run-scoped mins partition by the (distributed) run id.

Per round the work is one distinct + one range shuffle + one
rank-join — O(N log maxlen) total, the textbook distributed SA cost.
The corpus never visits the driver; driver state is #partitions-sized
offset arrays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from http_log_anonymizer_spark.operators.materialize import pin


def _range_parts(df: DataFrame) -> int:
    """Range-partition count for the two-level rank/cumsum patterns:
    the session's data-proportional ``spark.sql.shuffle.partitions``
    (session.py:shuffle_partitions_for_sf — 8 at sf0.1, 80 at sf1,
    256 at sf10), capped at the default parallelism. Results are
    partition-count-independent (ranks/cumsums are computed from
    actual partition contents), so this is purely a cost knob: the
    r10 profile showed each pin of a 32-way range layout costing
    2-5 s at sf0.1 (32 near-empty files + commit + sample per
    sequential doubling round) while the data fills 2-8 partitions;
    at sf>=10 (and on any real cluster, where shuffle partitions are
    sized >= cores) the cap keeps the old defaultParallelism value."""
    spark = df.sparkSession
    sc = spark.sparkContext
    try:
        shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        shuffle_parts = sc.defaultParallelism
    return max(2, min(sc.defaultParallelism, shuffle_parts))


def _partition_offsets(
    sizes: DataFrame, agg_col: str, running: str
) -> DataFrame:
    """(_pid, <running>): per-partition exclusive running aggregate of
    ``agg_col`` in _pid order — the offsets table of the two-level
    rank/cumsum/prefix-max pattern, kept DISTRIBUTED (a window over a
    #partitions-row table, broadcast-joined by the caller) instead of
    the pre-r10 driver ``collect()`` + literal-map rebuild: each
    collect was a synchronous extra job between the sequential
    doubling rounds (~1-2.3 s per call at sf0.1, x10 calls per suffix
    query) plus hundreds of py4j literal calls for the map. The
    single-partition window is bounded by the partition COUNT, never
    the data (the storage_grid literal-grid argument)."""
    w = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    return sizes.select("_pid", F.sum(agg_col).over(w).alias(running))


def ranked(df: DataFrame, cols: list[str], out: str = "r") -> DataFrame:
    """(cols..., out): DENSE rank of each distinct ``cols`` tuple under
    its natural ascending order — bit-equal to SQL's
    ``dense_rank() OVER (ORDER BY cols)`` but computed distributed:
    distinct keys are range-partitioned (global total order across
    partitions), ranked per-partition in parallel, and shifted by the
    cumulative counts of earlier partitions (a #partitions-row offsets
    table, broadcast-joined — no driver collect). Join the result back
    on ``cols`` to rank a full table."""
    d = (
        df.select(*cols)
        .distinct()
        .repartitionByRange(_range_parts(df), *[F.col(c) for c in cols])
        .withColumn("_pid", F.spark_partition_id())
    )
    # pinned: stabilizes the sampled range boundaries across the
    # consuming subplans (an unpinned range exchange would re-sample
    # per consumer — offsets from one sampling, _pids from another,
    # silently wrong ranks)
    d = pin(d)
    return _two_level_rank(d, cols, out)


def _two_level_rank(d: DataFrame, cols: list[str], out: str) -> DataFrame:
    """Shared tail of :func:`ranked` / :func:`ranked_numeric`: per-_pid
    row_number + broadcast-joined exclusive partition-count offsets
    over an already-pinned, _pid-labelled distinct-key table."""
    sizes = d.groupBy("_pid").agg(F.count("*").alias("n"))
    offs = _partition_offsets(sizes, "n", "_off").select(
        "_pid", F.coalesce("_off", F.lit(0)).alias("_off")
    )
    w = Window.partitionBy("_pid").orderBy(*cols)
    return (
        d.join(F.broadcast(offs), "_pid")
        .select(
            *cols,
            (F.row_number().over(w) + F.col("_off")).cast("long").alias(out),
        )
    )


def ranked_numeric(
    df: DataFrame, cols: list[str], n_max: int, out: str = "r",
    assume_unique: bool = False,
) -> DataFrame:
    """:func:`ranked` for keys whose LEADING column is an integer in
    [1, n_max] (the doubling rounds' previous-round dense ranks; the
    final suffix order's total rank): the order-preserving bucket id is
    ARITHMETIC — ``((c0 - 1) * P) div n_max`` — instead of a sampled
    RangePartitioner, which removes the per-round sampling pass over
    the distinct-key subtree (measured r10: one fewer sequential job
    per doubling round) and makes placement deterministic by
    construction (a bucket COLUMN cannot disagree with itself across
    the offsets and row_number consumers). Keys with equal leading
    values never split across buckets, so the lexicographic (cols)
    order is respected exactly; bucket balance tracks the leading
    rank's density, which after the first doubling rounds approaches
    the corpus positions themselves (ranks unique-ify geometrically).
    The clamp is belt-and-braces against contract drift — monotonicity
    is what correctness needs, and least/greatest preserve it.
    ``assume_unique`` skips the distinct when the caller guarantees
    key tuples are unique (the final suffix order's total rank), where
    row_number IS dense rank."""
    parts = _range_parts(df)
    pid = F.expr(
        f"CAST(least({parts - 1}, greatest(0, "
        f"(({cols[0]} - 1) * {parts}) DIV {n_max})) AS INT)"
    )
    d = df.select(*cols)
    if not assume_unique:
        d = d.distinct()
    d = d.withColumn("_pid", pid)
    # NO internal pin (unlike ranked()): the pin there exists to make
    # the SAMPLED placement consistent across the offsets and
    # row_number consumers; an arithmetic bucket column is consistent
    # by construction, re-executed or not. Lineage truncation across
    # rounds is the per-round pin(nr) in build_rank_tables; within one
    # round the duplicated distinct subtree (offsets branch + window
    # branch) shares its exchanges via stage reuse. Measured r10: one
    # fewer 0.5-1.5 s materialization job per doubling round.
    return _two_level_rank(d, cols, out)


def cumsum_by_range(
    df: DataFrame, order_col: str, val_col: str, out: str = "cum",
    n_max: int | None = None,
) -> DataFrame:
    """(*df.columns, out): running sum of ``val_col`` in ``order_col``
    order (inclusive of the current row), computed with the same
    two-level pattern as :func:`ranked` — per-partition window plus
    per-partition total offsets. ``order_col`` values must be unique
    (they are suffix positions here). ``n_max`` (when ``order_col`` is
    an integer in [1, n_max], e.g. sa_idx) switches the bucket id to
    the :func:`ranked_numeric` arithmetic — no sampling pass, and
    near-perfect balance since the order values are unique."""
    if n_max:
        parts = _range_parts(df)
        d = df.withColumn(
            "_pid",
            F.expr(
                f"CAST(least({parts - 1}, greatest(0, "
                f"(({order_col} - 1) * {parts}) DIV {n_max})) AS INT)"
            ),
        )
    else:
        d = (
            df.repartitionByRange(_range_parts(df), F.col(order_col))
            .withColumn("_pid", F.spark_partition_id())
        )
    d = pin(d)  # same pin as ranked()
    totals = d.groupBy("_pid").agg(F.sum(val_col).alias("t"))
    offs = _partition_offsets(totals, "t", "_off").select(
        "_pid", F.coalesce("_off", F.lit(0)).alias("_off")
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        d.join(F.broadcast(offs), "_pid")
        .select(
            *df.columns,
            (F.sum(val_col).over(w) + F.col("_off")).cast("long").alias(out),
        )
    )


def build_rank_tables(
    tokens: DataFrame, rounds: int, n_rows: int | None = None
) -> list[DataFrame]:
    """rank tables [r_0 .. r_{rounds-1}], each (gpos, r): r_k orders
    corpus suffixes by their first 2^(k+1) tokens (dense,
    deterministic); the last table covers 2^rounds tokens, same as the
    pre-radix-2 scheme with one more table. ``tokens`` is (gpos long,
    tok string).

    RADIX-2 START (r05 verdict item 6): r_0 ranks token PAIRS
    (tok[i], tok[i+1]) directly instead of doubling up from single
    tokens — one ranked() round (distinct + range shuffle + rank join
    + pin) cheaper for the same coverage. The missing single-token
    granularity is restored in the LCP descent by a final raw-token
    equality step (+1), which is a plain equi-join against the token
    table — no rank build needed. The corpus-last position's missing
    successor coalesces to '' (sorts before every real token and every
    sentinel; its pair is unique anyway since the final sentinel is).

    ``n_rows`` (the corpus position count — free from the corpus pin's
    parquet footers, see :func:`pin_counted`) switches the numeric
    doubling rounds to the ONE-PASS re-rank below. The round-0
    STRING-pair rank always takes the sampled-range dense path.

    ONE-PASS NON-DENSE ROUNDS (r10, guide §2.4 "remove shuffles
    outright"): every consumer of a round's ranks — the next round's
    (ra, rb) pairs, the final suffix order, the LCP descents' equality
    probes — uses only the ranks' ORDER and EQUALITY, never their
    density (the per-round dense_rank in the SQL oracle is the
    oracle's own replay; final reports are invariant under any
    order-isomorphic positive re-ranking, which tests pin by running
    both paths to identical sa/LCP outputs). Dropping density lets a
    round be a single window pass over the pairs table:
    ``r = _pid * (n_rows + 1) + running_sum(key_changed)`` — pid-major
    arithmetic buckets, dense-within-bucket — with NO distinct
    aggregation, NO offsets branch, NO join-back. Plan per round:
    2 pinned scans -> gpos join -> one _pid exchange -> window ->
    write, down from the distinct + sampled range + sizes + rank-join
    chain (measured r10: ~8 AQE stage-jobs per round -> ~5, and the
    driver gap between stage-jobs was half the build wall at sf0.1).
    Values stay in [1, parts*(n_rows+1)) forever (pid < parts,
    local <= n_rows), so int64 is safe at any corpus this engine
    reaches (27M positions x 256 buckets ~ 7e9)."""
    nxt = tokens.select((F.col("gpos") - 1).alias("gpos"), F.col("tok").alias("tok2"))
    prs = (
        tokens.join(nxt, "gpos", "left")
        .select("gpos", "tok", F.coalesce("tok2", F.lit("")).alias("tok2"))
    )
    r0 = prs.join(ranked(prs, ["tok", "tok2"]), ["tok", "tok2"]).select("gpos", "r")
    tables = [pin(r0)]
    # current upper bound of rank values: r0 is dense (<= n_rows);
    # every one-pass round emits < parts * stride
    bound = n_rows
    for k in range(1, rounds):
        h = 1 << k  # the previous table covers 2^k tokens
        prev = tables[-1]
        b = prev.select((F.col("gpos") - h).alias("gpos"), F.col("r").alias("rb"))
        pairs = (
            prev.select("gpos", F.col("r").alias("ra"))
            .join(b, "gpos", "left")
            .select("gpos", "ra", F.coalesce("rb", F.lit(0)).alias("rb"))
        )
        if n_rows:
            parts = _range_parts(pairs)
            stride = n_rows + 1
            pid = F.expr(
                f"CAST(least({parts - 1}, greatest(0, "
                f"((ra - 1) * {parts}) DIV {bound})) AS INT)"
            )
            wp = Window.partitionBy("_pid").orderBy("ra", "rb")
            la, lb = F.lag("ra").over(wp), F.lag("rb").over(wp)
            chg = F.when(
                la.isNull() | (la != F.col("ra")) | (lb != F.col("rb")), 1
            ).otherwise(0)
            local = F.sum(chg).over(wp.rowsBetween(Window.unboundedPreceding, 0))
            nr = pairs.withColumn("_pid", pid).select(
                "gpos",
                (F.col("_pid").cast("long") * stride + local).cast("long").alias("r"),
            )
            bound = parts * stride
        else:
            nr = pairs.join(ranked(pairs, ["ra", "rb"]), ["ra", "rb"]).select(
                "gpos", "r"
            )
        tables.append(pin(nr))
    return tables


def suffix_order(last_rank: DataFrame, n_rows: int | None = None) -> DataFrame:
    """(gpos, sa_idx): suffix-array order. The final rank is total
    (unique sentinels), so ranking (r, gpos) is a row_number with a
    deterministic no-op tie-break — sa_idx itself MUST be dense 1..N
    (downstream adjacency is sa_idx ± 1 equi-joins). With ``n_rows``
    the bucket id is arithmetic on r, whose one-pass-round bound is
    parts * (n_rows + 1) (see :func:`build_rank_tables`; the clamp
    makes a stale bound a balance issue, never a correctness one), the
    distinct is skipped (rows are unique), and NO join-back is needed
    (row_number is computed on the full table directly)."""
    if n_rows:
        bound = _range_parts(last_rank) * (n_rows + 1)
        return ranked_numeric(
            last_rank, ["r", "gpos"], bound, out="sa_idx", assume_unique=True
        ).select("gpos", "sa_idx")
    return last_rank.join(
        ranked(last_rank, ["r", "gpos"], out="sa_idx"), ["r", "gpos"]
    ).select("gpos", "sa_idx")


def _sa_pairs(sa: DataFrame) -> DataFrame:
    """(sa_idx, gpos, prv, lcp=0): each suffix with its predecessor in
    suffix-array order (prv = -1 for sa_idx = 1)."""
    prev = sa.select((F.col("sa_idx") + 1).alias("sa_idx"), F.col("gpos").alias("prv"))
    return sa.join(prev, "sa_idx", "left").select(
        "sa_idx", "gpos", F.coalesce("prv", F.lit(-1)).alias("prv"),
        F.lit(0).cast("long").alias("lcp"),
    )


def _descent(
    cur: DataFrame, rank_tables: list[DataFrame], tokens: DataFrame
) -> DataFrame:
    """Binary LCP descent for a (sa_idx, gpos, prv, lcp) table: lcp +=
    2^(k+1) whenever rank_k matches at offset lcp, high table to low,
    then one raw-token equality step (+1). Runs on WHATEVER subset it
    is given — adjacent_lcp feeds it all N pairs, the PLCP variant
    only the irreducible ones."""
    for r in range(len(rank_tables) - 2, -1, -1):
        h = 1 << (r + 1)
        rt = rank_tables[r]
        ra = rt.select(F.col("gpos").alias("_ga"), F.col("r").alias("_ra"))
        rb = rt.select(F.col("gpos").alias("_gb"), F.col("r").alias("_rb"))
        cur = (
            cur.join(ra, cur.gpos + cur.lcp == ra._ga, "left")
            .join(rb, cur.prv + cur.lcp == rb._gb, "left")
            .select(
                "sa_idx",
                "gpos",
                "prv",
                F.when(
                    (F.col("prv") >= 0)
                    & F.col("_ra").isNotNull()
                    & F.col("_rb").isNotNull()
                    & (F.col("_ra") == F.col("_rb")),
                    F.col("lcp") + h,
                )
                .otherwise(F.col("lcp"))
                .alias("lcp"),
            )
        )
    ta = tokens.select(F.col("gpos").alias("_ga"), F.col("tok").alias("_ta"))
    tb = tokens.select(F.col("gpos").alias("_gb"), F.col("tok").alias("_tb"))
    return (
        cur.join(ta, cur.gpos + cur.lcp == ta._ga, "left")
        .join(tb, cur.prv + cur.lcp == tb._gb, "left")
        .select(
            "sa_idx",
            "gpos",
            "prv",
            F.when(
                (F.col("prv") >= 0)
                & F.col("_ta").isNotNull()
                & F.col("_tb").isNotNull()
                & (F.col("_ta") == F.col("_tb")),
                F.col("lcp") + 1,
            )
            .otherwise(F.col("lcp"))
            .alias("lcp"),
        )
    )


def adjacent_lcp(
    sa: DataFrame, rank_tables: list[DataFrame], tokens: DataFrame
) -> DataFrame:
    """(sa_idx, gpos, prv, lcp): LCP between each suffix and its
    predecessor in suffix-array order, by binary descent over the
    radix-2 rank tables (table k covers 2^(k+1) tokens; lcp += 2^(k+1)
    on a rank match at offset lcp, high table to low) plus a FINAL
    raw-token equality step (+1) that restores the single-token
    granularity the pair-start tables skip. Greedy exactness: the pair
    tables floor lcp to 2*floor(L/2) (any even value is a sum of
    distinct {2, 4, ..., 2^rounds}), and the token step supplies the
    odd unit. ``tokens`` is the (gpos, tok) corpus. sa_idx = 1 has no
    predecessor -> lcp = 0, prv = -1.

    Every pair pays the full descent (2 joins x rank tables + the
    token step); :func:`adjacent_lcp_plcp` is the measured-faster
    variant that descends only the IRREDUCIBLE pairs."""
    return _descent(_sa_pairs(sa), rank_tables, tokens)


def prefix_max_by_range(
    df: DataFrame, order_col: str, val_col: str, out: str = "pmax"
) -> DataFrame:
    """(*df.columns, out): running MAX of ``val_col`` in ``order_col``
    order (inclusive; nulls ignored), same two-level distributed
    pattern as :func:`cumsum_by_range` — per-partition window max plus
    the max over all EARLIER partitions (a #partitions-row offsets
    table, broadcast-joined). ``order_col`` values must be unique."""
    d = (
        df.repartitionByRange(_range_parts(df), F.col(order_col))
        .withColumn("_pid", F.spark_partition_id())
    )
    d = pin(d)  # same pin as ranked()
    maxes = d.groupBy("_pid").agg(F.max(val_col).alias("m"))
    wprev = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = maxes.select(
        "_pid",
        F.coalesce(F.max("m").over(wprev), F.lit(-1)).alias("_pmax_prev"),
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    part_max = F.max(val_col).over(w)
    return (
        d.join(F.broadcast(offs), "_pid")
        .select(
            *df.columns,
            F.greatest(F.coalesce(part_max, F.lit(-1)), F.col("_pmax_prev"))
            .cast("long")
            .alias(out),
        )
    )


def adjacent_lcp_plcp(
    sa: DataFrame, rank_tables: list[DataFrame], tokens: DataFrame
) -> DataFrame:
    """(sa_idx, gpos, prv, lcp): same output as :func:`adjacent_lcp`,
    computed via PLCP irreducibility (Karkkainen, Manzini & Puglisi,
    CPM 2009 — the theory behind Kasai's O(n) scan, VERDICT r07
    item 7): position i is REDUCIBLE iff tok[i-1] == tok[phi(i)-1]
    (phi(i) = the SA-predecessor suffix, our ``prv``); for reducible i,
    phi(i) = phi(i-1) + 1 and plcp(i) = plcp(i-1) - 1 EXACTLY — both
    suffixes extend the previous text position's pair by one shared
    leading token. So only the irreducible positions need the binary
    descent; every reducible run telescopes to
    ``plcp(anchor) - (i - anchor)`` where anchor is the nearest
    irreducible position <= i in TEXT order.

    Work: 2 token equi-joins to flag reducibility + descent over only
    the irreducible pairs + one distributed prefix-max + one anchor
    join — vs the full descent's (2 x tables + 2) corpus-sized joins
    on every pair. On duplicate-heavy corpora (the ones this operator
    exists for) reducible positions dominate, which is exactly the
    KMP09 observation that the number of irreducible LCP values is
    small. Exactness is unconditional — the telescoping lemma is an
    identity, not an approximation; parity with :func:`adjacent_lcp`
    is asserted in tests/test_suffix_array.py.

    Scale discipline unchanged: the prefix-max is the two-level
    range-partitioned scan (no single-task global window), all joins
    are equi-joins, nothing corpus-sized visits the driver."""
    base = _sa_pairs(sa)
    ta = tokens.select(F.col("gpos").alias("_ga"), F.col("tok").alias("_ta"))
    tb = tokens.select(F.col("gpos").alias("_gb"), F.col("tok").alias("_tb"))
    flagged = (
        base.join(ta, base.gpos - 1 == ta._ga, "left")
        .join(tb, base.prv - 1 == tb._gb, "left")
        .select(
            "sa_idx",
            "gpos",
            "prv",
            "lcp",
            (
                (F.col("gpos") >= 1)
                & (F.col("prv") >= 1)
                & F.col("_ta").isNotNull()
                & F.col("_tb").isNotNull()
                & (F.col("_ta") == F.col("_tb"))
            ).alias("_red"),
        )
    )
    flagged = pin(flagged)
    irred = _descent(
        flagged.filter(~F.col("_red")).select("sa_idx", "gpos", "prv", "lcp"),
        rank_tables,
        tokens,
    ).select(F.col("gpos").alias("_anchor"), F.col("lcp").alias("_alcp"))
    anchored = prefix_max_by_range(
        flagged.select(
            "sa_idx",
            "gpos",
            "prv",
            F.when(~F.col("_red"), F.col("gpos")).alias("_iv"),
        ),
        "gpos",
        "_iv",
        out="_anchor",
    )
    return (
        anchored.join(irred, "_anchor")
        .select(
            "sa_idx",
            "gpos",
            "prv",
            (F.col("_alcp") - (F.col("gpos") - F.col("_anchor")))
            .cast("long")
            .alias("lcp"),
        )
    )


def pair_lcp(
    pairs: DataFrame,
    rank_tables: list[DataFrame],
    a_col: str,
    b_col: str,
    tokens: DataFrame,
) -> DataFrame:
    """(*pairs.columns, lcp): exact LCP between the suffixes starting
    at ``a_col`` and ``b_col`` (corpus positions), by the same binary
    descent as :func:`adjacent_lcp` (radix-2 tables + final raw-token
    step) — rank tables make the LCP of ANY suffix pair a log-rounds
    computation, so no RMQ structure over the adjacent-LCP array is
    needed. All joins are equi-joins on computed positions; the pair
    table never leaves the executors."""
    cur = pairs.select("*", F.lit(0).cast("long").alias("lcp"))
    for r in range(len(rank_tables) - 2, -1, -1):
        h = 1 << (r + 1)
        rt = rank_tables[r]
        ra = rt.select(F.col("gpos").alias("_ga"), F.col("r").alias("_ra"))
        rb = rt.select(F.col("gpos").alias("_gb"), F.col("r").alias("_rb"))
        cur = (
            cur.join(ra, cur[a_col] + cur.lcp == ra._ga, "left")
            .join(rb, cur[b_col] + cur.lcp == rb._gb, "left")
            .select(
                *pairs.columns,
                F.when(
                    F.col("_ra").isNotNull()
                    & F.col("_rb").isNotNull()
                    & (F.col("_ra") == F.col("_rb")),
                    F.col("lcp") + h,
                )
                .otherwise(F.col("lcp"))
                .alias("lcp"),
            )
        )
    ta = tokens.select(F.col("gpos").alias("_ga"), F.col("tok").alias("_ta"))
    tb = tokens.select(F.col("gpos").alias("_gb"), F.col("tok").alias("_tb"))
    return (
        cur.join(ta, cur[a_col] + cur.lcp == ta._ga, "left")
        .join(tb, cur[b_col] + cur.lcp == tb._gb, "left")
        .select(
            *pairs.columns,
            F.when(
                F.col("_ta").isNotNull()
                & F.col("_tb").isNotNull()
                & (F.col("_ta") == F.col("_tb")),
                F.col("lcp") + 1,
            )
            .otherwise(F.col("lcp"))
            .alias("lcp"),
        )
    )


def pair_descent_sql(rounds: int, src_cte: str, a: str, b: str, out_cte: str) -> str:
    """CTE chunk replaying :func:`pair_lcp` over a pairs CTE named
    ``src_cte`` with position columns ``a``/``b``: exposes ``{out_cte}``
    = (*src columns, lcp). Descends the radix-2 tables (table k adds
    2^(k+1)) and finishes with the raw-token unit step against the
    ``corpus`` CTE."""
    parts = [
        f"{out_cte}_init AS MATERIALIZED (SELECT *, CAST(0 AS BIGINT) AS lcp FROM {src_cte})"
    ]
    prev = f"{out_cte}_init"
    for r in range(rounds - 2, -1, -1):
        h = 1 << (r + 1)
        parts.append(
            f"""{out_cte}_{r} AS MATERIALIZED (
  SELECT d.* EXCLUDE (lcp),
         d.lcp + CASE WHEN ra.r IS NOT NULL AND rb.r IS NOT NULL
                       AND ra.r = rb.r THEN {h} ELSE 0 END AS lcp
  FROM {prev} d
  LEFT JOIN r{r} ra ON ra.gpos = d.{a} + d.lcp
  LEFT JOIN r{r} rb ON rb.gpos = d.{b} + d.lcp
)"""
        )
        prev = f"{out_cte}_{r}"
    parts.append(
        f"""{out_cte} AS MATERIALIZED (
  SELECT d.* EXCLUDE (lcp),
         d.lcp + CASE WHEN ta.tok IS NOT NULL AND tb.tok IS NOT NULL
                       AND ta.tok = tb.tok THEN 1 ELSE 0 END AS lcp
  FROM {prev} d
  LEFT JOIN corpus ta ON ta.gpos = d.{a} + d.lcp
  LEFT JOIN corpus tb ON tb.gpos = d.{b} + d.lcp
)"""
    )
    return ",\n".join(parts)


# ---------------------------------------------------------------------------
# DuckDB replay
# ---------------------------------------------------------------------------


def suffix_sql_parts(rounds: int) -> str:
    """CTE chunk replaying the construction over a ``corpus`` CTE that
    must expose (gpos, doc_id, pos, tok, is_sent). Exposes ``r0`` ..
    ``r{rounds - 1}`` (gpos, r; table k covers 2^(k+1) tokens — the
    radix-2 start), ``sa`` (gpos, sa_idx) and ``alcp`` (sa_idx, gpos,
    prv, lcp; descent over the pair tables + the final raw-token unit
    step, mirroring :func:`adjacent_lcp`)."""
    parts = [
        """r0 AS MATERIALIZED (
  SELECT gpos, dense_rank() OVER (ORDER BY tok, tok2) AS r FROM (
    SELECT a.gpos, a.tok, COALESCE(b.tok, '') AS tok2
    FROM corpus a LEFT JOIN corpus b ON b.gpos = a.gpos + 1
  )
)"""
    ]
    for k in range(1, rounds):
        h = 1 << k
        parts.append(
            f"""r{k} AS MATERIALIZED (
  SELECT gpos, dense_rank() OVER (ORDER BY ra, rb) AS r FROM (
    SELECT a.gpos, a.r AS ra, COALESCE(b.r, 0) AS rb
    FROM r{k - 1} a LEFT JOIN r{k - 1} b ON b.gpos = a.gpos + {h}
  )
)"""
        )
    parts.append(
        f"""sa AS MATERIALIZED (
  SELECT gpos, row_number() OVER (ORDER BY r, gpos) AS sa_idx FROM r{rounds - 1}
),
d_init AS MATERIALIZED (
  SELECT s.sa_idx, s.gpos, COALESCE(p.gpos, -1) AS prv, CAST(0 AS BIGINT) AS lcp
  FROM sa s LEFT JOIN sa p ON p.sa_idx = s.sa_idx - 1
)"""
    )
    prev = "d_init"
    for r in range(rounds - 2, -1, -1):
        h = 1 << (r + 1)
        parts.append(
            f"""d{r} AS MATERIALIZED (
  SELECT d.sa_idx, d.gpos, d.prv,
         d.lcp + CASE WHEN d.prv >= 0 AND ra.r IS NOT NULL
                       AND rb.r IS NOT NULL AND ra.r = rb.r
                 THEN {h} ELSE 0 END AS lcp
  FROM {prev} d
  LEFT JOIN r{r} ra ON ra.gpos = d.gpos + d.lcp
  LEFT JOIN r{r} rb ON rb.gpos = d.prv + d.lcp
)"""
        )
        prev = f"d{r}"
    parts.append(
        f"""alcp AS MATERIALIZED (
  SELECT d.sa_idx, d.gpos, d.prv,
         d.lcp + CASE WHEN d.prv >= 0 AND ta.tok IS NOT NULL
                       AND tb.tok IS NOT NULL AND ta.tok = tb.tok
                 THEN 1 ELSE 0 END AS lcp
  FROM {prev} d
  LEFT JOIN corpus ta ON ta.gpos = d.gpos + d.lcp
  LEFT JOIN corpus tb ON tb.gpos = d.prv + d.lcp
)"""
    )
    return ",\n".join(parts)
