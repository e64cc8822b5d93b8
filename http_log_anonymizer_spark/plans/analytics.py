"""Analytics operator coverage (SURVEY.md §2.5 gaps the engine must fill:
joins of every flavor, window functions, set ops, rollup/grouping sets,
sessionization, JSON extraction, percentiles).

The reference delegates all analytics to ClickHouse (README.md:59-63);
these queries are the engine-native replacements, exercised on the
driver's TPC-H-ish tables. Scale notes per query docstring; dimension
joins rely on the session's 64 MiB broadcast threshold + AQE.

Floating-point policy: every double aggregate is wrapped in round(…, 2)
(or 4 for averages) in BOTH engines so partial-aggregation order can't
flip the value hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from http_log_anonymizer_spark.operators.materialize import pin
from http_log_anonymizer_spark.plans.registry import register
from http_log_anonymizer_spark.sources.batch import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Aggregation-heavy scan (TPC-H Q1 analog)
# ---------------------------------------------------------------------------


@register(
    "pricing_summary",
    oracle="""
SELECT
  l_returnflag,
  l_linestatus,
  round(sum(l_quantity), 2) AS sum_qty,
  round(sum(l_extendedprice), 2) AS sum_base_price,
  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
  round(avg(l_quantity), 4) AS avg_qty,
  round(avg(l_extendedprice), 4) AS avg_price,
  round(avg(l_discount), 4) AS avg_disc,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
    bench=True,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 analog: wide scan + arithmetic + grouped aggregates.
    The shipdate predicate reaches the parquet scan (PushedFilters) and
    the 4-group output keeps the shuffle tiny — the query is scan-bound,
    which is exactly what you want at 100 TB."""
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc), 2).alias("sum_disc_price"),
            F.round(F.sum(disc * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------


@register(
    "shipping_priority",
    oracle="""
SELECT
  l.l_orderkey,
  CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(15,2))
    * (1 - CAST(l.l_discount AS DECIMAL(15,2)))), 2) AS DOUBLE) AS revenue,
  o.o_orderdate,
  o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-03-15'
  AND l.l_shipdate > TIMESTAMP '1996-03-15'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
    bench=True,
)
def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 analog: selective dim filter + two joins + grouped
    revenue + deterministic top-10 (ties broken by orderkey). The
    filtered customer side broadcasts; lineitem never shuffles for the
    join, only for the final (small) aggregation. Revenue is summed as
    an exact DECIMAL in both engines: a double sum depends on the
    summation order and can land either side of a half-cent tie."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-03-15").cast("timestamp")
    )
    price = F.col("l_extendedprice").cast("decimal(15,2)")
    disc = F.col("l_discount").cast("decimal(15,2)")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(price * (1 - disc)), 2).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@register(
    "nation_volume",
    oracle="""
SELECT
  r.r_name,
  n.n_name,
  round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
  count(*) AS n_items
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name, n.n_name
ORDER BY r.r_name, revenue DESC, n.n_name
""",
    bench=True,
)
def nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 analog: a 5-table star join. All dimension tables
    broadcast (customer is the largest at ~15 MB even at sf1); the fact
    table streams through map-side hash joins with zero shuffle until
    the 25-group aggregate."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n_items"),
        )
        .orderBy("r_name", F.desc("revenue"), "n_name")
    )


@register(
    "orders_without_lineitems",
    oracle="""
SELECT o.o_orderstatus, count(*) AS cnt, round(sum(o.o_totalprice), 2) AS lost_value
FROM orders o
WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
GROUP BY o.o_orderstatus
ORDER BY o.o_orderstatus
""",
)
def orders_without_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join (NOT EXISTS): orders with no line items. Spark's
    left_anti against the (broadcastable) distinct key set — at scale
    the key side stays a bloom/hash build, never a full shuffle of the
    fact table when AQE picks broadcast."""
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem").select("l_orderkey")
    return (
        o.join(l, o.o_orderkey == l.l_orderkey, "left_anti")
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("cnt"), F.round(F.sum("o_totalprice"), 2).alias("lost_value"))
        .orderBy("o_orderstatus")
    )


@register(
    "customers_with_high_value_orders",
    oracle="""
SELECT c.c_mktsegment, count(*) AS n_customers
FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000
)
GROUP BY c.c_mktsegment
ORDER BY c.c_mktsegment
""",
)
def customers_with_high_value_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join (EXISTS): customers owning at least one order above a
    price threshold; dedup-free by construction (semi join emits each
    left row once)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000).select("o_custkey")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------


@register(
    "top_orders_per_customer",
    oracle="""
SELECT * FROM (
  SELECT
    o_custkey,
    o_orderkey,
    o_totalprice,
    row_number() OVER (
      PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
    ) AS rn
  FROM orders
) WHERE rn <= 3
""",
    bench=True,
)
def top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via row_number window (deterministic tie-break on
    orderkey). One shuffle on the partition key; at scale prefer this
    over groupBy+collect_list since it never materializes a group in
    memory."""
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        _t(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderkey", "o_totalprice", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 3)
    )


@register(
    "customer_running_revenue",
    oracle="""
SELECT
  o_custkey,
  o_orderkey,
  round(sum(o_totalprice) OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  ), 2) AS running_total,
  rank() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS order_seq
FROM orders
""",
)
def customer_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running-frame window aggregate + rank over the same partitioning:
    Catalyst reuses a single sort+shuffle for both window expressions."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w.rowsBetween(Window.unboundedPreceding, 0)), 2).alias(
            "running_total"
        ),
        F.rank().over(w).alias("order_seq"),
    )


@register(
    "sessionize_events",
    oracle="""
WITH deltas AS (
  SELECT
    user_id,
    ts,
    CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
              OVER (PARTITION BY user_id ORDER BY ts, event_id)
              > 1800000000
         OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         THEN 1 ELSE 0 END AS new_session
  FROM events WHERE ts IS NOT NULL
),
sessions AS (
  SELECT user_id, ts,
         sum(new_session) OVER (
           PARTITION BY user_id ORDER BY ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS session_id
  FROM deltas
)
SELECT user_id, count(DISTINCT session_id) AS n_sessions, count(*) AS n_events
FROM sessions
GROUP BY user_id
ORDER BY user_id
""",
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-minute inactivity gap splits sessions (lag +
    running sum of boundaries). The batch analog of the streaming
    session-window operator in streaming/; one shuffle on user_id
    shared by both window steps."""
    # undated events cannot be time-ordered, and NULL ts sits at
    # opposite ends of the two engines' ordered windows (Spark NULLS
    # FIRST vs DuckDB NULLS LAST) — excluded identically in both
    # engines (the planted-NULL audit's divergence).
    e = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # microsecond-exact gap (ADVICE r08): whole-second casts floor the
    # diff and can disagree with the oracle's full-precision compare
    # inside the 1-second ambiguity window.
    gap = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    deltas = e.select(
        "user_id",
        "ts",
        F.when(gap.isNull() | (gap > 1_800_000_000), 1)
        .otherwise(0)
        .alias("new_session"),
    )
    ws = Window.partitionBy("user_id").orderBy("ts").rowsBetween(Window.unboundedPreceding, 0)
    sessions = deltas.select("user_id", F.sum("new_session").over(ws).alias("session_id"))
    return (
        sessions.groupBy("user_id")
        .agg(F.count_distinct("session_id").alias("n_sessions"), F.count("*").alias("n_events"))
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------


@register(
    "user_cohort_setops",
    oracle="""
WITH purchasers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
     erroring AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'error'),
     signups AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'signup')
SELECT 'purchase_and_error' AS cohort, count(*) AS n FROM
  (SELECT user_id FROM purchasers INTERSECT SELECT user_id FROM erroring)
UNION ALL
SELECT 'purchase_not_signup' AS cohort, count(*) AS n FROM
  (SELECT user_id FROM purchasers EXCEPT SELECT user_id FROM signups)
UNION ALL
SELECT 'any_of_three' AS cohort, count(*) AS n FROM
  (SELECT user_id FROM purchasers UNION SELECT user_id FROM erroring
   UNION SELECT user_id FROM signups)
ORDER BY cohort
""",
)
def user_cohort_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION over user cohorts, summarized as
    counts. Spark plans these as aggregate + semi/anti joins; the
    distinct inputs keep every branch key-partitioned once."""
    e = _t(spark, sf_dir, "events")

    def cohort(et: str) -> DataFrame:
        return e.filter(F.col("event_type") == et).select("user_id").distinct()

    purchasers, erroring, signups = cohort("purchase"), cohort("error"), cohort("signup")
    rows = [
        purchasers.intersect(erroring)
        .agg(F.count("*").alias("n"))
        .select(F.lit("purchase_and_error").alias("cohort"), "n"),
        purchasers.exceptAll(signups.distinct())
        .distinct()
        .agg(F.count("*").alias("n"))
        .select(F.lit("purchase_not_signup").alias("cohort"), "n"),
        purchasers.union(erroring)
        .union(signups)
        .distinct()
        .agg(F.count("*").alias("n"))
        .select(F.lit("any_of_three").alias("cohort"), "n"),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out.orderBy("cohort")


# ---------------------------------------------------------------------------
# Rollup / grouping sets
# ---------------------------------------------------------------------------


@register(
    "rollup_region_nation",
    oracle="""
SELECT
  r.r_name,
  n.n_name,
  count(*) AS n_customers,
  round(sum(c.c_acctbal), 2) AS total_balance
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY ROLLUP (r.r_name, n.n_name)
""",
)
def rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (region -> nation -> grand total) in one
    pass over the joined dims."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_balance"),
        )
    )


# ---------------------------------------------------------------------------
# JSON + percentiles
# ---------------------------------------------------------------------------


@register(
    "json_props_stats",
    oracle="""
SELECT
  event_type,
  round(avg(CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS INT)), 4) AS avg_k,
  max(CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS INT)) AS max_k,
  count(*) AS cnt
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction (events.props is a JSON object). Spark
    uses native get_json_object (JVM, codegen); the oracle mirrors it
    with a regexp so it doesn't depend on DuckDB's json extension."""
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        e.groupBy("event_type")
        .agg(
            F.round(F.avg(k), 4).alias("avg_k"),
            F.max(k).alias("max_k"),
            F.count("*").alias("cnt"),
        )
        .orderBy("event_type")
    )


@register(
    "value_percentiles",
    oracle="""
SELECT
  event_type,
  round(quantile_cont(value, 0.5), 4) AS p50,
  round(quantile_cont(value, 0.9), 4) AS p90,
  round(quantile_cont(value, 0.99), 4) AS p99
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark `percentile` ==
    DuckDB `quantile_cont`). At 100 TB swap to approx_percentile with a
    documented error bound — kept exact here for oracle parity."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
            F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Session windows (native) + cardinality
# ---------------------------------------------------------------------------


@register(
    "session_window_agg",
    bench=True,
    oracle="""
WITH marks AS (
  SELECT user_id, ts, value,
    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              > INTERVAL 30 MINUTE
         OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         THEN 1 ELSE 0 END AS new_session
  FROM events WHERE ts IS NOT NULL
),
numbered AS (
  SELECT user_id, ts, value,
         sum(new_session) OVER (
           PARTITION BY user_id ORDER BY ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS session_id
  FROM marks
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*) AS n_events,
       round(sum(value), 2) AS session_value
FROM numbered
GROUP BY user_id, session_id
ORDER BY user_id, session_start
""",
)
def session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows (F.session_window, 30-min gap): Spark's
    built-in gap-merge operator, the batch twin of the streaming
    session-window aggregation. The oracle reproduces the same sessions
    with lag + running-sum SQL — proving the two formulations agree.
    Spark's session end == last event + gap by definition."""
    # undated events cannot be time-ordered, and NULL ts sits at
    # opposite ends of the two engines' ordered windows (Spark NULLS
    # FIRST vs DuckDB NULLS LAST) — excluded identically in both
    # engines (the planted-NULL audit's divergence).
    e = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "session_value",
        )
        # No final sort (r10, guide §2.4): sessions are
        # corpus-proportional (10 M events -> 9.5 M sessions at sf10),
        # and the trailing orderBy was ~7.6 s of the 17 s sf10 run —
        # a full range exchange + global sort purely for output
        # determinism, which the driver's order-insensitive comparator
        # never needed (dedup_simhash precedent, plans/dedup.py).
    )


@register(
    "distinct_users_exact",
    oracle="""
SELECT event_type,
       count(DISTINCT user_id) AS n_users,
       count(*) AS n_events
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def distinct_users_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct cardinality per group (two-phase: partial distinct
    per partition, then merge — Catalyst expands automatically)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.count_distinct("user_id").alias("n_users"),
            F.count("*").alias("n_events"),
        )
        .orderBy("event_type")
    )


@register(
    "distinct_users_approx",
    oracle="""
SELECT event_type,
       count(DISTINCT user_id) AS n_users,
       count(*) AS n_events,
       TRUE AS hll_within_bound
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def distinct_users_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ cardinality sketch (approx_count_distinct, 1%
    rsd): the 100 TB path where an exact distinct would shuffle every
    key. Sketch values are engine-specific, so the oracle-checkable
    output carries the exact count plus `hll_within_bound` — a
    Spark-side deterministic check that the HLL estimate lands within
    5x the configured rsd of the exact count; the oracle verifies the
    exact columns and asserts the bound literally (VERDICT r02 item 3).
    Accuracy is additionally asserted in tests/test_operators.py."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.count_distinct("user_id").alias("n_users"),
            F.count("*").alias("n_events"),
            F.approx_count_distinct("user_id", rsd=0.01).alias("_approx"),
        )
        .select(
            "event_type",
            "n_users",
            "n_events",
            (
                F.abs(F.col("_approx") - F.col("n_users"))
                <= F.greatest(F.col("n_users") * 0.05, F.lit(1.0))
            ).alias("hll_within_bound"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# As-of join (custom operator; operators/asof.py)
# ---------------------------------------------------------------------------


@register(
    "asof_last_purchase",
    bench=True,
    oracle="""
WITH err AS (
  SELECT event_id, user_id, ts FROM events
  WHERE event_type = 'error' AND ts IS NOT NULL
),
pur AS (
  SELECT user_id, ts, value FROM events
  WHERE event_type = 'purchase' AND ts IS NOT NULL
)
SELECT
  err.event_id,
  err.user_id,
  err.ts AS error_ts,
  pur.ts AS purchase_ts,
  pur.value AS purchase_value
FROM err ASOF LEFT JOIN pur
  ON err.user_id = pur.user_id AND err.ts >= pur.ts
ORDER BY event_id
""",
)
def asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/asof.py): for every error event, the most
    recent purchase by the same user at or before the error. Implemented
    as the union-sort trick (one shuffle on user_id, no range-join
    explosion); the oracle uses DuckDB's native ASOF LEFT JOIN —
    agreement proves the operator's point-in-time semantics."""
    from http_log_anonymizer_spark.operators import asof_join

    # undated events cannot be time-ordered, and NULL ts sits at
    # opposite ends of the two engines' ordered windows (Spark NULLS
    # FIRST vs DuckDB NULLS LAST) — excluded identically in both
    # engines (the planted-NULL audit's divergence).
    e = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    err = e.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", F.col("ts").alias("error_ts")
    )
    pur = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("purchase_ts"), F.col("value").alias("purchase_value")
    )
    joined = asof_join(
        err, pur, on=["user_id"], left_ts="error_ts", right_ts="purchase_ts"
    )
    # No final sort (r10, guide §2.4: an orderBy used only to make
    # output deterministic is a removable full exchange + sort): the
    # result set is deterministic and the correctness contract is
    # order-insensitive (the driver's comparator sorts rows before
    # hashing — the dedup_simhash precedent, plans/dedup.py). The sort
    # was one global range-exchange of every error event; output rows
    # scale with the corpus, so at 100 TB this sort IS the query.
    return joined.select(
        "event_id", "user_id", "error_ts", "purchase_ts", "purchase_value"
    )


# ---------------------------------------------------------------------------
# Pivot, outer join, stats, terms
# ---------------------------------------------------------------------------


@register(
    "pivot_event_counts",
    oracle="""
SELECT
  user_id % 10 AS cohort,
  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
FROM events
GROUP BY 1
ORDER BY cohort
""",
)
def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long -> wide) with an explicit value list: naming the
    pivot values up front avoids the extra distinct-values job Spark
    otherwise runs, and makes the output schema static — both matter
    when the input is 100 TB."""
    e = _t(spark, sf_dir, "events")
    kinds = ["click", "error", "purchase", "signup", "view"]
    return (
        e.groupBy((F.col("user_id") % 10).alias("cohort"))
        .pivot("event_type", kinds)
        .agg(F.count(F.lit(1)))
        .na.fill(0, kinds)
        .orderBy("cohort")
    )


@register(
    "order_fill_outer",
    oracle="""
SELECT
  o.o_orderpriority,
  count(*) AS n_orders,
  CAST(sum(CASE WHEN l.l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unfilled,
  round(sum(coalesce(l.qty, 0)), 2) AS total_qty
FROM orders o
LEFT JOIN (
  SELECT l_orderkey, sum(l_quantity) AS qty FROM lineitem GROUP BY l_orderkey
) l ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
""",
)
def order_fill_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join against a pre-aggregated child table: aggregate
    BEFORE the join so the join input is one row per key (at scale this
    turns a fact-fact join into fact-dim), then null-aware rollup."""
    o = _t(spark, sf_dir, "orders")
    lq = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    return (
        o.join(lq, o.o_orderkey == lq.l_orderkey, "left")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.when(F.col("l_orderkey").isNull(), 1).otherwise(0)).alias("n_unfilled"),
            F.round(F.sum(F.coalesce(F.col("qty"), F.lit(0))), 2).alias("total_qty"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "value_stats",
    oracle="""
SELECT
  event_type,
  round(stddev_samp(value), 4) AS sd,
  round(corr(value, CAST(user_id AS DOUBLE)), 4) AS corr_user,
  round(covar_samp(value, CAST(user_id AS DOUBLE)), 4) AS covar_user,
  round(min(value), 2) AS vmin,
  round(max(value), 2) AS vmax
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (stddev/corr/covar) per group — one pass,
    map-side partials."""
    e = _t(spark, sf_dir, "events")
    u = F.col("user_id").cast("double")
    return (
        e.groupBy("event_type")
        .agg(
            F.round(F.stddev_samp("value"), 4).alias("sd"),
            F.round(F.corr("value", u), 4).alias("corr_user"),
            F.round(F.covar_samp("value", u), 4).alias("covar_user"),
            F.round(F.min("value"), 2).alias("vmin"),
            F.round(F.max("value"), 2).alias("vmax"),
        )
        .orderBy("event_type")
    )


@register(
    "top_terms_per_lang",
    oracle="""
WITH tok AS (
  SELECT lang, unnest(string_split(text, ' ')) AS term FROM documents
),
counts AS (
  SELECT lang, term, count(*) AS n FROM tok GROUP BY lang, term
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY lang ORDER BY n DESC, term) AS rnk
  FROM counts
)
SELECT lang, term, n, rnk FROM ranked WHERE rnk <= 10
ORDER BY lang, rnk
""",
)
def top_terms_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explode + grouped count + per-group top-k: the term-frequency
    primitive. The explode fans out tokens but the count aggregates
    map-side before the (lang, term) shuffle."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select("lang", F.explode(F.split("text", " ")).alias("term"))
    counts = tok.groupBy("lang", "term").agg(F.count("*").alias("n"))
    w = Window.partitionBy("lang").orderBy(F.desc("n"), "term")
    return (
        counts.select("*", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= 10)
        .orderBy("lang", "rnk")
    )


@register(
    "grouping_sets_totals",
    oracle="""
SELECT
  o_orderstatus,
  o_orderpriority,
  grouping(o_orderstatus) + 2 * grouping(o_orderpriority) AS gid,
  count(*) AS cnt,
  round(sum(o_totalprice), 2) AS total
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
ORDER BY gid, o_orderstatus, o_orderpriority
""",
)
def grouping_sets_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS with grouping() disambiguation of the
    NULL markers — the general form behind cube/rollup."""
    o = _t(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT
          o_orderstatus,
          o_orderpriority,
          CAST(grouping(o_orderstatus) + 2 * grouping(o_orderpriority) AS BIGINT) AS gid,
          count(*) AS cnt,
          round(sum(o_totalprice), 2) AS total
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY gid, o_orderstatus, o_orderpriority
        """
    )


# ---------------------------------------------------------------------------
# Hypertable-style rollup, range join, applyInPandas
# ---------------------------------------------------------------------------


@register(
    "hypertable_rollup",
    oracle="""
SELECT
  CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
  CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
  count(*) AS cnt,
  round(sum(value), 2) AS total
FROM events
GROUP BY GROUPING SETS (
  (date_trunc('day', ts)),
  (date_trunc('day', ts), date_trunc('hour', ts))
)
ORDER BY day, hour
""",
)
def hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution rollup: daily and hourly
    aggregates of the event stream in ONE scan via grouping sets (the
    continuous-aggregate hierarchy of a time-series store, computed
    batch-side). At 100 TB this is the materialization query behind
    dashboard tiles — one pass, partial aggregation, output rows =
    number of buckets."""
    e = _t(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts")
    hour = F.date_trunc("hour", "ts")
    e2 = e.select(day.alias("day"), hour.alias("hour"), "value")
    e2.createOrReplaceTempView("events_rollup")
    return spark.sql(
        """
        SELECT day, hour, count(*) AS cnt, round(sum(value), 2) AS total
        FROM events_rollup
        GROUP BY GROUPING SETS ((day), (day, hour))
        ORDER BY day, hour
        """
    )


@register(
    "range_join_error_context",
    oracle="""
SELECT
  e.event_id,
  count(p.event_id) AS purchases_nearby,
  round(coalesce(sum(p.value), 0), 2) AS nearby_value
FROM events e
LEFT JOIN events p
  ON p.user_id = e.user_id
  AND p.event_type = 'purchase'
  AND p.ts BETWEEN e.ts - INTERVAL 10 MINUTE AND e.ts + INTERVAL 10 MINUTE
WHERE e.event_type = 'error'
GROUP BY e.event_id
ORDER BY e.event_id
""",
)
def range_join_error_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: purchases within +/-10 minutes of each error by the
    same user. The equi key (user_id) carries the shuffle; the time
    band is a residual predicate on co-partitioned data — never a
    cartesian. (For banded joins without an equi key, bucketize time
    into interval-width bins and equi-join on the bin.)"""
    e = _t(spark, sf_dir, "events")
    err = e.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", F.col("ts").alias("ets")
    )
    pur = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("pts"),
        F.col("event_id").alias("p_event"),
        F.col("value").alias("p_value"),
    )
    joined = err.join(
        pur,
        (F.col("p_user") == F.col("user_id"))
        & (F.col("pts") >= F.col("ets") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("pts") <= F.col("ets") + F.expr("INTERVAL 10 MINUTES")),
        "left",
    )
    return (
        joined.groupBy("event_id")
        .agg(
            F.count("p_event").alias("purchases_nearby"),
            F.round(F.coalesce(F.sum("p_value"), F.lit(0.0)), 2).alias("nearby_value"),
        )
        # No final sort (r10, guide §2.4): one row per error event —
        # corpus-proportional — and the orderBy existed only for
        # deterministic output order, which the driver's
        # order-insensitive comparator never needed (dedup_simhash
        # precedent, plans/dedup.py).
    )


@register(
    "user_zscore_outliers",
    oracle="""
WITH stats AS (
  SELECT user_id,
         avg(value) AS mu,
         stddev_samp(value) AS sd
  FROM events GROUP BY user_id
)
SELECT e.user_id,
       count(*) AS n_events,
       CAST(sum(CASE WHEN abs((e.value - s.mu) / s.sd) > 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers
FROM events e JOIN stats s ON e.user_id = s.user_id
WHERE s.sd > 0
GROUP BY e.user_id
ORDER BY e.user_id
""",
)
def user_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group normalization via applyInPandas: each user's events are
    z-scored inside an Arrow batch (the grouped-pandas extension point
    for transforms SQL can't express — sklearn-style per-group model
    application). Here the transform is also SQL-expressible, which is
    exactly what lets the oracle verify the mechanism. One shuffle on
    the group key; each group materializes once in pandas."""
    import pandas as pd

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    e = _t(spark, sf_dir, "events").select("user_id", "value")

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("n_outliers", LongType()),
        ]
    )

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        mu = pdf["value"].mean()
        sd = pdf["value"].std(ddof=1)
        if not sd or sd != sd or sd == 0:
            return pd.DataFrame(columns=["user_id", "n_events", "n_outliers"])
        z = (pdf["value"] - mu) / sd
        return pd.DataFrame(
            {
                "user_id": [int(pdf["user_id"].iloc[0])],
                "n_events": [len(pdf)],
                "n_outliers": [int((z.abs() > 2).sum())],
            }
        )

    return e.groupBy("user_id").applyInPandas(zscore, out_schema).orderBy("user_id")


@register(
    "best_order_per_customer",
    oracle="""
SELECT o.o_custkey, o.o_orderkey, o.o_totalprice
FROM orders o
WHERE o.o_totalprice = (
  SELECT max(o2.o_totalprice) FROM orders o2 WHERE o2.o_custkey = o.o_custkey
)
ORDER BY o.o_custkey, o.o_orderkey
""",
)
def best_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery — written in SQL form on purpose so
    Catalyst's decorrelation rewrites it (subquery -> aggregate + join;
    no per-row re-execution). The window-function formulation is
    equivalent; this exercises the optimizer path the reference never
    had (SURVEY §4: 'predicate pushdown / decorrelation: absent')."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_corr")
    return spark.sql(
        """
        SELECT o.o_custkey, o.o_orderkey, o.o_totalprice
        FROM orders_corr o
        WHERE o.o_totalprice = (
          SELECT max(o2.o_totalprice) FROM orders_corr o2
          WHERE o2.o_custkey = o.o_custkey
        )
        ORDER BY o.o_custkey, o.o_orderkey
        """
    )


def _frequent_resources_oracle() -> str:
    from http_log_anonymizer_spark.plans.http_log import HTTP_LOG_SQL

    return f"""
WITH {HTTP_LOG_SQL},
c AS (
  SELECT resource_id, count(*) AS cnt
  FROM http_log
  GROUP BY resource_id
)
SELECT resource_id, cnt, TRUE AS in_sketch
FROM c
ORDER BY cnt DESC, resource_id
LIMIT 10
"""


@register("frequent_resources_sketch", oracle=_frequent_resources_oracle())
def frequent_resources_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitters sketch (approx_top_k): the 100 TB path for 'top
    resources by hits' when the key space is too large for an exact
    grouped count. Sketch item sets are engine-specific, so the
    oracle-checkable output is the exact top-10 (count desc, id
    tie-break) with `in_sketch` — a Spark-side deterministic membership
    check against an approx_top_k(30) sketch (3x buffer, so every exact
    heavy hitter is recovered); the oracle verifies the exact counts
    and asserts membership literally (VERDICT r02 item 3). Count
    accuracy is additionally asserted in tests/test_operators.py."""
    from http_log_anonymizer_spark.plans.http_log import http_log_view

    log = http_log_view(spark, sf_dir)
    sk = log.select(
        F.expr("transform(approx_top_k(resource_id, 30), e -> e.item)").alias("items")
    )
    exact = (
        log.groupBy("resource_id")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "resource_id")
        .limit(10)
    )
    return (
        exact.crossJoin(F.broadcast(sk))
        .select(
            "resource_id",
            "cnt",
            F.array_contains("items", F.col("resource_id")).alias("in_sketch"),
        )
        .orderBy(F.desc("cnt"), "resource_id")
    )


@register(
    "late_shipment_priority",
    oracle="""
SELECT o.o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-01-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
  )
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
""",
)
def late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS whose predicate references
    BOTH sides (shipdate vs orderdate+30d). Catalyst decorrelates into
    a left-semi join with the compound condition — the date filter on
    orders still pushes to the scan."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    l = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            l,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "blocking_supplier",
    oracle="""
SELECT s.s_name, count(DISTINCT l1.l_orderkey) AS n_orders
FROM lineitem l1
JOIN supplier s ON l1.l_suppkey = s.s_suppkey
WHERE EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > l1.l_shipdate
  )
GROUP BY s.s_name
ORDER BY n_orders DESC, s_name
LIMIT 20
""",
)
def blocking_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: EXISTS + NOT EXISTS, both correlated with
    inequality predicates — the last supplier to ship on multi-supplier
    orders. Written in SQL so Catalyst plans the semi/anti join pair."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_q21")
    _t(spark, sf_dir, "supplier").createOrReplaceTempView("supplier_q21")
    return spark.sql(
        """
        SELECT s.s_name, count(DISTINCT l1.l_orderkey) AS n_orders
        FROM lineitem_q21 l1
        JOIN supplier_q21 s ON l1.l_suppkey = s.s_suppkey
        WHERE EXISTS (
            SELECT 1 FROM lineitem_q21 l2
            WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
          )
          AND NOT EXISTS (
            SELECT 1 FROM lineitem_q21 l3
            WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
              AND l3.l_shipdate > l1.l_shipdate
          )
        GROUP BY s.s_name
        ORDER BY n_orders DESC, s_name
        LIMIT 20
        """
    )


@register(
    "nation_trade_flow",
    oracle="""
SELECT
  cn.n_name AS cust_nation,
  sn.n_name AS supp_nation,
  count(*) AS n_items,
  round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS volume
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation cn ON c.c_nationkey = cn.n_nationkey
JOIN nation sn ON s.s_nationkey = sn.n_nationkey
WHERE cn.n_name <> sn.n_name
GROUP BY cn.n_name, sn.n_name
ORDER BY volume DESC, cust_nation, supp_nation
LIMIT 50
""",
)
def nation_trade_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: the nation dimension plays two roles (customer
    nation and supplier nation) — two broadcast joins against the same
    table under different aliases; cross-border trade volume matrix."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(cn), c.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(sn), s.s_nationkey == F.col("sn_key"))
        .filter(F.col("cust_nation") != F.col("supp_nation"))
        .groupBy("cust_nation", "supp_nation")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "volume"
            ),
        )
        .orderBy(F.desc("volume"), "cust_nation", "supp_nation")
        .limit(50)
    )


@register(
    "disjunctive_filter_revenue",
    oracle="""
SELECT
  round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
  count(*) AS n_items
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE
  (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 10
   AND l.l_quantity BETWEEN 1 AND 20)
  OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 5 AND 25
      AND l.l_quantity BETWEEN 10 AND 40)
  OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 10 AND 40
      AND l.l_quantity BETWEEN 20 AND 50)
""",
)
def disjunctive_filter_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs mixing both join sides. Catalyst
    factors the single-side conjuncts out of the disjunction (brand IN
    (...), size/quantity range unions) and pushes them below the join —
    the pushdown-hostile query made scan-friendly."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(5, 25)
            & F.col("l_quantity").between(10, 40)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(10, 40)
            & F.col("l_quantity").between(20, 50)
        )
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "supplier_part_diversity",
    oracle="""
SELECT
  p.p_brand,
  p.p_type,
  count(DISTINCT l.l_suppkey) AS supplier_cnt
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_brand <> 'Brand#45'
  AND p.p_type NOT LIKE 'MEDIUM%'
  AND l.l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
  )
GROUP BY p.p_brand, p.p_type
ORDER BY supplier_cnt DESC, p_brand, p_type
LIMIT 30
""",
)
def supplier_part_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: NOT IN subquery (null-aware anti join) +
    grouped DISTINCT count. NOT IN over a possibly-null key is the
    trickiest subquery form (three-valued logic) — here the subquery
    key is non-null so Catalyst plans a plain anti join; the distinct
    count expands to a two-phase aggregate."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#45") & ~F.col("p_type").like("MEDIUM%")
    )
    bad_suppliers = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        l.join(bad_suppliers, l.l_suppkey == bad_suppliers.s_suppkey, "left_anti")
        .join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type")
        .limit(30)
    )


@register(
    "pivot_avg_value",
    oracle="""
SELECT
  user_id % 10 AS cohort,
  round(avg(CASE WHEN event_type = 'purchase' THEN value END), 4) AS purchase_avg,
  round(avg(CASE WHEN event_type = 'view' THEN value END), 4) AS view_avg,
  round(max(CASE WHEN event_type = 'error' THEN value END), 2) AS error_max
FROM events
GROUP BY 1
ORDER BY cohort
""",
)
def pivot_avg_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with non-count aggregates: conditional avg/max per pivot
    value (one pass; each output column is an independent aggregate of
    the same scan)."""
    e = _t(spark, sf_dir, "events")

    def only(et):
        return F.when(F.col("event_type") == et, F.col("value"))

    return (
        e.groupBy((F.col("user_id") % 10).alias("cohort"))
        .agg(
            F.round(F.avg(only("purchase")), 4).alias("purchase_avg"),
            F.round(F.avg(only("view")), 4).alias("view_avg"),
            F.round(F.max(only("error")), 2).alias("error_max"),
        )
        .orderBy("cohort")
    )


# ---------------------------------------------------------------------------
# Count-distribution (TPC-H Q13 analog)
# ---------------------------------------------------------------------------


@register(
    "customer_order_distribution",
    oracle="""
WITH c_orders AS (
  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
  FROM customer c LEFT JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
)
SELECT c_count, count(*) AS custdist
FROM c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""",
)
def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 analog: how many customers placed N orders. The two
    defining shapes: (1) a predicate INSIDE the outer-join condition
    (filtering orders without dropping order-less customers — a WHERE
    would turn the join inner), and (2) a count-of-counts double
    aggregation. count(o_orderkey) counts only matched rows, so
    customers with zero surviving orders land in the c_count=0 bucket.
    At scale the first groupBy shuffles on c_custkey (same key as the
    join — AQE reuses the partitioning); the second aggregates a
    few-hundred-row histogram."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


# ---------------------------------------------------------------------------
# Compare-to-group-average (TPC-H Q17 analog)
# ---------------------------------------------------------------------------


@register(
    "small_quantity_revenue",
    oracle="""
WITH pa AS (
  SELECT l_partkey, avg(l_quantity) AS avg_qty
  FROM lineitem GROUP BY l_partkey
)
SELECT p.p_brand,
       count(*) AS n_lines,
       round(sum(l.l_extendedprice) / 7.0, 2) AS avg_weekly_revenue
FROM lineitem l
JOIN pa ON pa.l_partkey = l.l_partkey
JOIN part p ON p.p_partkey = l.l_partkey
WHERE l.l_quantity < 0.5 * pa.avg_qty
GROUP BY p.p_brand
ORDER BY p.p_brand
""",
)
def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 analog: revenue from below-half-average-quantity line
    items, per brand. The correlated scalar subquery (avg quantity OF
    THIS part) is decorrelated into an aggregate-then-join — the plan
    Catalyst itself produces for the subquery form, written explicitly.
    The per-part avg is exact across engines because l_quantity is
    integral (exact double sums). At scale: both the avg build and the
    probe shuffle on l_partkey — one exchange, reused; the part dim
    broadcasts."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    pa = l.groupBy("l_partkey").agg(F.avg("l_quantity").alias("avg_qty"))
    return (
        l.join(pa, "l_partkey")
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_lines"),
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_weekly_revenue"),
        )
        .orderBy("p_brand")
    )


# ---------------------------------------------------------------------------
# Global-average threshold + anti join (TPC-H Q22 analog)
# ---------------------------------------------------------------------------


@register(
    "dormant_rich_customers",
    oracle="""
WITH ab AS (
  SELECT round(avg(c_acctbal), 2) AS threshold
  FROM customer WHERE c_acctbal > 0.0
)
SELECT c.c_nationkey,
       count(*) AS numcust,
       round(sum(c.c_acctbal), 2) AS totacctbal
FROM customer c, ab
WHERE c.c_acctbal > ab.threshold
  AND NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
  )
GROUP BY c.c_nationkey
ORDER BY c.c_nationkey
""",
)
def dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 analog: above-average-balance customers with no urgent
    order, per nation. Three shapes in one plan: an uncorrelated
    scalar aggregate subquery (the global average, broadcast as a
    1-row cross join — never a driver-side collect), an anti join
    against the orders key set, and a grouped rollup. The threshold is
    rounded to cents in BOTH engines so partial-sum ordering can't
    flip a boundary row."""
    c = _t(spark, sf_dir, "customer")
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    ab = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(F.round(F.avg("c_acctbal"), 2).alias("threshold"))
    )
    return (
        c.crossJoin(F.broadcast(ab))
        .filter(F.col("c_acctbal") > F.col("threshold"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


# ---------------------------------------------------------------------------
# Time-series gap fill + LOCF
# ---------------------------------------------------------------------------


@register(
    "gapfill_locf",
    oracle="""
WITH b AS (
  SELECT date_trunc('hour', min(ts)) AS h0, date_trunc('hour', max(ts)) AS h1
  FROM events
),
types AS (SELECT DISTINCT event_type FROM events),
spine AS (
  SELECT t.event_type, unnest(generate_series(b.h0, b.h1, INTERVAL 1 HOUR)) AS h
  FROM types t CROSS JOIN b
),
hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         count(*) AS cnt, round(sum(value), 2) AS val
  FROM events GROUP BY 1, 2
),
j AS (
  SELECT s.event_type, s.h,
         coalesce(hh.cnt, 0) AS cnt,
         CASE WHEN hh.cnt IS NULL THEN 1 ELSE 0 END AS is_gap,
         hh.val
  FROM spine s
  LEFT JOIN hourly hh ON hh.event_type = s.event_type AND hh.h = s.h
)
SELECT event_type, h AS hour, cnt, is_gap,
       last_value(val IGNORE NULLS) OVER (
         PARTITION BY event_type ORDER BY h
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS locf_value
FROM j
ORDER BY event_type, hour
""",
)
def gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling with last-observation-carried-forward —
    the hypertable primitive Spark lacks natively (TimescaleDB's
    time_bucket_gapfill + locf). A dense hourly spine per series is
    generated with sequence+explode from the global bounds (1-row agg,
    broadcast — never a driver collect), left-joined against the real
    hourly rollup; missing buckets are flagged and their value carried
    forward via last(ignorenulls) over an unbounded-preceding frame.

    At scale: the spine is series x hours (tiny vs the events table),
    the rollup is one shuffle on (series, hour), and the LOCF window
    partitions per series — no global sort. Leading gaps before a
    series' first observation stay NULL by design."""
    e = _t(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 2).alias("val"))
    bounds = e.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    spine = (
        e.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(
                F.sequence("h0", "h1", F.expr("interval 1 hour"))
            ).alias("h"),
        )
    )
    j = spine.join(hourly, ["event_type", "h"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        j.select(
            "event_type",
            F.col("h").alias("hour"),
            F.coalesce("cnt", F.lit(0)).alias("cnt"),
            F.when(F.col("cnt").isNull(), 1).otherwise(0).alias("is_gap"),
            F.last("val", ignorenulls=True).over(w).alias("locf_value"),
        )
        .orderBy("event_type", "hour")
    )


# ---------------------------------------------------------------------------
# Z-order layout (Morton interleave) — multi-dimensional clustering
# ---------------------------------------------------------------------------


def _zorder_oracle() -> str:
    from http_log_anonymizer_spark.operators.zorder import morton32_sql

    z = morton32_sql("l_partkey", "l_suppkey")
    return f"""
WITH zc AS (
  SELECT l_partkey, l_suppkey, {z} AS zval
  FROM lineitem
),
zm AS (SELECT max(zval) AS zmax FROM zc),
z AS (
  SELECT l_partkey, l_suppkey,
         CAST(floor(zval * 32.0 / (zm.zmax + 1)) AS BIGINT) AS zbucket
  FROM zc CROSS JOIN zm
)
SELECT zbucket,
       count(*) AS n_rows,
       min(l_partkey) AS min_part, max(l_partkey) AS max_part,
       min(l_suppkey) AS min_supp, max(l_suppkey) AS max_supp
FROM z
GROUP BY zbucket
ORDER BY zbucket
"""


@register("zorder_layout", oracle=_zorder_oracle())
def zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout audit: Morton-interleave (l_partkey, l_suppkey)
    (operators/zorder.py), bucket rows into 32 equal z-ranges (files), and report each bucket's min/max on BOTH dimensions. The
    narrow per-bucket ranges are the point: after
    repartitionByRange(morton32(...)) every output file is a small
    rectangle in key space, so parquet min/max stats prune scans for
    predicates on EITHER column — the layout Delta's OPTIMIZE ZORDER
    produces, as a first-class operator. Exact integer bit arithmetic;
    both engines agree bit-for-bit."""
    from http_log_anonymizer_spark.operators.zorder import morton32

    l = _t(spark, sf_dir, "lineitem")
    zc = l.select("l_partkey", "l_suppkey", morton32("l_partkey", "l_suppkey").alias("zval"))
    zm = zc.agg(F.max("zval").alias("zmax"))
    z = zc.crossJoin(F.broadcast(zm)).select(
        "l_partkey",
        "l_suppkey",
        F.floor(F.col("zval") * 32.0 / (F.col("zmax") + 1)).alias("zbucket"),
    )
    return (
        z.groupBy("zbucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("l_partkey").alias("min_part"),
            F.max("l_partkey").alias("max_part"),
            F.min("l_suppkey").alias("min_supp"),
            F.max("l_suppkey").alias("max_supp"),
        )
        .orderBy("zbucket")
    )


@register(
    "latency_quantile_sketch",
    oracle="""
SELECT event_type,
       count(*) AS n,
       round(quantile_cont(value, 0.5), 4) AS p50,
       round(quantile_cont(value, 0.95), 4) AS p95,
       round(quantile_cont(value, 0.99), 4) AS p99,
       TRUE AS p50_in_bound,
       TRUE AS p95_in_bound,
       TRUE AS p99_in_bound
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def latency_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles per event type via approx_percentile
    (Greenwald-Khanna sketch, relative error eps = 1/accuracy = 0.5%).
    The scale path for quantiles: the sketch merges associatively in
    partial aggregation (one shuffle of KB-sized summaries), where the
    exact `percentile` must shuffle and sort every value. Sketch values
    are engine-specific, so the oracle-checkable output carries the
    exact interpolated percentiles plus per-quantile `*_in_bound`
    booleans; the oracle verifies the exact columns and asserts the
    bounds literally (VERDICT r02 item 3).

    The bound checks assert GK's ACTUAL contract — the estimate's rank
    interval [#(v < a), #(v <= a)] overlaps q*n +/- (eps*n + 1) — not a
    value interval from interpolated percentiles at q +/- 2eps, which
    the rank guarantee does NOT imply once cohorts are small (found by
    the planted-NULL audit: its NULL-event_type cohort was the suite's
    first ~130-row group, where the old value-interval check failed on
    a correct sketch). Ranks count non-NULL values only, matching what
    both engines' percentile functions aggregate. Costs one extra scan
    joined against the |groups|-row broadcast of estimates; accuracy is
    additionally asserted in tests/test_operators.py."""
    e = _t(spark, sf_dir, "events")
    acc = 200
    eps = 1.0 / acc
    pct = F.expr(f"approx_percentile(value, array(0.5, 0.95, 0.99), {acc})")
    est = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").isNotNull().cast("long")).alias("_nn"),
        pct[0].alias("_a50"),
        pct[1].alias("_a95"),
        pct[2].alias("_a99"),
        F.expr("percentile(value, 0.5)").alias("_p50"),
        F.expr("percentile(value, 0.95)").alias("_p95"),
        F.expr("percentile(value, 0.99)").alias("_p99"),
    )
    # the cohort join must be NULL-SAFE: event_type is a grouping key,
    # and a NULL cohort is a real group in both engines — a plain
    # equi-join would silently drop it (the planted-NULL audit)
    est_keys = est.select(
        F.col("event_type").alias("_et"), "_a50", "_a95", "_a99"
    )
    ranks = (
        e.join(F.broadcast(est_keys), F.col("event_type").eqNullSafe(F.col("_et")))
        .drop("_et")
        .groupBy("event_type")
        .agg(
            *[
                x
                for tag in ("50", "95", "99")
                for x in (
                    F.coalesce(
                        F.sum((F.col("value") < F.col(f"_a{tag}")).cast("long")),
                        F.lit(0),
                    ).alias(f"_lt{tag}"),
                    F.coalesce(
                        F.sum((F.col("value") <= F.col(f"_a{tag}")).cast("long")),
                        F.lit(0),
                    ).alias(f"_le{tag}"),
                )
            ]
        )
    )

    def in_bound(tag: str, q: float):
        target = F.lit(q) * F.col("_nn")
        slack = F.lit(eps) * F.col("_nn") + F.lit(1.0)
        ok = (F.col(f"_lt{tag}") <= target + slack) & (
            F.col(f"_le{tag}") >= target - slack
        )
        return F.when(F.col("_nn") == 0, F.lit(True)).otherwise(ok).alias(
            f"p{tag}_in_bound"
        )

    ranks = ranks.withColumnRenamed("event_type", "_et2")
    return (
        est.join(ranks, F.col("event_type").eqNullSafe(F.col("_et2")))
        .select(
            "event_type",
            "n",
            F.round("_p50", 4).alias("p50"),
            F.round("_p95", 4).alias("p95"),
            F.round("_p99", 4).alias("p99"),
            in_bound("50", 0.5),
            in_bound("95", 0.95),
            in_bound("99", 0.99),
        )
        .orderBy("event_type")
    )


def _hilbert_oracle() -> str:
    from http_log_anonymizer_spark.operators.hilbert import hilbert_sql

    walk = hilbert_sql(
        "lineitem", "l_partkey", "l_suppkey", carry=["l_partkey", "l_suppkey"]
    )
    return f"""
WITH {walk},
hm AS (SELECT max(hcode) AS hmax FROM hilbert),
b AS (
  SELECT l_partkey, l_suppkey,
         CAST(floor(hcode * 32.0 / (hm.hmax + 1)) AS BIGINT) AS hbucket
  FROM hilbert CROSS JOIN hm
)
SELECT hbucket,
       count(*) AS n_rows,
       min(l_partkey) AS min_part, max(l_partkey) AS max_part,
       min(l_suppkey) AS min_supp, max(l_suppkey) AS max_supp
FROM b
GROUP BY hbucket
ORDER BY hbucket
"""


@register("hilbert_layout", oracle=_hilbert_oracle())
def hilbert_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve layout audit (operators/hilbert.py): the same
    bucket-rectangle report as zorder_layout but over Hilbert codes,
    whose unit-step adjacency yields bounding boxes at least as tight
    as Morton's (tested). The rotate/reflect bit walk is iterative but
    pure integer arithmetic, so the oracle replays it bit-for-bit via
    hilbert_sql's unrolled MATERIALIZED-CTE chain (VERDICT r02) —
    formerly a rows-only entry; bijectivity and adjacency stay pinned
    in tests/test_operators.py."""
    from http_log_anonymizer_spark.operators.hilbert import with_hilbert_code

    l = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    coded = with_hilbert_code(l, "l_partkey", "l_suppkey")
    hm = coded.agg(F.max("hcode").alias("hmax"))
    return (
        coded.crossJoin(F.broadcast(hm))
        .select(
            "l_partkey",
            "l_suppkey",
            F.floor(F.col("hcode") * 32.0 / (F.col("hmax") + 1)).alias("hbucket"),
        )
        .groupBy("hbucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("l_partkey").alias("min_part"),
            F.max("l_partkey").alias("max_part"),
            F.min("l_suppkey").alias("min_supp"),
            F.max("l_suppkey").alias("max_supp"),
        )
        .orderBy("hbucket")
    )


@register(
    "important_parts",
    oracle="""
WITH contrib AS (
  SELECT l_partkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS val
  FROM lineitem GROUP BY l_partkey
),
total AS (SELECT sum(val) AS tot FROM contrib)
SELECT c.l_partkey, c.val
FROM contrib c, total t
WHERE c.val > t.tot * 0.0005
ORDER BY c.val DESC, c.l_partkey
""",
)
def important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 analog: per-part revenue kept only when it exceeds a
    FRACTION OF THE GLOBAL TOTAL — the HAVING-against-scalar-subquery
    shape. The global total derives from the same per-part aggregate
    (one shuffle, reused: aggregate once, then a 1-row broadcast cross
    join for the threshold — never a second scan of lineitem, never a
    driver-side collect). Per-part values round to cents before the
    total so both engines sum identical numbers."""
    l = _t(spark, sf_dir, "lineitem")
    contrib = l.groupBy("l_partkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("val")
    )
    total = contrib.agg(F.sum("val").alias("tot"))
    return (
        contrib.crossJoin(F.broadcast(total))
        .filter(F.col("val") > F.col("tot") * 0.0005)
        .select("l_partkey", "val")
        .orderBy(F.desc("val"), "l_partkey")
    )


@register(
    "revenue_leaders",
    oracle="""
WITH rev AS (
  SELECT l_suppkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
),
mx AS (SELECT max(total_revenue) AS m FROM rev)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM rev r
JOIN mx ON r.total_revenue = mx.m
JOIN supplier s ON s.s_suppkey = r.l_suppkey
ORDER BY s.s_suppkey
""",
)
def revenue_leaders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 analog: supplier(s) with the quarter's MAXIMUM revenue
    — aggregate, take the max of the aggregate, and join back to keep
    every tier (ties preserved, unlike a LIMIT 1). The max is a 1-row
    broadcast; revenues compare exactly because both engines match on
    the cents-rounded value."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    s = _t(spark, sf_dir, "supplier")
    rev = l.groupBy("l_suppkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "total_revenue"
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("m"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("m"))
        .join(F.broadcast(s), rev.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@register(
    "nation_market_share",
    oracle="""
SELECT
  CAST(year(o.o_orderdate) AS INT) AS o_year,
  round(sum(CASE WHEN n.n_name = 'NATION_3'
                 THEN l.l_extendedprice * (1 - l.l_discount)
                 ELSE 0 END), 2) AS nation_rev,
  round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS total_rev,
  round(sum(CASE WHEN n.n_name = 'NATION_3'
                 THEN l.l_extendedprice * (1 - l.l_discount)
                 ELSE 0 END)
        / sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS share
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'EUROPE'
GROUP BY 1
ORDER BY 1
""",
)
def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 analog: one nation's share of a region's yearly revenue
    — the conditional-sum-ratio shape (share-of-group without a second
    aggregation or self-join). Raw products are summed and the SUM
    rounds (house float policy — per-item rounding diverges between
    engines on representation boundaries); dimensions broadcast, one
    shuffle for the per-year groups."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    item = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    nat = F.sum(F.when(F.col("n_name") == "NATION_3", item).otherwise(0))
    tot = F.sum(item)
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(nat, 2).alias("nation_rev"),
            F.round(tot, 2).alias("total_rev"),
            F.round(nat / tot, 4).alias("share"),
        )
        .orderBy("o_year")
    )


@register(
    "event_funnel",
    oracle="""
WITH v AS (
  SELECT user_id, min(ts) AS t_view FROM events WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(e.ts) AS t_click
  FROM events e JOIN v ON v.user_id = e.user_id
    AND e.ts > v.t_view AND e.ts <= v.t_view + INTERVAL 1 DAY
  WHERE e.event_type = 'click'
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(e.ts) AS t_purchase
  FROM events e JOIN c ON c.user_id = e.user_id
    AND e.ts > c.t_click AND e.ts <= c.t_click + INTERVAL 1 DAY
  WHERE e.event_type = 'purchase'
  GROUP BY e.user_id
)
SELECT
  (SELECT count(*) FROM v) AS n_view,
  (SELECT count(*) FROM c) AS n_view_click,
  (SELECT count(*) FROM p) AS n_full_funnel,
  (SELECT round(avg(date_diff('second', v.t_view, p.t_purchase)), 2)
   FROM p JOIN v ON v.user_id = p.user_id) AS avg_seconds_to_convert
""",
)
def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel analysis: users progressing view -> click -> purchase IN
    ORDER (each stage strictly after the previous one's first
    occurrence) — the sequential-pattern shape behind conversion
    dashboards, here as stage-anchored min-timestamp joins rather than
    a per-user sort. Each stage is one groupBy on user_id + one join;
    at scale all three shuffles share the user_id partitioning and AQE
    reuses the exchange. Integer-second diffs keep the average exact."""
    e = _t(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(
            (F.col("ts") > F.col("t_view"))
            & (F.col("ts") <= F.col("t_view") + F.expr("interval 1 day"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("ts") > F.col("t_click"))
            & (F.col("ts") <= F.col("t_click") + F.expr("interval 1 day"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    conv = p.join(v, "user_id").select(
        (F.unix_timestamp("t_purchase") - F.unix_timestamp("t_view")).alias("dt")
    )
    nv = v.agg(F.count("*").alias("n_view"))
    nc = c.agg(F.count("*").alias("n_view_click"))
    np_ = p.agg(F.count("*").alias("n_full_funnel"))
    avg = conv.agg(F.round(F.avg("dt"), 2).alias("avg_seconds_to_convert"))
    return nv.crossJoin(nc).crossJoin(np_).crossJoin(avg)


@register(
    "retention_cohorts",
    oracle="""
WITH first_seen AS (
  SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week,
         CAST(min(ts) AS DATE) AS first_day
  FROM events GROUP BY user_id
),
activity AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
ret AS (
  SELECT f.cohort_week,
         CAST(date_diff('day', f.first_day, a.d) // 7 AS INT) AS week_offset,
         count(DISTINCT a.user_id) AS n_active
  FROM activity a JOIN first_seen f ON f.user_id = a.user_id
  WHERE a.d >= f.first_day
  GROUP BY 1, 2
)
SELECT CAST(cohort_week AS VARCHAR) AS cohort_week, week_offset, n_active
FROM ret
WHERE week_offset <= 3
ORDER BY cohort_week, week_offset
""",
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen week, with
    distinct-active counts per whole-week offset from each user's first
    day — the dashboard behind every growth team. Shapes exercised:
    min-per-user cohort assignment, distinct day-level activity, an
    inequality-guarded join back, and integer week bucketing (day diff
    // 7 — exact in both engines, unlike engine-specific week-boundary
    date_diff semantics). All three aggregations shuffle on user_id
    first; the final matrix is tiny."""
    e = _t(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week"),
        F.min("ts").cast("date").alias("first_day"),
    )
    activity = e.select("user_id", F.col("ts").cast("date").alias("d")).distinct()
    ret = (
        activity.join(first_seen, "user_id")
        .filter(F.col("d") >= F.col("first_day"))
        .groupBy(
            "cohort_week",
            F.floor(F.datediff("d", "first_day") / 7).cast("int").alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )
    return (
        ret.filter(F.col("week_offset") <= 3)
        .select(
            F.col("cohort_week").cast("string").alias("cohort_week"),
            "week_offset",
            "n_active",
        )
        .orderBy("cohort_week", "week_offset")
    )


@register(
    "event_transition_matrix",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events WHERE ts IS NOT NULL
),
counts AS (
  SELECT prev, event_type AS next, count(*) AS n
  FROM seq WHERE prev IS NOT NULL
  GROUP BY prev, next
)
SELECT prev, next, n,
       round(n * 1.0 / sum(n) OVER (PARTITION BY prev), 4) AS p
FROM counts
ORDER BY prev, next
""",
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: lag() builds the bigrams, a grouped count tallies them,
    and a window OVER THE AGGREGATE normalizes each row into a
    transition probability — the aggregate-then-window composition
    (sum-of-counts per prev) that avoids a second shuffle by reusing
    the groupBy partitioning. Sequence order is total (ts, event_id) so
    both engines see identical bigrams; n/sum(n) is an exact integer
    ratio rounded once."""
    # undated events cannot be time-ordered, and NULL ts sits at
    # opposite ends of the two engines' ordered windows (Spark NULLS
    # FIRST vs DuckDB NULLS LAST) — excluded identically in both
    # engines (the planted-NULL audit's divergence).
    e = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select("user_id", "event_type", F.lag("event_type").over(w).alias("prev"))
    counts = (
        seq.filter(F.col("prev").isNotNull())
        .groupBy("prev", F.col("event_type").alias("next"))
        .agg(F.count("*").alias("n"))
    )
    wp = Window.partitionBy("prev")
    return (
        counts.select(
            "prev", "next", "n", F.round(F.col("n") * 1.0 / F.sum("n").over(wp), 4).alias("p")
        )
        .orderBy("prev", "next")
    )


@register(
    "winsorized_stats",
    oracle="""
WITH ranked AS (
  SELECT event_type, value,
         percent_rank() OVER (
           PARTITION BY event_type ORDER BY value, event_id
         ) AS pr
  FROM events WHERE value IS NOT NULL
)
SELECT event_type,
       count(*) AS n_kept,
       round(avg(value), 4) AS trimmed_mean,
       round(min(value), 2) AS lo,
       round(max(value), 2) AS hi
FROM ranked
WHERE pr >= 0.05 AND pr <= 0.95
GROUP BY event_type
ORDER BY event_type
""",
)
def winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (trimmed) statistics: drop the top and bottom 5% of values
    per group via percent_rank, then aggregate — the outlier-resistant
    mean every metrics pipeline wants next to the raw one. The rank
    order is total (value, event_id) so both engines trim identical
    rows; only the already-trimmed subset's mean is rounded. At scale
    the window sorts within each group's partition — same shuffle as
    the subsequent aggregation, reused."""
    # a missing measurement cannot be ranked: NULL value would sit at
    # opposite ends of the trim window in the two engines (Spark NULLS
    # FIRST vs DuckDB NULLS LAST), shifting the percentile cut — the
    # planted-NULL audit's divergence. Excluded identically both sides.
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    ranked = e.select("event_type", "value", F.percent_rank().over(w).alias("pr"))
    return (
        ranked.filter((F.col("pr") >= 0.05) & (F.col("pr") <= 0.95))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_kept"),
            F.round(F.avg("value"), 4).alias("trimmed_mean"),
            F.round(F.min("value"), 2).alias("lo"),
            F.round(F.max("value"), 2).alias("hi"),
        )
        .orderBy("event_type")
    )


@register(
    "data_quality_report",
    oracle="""
SELECT 'orders_pk_unique' AS check_name,
       (SELECT count(*) FROM orders) AS n_checked,
       (SELECT count(*) FROM (
          SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING count(*) > 1
        )) AS n_violations
UNION ALL
SELECT 'orders_customer_fk',
       (SELECT count(*) FROM orders),
       (SELECT count(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
UNION ALL
SELECT 'lineitem_order_fk',
       (SELECT count(*) FROM lineitem),
       (SELECT count(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
UNION ALL
SELECT 'orders_price_positive',
       (SELECT count(*) FROM orders),
       (SELECT count(*) FROM orders WHERE o_totalprice IS NULL OR o_totalprice <= 0)
UNION ALL
SELECT 'lineitem_discount_range',
       (SELECT count(*) FROM lineitem),
       (SELECT count(*) FROM lineitem
        WHERE l_discount IS NULL OR l_discount < 0 OR l_discount > 1)
ORDER BY check_name
""",
)
def data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectations report (the Deequ/Great-Expectations
    shape): primary-key uniqueness, two referential-integrity checks
    (anti joins), and two domain-range constraints, each emitted as
    (check, n_checked, n_violations). The checks share table scans
    where Catalyst can (counts fuse into one aggregate per table); FK
    checks are anti joins that broadcast the key side at scale. The
    gate a 100 TB ingest runs before anything downstream trusts the
    batch. No driver-side ``count()`` actions (VERDICT r04 item 5):
    each table's row count and its domain-range violations fuse into
    ONE conditional aggregate per table (a single column-pruned scan),
    and those 1-row stats broadcast onto the join/groupBy checks — the
    whole report is one job."""
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    c = _t(spark, sf_dir, "customer")

    # one pass per table: total rows + the domain-constraint violations
    price_bad = F.col("o_totalprice").isNull() | (F.col("o_totalprice") <= 0)
    disc_bad = (
        F.col("l_discount").isNull()
        | (F.col("l_discount") < 0)
        | (F.col("l_discount") > 1)
    )
    o_stats = o.agg(
        F.count("*").alias("n_checked"),
        F.count_if(price_bad).alias("domain_viol"),
    )
    l_stats = l.agg(
        F.count("*").alias("n_checked"),
        F.count_if(disc_bad).alias("domain_viol"),
    )

    def row(name: str, stats: DataFrame, violations: DataFrame) -> DataFrame:
        # violations -> 1-row count, n_checked grafted from the 1-row
        # stats aggregate (broadcast crossJoin — no driver action)
        v = violations.agg(F.count("*").alias("n_violations"))
        return v.crossJoin(F.broadcast(stats.select("n_checked"))).select(
            F.lit(name).alias("check_name"), "n_checked", "n_violations"
        )

    def domain_row(name: str, stats: DataFrame) -> DataFrame:
        return stats.select(
            F.lit(name).alias("check_name"),
            "n_checked",
            F.col("domain_viol").alias("n_violations"),
        )

    dup_pk = o.groupBy("o_orderkey").agg(F.count("*").alias("cc")).filter(F.col("cc") > 1)
    # shuffle_hash hints (r10 sweep; r10-opt: was merge): the FK key
    # sides are FULL key columns of corpus-scaled tables, but
    # single-column pruning shrinks their size ESTIMATE far below the
    # 64 MiB broadcast threshold long after the true HashedRelation
    # stops fitting (measured: the static sf100 plan built all 15M
    # customer keys as a broadcast anti join). A per-partition hash
    # build keeps the no-static-broadcast safety without sorting the
    # probe side (orders / lineitem, the two biggest tables).
    fk_cust = o.join(
        c.select("c_custkey").hint("shuffle_hash"),
        o.o_custkey == c.c_custkey,
        "left_anti",
    )
    fk_order = l.join(
        o.select("o_orderkey").hint("shuffle_hash"),
        l.l_orderkey == o.o_orderkey,
        "left_anti",
    )
    report = (
        row("orders_pk_unique", o_stats, dup_pk)
        .unionAll(row("orders_customer_fk", o_stats, fk_cust))
        .unionAll(row("lineitem_order_fk", l_stats, fk_order))
        .unionAll(domain_row("orders_price_positive", o_stats))
        .unionAll(domain_row("lineitem_discount_range", l_stats))
    )
    return report.orderBy("check_name")


@register(
    "snapshot_diff_cdc",
    oracle="""
WITH prev AS (
  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 17 <> 0
),
curr AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 5 = 0 THEN round(o_totalprice * 1.1, 2)
              ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_orderkey % 13 <> 0
),
diff AS (
  SELECT
    CASE
      WHEN p.o_orderkey IS NULL THEN 'insert'
      WHEN c.o_orderkey IS NULL THEN 'delete'
      WHEN p.o_totalprice IS DISTINCT FROM c.o_totalprice THEN 'update'
      ELSE 'unchanged'
    END AS op
  FROM prev p FULL OUTER JOIN curr c ON p.o_orderkey = c.o_orderkey
)
SELECT op, count(*) AS n FROM diff GROUP BY op ORDER BY op
""",
)
def snapshot_diff_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture by snapshot diff: FULL OUTER JOIN two table
    versions on the key and classify each row insert / delete / update
    / unchanged, with the update test done null-safely (IS DISTINCT
    FROM == Spark's eqNullSafe negation) — the merge-source computation
    behind every SCD-2 / incremental-materialization job. The two
    snapshots derive deterministically from orders (dropped keys, new
    keys, 10% price bumps). At scale both sides shuffle once on the
    join key; the classification is a codegen CASE."""
    o = _t(spark, sf_dir, "orders")
    prev = o.filter(F.col("o_orderkey") % 17 != 0).select(
        F.col("o_orderkey").alias("pk"), F.col("o_totalprice").alias("pv")
    )
    curr = o.filter(F.col("o_orderkey") % 13 != 0).select(
        F.col("o_orderkey").alias("ck"),
        F.when(
            F.col("o_orderkey") % 5 == 0, F.round(F.col("o_totalprice") * 1.1, 2)
        ).otherwise(F.col("o_totalprice")).alias("cv"),
    )
    op = (
        F.when(F.col("pk").isNull(), "insert")
        .when(F.col("ck").isNull(), "delete")
        .when(~F.col("pv").eqNullSafe(F.col("cv")), "update")
        .otherwise("unchanged")
    )
    return (
        prev.join(curr, prev.pk == curr.ck, "full_outer")
        .select(op.alias("op"))
        .groupBy("op")
        .agg(F.count("*").alias("n"))
        .orderBy("op")
    )


@register(
    "user_entropy_scores",
    oracle="""
WITH per AS (
  SELECT user_id, event_type, count(*) AS c
  FROM events GROUP BY user_id, event_type
),
tot AS (SELECT user_id, sum(c) AS n FROM per GROUP BY user_id),
ent AS (
  SELECT p.user_id,
         round(-sum((p.c * 1.0 / t.n) * ln(p.c * 1.0 / t.n)), 4) AS entropy
  FROM per p JOIN tot t ON t.user_id = p.user_id
  GROUP BY p.user_id
)
SELECT CAST(floor(entropy * 50) AS BIGINT) AS entropy_bin,
       count(*) AS n_users,
       round(min(entropy), 4) AS min_entropy,
       round(max(entropy), 4) AS max_entropy
FROM ent
GROUP BY 1
ORDER BY 1
""",
)
def user_entropy_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral entropy per user — Shannon entropy of each user's
    event-type distribution, histogrammed in 0.02-nat bins. Low entropy
    = repetitive single-action behavior (bots, scrapers); high entropy
    = diverse organic usage — a standard feature in traffic-quality
    scoring, computable in two shuffles on user_id (the per-type counts
    and their totals reuse one partitioning). Entropy rounds to 4
    decimals before binning so engine ulp differences in ln can't move
    a user across a bin edge."""
    e = _t(spark, sf_dir, "events")
    per = e.groupBy("user_id", "event_type").agg(F.count("*").alias("c"))
    tot = per.groupBy("user_id").agg(F.sum("c").alias("n"))
    p = F.col("c") * 1.0 / F.col("n")
    ent = (
        per.join(tot, "user_id")
        .groupBy("user_id")
        .agg(F.round(-F.sum(p * F.log(p)), 4).alias("entropy"))
    )
    return (
        ent.groupBy(F.floor(F.col("entropy") * 50).alias("entropy_bin"))
        .agg(
            F.count("*").alias("n_users"),
            F.round(F.min("entropy"), 4).alias("min_entropy"),
            F.round(F.max("entropy"), 4).alias("max_entropy"),
        )
        .orderBy("entropy_bin")
    )


@register(
    "rolling_correlation",
    oracle="""
WITH d AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS buys
  FROM events WHERE ts IS NOT NULL GROUP BY 1
),
s AS (
  SELECT day, clicks, buys,
         count(*) OVER w AS n,
         sum(clicks) OVER w AS sx, sum(buys) OVER w AS sy,
         sum(clicks * clicks) OVER w AS sxx, sum(buys * buys) OVER w AS syy,
         sum(clicks * buys) OVER w AS sxy
  FROM d
  WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT CAST(day AS VARCHAR) AS day, clicks, buys,
       CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) > 0
            THEN round((n * sxy - sx * sy)
                       / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                          * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 4)
            ELSE NULL END AS corr7
FROM s
ORDER BY day
""",
)
def rolling_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day correlation between daily click and purchase
    volumes — the co-movement signal behind demand dashboards. Built
    from exact INTEGER window sums and the closed-form
    (n*Sxy - Sx*Sy) / sqrt(...) instead of the built-in corr(): the
    incremental estimators Spark and DuckDB use internally accumulate
    in different orders, but integer sums are exact in both, so the
    final doubles match to the last bit. Zero-variance windows yield
    NULL in both engines. One scan, one tiny daily series, one window
    pass."""
    # undated events have no place in a daily series, and a NULL day
    # group would sit at opposite ends of the rolling ORDER BY in the
    # two engines (Spark NULLS FIRST vs DuckDB NULLS LAST), shifting
    # every 7-row frame — excluded identically in both engines (the
    # planted-NULL audit's divergence).
    e = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    d = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("clicks"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("buys"),
    )
    w = Window.orderBy("day").rowsBetween(-6, 0)
    s = d.select(
        "day", "clicks", "buys",
        F.count("*").over(w).alias("n"),
        F.sum("clicks").over(w).alias("sx"),
        F.sum("buys").over(w).alias("sy"),
        F.sum(F.col("clicks") * F.col("clicks")).over(w).alias("sxx"),
        F.sum(F.col("buys") * F.col("buys")).over(w).alias("syy"),
        F.sum(F.col("clicks") * F.col("buys")).over(w).alias("sxy"),
    )
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    corr = F.when(
        vx * vy > 0,
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double"))),
            4,
        ),
    )
    return (
        s.select(
            F.col("day").cast("string").alias("day"),
            "clicks",
            "buys",
            corr.alias("corr7"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) distinct sketch with set-operation estimators
# ---------------------------------------------------------------------------

# Beyer et al., SIGMOD 2007: the k smallest hash values of a set form a
# mergeable synopsis supporting distinct-count AND set-overlap
# estimation — the capability HLL lacks (HLL unions but cannot
# intersect). Unlike probabilistic sketches, KMV is DETERMINISTIC given
# the hash, so the full estimator pipeline is oracle-checkable.
_KMV_K = 64
_KMV_MAX = (1 << 60) - 1  # hash64 range is 60-bit


@register(
    "kmv_cohort_overlap",
    oracle=f"""
WITH u AS (
  SELECT DISTINCT event_type AS t,
         CAST(('0x' || substr(md5('0|' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
  FROM events
),
syn AS (
  SELECT t, h FROM (
    SELECT t, h, row_number() OVER (PARTITION BY t ORDER BY h) AS rk FROM u
  ) WHERE rk <= {_KMV_K}
),
exact AS (SELECT t, count(*) AS n FROM u GROUP BY t),
prs AS (
  SELECT a.t AS ta, b.t AS tb
  FROM (SELECT DISTINCT t FROM u) a JOIN (SELECT DISTINCT t FROM u) b ON a.t < b.t
),
m AS (
  SELECT p.ta, p.tb, s.h,
         max(CASE WHEN s.t = p.ta THEN 1 ELSE 0 END) AS ina,
         max(CASE WHEN s.t = p.tb THEN 1 ELSE 0 END) AS inb
  FROM prs p JOIN syn s ON s.t IN (p.ta, p.tb)
  GROUP BY p.ta, p.tb, s.h
),
ranked AS (
  SELECT ta, tb, h, ina, inb,
         row_number() OVER (PARTITION BY ta, tb ORDER BY h) AS rk
  FROM m
),
est AS (
  SELECT ta, tb,
         CAST(sum(ina * inb) AS BIGINT) AS k_both,
         max(h) AS hk,
         count(*) AS kk
  FROM ranked WHERE rk <= {_KMV_K}
  GROUP BY ta, tb
),
ej AS (
  SELECT ua.t AS ta, ub.t AS tb, count(*) AS n_inter
  FROM u ua JOIN u ub ON ua.h = ub.h AND ua.t < ub.t
  GROUP BY ua.t, ub.t
)
SELECT e.ta AS type_a, e.tb AS type_b,
       round(e.k_both * 1.0 / e.kk, 4) AS jaccard_kmv,
       CASE WHEN e.kk < {_KMV_K} THEN round(e.kk * 1.0, 1)
            ELSE round((e.kk - 1) * {_KMV_MAX}.0 / e.hk / 1.0, 1) END AS union_est,
       round(COALESCE(ej.n_inter, 0) * 1.0 /
             (na.n + nb.n - COALESCE(ej.n_inter, 0)), 4) AS jaccard_exact
FROM est e
JOIN exact na ON na.t = e.ta
JOIN exact nb ON nb.t = e.tb
LEFT JOIN ej ON ej.ta = e.ta AND ej.tb = e.tb
ORDER BY type_a, type_b
""",
)
def kmv_cohort_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct sketches (Beyer et al., SIGMOD 2007) per event-type
    cohort over user_id, with the set-operation estimators HLL cannot
    provide: pairwise Jaccard from the merged k-minimum synopsis and a
    union-size estimate from its k-th hash — reported next to the exact
    Jaccard so the sketch's accuracy is part of the contract. When the
    merged synopsis is unsaturated (kk < k) the union estimate IS the
    exact distinct count kk, so small cohorts report it directly
    instead of estimator noise (ADVICE r02).

    Scale shape: the only corpus-sized shuffle is the distinct on
    (cohort, hash); each cohort then collapses to its k=64 (_KMV_K)
    smallest hashes via a per-cohort window (k rows out per cohort, and
    a cluster run would pre-prune with a per-partition top-k the way
    operators/reservoir.py does). Everything pairwise operates on
    k-row synopses — cohorts x k rows total, broadcastable at any
    corpus size. This is the sketch to use when cohort INTERSECTIONS
    matter; distinct_users_approx (HLL++) remains the union-only
    counter.
    """
    from http_log_anonymizer_spark.functions.text import hash64

    e = _t(spark, sf_dir, "events")
    u = e.select(
        F.col("event_type").alias("t"),
        hash64(F.col("user_id").cast("string")).alias("h"),
    ).distinct()
    # one pass for the four consumers below
    u = pin(u)

    wt = Window.partitionBy("t").orderBy("h")
    syn = u.select("t", "h", F.row_number().over(wt).alias("rk")).filter(
        F.col("rk") <= _KMV_K
    )
    exact = u.groupBy("t").agg(F.count("*").alias("n"))
    types = u.select("t").distinct()
    prs = (
        types.alias("a")
        .crossJoin(types.alias("b"))
        .filter(F.col("a.t") < F.col("b.t"))
        .select(F.col("a.t").alias("ta"), F.col("b.t").alias("tb"))
    )
    m = (
        F.broadcast(prs)
        .join(syn, (syn["t"] == F.col("ta")) | (syn["t"] == F.col("tb")))
        .groupBy("ta", "tb", "h")
        .agg(
            F.max(F.when(F.col("t") == F.col("ta"), 1).otherwise(0)).alias("ina"),
            F.max(F.when(F.col("t") == F.col("tb"), 1).otherwise(0)).alias("inb"),
        )
    )
    wp = Window.partitionBy("ta", "tb").orderBy("h")
    est = (
        m.select("ta", "tb", "h", "ina", "inb", F.row_number().over(wp).alias("rk"))
        .filter(F.col("rk") <= _KMV_K)
        .groupBy("ta", "tb")
        .agg(
            F.sum(F.col("ina") * F.col("inb")).alias("k_both"),
            F.max("h").alias("hk"),
            F.count("*").alias("kk"),
        )
    )
    ua, ub = u.alias("ua"), u.alias("ub")
    ej = (
        ua.join(ub, (F.col("ua.h") == F.col("ub.h")) & (F.col("ua.t") < F.col("ub.t")))
        .groupBy(F.col("ua.t").alias("ta"), F.col("ub.t").alias("tb"))
        .agg(F.count("*").alias("n_inter"))
    )
    na = exact.select(F.col("t").alias("ta"), F.col("n").alias("n_a"))
    nb = exact.select(F.col("t").alias("tb"), F.col("n").alias("n_b"))
    inter = F.coalesce("n_inter", F.lit(0))
    return (
        est.join(ej, ["ta", "tb"], "left")
        .join(F.broadcast(na), "ta")
        .join(F.broadcast(nb), "tb")
        .select(
            F.col("ta").alias("type_a"),
            F.col("tb").alias("type_b"),
            F.round(F.col("k_both") * 1.0 / F.col("kk"), 4).alias("jaccard_kmv"),
            F.when(F.col("kk") < _KMV_K, F.round(F.col("kk") * 1.0, 1))
            .otherwise(
                F.round(
                    (F.col("kk") - 1) * F.lit(float(_KMV_MAX)) / F.col("hk") / F.lit(1.0), 1
                )
            )
            .alias("union_est"),
            F.round(inter * 1.0 / (F.col("n_a") + F.col("n_b") - inter), 4).alias(
                "jaccard_exact"
            ),
        )
        .orderBy("type_a", "type_b")
    )


# ---------------------------------------------------------------------------
# TPC-H Q14 shape: promotion revenue share
# ---------------------------------------------------------------------------


@register(
    "promo_revenue_share",
    oracle="""
SELECT round(
         100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                          THEN l.l_extendedprice * (1 - l.l_discount)
                          ELSE 0 END)
         / sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS promo_pct,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '2024-02-01'
  AND l.l_shipdate <  TIMESTAMP '2024-03-01'
""",
)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: share of one month's revenue from promo-class
    parts — a conditional-sum ratio over a fact-dim join. The shipdate
    band predicate pushes to the parquet scan; `part` broadcasts (it is
    dimension-sized at any SF); the aggregate is a single global
    reduction with map-side partials."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "2024-02-01") & (F.col("l_shipdate") < "2024-03-01")
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("promo_pct"),
            F.count("*").alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q18 shape: large-quantity orders
# ---------------------------------------------------------------------------

_LARGE_ORDER_QTY = 350


@register(
    "large_order_customers",
    oracle=f"""
WITH big AS (
  SELECT l_orderkey, sum(l_quantity) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING sum(l_quantity) > {_LARGE_ORDER_QTY}
)
SELECT c.c_name, o.o_orderkey,
       CAST(o.o_orderdate AS VARCHAR) AS o_orderdate,
       o.o_totalprice, round(b.total_qty, 2) AS total_qty
FROM big b
JOIN orders o ON o.o_orderkey = b.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
ORDER BY o.o_totalprice DESC, o.o_orderkey
""",
)
def large_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: customers whose single orders exceed a quantity
    threshold — groupBy-HAVING on the fact table feeding a two-hop
    dimension join. The HAVING collapses lineitem to a tiny order set
    BEFORE any join (the aggregation is the filter), so the joins
    against orders/customer are selective probes; at scale the `big`
    side is small enough that AQE converts both joins to broadcasts."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > _LARGE_ORDER_QTY)
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            F.col("o_orderdate").cast("string").alias("o_orderdate"),
            "o_totalprice",
            F.round("total_qty", 2).alias("total_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    )


# ---------------------------------------------------------------------------
# Count-Min sketch (Cormode & Muthukrishnan, J.Alg 2005) with EXACT
# cross-engine replay: the hash functions are md5-derived, so Spark and
# DuckDB build bit-identical counter tables — the sketch CONSTRUCTION
# itself is driver-hash-verified, not just its outputs (the same
# discipline as kmv_cohort_overlap; HLL/top-k/GK stay engine-opaque).
# ---------------------------------------------------------------------------

_CMS_DEPTH = 4
_CMS_WIDTH = 64
_CMS_TOP = 20


def _cms_oracle() -> str:
    from http_log_anonymizer_spark.functions.text import hash64_sql

    rows = " UNION ALL ".join(
        f"SELECT user_id, n, {j} AS j, "
        f"{hash64_sql('CAST(user_id AS VARCHAR)', f'cms{j}')} % {_CMS_WIDTH} AS bucket "
        "FROM per_user"
        for j in range(_CMS_DEPTH)
    )
    return f"""
WITH per_user AS (
  SELECT user_id, count(*) AS n FROM events GROUP BY user_id
),
keyed AS ({rows}),
counters AS (
  SELECT j, bucket, sum(n) AS c FROM keyed GROUP BY j, bucket
),
est AS (
  SELECT k.user_id, min(c.c) AS cms_est
  FROM (SELECT DISTINCT user_id, j, bucket FROM keyed) k
  JOIN counters c ON c.j = k.j AND c.bucket = k.bucket
  GROUP BY k.user_id
),
total AS (SELECT sum(n) AS total_n FROM per_user),
top AS (
  SELECT user_id, n FROM per_user ORDER BY n DESC, user_id LIMIT {_CMS_TOP}
)
SELECT t.user_id AS user_id,
       t.n AS exact_n,
       CAST(e.cms_est AS BIGINT) AS cms_est,
       e.cms_est >= t.n AS never_underestimates,
       (e.cms_est - t.n) * {_CMS_WIDTH} <= 2 * s.total_n AS within_2n_over_w
FROM top t
JOIN est e ON e.user_id = t.user_id
CROSS JOIN total s
ORDER BY exact_n DESC, user_id
"""


@register("cms_user_frequency", oracle=_cms_oracle())
def cms_user_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency estimation over event users: a
    {_CMS_DEPTH} x {_CMS_WIDTH} counter table built with md5-derived
    hashes, point estimates as the min over rows, reported for the top
    {_CMS_TOP} users next to their exact counts with the sketch's two
    deterministic properties (never underestimates; the classic
    eps = 2/width error bound as a per-user boolean).

    Scale shape: the sketch is built from the per-user aggregate (one
    shuffle with map-side combine), then {_CMS_DEPTH} narrow
    projections into a {_CMS_DEPTH * _CMS_WIDTH}-row counter table —
    broadcastable anywhere, mergeable by addition across partitions,
    streams, or days (the same reason the streaming heavy-hitter sink
    can adopt it). Estimation joins each queried key against
    {_CMS_DEPTH} counter rows — O(1) per key, independent of
    cardinality."""
    from http_log_anonymizer_spark.functions.text import hash64

    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(F.count("*").alias("n")).cache()
    keyed = None
    for j in range(_CMS_DEPTH):
        k = per_user.select(
            "user_id",
            "n",
            F.lit(j).alias("j"),
            (hash64(F.col("user_id").cast("string"), f"cms{j}") % _CMS_WIDTH).alias(
                "bucket"
            ),
        )
        keyed = k if keyed is None else keyed.unionByName(k)
    counters = keyed.groupBy("j", "bucket").agg(F.sum("n").alias("c"))
    est = (
        keyed.select("user_id", "j", "bucket")
        .distinct()
        .join(F.broadcast(counters), ["j", "bucket"])
        .groupBy("user_id")
        .agg(F.min("c").alias("cms_est"))
    )
    total = per_user.agg(F.sum("n").alias("total_n"))
    top = per_user.orderBy(F.desc("n"), "user_id").limit(_CMS_TOP)
    return (
        top.join(est, "user_id")
        .crossJoin(F.broadcast(total))
        .select(
            "user_id",
            F.col("n").alias("exact_n"),
            F.col("cms_est").cast("long").alias("cms_est"),
            (F.col("cms_est") >= F.col("n")).alias("never_underestimates"),
            ((F.col("cms_est") - F.col("n")) * _CMS_WIDTH <= 2 * F.col("total_n")).alias(
                "within_2n_over_w"
            ),
        )
        .orderBy(F.desc("exact_n"), "user_id")
    )


# ---------------------------------------------------------------------------
# Explicit HyperLogLog (Flajolet et al., AofA 2007) with EXACT
# cross-engine replay, completing the deterministic-sketch pair with
# cms_user_frequency: md5-derived hashes + an integer-only rank
# function make the REGISTER TABLE bit-identical in Spark and DuckDB,
# so construction, estimate and guarantee all hash-verify.
# (`distinct_users_approx` keeps exercising Spark's built-in HLL++;
# this query is the engine-replayable construction.)
# ---------------------------------------------------------------------------

_HLL_B = 6  # 2^6 = 64 registers
_HLL_M = 1 << _HLL_B
_HLL_ALPHA = 0.709  # alpha_64 (Flajolet et al., Fig. 3)


def _hll_oracle() -> str:
    from http_log_anonymizer_spark.functions.text import hash64_sql

    h = hash64_sql("CAST(user_id AS VARCHAR)", "hll")
    # rank = trailing zeros of the suffix + 1 (PCSA-style tail bit:
    # same geometric law as leading zeros, but computable with pure
    # integer ops that both engines evaluate bit-identically;
    # all-zero suffix -> max rank 55)
    return f"""
WITH hashed AS (
  SELECT DISTINCT {h} AS h FROM events
),
parts AS (
  SELECT h & {_HLL_M - 1} AS bucket, h >> {_HLL_B} AS v FROM hashed
),
regs AS (
  SELECT bucket,
         max(CASE WHEN v = 0 THEN 55
                  ELSE bit_count(xor(v & -v, (v & -v) - 1)) END) AS m_j
  FROM parts GROUP BY bucket
),
est AS (
  SELECT {_HLL_ALPHA} * {_HLL_M} * {_HLL_M}
           / (sum(pow(2.0, -m_j)) + ({_HLL_M} - count(*))) AS raw,
         {_HLL_M} - count(*) AS zeros
  FROM regs
),
corrected AS (
  SELECT CASE WHEN raw < 2.5 * {_HLL_M} AND zeros > 0
              THEN {_HLL_M} * ln({_HLL_M} * 1.0 / zeros)
              ELSE raw END AS est
  FROM est
),
exact AS (SELECT count(DISTINCT user_id) AS n FROM events)
SELECT e.n AS exact_distinct,
       round(c.est, 4) AS hll_est,
       abs(c.est - e.n) <= 0.4 * e.n AS within_3_sigma
FROM exact e CROSS JOIN corrected c
"""


@register("hll_user_cardinality", oracle=_hll_oracle())
def hll_user_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-user estimate from an EXPLICIT {_HLL_M}-register
    HyperLogLog: md5 hash -> low {_HLL_B} bits pick the register, the
    suffix's tail rank (trailing zeros + 1 — integer-only, so both
    engines agree on every register bit) updates it via max, with the
    standard small-range linear-counting correction. Reported next to
    the exact count with the 3-sigma (~40% at m=64) accuracy bool.

    Scale shape: one shuffle to distinct the hashes (map-side
    combine), then a {_HLL_M}-row register aggregate — broadcastable,
    mergeable by register-wise max across partitions, streams or days,
    the property every production cardinality pipeline builds on.
    The tiny register count is deliberate (the driver hashes the whole
    result, so the demo favours verifiability; production would use
    2^12+ registers for ~1.6% error — one constant)."""
    from http_log_anonymizer_spark.functions.text import hash64

    e = load_table(spark, sf_dir, "events")
    hashed = e.select(
        hash64(F.col("user_id").cast("string"), "hll").alias("h")
    ).distinct()
    parts = hashed.select(
        F.col("h").bitwiseAND(_HLL_M - 1).alias("bucket"),
        F.shiftright("h", _HLL_B).alias("v"),
    )
    low = F.col("v").bitwiseAND(-F.col("v"))
    rank = F.when(F.col("v") == 0, F.lit(55)).otherwise(
        F.bit_count(low.bitwiseXOR(low - 1))
    )
    regs = parts.select("bucket", rank.alias("r")).groupBy("bucket").agg(
        F.max("r").alias("m_j")
    )
    est = regs.agg(
        (
            _HLL_ALPHA
            * _HLL_M
            * _HLL_M
            / (F.sum(F.pow(F.lit(2.0), -F.col("m_j"))) + (_HLL_M - F.count("*")))
        ).alias("raw"),
        (_HLL_M - F.count("*")).alias("zeros"),
    )
    corrected = est.select(
        F.when(
            (F.col("raw") < 2.5 * _HLL_M) & (F.col("zeros") > 0),
            _HLL_M * F.log(_HLL_M * 1.0 / F.col("zeros")),
        )
        .otherwise(F.col("raw"))
        .alias("est")
    )
    exact = e.agg(F.count_distinct("user_id").alias("n"))
    return exact.crossJoin(F.broadcast(corrected)).select(
        F.col("n").alias("exact_distinct"),
        F.round("est", 4).alias("hll_est"),
        (F.abs(F.col("est") - F.col("n")) <= 0.4 * F.col("n")).alias("within_3_sigma"),
    )


# ---------------------------------------------------------------------------
# AMS second-moment sketch (Alon, Matias & Szegedy, STOC 1996) — F2 =
# sum of squared frequencies = the self-join size, the quantity join
# optimizers and skew detectors estimate. Third member of the
# exact-replay sketch family (CMS: frequencies, HLL: cardinality):
# sign hashes are md5-derived bits, so every counter is bit-identical
# across engines and the whole construction hash-verifies.
# ---------------------------------------------------------------------------

_AMS_K = 9  # independent estimators; median-of-9


def _ams_oracle() -> str:
    from http_log_anonymizer_spark.functions.text import hash64_sql

    signs = ", ".join(
        f"sum(n * (1 - 2 * ({hash64_sql('CAST(user_id AS VARCHAR)', f'ams{j}')} & 1))) AS z{j}"
        for j in range(_AMS_K)
    )
    zs = ", ".join(f"CAST(z{j} AS DOUBLE) * z{j}" for j in range(_AMS_K))
    return f"""
WITH per_user AS (
  SELECT user_id, count(*) AS n FROM events GROUP BY user_id
),
sketch AS (SELECT {signs} FROM per_user),
est AS (SELECT median(u.x) AS f2_est FROM sketch, unnest([{zs}]) AS u(x)),
exact AS (SELECT sum(n * n) AS f2 FROM per_user)
SELECT CAST(e.f2 AS BIGINT) AS exact_f2,
       round(s.f2_est, 4) AS ams_est,
       abs(s.f2_est - e.f2) <= e.f2 AS within_factor_2
FROM exact e CROSS JOIN est s
"""


@register("ams_f2_selfjoin_size", oracle=_ams_oracle())
def ams_f2_selfjoin_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-join size (F2 = sum of squared user frequencies) estimated
    by {_AMS_K} independent AMS sign sketches (md5-derived +/-1 per
    (estimator, key); each Z_j = sum f_x * s_j(x); E[Z^2] = F2),
    combined by median and reported next to the exact value with the
    within-2x accuracy bool. F2 is what a join planner consults before
    self-joining a skewed key — the engine's own AQE skew decisions
    rest on the same quantity.

    Scale shape: one frequency aggregation (map-side combine), then
    {_AMS_K} signed sums folded in a single 1-row aggregate —
    mergeable by addition across partitions/streams/days, O(k) state.
    Like the CMS/HLL twins, the construction is deterministic in both
    engines, so the driver hash-checks the sketch itself."""
    from http_log_anonymizer_spark.functions.text import hash64

    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(F.count("*").alias("n"))
    zs = [
        F.sum(
            F.col("n")
            * (1 - 2 * hash64(F.col("user_id").cast("string"), f"ams{j}").bitwiseAND(F.lit(1)))
        ).alias(f"z{j}")
        for j in range(_AMS_K)
    ]
    sketch = per_user.agg(*zs)
    sq = F.array(*[(F.col(f"z{j}").cast("double") * F.col(f"z{j}")) for j in range(_AMS_K)])
    est = sketch.select(
        F.element_at(F.array_sort(sq), (_AMS_K + 1) // 2).alias("f2_est")
    )
    exact = per_user.agg(F.sum(F.col("n") * F.col("n")).alias("f2"))
    return exact.crossJoin(F.broadcast(est)).select(
        F.col("f2").cast("long").alias("exact_f2"),
        F.round("f2_est", 4).alias("ams_est"),
        (F.abs(F.col("f2_est") - F.col("f2")) <= F.col("f2")).alias("within_factor_2"),
    )


# ---------------------------------------------------------------------------
# The part co-purchase graph shared by the graph queries below: two
# parts are linked when they appear in the same order. Every graph
# decision is written once here, each with its DuckDB twin: the
# lineitem self-equi-join on l_orderkey (bounded per-order fan-out, no
# cartesian risk), the support threshold, the directed and undirected
# edge builds, the degree table, the symmetric arcs and the
# degree-ordered triangle listing. The edge builders do not pin: the
# PageRank rounds need an unpinned edge subtree so that every round
# reuses its shuffle, and the other callers pin their edges. The SQL
# twins are AS MATERIALIZED because DuckDB inlines a plain CTE at
# every reference.
# ---------------------------------------------------------------------------

# Support threshold: raw co-occurrence graphs are dominated by
# weight-1 noise edges (see triangle_counts), so an edge needs at least
# this many co-occurring lineitem pairs.
_COPURCHASE_MINSUP = 2

_COPURCHASE_PAIRS_SQL = """FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey"""

# both orientations of every undirected edge
_COPURCHASE_ARCS_SQL = """arcs AS MATERIALIZED (
  SELECT u AS src, v AS dst FROM und UNION ALL SELECT v, u FROM und
)"""


def _copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(l_partkey, dst, ...) for every ordered pair of lineitems of one
    order that hold different parts."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    other = li.select(
        F.col("l_orderkey").alias("o2"), F.col("l_partkey").alias("dst")
    )
    return li.join(other, (li.l_orderkey == other.o2) & (li.l_partkey != other.dst))


def _copurchase_edges(
    spark: SparkSession, sf_dir: str, minsup: int = _COPURCHASE_MINSUP
) -> DataFrame:
    """Directed weighted edges (src, dst, w), w = co-occurring lineitem
    pairs, kept at w >= ``minsup`` (1: every edge, no filter)."""
    edges = (
        _copurchase_pairs(spark, sf_dir)
        .groupBy(F.col("l_partkey").alias("src"), "dst")
        .agg(F.count("*").alias("w"))
    )
    return edges.filter(F.col("w") >= minsup) if minsup > 1 else edges


def _copurchase_edges_sql(minsup: int = _COPURCHASE_MINSUP) -> str:
    having = f"\n  HAVING count(*) >= {minsup}" if minsup > 1 else ""
    return f"""edges AS MATERIALIZED (
  SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*) AS w
  {_COPURCHASE_PAIRS_SQL}
  GROUP BY a.l_partkey, b.l_partkey{having}
)"""


def _copurchase_und(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected edges (u, v), u < v, at the support threshold. Both
    orientations of a pair are grouped together, so the floor doubles;
    the edge set equals the directed one's."""
    return (
        _copurchase_pairs(spark, sf_dir)
        .groupBy(
            F.least("l_partkey", "dst").alias("u"),
            F.greatest("l_partkey", "dst").alias("v"),
        )
        .agg(F.count("*").alias("w2"))
        .filter(F.col("w2") >= 2 * _COPURCHASE_MINSUP)
        .select("u", "v")
    )


def _copurchase_und_sql(sfx: int | str = "") -> str:
    return f"""und{sfx} AS MATERIALIZED (
  SELECT least(a.l_partkey, b.l_partkey) AS u,
         greatest(a.l_partkey, b.l_partkey) AS v
  {_COPURCHASE_PAIRS_SQL}
  GROUP BY u, v
  HAVING count(*) >= {2 * _COPURCHASE_MINSUP}
)"""


def _copurchase_arcs(und: DataFrame) -> DataFrame:
    """Both orientations (src, dst) of every undirected edge."""
    return und.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionByName(
        und.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )


def _degrees(und: DataFrame) -> DataFrame:
    """(node, d): the degree of every node of undirected edges (u, v)."""
    return (
        und.select(F.col("u").alias("node"))
        .unionByName(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )


def _degrees_sql(sfx: int | str = "") -> str:
    return f"""deg{sfx} AS MATERIALIZED (
  SELECT node, count(*) AS d FROM (
    SELECT u AS node FROM und{sfx} UNION ALL SELECT v AS node FROM und{sfx}
  ) GROUP BY node
)"""


def _triangles(und: DataFrame, deg: DataFrame) -> DataFrame:
    """(x, y, z), once per triangle of undirected edges (u, v) with
    degrees ``deg`` (node, d). Every edge points from its (degree,
    id)-smaller endpoint, so wedges open only at each triangle's
    lowest-degree vertex: a hub of degree D adds O(D) oriented edges
    but almost no wedges (Suri & Vassilvitskii, WWW 2011). Three
    integer equi-joins; the oriented table is pinned because the wedge
    join and the closing join read it three times."""
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    smaller_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    fwd = pin(
        und.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(smaller_first, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(smaller_first, F.col("v")).otherwise(F.col("u")).alias("t"),
        )
    )
    w1 = fwd.select(F.col("s"), F.col("t").alias("y"))
    w2 = fwd.select(F.col("s"), F.col("t").alias("z"))
    closing = fwd.select(F.col("s").alias("y"), F.col("t").alias("z"))
    return (
        w1.join(w2, "s")
        .filter(F.col("y") < F.col("z"))
        .join(closing, ["y", "z"])
        .select(F.col("s").alias("x"), "y", "z")
    )


def _triangles_sql(sfx: int | str = "") -> str:
    return f"""fwd{sfx} AS MATERIALIZED (
  SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS s,
         CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS t
  FROM und{sfx} e JOIN deg{sfx} du ON e.u = du.node JOIN deg{sfx} dv ON e.v = dv.node
),
tri{sfx} AS MATERIALIZED (
  SELECT w1.s AS x, w1.t AS y, w2.t AS z
  FROM fwd{sfx} w1 JOIN fwd{sfx} w2 ON w1.s = w2.s AND w1.t < w2.t
  JOIN fwd{sfx} e ON e.s = w1.t AND e.t = w2.t
)"""


# ---------------------------------------------------------------------------
# Fixed-point PageRank (Page et al., 1999) over the part co-purchase
# graph — the graph-analytics companion to the connected-components
# operator (operators/components.py). All arithmetic is SCALED INTEGER
# (rank units of 1e-9), so partial-aggregation order can't perturb a
# single bit and the whole 5-round power iteration hash-verifies
# against an unrolled-CTE DuckDB replay — the same determinism trick as
# kmeans_quantized / hilbert_layout / bpe_learn_merges.
# ---------------------------------------------------------------------------

_PR_SCALE = 1_000_000_000  # 1e9 rank units per node of initial mass
_PR_ROUNDS = 5
_PR_TOP = 25


def _pagerank_oracle() -> str:
    base = int(0.15 * _PR_SCALE)
    parts = [
        _copurchase_edges_sql(minsup=1),
        f"""nodes AS (SELECT DISTINCT l_partkey AS node FROM lineitem),
outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS wout FROM edges GROUP BY src),
r0 AS (SELECT node, CAST({_PR_SCALE} AS BIGINT) AS r FROM nodes)"""
    ]
    for t in range(_PR_ROUNDS):
        parts.append(
            f"""r{t + 1} AS (
  SELECT n.node,
         CAST({base} + COALESCE(sum(f.flow), 0) AS BIGINT) AS r
  FROM nodes n LEFT JOIN (
    SELECT e.dst, (r.r * 85 * e.w) // (100 * o.wout) AS flow
    FROM edges e
    JOIN r{t} r ON e.src = r.node
    JOIN outw o ON e.src = o.src
  ) f ON n.node = f.dst
  GROUP BY n.node
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT node, r AS rank_scaled FROM r{_PR_ROUNDS}
ORDER BY r DESC, node LIMIT {_PR_TOP}"""
    )


@register("pagerank_copurchase", oracle=_pagerank_oracle())
def pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_PR_TOP} parts by PageRank over the co-purchase graph
    (parts are linked when they appear in the same order; edge weight =
    co-occurrence multiplicity), {_PR_ROUNDS} power-iteration rounds
    with damping 0.85 in scaled-integer arithmetic:

        r_(t+1)(v) = floor(0.15 * SCALE)
                     + sum over in-edges (u,v) of
                         (r_t(u) * 85 * w(u,v)) div (100 * wout(u))

    Integer div truncation makes every round exactly reproducible in
    any engine (the oracle unrolls the rounds as CTEs), at the price of
    leaking < 1e-9 of mass per edge per round — irrelevant to ranking.
    Overflow bound: max rank < total mass = |V| * SCALE, so the
    numerator needs |V| * SCALE * 85 * max_w < 2^63 — holds through
    sf10 with 10^4 headroom (documented contract, not checked per row).

    Scale shape: edges come from ONE self-equi-join on l_orderkey
    (bounded per-order fan-out — no cartesian risk), then each round is
    one join ranks-on-src (both sides partitioned by the same key) and
    one groupBy(dst) with map-side combine. Rank state is |V| rows,
    stays distributed; nothing visits the driver. All {_PR_ROUNDS} rounds reuse the SAME
    edge shuffle via ReusedExchange (no memory pinning).
    Dangling nodes (no out-edges) keep base rank and leak their surplus
    — the classic simplification, identical in both engines."""
    # No explicit materialization: the edge subtree repeats once per
    # iteration, and Spark serves every repeat from the SAME shuffle
    # files via ReusedExchange (plan-asserted in
    # tests/test_plan_shapes.py) — disk-backed and per-executor on a
    # cluster; exchange reuse costs nothing and is memory-oblivious.
    edges = _copurchase_edges(spark, sf_dir, minsup=1)
    nodes = (
        _t(spark, sf_dir, "lineitem")
        .select(F.col("l_partkey").alias("node"))
        .distinct()
    )
    outw = edges.groupBy("src").agg(F.sum("w").alias("wout"))
    base = int(0.15 * _PR_SCALE)
    ranks = nodes.select("node", F.lit(_PR_SCALE).cast("long").alias("r"))
    for _ in range(_PR_ROUNDS):
        flow = (
            edges.join(ranks, edges.src == ranks.node)
            .join(outw, "src")
            .select(
                "dst",
                F.expr("(r * 85 * w) DIV (100 * wout)").alias("flow"),
            )
            .groupBy("dst")
            .agg(F.sum("flow").alias("inflow"))
        )
        ranks = nodes.join(flow, nodes.node == flow.dst, "left").select(
            "node",
            (F.lit(base) + F.coalesce(F.col("inflow"), F.lit(0)))
            .cast("long")
            .alias("r"),
        )
    return ranks.orderBy(F.desc("r"), "node").limit(_PR_TOP).select(
        "node", F.col("r").alias("rank_scaled")
    )


# ---------------------------------------------------------------------------
# Personalized PageRank (Jeh & Widom, WWW 2003) — per-seed restart
# vectors over the same co-purchase graph: the retrieval-adjacent graph
# operator ("parts related to THIS part", not "globally important
# parts"). Same scaled-integer determinization as pagerank_copurchase,
# but the teleport mass returns to each walk's SEED, so the state is a
# sparse (seed, node, rank) table that only covers reached nodes.
# ---------------------------------------------------------------------------

_PPR_SEEDS = 5
_PPR_ROUNDS = 4
_PPR_TOP = 10


def _ppr_oracle() -> str:
    base = int(0.15 * _PR_SCALE)
    parts = [
        _copurchase_edges_sql(minsup=1),
        f"""outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS wout FROM edges GROUP BY src),
seeds AS (
  SELECT node FROM (
    SELECT src AS node, count(*) AS dg FROM edges GROUP BY src
  ) QUALIFY row_number() OVER (ORDER BY dg DESC, node) <= {_PPR_SEEDS}
),
p0 AS (SELECT node AS seed, node, CAST({_PR_SCALE} AS BIGINT) AS r FROM seeds)"""
    ]
    for t in range(_PPR_ROUNDS):
        parts.append(
            f"""p{t + 1} AS (
  SELECT seed, node, CAST(sum(f) AS BIGINT) AS r FROM (
    SELECT p.seed, e.dst AS node,
           (p.r * 85 * e.w) // (100 * o.wout) AS f
    FROM p{t} p
    JOIN edges e ON e.src = p.node
    JOIN outw o ON o.src = e.src
    UNION ALL
    SELECT node AS seed, node, {base} AS f FROM seeds
  ) GROUP BY seed, node HAVING sum(f) > 0
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT seed, node, r AS rank_scaled, pos FROM (
  SELECT seed, node, r,
         row_number() OVER (PARTITION BY seed ORDER BY r DESC, node) AS pos
  FROM p{_PPR_ROUNDS}
) WHERE pos <= {_PPR_TOP}
ORDER BY seed, pos"""
    )


@register("personalized_pagerank", oracle=_ppr_oracle())
def personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from the {_PPR_SEEDS} highest-out-degree
    parts (ties by id — a deterministic, SQL-replayable seed choice):
    each walk restarts at its own seed, so the stationary mass answers
    "which parts are related to THIS one through co-purchases" — the
    graph-side twin of the ANN retrieval tiers. {_PPR_ROUNDS} rounds of

        p_(t+1)(s, v) = [v = s] * floor(0.15 * SCALE)
                        + sum over in-edges (u,v) of
                            (p_t(s, u) * 85 * w(u,v)) div (100 * wout(u))

    in the same scaled-integer arithmetic as pagerank_copurchase, with
    zero-mass rows DROPPED each round (HAVING sum > 0) so the state
    stays sparse in both engines. Reports each seed's top {_PPR_TOP}
    (rank desc, node) as (seed, node, rank_scaled, pos).

    Scale shape: the rank state is (seeds x reached-nodes) rows —
    sparse by construction, never densified to seeds x |V|; each round
    is one equi-join state-on-edges (edges served from the SAME
    shuffle via ReusedExchange, the pagerank_copurchase memory lesson)
    plus a groupBy(seed, dst) with map-side combine. Restart mass is a
    seed-count-sized union, and the final per-seed top-k is a window
    over the sparse state. Overflow: per-seed total mass is bounded by
    SCALE / 0.15, so the flow numerator stays < 2^63 with the same
    headroom argument as pagerank_copurchase."""
    edges = _copurchase_edges(spark, sf_dir, minsup=1)
    outw = edges.groupBy("src").agg(F.sum("w").alias("wout"))
    # seed pick is a distributed TakeOrderedAndProject (orderBy+limit),
    # NOT an unpartitioned row_number window — a global window would
    # funnel the full per-node degree table through one task (ADVICE
    # r05); the total order (dg desc, node) is identical to the SQL
    # replay's QUALIFY row_number, so results are unchanged.
    seeds = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.count("*").alias("dg"))
        .orderBy(F.desc("dg"), "node")
        .limit(_PPR_SEEDS)
        .select("node")
    )
    base = int(0.15 * _PR_SCALE)
    restart = seeds.select(
        F.col("node").alias("seed"), "node", F.lit(base).cast("long").alias("f")
    )
    state = seeds.select(
        F.col("node").alias("seed"), "node", F.lit(_PR_SCALE).cast("long").alias("r")
    )
    for _ in range(_PPR_ROUNDS):
        flows = (
            state.join(edges, state.node == edges.src)
            .join(outw, "src")
            .select(
                "seed",
                F.col("dst").alias("node"),
                F.expr("(r * 85 * w) DIV (100 * wout)").alias("f"),
            )
        )
        state = (
            flows.unionByName(restart)
            .groupBy("seed", "node")
            .agg(F.sum("f").alias("r"))
            .filter(F.col("r") > 0)
        )
    wp = Window.partitionBy("seed").orderBy(F.desc("r"), "node")
    return (
        state.select(
            "seed", "node", F.col("r").alias("rank_scaled"),
            F.row_number().over(wp).alias("pos"),
        )
        .filter(F.col("pos") <= _PPR_TOP)
        .orderBy("seed", "pos")
    )


# ---------------------------------------------------------------------------
# HITS hubs & authorities (Kleinberg, JACM 1999) over the BIPARTITE
# customer -> part purchase graph — the centrality pair PageRank's
# single score cannot express on asymmetric relations: a hub is a
# customer whose basket concentrates on authoritative parts, an
# authority is a part bought by strong hubs. (On the symmetric part
# co-purchase graph hubs equal authorities, which is why this operator
# runs on the directed bipartite purchase relation instead.)
# ---------------------------------------------------------------------------

_HITS_ROUNDS = 4
_HITS_TOP = 15
_HITS_SCALE = 1_000_000_000


def _hits_oracle() -> str:
    # AS MATERIALIZED: DuckDB inlines a plain CTE at every reference, and
    # each normalize step reads its raw scores twice (values and max), so
    # inlining doubles the work at every half-step
    s = _HITS_SCALE
    parts = [
        """he AS MATERIALIZED (
  SELECT o_custkey AS c, l_partkey AS p, count(*) AS w
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY c, p
)""",
        f"hub0 AS MATERIALIZED (SELECT DISTINCT c AS node, CAST({s} AS BIGINT) AS sc FROM he)",
    ]
    for k in range(1, _HITS_ROUNDS + 1):
        parts.append(
            f"""araw{k} AS MATERIALIZED (
  SELECT e.p AS node, sum(CAST(e.w AS HUGEINT) * h.sc) AS sc
  FROM he e JOIN hub{k - 1} h ON h.node = e.c GROUP BY e.p
)"""
        )
        parts.append(
            f"amax{k} AS MATERIALIZED (SELECT greatest(max(sc), 1) AS mx FROM araw{k})"
        )
        parts.append(
            f"""auth{k} AS MATERIALIZED (
  SELECT node, CAST((sc * {s}) // mx AS BIGINT) AS sc FROM araw{k}, amax{k}
)"""
        )
        parts.append(
            f"""hraw{k} AS MATERIALIZED (
  SELECT e.c AS node, sum(CAST(e.w AS HUGEINT) * a.sc) AS sc
  FROM he e JOIN auth{k} a ON a.node = e.p GROUP BY e.c
)"""
        )
        parts.append(
            f"hmax{k} AS MATERIALIZED (SELECT greatest(max(sc), 1) AS mx FROM hraw{k})"
        )
        parts.append(
            f"""hub{k} AS MATERIALIZED (
  SELECT node, CAST((sc * {s}) // mx AS BIGINT) AS sc FROM hraw{k}, hmax{k}
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT kind, node, score_scaled, pos FROM (
  SELECT 'authority' AS kind, node, sc AS score_scaled,
         row_number() OVER (ORDER BY sc DESC, node) AS pos
  FROM auth{_HITS_ROUNDS}
  UNION ALL
  SELECT 'hub', node, sc,
         row_number() OVER (ORDER BY sc DESC, node) AS pos
  FROM hub{_HITS_ROUNDS}
) WHERE pos <= {_HITS_TOP}
ORDER BY kind, pos"""
    )


@register("hits_copurchase", oracle=_hits_oracle())
def hits_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_HITS_TOP} hubs (customers) and authorities (parts) by
    {_HITS_ROUNDS} rounds of Kleinberg's HITS over the bipartite
    purchase graph. Determinization: scores live on a 1e-9 integer
    grid, each half-step's raw scores are exact HUGEINT/DECIMAL(38,0)
    integer sums (edge weights grow with the corpus — the textrank
    overflow argument), and the standard norm step is replaced by
    MAX-normalization, sc' = sc * SCALE div max(sc) — scale-invariant
    exactly like the L2 norm for ranking purposes but engine-exact
    (truncating division of non-negative integers).

    Scale shape: the edge table (customer, part, weight) is pinned
    ONCE (operators/materialize.pin — each
    normalization is an aggregate over the previous half-step, so a
    lazy chain would re-execute every earlier round: the
    record_linkage_em lesson), and node-sized score states pin per
    half-round (bounded by |customers| / |parts|, far below the edge
    table). Each half-round is one equi-join of the node-score table
    onto the pinned edges + one map-side-combined groupBy, with the
    1-row max broadcast back — nothing visits the driver. Nodes
    outside the purchase relation carry no score, the HITS convention
    on the induced subgraph."""
    s = _HITS_SCALE
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = pin(
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .agg(F.count("*").alias("w"))
    )
    hub = edges.select("c").distinct().select(
        F.col("c").alias("node"), F.lit(s).cast("long").alias("sc")
    )

    def half_step(state: DataFrame, src: str, dst: str) -> DataFrame:
        raw = (
            edges.join(state, state.node == edges[src])
            .groupBy(F.col(dst).alias("node"))
            .agg(
                F.sum(
                    F.col("w").cast("decimal(38,0)") * F.col("sc")
                ).alias("raw")
            )
        )
        mx = raw.agg(
            F.greatest(F.max("raw"), F.lit(1).cast("decimal(38,0)")).alias("mx")
        )
        return pin(
            raw.crossJoin(F.broadcast(mx)).select(
                "node",
                F.expr(f"CAST((raw * {s}) DIV mx AS BIGINT)").alias("sc"),
            )
        )

    for _ in range(_HITS_ROUNDS):
        auth = half_step(hub, "c", "p")
        hub = half_step(auth, "p", "c")
    wk = Window.partitionBy("kind").orderBy(F.desc("score_scaled"), "node")
    ranked = (
        auth.select(
            F.lit("authority").alias("kind"),
            "node",
            F.col("sc").alias("score_scaled"),
        )
        .unionByName(
            hub.select(
                F.lit("hub").alias("kind"),
                "node",
                F.col("sc").alias("score_scaled"),
            )
        )
        .select("*", F.row_number().over(wk).alias("pos"))
    )
    return ranked.filter(F.col("pos") <= _HITS_TOP).orderBy("kind", "pos")


# ---------------------------------------------------------------------------
# Triangle counting (degree-ordered wedge join — the Cohen / Suri-
# Vassilvitskii MapReduce formulation) over the part co-purchase
# graph: with PageRank and connected components this completes the
# graph-analytics trio. Exact integer logic end to end, so the result
# hash-verifies against a plain-SQL replay.
# ---------------------------------------------------------------------------

_TRI_TOP = 20


def _triangles_oracle() -> str:
    return f"""
WITH {_copurchase_und_sql()},
{_degrees_sql()},
{_triangles_sql()},
per_node AS (
  SELECT node, count(*) AS n_triangles FROM (
    SELECT x AS node FROM tri UNION ALL
    SELECT y AS node FROM tri UNION ALL
    SELECT z AS node FROM tri
  ) GROUP BY node
)
SELECT p.node, p.n_triangles, d.d AS degree,
       round(2.0 * p.n_triangles / (d.d * (d.d - 1)), 6) AS clustering
FROM per_node p JOIN deg d ON p.node = d.node
ORDER BY p.n_triangles DESC, p.node LIMIT {_TRI_TOP}
"""


@register("triangle_counts", oracle=_triangles_oracle())
def triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_TRI_TOP} parts by triangle participation in the
    co-purchase graph (edges kept only at support >= {_COPURCHASE_MINSUP}
    co-occurrences), with degree and local clustering coefficient —
    the standard cohesion report over a similarity/co-occurrence
    graph.

    Scale shape, two layers. (1) SUPPORT THRESHOLDING first: raw
    co-occurrence graphs are dominated by weight-1 noise edges — at
    sf1 the threshold cuts 12.0M edges to 38.5k (measured), turning a
    194 s wedge explosion into seconds; every production co-occurrence
    cohesion pipeline (market-basket, co-citation) prunes support
    first for exactly this reason, and the threshold is part of the
    query contract in both engines. (2) The degree-ORDERED orientation
    (edges point from the (degree, id)-smaller endpoint) then bounds
    what remains: wedges are generated at each triangle's
    lowest-degree vertex, so a celebrity node of degree D contributes
    O(D) oriented edges but almost no wedges (Suri & Vassilvitskii,
    WWW 2011). Three equi-joins, all on integer keys, no driver state;
    the triangle triple never materializes wider than 3 ints.
    Deterministic integer logic, so the driver hash-checks the full
    report."""
    und = pin(_copurchase_und(spark, sf_dir))
    deg = pin(_degrees(und))
    tri = _triangles(und, deg)
    per_node = (
        tri.select(F.col("x").alias("node"))
        .unionByName(tri.select(F.col("y").alias("node")))
        .unionByName(tri.select(F.col("z").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )
    return (
        per_node.join(deg, "node")
        .select(
            "node",
            "n_triangles",
            F.col("d").alias("degree"),
            F.round(2.0 * F.col("n_triangles") / (F.col("d") * (F.col("d") - 1)), 6).alias(
                "clustering"
            ),
        )
        .orderBy(F.desc("n_triangles"), "node")
        .limit(_TRI_TOP)
    )


# ---------------------------------------------------------------------------
# HyperBall neighborhood function (Boldi & Vigna, "In-Core Computation
# of Geometric Centralities with HyperBall", WWW 2011 companion /
# arXiv:1308.2144) — the web-scale distance algorithm: each node keeps
# a HyperLogLog of its distance-t ball, and one round of element-wise
# register max over the edge relation advances every ball by one hop.
# N(t) = sum over nodes of |ball(v, t)| yields the effective-diameter
# and average-distance story exact BFS cannot touch at scale.
# Registers are md5-derived exact integers (the CMS/HLL/AMS/bootstrap
# idiom), so both engines hold bit-identical sketches and the whole
# per-round report hash-verifies.
# ---------------------------------------------------------------------------

_HB_REGS = 16  # HLL registers per node (m): demo width, alpha_16 = 0.673
_HB_ROUNDS = 3  # ball radius swept: t = 0..3
_HB_RANKBITS = 40  # rank drawn from [0, 2^40): rank = 41 - bitlength
# alpha_16 * m^2 * 2^41 * 1000 milli-units, as ONE exact integer:
# 673 * 256 * 2^41 (673 = round(0.673 * 1000)); fits BIGINT (3.8e17).
_HB_NUM = 673 * 256 * (1 << 41)
# Linear-counting fallback for small balls (raw HLL overshoots ~11x on
# singleton sets): est = m * ln(m / V) for V zero registers, milli-
# scaled, V = 1..16 — SIXTEEN possible values, frozen here as integer
# literals so no engine ever evaluates a logarithm
# (tests/test_hyperball.py re-derives the table from math.log).
_HB_LC_MILLI = (44361, 33271, 26784, 22181, 18610, 15693, 13227, 11090,
                9206, 7520, 5995, 4603, 3322, 2137, 1033, 0)
# The standard HLL regime switch: LC when zeros exist and the raw
# estimate is below 2.5 * m (in milli units).
_HB_LC_CUTOFF_MILLI = 2500 * _HB_REGS


def _hb_est_sql(intdiv: str) -> str:
    """Per-node estimate from (cnt present, sum of 2^(41-rank)) — the
    SAME text both engines run; ``intdiv`` is DIV (Spark) or // (DuckDB).
    Expects columns cnt and sp."""
    lc = " ".join(
        f"WHEN {v} THEN {m}" for v, m in enumerate(_HB_LC_MILLI, start=1)
    )
    two41 = 1 << 41
    return (
        f"CASE WHEN ({_HB_REGS} - cnt) > 0 "
        f"AND ({_HB_NUM} {intdiv} (({_HB_REGS} - cnt) * {two41} + sp)) <= {_HB_LC_CUTOFF_MILLI} "
        f"THEN CASE ({_HB_REGS} - cnt) {lc} END "
        f"ELSE ({_HB_NUM} {intdiv} (({_HB_REGS} - cnt) * {two41} + sp)) END"
    )


def _hb_round_states(spark, sf_dir):
    """(nodes, [h0..hT]) — the shared HyperBall register pipeline:
    support-thresholded undirected edges pinned once, h0 = each
    node's own md5 register, round t = element-wise register MAX over
    the edge relation (one equi-join + one map-side-combined
    (node, reg) MAX per round, each state pinned so later
    consumers never re-execute earlier rounds). Used by both
    hyperball_neighborhood_report and harmonic_centrality_topk."""
    from http_log_anonymizer_spark.functions.text import hash64

    edges = _copurchase_arcs(pin(_copurchase_und(spark, sf_dir)))
    nodes = edges.select(F.col("src").alias("node")).distinct()
    u_draw = hash64("node", "hbrank") % (1 << _HB_RANKBITS)
    # h0: the draw materializes as a named column first (the rank CASE
    # references it by name in both engines)
    h = pin(
        nodes.select("node", u_draw.alias("u"))
        .select(
            "node",
            (hash64("node", "hbreg") % _HB_REGS).cast("long").alias("reg"),
            F.expr(
                "CAST(CASE WHEN u = 0 THEN 41 ELSE 41 - length(bin(u)) END AS BIGINT)"
            ).alias("rank"),
        )
    )
    states = [h]
    for _ in range(_HB_ROUNDS):
        flows = (
            edges.join(h, h.node == edges.src)
            .select(F.col("dst").alias("node"), "reg", "rank")
            .unionByName(h.select("node", "reg", "rank"))
        )
        h = pin(
            flows.groupBy("node", "reg")
            .agg(F.max("rank").alias("rank"))
        )
        states.append(h)
    return nodes, states


def _hb_node_est(state: DataFrame) -> DataFrame:
    """Per-node ball estimate (node, est) from a register state — the
    shared estimate half (the frozen-constant division + LC CASE of
    _hb_est_sql)."""
    per_node = state.groupBy("node").agg(
        F.count("*").alias("cnt"),
        F.sum(F.expr("CAST(1 AS BIGINT) << (41 - rank)")).alias("sp"),
    )
    return per_node.select(
        "node", F.expr(f"CAST({_hb_est_sql('DIV')} AS BIGINT)").alias("est")
    )


def _hyperball_oracle_ctes() -> str:
    """The register pipeline h0..hT and the per-node estimates e0..eT
    that hyperball_neighborhood_report and harmonic_centrality_topk
    read (the SQL twin of _hb_round_states + _hb_node_est)."""
    from http_log_anonymizer_spark.functions.text import hash64_sql

    reg = f"({hash64_sql('node', 'hbreg')} % {_HB_REGS})"
    u = f"({hash64_sql('node', 'hbrank')} % {1 << _HB_RANKBITS})"
    rank = f"CASE WHEN {u} = 0 THEN 41 ELSE 41 - length(bin({u})) END"
    parts = [
        _copurchase_und_sql(),
        _COPURCHASE_ARCS_SQL,
        f"""nodes AS (SELECT DISTINCT src AS node FROM arcs),
h0 AS (SELECT node, CAST({reg} AS BIGINT) AS reg,
              CAST({rank} AS BIGINT) AS rank FROM nodes)"""
    ]
    for t in range(1, _HB_ROUNDS + 1):
        parts.append(
            f"""h{t} AS (
  SELECT node, reg, CAST(max(rank) AS BIGINT) AS rank FROM (
    SELECT e.dst AS node, h.reg, h.rank
    FROM arcs e JOIN h{t - 1} h ON h.node = e.src
    UNION ALL
    SELECT node, reg, rank FROM h{t - 1}
  ) GROUP BY node, reg
)"""
        )
    est = _hb_est_sql("//")
    for t in range(_HB_ROUNDS + 1):
        parts.append(
            f"""e{t} AS (
  SELECT node, CAST({est} AS BIGINT) AS est FROM (
    SELECT node, count(*) AS cnt,
           sum(CAST(1 AS BIGINT) << (41 - rank)) AS sp
    FROM h{t} GROUP BY node
  )
)"""
        )
    return "WITH " + ",\n".join(parts)


def _hyperball_oracle() -> str:
    union = "\nUNION ALL\n".join(
        f"SELECT {t} AS t, CAST(sum(est) AS BIGINT) AS nf_est_milli FROM e{t}"
        for t in range(_HB_ROUNDS + 1)
    )
    return (
        _hyperball_oracle_ctes()
        + f""",
nv AS (SELECT count(*) AS n_nodes FROM nodes)
SELECT CAST(t AS BIGINT) AS t, n_nodes, nf_est_milli,
       CAST(nf_est_milli // n_nodes AS BIGINT) AS avg_ball_milli
FROM ({union}) CROSS JOIN nv
ORDER BY t"""
    )


@register("hyperball_neighborhood_report", oracle=_hyperball_oracle())
def hyperball_neighborhood_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood function N(t) of the co-purchase graph for
    t = 0..{_HB_ROUNDS} by HyperBall (Boldi & Vigna): per node one
    {_HB_REGS}-register HyperLogLog of its distance-t ball, advanced
    per round by an element-wise register max over the edge relation;
    N(t) = sum of per-node ball estimates. The output row per t —
    (t, n_nodes, nf_est_milli, avg_ball_milli) — is the
    average-distance / effective-diameter curve: the smallest t whose
    nf reaches 90% of the final row is the effective diameter.

    Determinism: register index and rank are md5-derived exact
    integers (rank = 41 - bitlength of a 40-bit draw — ``bin()``
    string length, identical in both engines); the HLL estimate is
    ONE integer division of frozen constants (alpha_16 m^2 2^41 in
    milli units), with the small-ball linear-counting branch as a
    SIXTEEN-literal CASE (no engine evaluates ln); merges are MAX so
    arrival order cannot matter. DuckDB replays the full register
    pipeline via unrolled CTEs — the sketch itself is hash-checked,
    the estimate's TRUTH is asserted separately against exact BFS
    (tests/test_hyperball.py, within HLL error bounds).

    Scale shape: support-thresholded edges (the triangle_counts
    pruning — weight-1 noise edges dominate raw co-occurrence graphs)
    pinned once; state is (node, reg, rank) <= |V| x
    {_HB_REGS} rows of three ints — NODE-sized, never edge-sized;
    each round is one equi-join state-on-edges plus a map-side-
    combined (node, reg) MAX — the shape that made HyperBall run on
    billion-node web graphs with HLLs in core and the graph streamed
    from disk. A per-round pin keeps the t-th summary from
    re-executing rounds 0..t-1 (the suffix-array chain lesson)."""
    nodes, states = _hb_round_states(spark, sf_dir)

    def nf_row(state: DataFrame, t: int) -> DataFrame:
        return _hb_node_est(state).agg(
            F.lit(t).cast("long").alias("t"),
            F.sum("est").cast("long").alias("nf_est_milli"),
        )

    rows = [nf_row(h, t) for t, h in enumerate(states)]
    from functools import reduce as _reduce

    nf = _reduce(lambda a, b: a.unionByName(b), rows)
    nv = nodes.agg(F.count("*").alias("n_nodes"))
    return (
        nf.crossJoin(F.broadcast(nv))
        .select(
            "t",
            "n_nodes",
            "nf_est_milli",
            F.expr("CAST(nf_est_milli DIV n_nodes AS BIGINT)").alias(
                "avg_ball_milli"
            ),
        )
        .orderBy("t")
    )


_HB_TOP = 20


def _harmonic_oracle() -> str:
    terms = " + ".join(
        f"((greatest(e{t}.est - e{t - 1}.est, 0) * 1000) // {t})"
        for t in range(1, _HB_ROUNDS + 1)
    )
    joins = " ".join(
        f"JOIN e{t} ON e{t}.node = e0.node" for t in range(1, _HB_ROUNDS + 1)
    )
    return (
        _hyperball_oracle_ctes()
        + f"""
SELECT node, harmonic_micro,
       CAST(row_number() OVER (ORDER BY harmonic_micro DESC, node) AS BIGINT)
         AS pos
FROM (SELECT e0.node, CAST({terms} AS BIGINT) AS harmonic_micro
      FROM e0 {joins})
QUALIFY pos <= {_HB_TOP}
ORDER BY pos"""
    )


@register("harmonic_centrality_topk", oracle=_harmonic_oracle())
def harmonic_centrality_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_HB_TOP} parts by harmonic centrality — HyperBall's
    original purpose (Boldi & Vigna: geometric centralities from
    per-node ball sketches): H(v) = sum over reachable u of 1/d(v,u),
    truncated at radius {_HB_ROUNDS}, computed as
    sum_t (|ball(v,t)| - |ball(v,t-1)|) / t from the SAME register
    pipeline as hyperball_neighborhood_report (_hb_round_states). The
    closeness-family centrality that, unlike closeness itself, is
    well-defined on disconnected graphs — Boldi-Vigna's argument for
    it as THE centrality of the web-graph toolbox.

    Determinism: per-node estimates are the shared frozen-constant
    integer division; per-term ball GROWTH is clamped at 0 before the
    1000/t division — registers only grow, but the standard LC-to-raw
    regime switch can dip an estimate a few permille, and a negative
    numerator would expose the one semantic the engines do NOT share
    (Spark DIV truncates toward zero, DuckDB // floors), so the clamp
    is correctness-load-bearing, not cosmetic. Top-k is (harmonic
    DESC, node) with an explicit pos column.

    Scale shape: inherits the node-sized register pipeline; the
    centrality derivation is a {_HB_ROUNDS + 1}-way equi-join of
    node-sized estimate tables plus one TakeOrdered — no new
    edge-sized work."""
    nodes, states = _hb_round_states(spark, sf_dir)
    ests = [
        _hb_node_est(h).select("node", F.col("est").alias(f"est{t}"))
        for t, h in enumerate(states)
    ]
    j = ests[0]
    for t in range(1, _HB_ROUNDS + 1):
        j = j.join(ests[t], "node")
    terms = " + ".join(
        f"((greatest(est{t} - est{t - 1}, 0) * 1000) DIV {t})"
        for t in range(1, _HB_ROUNDS + 1)
    )
    ranked = j.select(
        "node", F.expr(f"CAST({terms} AS BIGINT)").alias("harmonic_micro")
    ).orderBy(F.desc("harmonic_micro"), "node").limit(_HB_TOP)
    w = Window.orderBy(F.desc("harmonic_micro"), "node")
    return ranked.select(
        "node", "harmonic_micro", F.row_number().over(w).cast("long").alias("pos")
    ).orderBy("pos")


# ---------------------------------------------------------------------------
# Explicit Bloom filter (Bloom, CACM 1970) — MEMBERSHIP joins the
# exact-replay sketch family (CMS: frequency, HLL: cardinality,
# AMS: moments): md5-derived bit positions make the filter bit-set
# identical in both engines, so construction, probe counts and the
# false-positive accounting all hash-verify. This is the sketch behind
# the engine's own runtime bloom-filter semi-join reduction (SCALE.md)
# — here built explicitly so the mechanism itself is auditable.
# ---------------------------------------------------------------------------

_BLOOM_M = 256  # bits (small on purpose: measurable FP rate at gate SFs)
_BLOOM_K = 2  # hash functions


def _bloom_oracle() -> str:
    from http_log_anonymizer_spark.functions.text import hash64_sql

    pos = lambda j: f"{hash64_sql('CAST(user_id AS VARCHAR)', f'bloom{j}')} % {_BLOOM_M}"  # noqa: E731
    member_bits = "\nUNION ALL\n".join(
        f"SELECT DISTINCT {pos(j)} AS b FROM members" for j in range(_BLOOM_K)
    )
    probe_bits = "\nUNION ALL\n".join(
        f"SELECT user_id, {pos(j)} AS b FROM probed" for j in range(_BLOOM_K)
    )
    return f"""
WITH members AS (
  -- an arbitrary ~50% behavioral cohort (odd purchase count): the
  -- synthetic corpus gives every user every event type, so a
  -- type-based cohort would saturate the probe set with true members
  -- and leave the FP accounting vacuous at every scale factor
  SELECT user_id FROM events WHERE event_type = 'purchase'
  GROUP BY user_id HAVING count(*) % 2 = 1
),
probed AS (SELECT DISTINCT user_id FROM events),
bits AS (SELECT DISTINCT b FROM ({member_bits})),
pb AS (SELECT DISTINCT user_id, b FROM ({probe_bits})),
kd AS (
  -- distinct positions per user: md5 collisions can yield < k
  SELECT user_id, count(*) AS kd FROM pb GROUP BY user_id
),
hits AS (
  SELECT p.user_id, count(bits.b) AS hit
  FROM pb p LEFT JOIN bits ON p.b = bits.b
  GROUP BY p.user_id
),
flags AS (
  SELECT pr.user_id,
         COALESCE(h.hit, 0) = k.kd AS positive,
         m.user_id IS NOT NULL AS member
  FROM probed pr
  LEFT JOIN hits h ON pr.user_id = h.user_id
  JOIN kd k ON pr.user_id = k.user_id
  LEFT JOIN members m ON pr.user_id = m.user_id
)
SELECT count(*) FILTER (member) AS n_members,
       count(*) AS n_probed,
       count(*) FILTER (positive) AS bloom_positives,
       count(*) FILTER (positive AND NOT member) AS false_positives,
       count(*) FILTER (member AND NOT positive) AS false_negatives,
       round(count(*) FILTER (positive AND NOT member) * 1.0
             / greatest(count(*) FILTER (NOT member), 1), 6) AS fp_rate
FROM flags
"""


@register("bloom_membership_report", oracle=_bloom_oracle())
def bloom_membership_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a {_BLOOM_M}-bit / {_BLOOM_K}-hash Bloom filter over the
    purchase-user cohort, probe EVERY user through it, and report the
    full confusion accounting: members, positives, false positives,
    false negatives (must be 0 — Bloom filters never miss), measured
    FP rate. md5-derived bit positions keep the bit set identical
    across engines, so the driver hash-checks the filter's behavior
    itself.

    Scale shape: the filter is <= {_BLOOM_M} distinct bit rows —
    broadcastable, mergeable by union (bitwise OR) across partitions,
    streams or days, the property the runtime semi-join reduction
    relies on. Probing is an equi-join of (user, bit) pairs against
    those {_BLOOM_M} rows + one groupBy(user) — O(k) per probe,
    independent of cohort size."""
    from http_log_anonymizer_spark.functions.text import hash64

    e = load_table(spark, sf_dir, "events")
    members = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count("*").alias("np"))
        .filter(F.col("np") % 2 == 1)
        .select("user_id")
    )
    probed = e.select("user_id").distinct()

    def bit(j: int) -> F.Column:
        return hash64(F.col("user_id").cast("string"), f"bloom{j}") % _BLOOM_M

    bits = None
    for j in range(_BLOOM_K):
        bj = members.select(bit(j).alias("b"))
        bits = bj if bits is None else bits.unionByName(bj)
    bits = bits.distinct()
    pb = None
    for j in range(_BLOOM_K):
        pj = probed.select("user_id", bit(j).alias("b"))
        pb = pj if pb is None else pb.unionByName(pj)
    pb = pb.distinct()
    kdist = (
        pb.groupBy("user_id").agg(F.count("*").alias("kd"))
    )  # distinct positions per user (hash collisions can give < k)
    hits = (
        pb.join(F.broadcast(bits), "b", "left_semi")
        .groupBy("user_id")
        .agg(F.count("*").alias("hit"))
    )
    flags = (
        probed.join(hits, "user_id", "left")
        .join(kdist, "user_id")
        .join(members.select("user_id", F.lit(True).alias("m")), "user_id", "left")
        .select(
            "user_id",
            (F.coalesce("hit", F.lit(0)) == F.col("kd")).alias("positive"),
            F.coalesce("m", F.lit(False)).alias("member"),
        )
    )
    return flags.agg(
        F.sum(F.when(F.col("member"), 1).otherwise(0)).alias("n_members"),
        F.count("*").alias("n_probed"),
        F.sum(F.when(F.col("positive"), 1).otherwise(0)).alias("bloom_positives"),
        F.sum(F.when(F.col("positive") & ~F.col("member"), 1).otherwise(0)).alias(
            "false_positives"
        ),
        F.sum(F.when(F.col("member") & ~F.col("positive"), 1).otherwise(0)).alias(
            "false_negatives"
        ),
        F.round(
            F.sum(F.when(F.col("positive") & ~F.col("member"), 1).otherwise(0))
            * 1.0
            / F.greatest(
                F.sum(F.when(~F.col("member"), 1).otherwise(0)), F.lit(1)
            ),
            6,
        ).alias("fp_rate"),
    )


# ---------------------------------------------------------------------------
# Explicit HDR histogram quantiles (Tene's HdrHistogram; Masson et al.
# VLDB'19 analyse the same bounded-relative-error bucketing as
# DDSketch) — QUANTILES join the exact-replay sketch family with the
# structure production latency pipelines actually merge: power-of-two
# buckets with m mantissa bits give a deterministic, integer-only,
# addition-mergeable summary with guaranteed relative error 2^-m.
# `latency_quantile_sketch` exercises Spark's opaque approx_percentile;
# this is the engine-replayable construction.
# ---------------------------------------------------------------------------

_HDR_M = 3  # mantissa bits -> relative error <= 1/8
_HDR_QS = (0.5, 0.9, 0.99)


def _hdr_bucket_sql(v: str) -> str:
    # lower bound of v's bucket: clear all but the top m+1 bits
    # (values < 2^m are exact). Integer-only given floor(log2(v)) —
    # safe for the < 2^45 domain (see operator docstring).
    return f"""CASE WHEN {v} < {1 << _HDR_M} THEN {v}
  ELSE ({v} >> (CAST(floor(log2({v})) AS BIGINT) - {_HDR_M}))
         << (CAST(floor(log2({v})) AS BIGINT) - {_HDR_M}) END"""


def _hdr_oracle() -> str:
    from http_log_anonymizer_spark.plans.http_log import HTTP_LOG_SQL

    qcases = ", ".join(str(q) for q in _HDR_QS)
    return f"""
WITH {HTTP_LOG_SQL.strip()},
vals AS (SELECT request_time_milli AS v FROM http_log),
b AS (
  SELECT {_hdr_bucket_sql('v')} AS lb, count(*) AS cnt FROM vals GROUP BY lb
),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM b),
cum AS (
  SELECT lb, CAST(sum(cnt) OVER (ORDER BY lb) AS BIGINT) AS c FROM b
),
qs AS (SELECT unnest([{qcases}]) AS q),
ranks AS (
  SELECT q, CAST(ceil(q * t.n) AS BIGINT) AS r FROM qs CROSS JOIN tot t
),
est AS (
  SELECT r.q, min(c.lb) AS est
  FROM ranks r JOIN cum c ON c.c >= r.r GROUP BY r.q
),
vh AS (SELECT v, count(*) AS cnt FROM vals GROUP BY v),
vcum AS (
  SELECT v, CAST(sum(cnt) OVER (ORDER BY v) AS BIGINT) AS c FROM vh
),
exact AS (
  SELECT r.q, min(s.v) AS exact
  FROM ranks r JOIN vcum s ON s.c >= r.r GROUP BY r.q
)
SELECT e.q AS quantile, e.est AS hdr_est, x.exact AS exact_value,
       8 * (x.exact - e.est) <= x.exact + 8 AS within_rel_bound
FROM est e JOIN exact x ON e.q = x.q
ORDER BY quantile
"""


def _hdr_bucket_spark(vname: str) -> F.Column:
    # SQL form: the Python shiftright/shiftleft wrappers require a
    # LITERAL shift count, but here the count is itself an expression
    sh = f"CAST(floor(log2({vname})) AS INT) - {_HDR_M}"
    return F.when(F.col(vname) < (1 << _HDR_M), F.col(vname)).otherwise(
        F.expr(f"shiftleft(shiftright({vname}, {sh}), {sh})")
    )


@register("hdr_latency_quantiles", oracle=_hdr_oracle())
def hdr_latency_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p90/p99 of request_time_milli from an explicit HDR
    histogram ({_HDR_M} mantissa bits): bucket = value with all but
    the top {_HDR_M + 1} bits cleared, quantile = smallest bucket
    whose cumulative count reaches ceil(q*N), reported next to the
    exact rank-statistic with the guaranteed-relative-error bool
    (8*(exact-est) <= exact+8, the integer form of error <= 1/8 with
    unit slack for the sub-2^{_HDR_M} exact range). All integer
    arithmetic — both engines agree on every bucket, so the sketch
    construction itself hash-verifies. Input domain must stay below
    2^45 so floor(log2(v)) cannot straddle a boundary ulp (documented
    contract; request_time_milli < 1000).

    Scale shape: ONE groupBy over at most (45 - {_HDR_M}) * 2^{_HDR_M}
    + 2^{_HDR_M} bucket keys (map-side combine collapses each
    partition to that fixed size), a window over that fixed-size
    table, and a broadcastable rank lookup. The histogram is
    mergeable BY ADDITION across partitions, streams or days — the
    property every production latency pipeline (and the streaming
    twin in streaming/quantiles.py) builds on. The exact side runs
    over the VALUE histogram (bounded integer domain), so even the
    ground-truth column never needs a corpus-sized sort."""
    from http_log_anonymizer_spark.plans.http_log import http_log_view

    log = http_log_view(spark, sf_dir).select(
        F.col("request_time_milli").alias("v")
    )
    b = log.groupBy(_hdr_bucket_spark("v").alias("lb")).agg(
        F.count("*").alias("cnt")
    )
    tot = b.agg(F.sum("cnt").alias("n"))
    wcum = Window.orderBy("lb").rowsBetween(Window.unboundedPreceding, 0)
    wcum_v = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = b.select("lb", F.sum("cnt").over(wcum).alias("c"))
    qs = spark.createDataFrame([(q,) for q in _HDR_QS], "q double")
    ranks = qs.crossJoin(F.broadcast(tot)).select(
        "q", F.ceil(F.col("q") * F.col("n")).cast("long").alias("r")
    )
    est = (
        ranks.join(F.broadcast(cum), F.col("c") >= F.col("r"))
        .groupBy("q")
        .agg(F.min("lb").alias("est"))
    )
    # exact side via the VALUE histogram (the latency domain is a
    # bounded integer set, so this window runs over <= |domain| rows —
    # never a corpus-sized single-partition sort)
    vh = log.groupBy("v").agg(F.count("*").alias("vcnt"))
    vcum = vh.select("v", F.sum("vcnt").over(wcum_v).alias("c"))
    exact = (
        ranks.join(F.broadcast(vcum), F.col("c") >= F.col("r"))
        .groupBy("q")
        .agg(F.min("v").alias("exact"))
    )
    return (
        est.join(exact, "q")
        .select(
            F.col("q").alias("quantile"),
            F.col("est").alias("hdr_est"),
            F.col("exact").alias("exact_value"),
            (8 * (F.col("exact") - F.col("est")) <= F.col("exact") + 8).alias(
                "within_rel_bound"
            ),
        )
        .orderBy("quantile")
    )


# ---------------------------------------------------------------------------
# Label propagation communities (Raghavan et al., Phys. Rev. E 2007) —
# the community-detection companion to pagerank/triangles over the same
# co-purchase graph. Synchronous rounds with a deterministic
# (votes DESC, label ASC) argmax make every round exactly replayable,
# so the oracle unrolls the rounds as CTEs like pagerank_copurchase.
# ---------------------------------------------------------------------------

_LPA_ROUNDS = 4
_LPA_TOP = 25


def _lpa_oracle_ctes() -> str:
    parts = [
        _copurchase_edges_sql(),
        """nodes AS (SELECT DISTINCT src AS node FROM edges),
inertia AS (SELECT dst AS node, max(w) AS iw FROM edges GROUP BY dst),
l0 AS (SELECT node, node AS lbl FROM nodes)"""
    ]
    for t in range(_LPA_ROUNDS):
        parts.append(
            f"""v{t} AS (
  SELECT node, lbl, CAST(sum(v) AS BIGINT) AS votes FROM (
    SELECT e.dst AS node, l.lbl AS lbl, e.w AS v
    FROM edges e JOIN l{t} l ON e.src = l.node
    UNION ALL
    SELECT i.node, l.lbl, i.iw AS v
    FROM inertia i JOIN l{t} l ON i.node = l.node
  ) GROUP BY node, lbl
),
l{t + 1} AS (
  SELECT node, lbl FROM v{t}
  QUALIFY row_number() OVER (PARTITION BY node ORDER BY votes DESC, lbl ASC) = 1
)"""
        )
    return "WITH " + ",\n".join(parts)


def _lpa_oracle() -> str:
    return (
        _lpa_oracle_ctes()
        + f"""
SELECT lbl AS community, count(*) AS n_nodes
FROM l{_LPA_ROUNDS}
GROUP BY lbl
ORDER BY n_nodes DESC, community
LIMIT {_LPA_TOP}"""
    )


def _lpa_pipeline(spark: SparkSession, sf_dir: str, pin_labels: bool = False):
    """(weighted symmetric edge table, final label table) of the LPA
    rounds — factored so community_modularity_report can score the
    SAME partition the community query reports.

    The thresholded edge table is pinned (r10 A/B, both run orders:
    LPA sf10 unpinned 137.4/74.3 s vs pinned 65.9/53.7 s, modularity
    sf10 unpinned 171.2/104.5 s vs edges+labels pinned 61.4/86.6 s).
    The rounds then iterate over a columnar scan instead of
    re-deriving the self-join through 4 rounds of lineage.
    ``pin_labels`` additionally pins the FINAL
    node-sized label table — for the modularity consumer, whose two
    scoring joins would otherwise re-derive all rounds twice; the
    community query's single consumer doesn't need it."""
    edges = pin(_copurchase_edges(spark, sf_dir))
    nodes = edges.select(F.col("src").alias("node")).distinct()
    inertia = edges.groupBy(F.col("dst").alias("node")).agg(F.max("w").alias("iw"))
    labels = nodes.select("node", F.col("node").alias("lbl"))
    win = Window.partitionBy("node").orderBy(F.desc("votes"), F.asc("lbl"))
    for _ in range(_LPA_ROUNDS):
        neighbor_votes = (
            edges.join(labels.select(F.col("node").alias("src"), "lbl"), "src")
            .select(F.col("dst").alias("node"), "lbl", F.col("w").alias("v"))
        )
        self_votes = inertia.join(labels, "node").select(
            "node", "lbl", F.col("iw").alias("v")
        )
        votes = (
            neighbor_votes.unionByName(self_votes)
            .groupBy("node", "lbl")
            .agg(F.sum("v").alias("votes"))
        )
        labels = (
            votes.withColumn("rn", F.row_number().over(win))
            .filter(F.col("rn") == 1)
            .select("node", "lbl")
        )
    if pin_labels:
        labels = pin(labels)
    return edges, labels


@register("label_propagation_communities", oracle=_lpa_oracle())
def label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_LPA_TOP} communities (by size) from {_LPA_ROUNDS} rounds of
    synchronous label propagation over the support-thresholded
    co-purchase graph: every node starts as its own label, and each
    round adopts the label with the highest incident edge weight among
    its neighbors PLUS a self-vote for its current label weighted by
    its strongest incident edge ("inertia"), ties broken by the
    SMALLEST label — the deterministic variant of Raghavan et al.'s
    LPA. Plain synchronous LPA two-cycles on symmetric mutual-adoption
    pairs (the documented GraphFrames failure mode, reproduced in
    tests/test_graph.py); the inertia self-vote damps exactly that
    oscillation while still letting a strictly stronger neighborhood
    flip the node. Asynchronous/random tie-breaks don't replay; this
    variant hash-verifies end to end.

    Scale shape: the edge table comes from one self-equi-join on
    l_orderkey, support-thresholded (>= {_COPURCHASE_MINSUP}) exactly like
    triangle_counts — weight-1 noise edges dominate raw co-occurrence
    graphs and contribute nothing to community structure. Each round is
    one equi-join of labels onto edge sources (the thresholded edge
    table is pinned once; see _lpa_pipeline for the r10 A/B), one
    groupBy(dst, lbl) with
    map-side combine, and a
    per-node argmax window whose partition size is bounded by the
    node's distinct-neighbor-label count (<= degree) — never
    corpus-global. Label state is |V| rows, stays distributed.

    The graph is symmetric (both orientations survive thresholding
    together), so every node has >= 1 in-edge and the argmax always
    exists — no dangling-node coalesce needed."""
    _, labels = _lpa_pipeline(spark, sf_dir)
    return (
        labels.groupBy(F.col("lbl").alias("community"))
        .agg(F.count("*").alias("n_nodes"))
        .orderBy(F.desc("n_nodes"), "community")
        .limit(_LPA_TOP)
    )


# ---------------------------------------------------------------------------
# k-core peeling (Seidman 1983; Batagelj-Zaversnik) — dense-subgraph
# extraction over the co-purchase graph. Synchronous peeling rounds are
# deterministic integer logic, so the oracle unrolls them as CTEs.
# ---------------------------------------------------------------------------

_KCORE_K = 3
_KCORE_ROUNDS = 4


def _kcore_oracle() -> str:
    parts = [
        _copurchase_edges_sql(),
        "a0 AS (SELECT DISTINCT src AS node FROM edges)",
    ]
    for t in range(_KCORE_ROUNDS):
        parts.append(
            f"""e{t} AS (
  SELECT e.src, e.dst FROM edges e
  JOIN a{t} x ON e.src = x.node JOIN a{t} y ON e.dst = y.node
),
d{t} AS (SELECT dst AS node, count(*) AS deg FROM e{t} GROUP BY dst),
a{t + 1} AS (SELECT node FROM d{t} WHERE deg >= {_KCORE_K})"""
        )
    rows = " UNION ALL ".join(
        f"""SELECT {t + 1} AS round,
       (SELECT count(*) FROM a{t + 1}) AS n_nodes,
       (SELECT count(*) FROM edges e
        JOIN a{t + 1} x ON e.src = x.node
        JOIN a{t + 1} y ON e.dst = y.node) // 2 AS n_edges"""
        for t in range(_KCORE_ROUNDS)
    )
    return "WITH " + ",\n".join(parts) + f"\n{rows}\nORDER BY round"


@register("kcore_peeling_report", oracle=_kcore_oracle())
def kcore_peeling_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-round survivor counts of synchronous {_KCORE_K}-core peeling
    over the support-thresholded co-purchase graph: each round drops
    every node whose degree among CURRENT survivors is < {_KCORE_K}.
    The survivor sets DECREASE monotonically toward the true
    {_KCORE_K}-core (the Batagelj-Zaversnik fixpoint); like the
    fixed-round PageRank, the registered contract is a FIXED
    {_KCORE_ROUNDS} rounds — an exactly replayable upper bound on the
    core, with the per-round deltas in the report showing how far
    convergence has proceeded. Dense-subgraph
    extraction is the spam/boilerplate-cluster screen of
    web-graph curation pipelines.

    Scale shape: each round is two semi-join-shaped equi-joins of the
    edge table against the survivor set (the edge table is pinned once
    and scanned by every round, see below) and one groupBy(dst) degree
    count with map-side combine. Survivor state is |V| rows,
    distributed; per-round output is one aggregated row. Symmetric
    edges mean the directed count halves to undirected n_edges
    exactly."""
    # Edges pinned once and the survivor set pinned per round — the
    # ktruss loop-carried-state rule (r10): each round's alive table is
    # consumed THREE times (the degree join, the round's report row,
    # and the next round), so the unpinned lazy chain compounded
    # subtree re-derivation round over round (344 lineitem scan
    # references in the physical plan). Measured, results identical: sf0.1
    # 10.7 -> 5.1 s, sf1 30.0 -> 14.9 s, sf10 84.0 -> 59.8 s. The
    # pinned state is the support-thresholded edge set (shrinks the
    # raw co-occurrence pairs) plus node-sized survivor tables —
    # contrast community_modularity_report, whose fan-out is WITHIN
    # one job and measured the opposite trade (see its docstring).
    edges = pin(_copurchase_edges(spark, sf_dir).select("src", "dst"))
    alive = edges.select(F.col("src").alias("node")).distinct()
    rounds = []
    for t in range(_KCORE_ROUNDS):
        ex = edges.join(
            alive.select(F.col("node").alias("src")), "src"
        ).join(alive.select(F.col("node").alias("dst")), "dst")
        deg = ex.groupBy("dst").agg(F.count("*").alias("deg"))
        alive = pin(
            deg.filter(F.col("deg") >= _KCORE_K)
            .select(F.col("dst").alias("node"))
        )
        surviving_edges = edges.join(
            alive.select(F.col("node").alias("src")), "src"
        ).join(alive.select(F.col("node").alias("dst")), "dst")
        rounds.append(
            alive.agg(F.count("*").alias("n_nodes"))
            .crossJoin(
                surviving_edges.agg(
                    F.expr("count(*) DIV 2").alias("n_edges")
                )
            )
            .select(F.lit(t + 1).alias("round"), "n_nodes", "n_edges")
        )
    out = rounds[0]
    for r in rounds[1:]:
        out = out.unionByName(r)
    return out.orderBy("round")


# ---------------------------------------------------------------------------
# CUSUM spend monitor (Page, Biometrika 1954) — the clamped recurrence
#   S_t = max(0, S_{t-1} + (x_t - baseline))
# is NOT window-expressible (the clamp makes it non-associative), so
# this operator deliberately exercises Spark 4.1's new recursive-CTE
# surface (WITH RECURSIVE ... UNION ALL), with DuckDB running the same
# recursion as the oracle. Everything is integer cents, so the
# recurrence replays bit-for-bit.
# ---------------------------------------------------------------------------

_CUSUM_T = 80  # months 1995-01..2001-08 — the generator's fixed range
_CUSUM_TOP = 25


def _cusum_sql(intdiv: str, table: str = "orders") -> str:
    """The shared recursion text; ``intdiv`` is 'DIV' (Spark) or '//'
    (DuckDB) and ``table`` the orders relation name — the only dialect
    deltas."""
    return f"""
WITH RECURSIVE
mo AS (
  SELECT o_custkey AS ck,
         (year(o_orderdate) - 1995) * 12 + month(o_orderdate) AS t,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS spend
  FROM {table}
  GROUP BY o_custkey, (year(o_orderdate) - 1995) * 12 + month(o_orderdate)
),
base AS (
  SELECT ck,
         CAST(sum(spend) {intdiv} {_CUSUM_T} AS BIGINT) AS mean_c,
         count(*) AS n_months
  FROM mo GROUP BY ck
),
r (ck, t, s) AS (
  SELECT ck, 0, CAST(0 AS BIGINT) FROM base
  UNION ALL
  SELECT r.ck, r.t + 1,
         greatest(CAST(0 AS BIGINT),
                  r.s + COALESCE(mo.spend, CAST(0 AS BIGINT)) - b.mean_c)
  FROM r
  JOIN base b ON b.ck = r.ck
  LEFT JOIN mo ON mo.ck = r.ck AND mo.t = r.t + 1
  WHERE r.t < {_CUSUM_T}
)
SELECT r.ck AS custkey,
       CAST(max(r.s) AS BIGINT) AS max_cusum_cents,
       CAST(max(CASE WHEN r.t = {_CUSUM_T} THEN r.s END) AS BIGINT)
         AS final_cusum_cents,
       CAST(min(b.n_months) AS BIGINT) AS n_active_months
FROM r JOIN base b ON b.ck = r.ck
GROUP BY r.ck
ORDER BY max_cusum_cents DESC, custkey
LIMIT {_CUSUM_TOP}
"""


@register("cusum_spend_monitor", oracle=_cusum_sql("//"))
def cusum_spend_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_CUSUM_TOP} customers by Page's CUSUM statistic over their
    monthly spend: S_t = max(0, S_(t-1) + (spend_t - baseline)) across
    the generator's fixed {_CUSUM_T}-month calendar, baseline = the
    customer's integer-mean monthly spend. CUSUM is the standard
    sequential change detector — "whose spending regime shifted
    upward" — and the same clamped recurrence covers inventory floors
    and leaky-bucket quotas.

    The clamp LOOKS non-associative, but it linearizes: with
    M_t = prefix_sum(y) and m_t = min(0, running_min(M)),

        S_t = M_t - m_t        (proof by induction on the max())

    — the classic parallel-scan trick — so the registered plan is two
    WINDOW functions over a dense per-customer month spine
    ({_CUSUM_T} rows per partition, calendar-bounded, never
    data-proportional). Three INDEPENDENT formulations agree: this
    window form, the DuckDB oracle's naive WITH RECURSIVE replay (a
    different algorithm — stronger verification than a mirrored
    plan), and Spark 4.1's own recursive CTE (the new UnionLoop
    surface, exercised and equality-tested in
    tests/test_streaming_cusum.py; measured 282 s at sf1 vs 16.8 s
    cold for the scan form — per-iteration job overhead x {_CUSUM_T}
    months — which is why the recursion is the oracle and the test,
    not the plan). All arithmetic is integer cents, so every
    formulation matches bit for bit."""
    T = _CUSUM_T
    o = _t(spark, sf_dir, "orders")
    mo = (
        o.select(
            F.col("o_custkey").alias("ck"),
            ((F.year("o_orderdate") - 1995) * 12 + F.month("o_orderdate")).alias("t"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("ck", "t")
        .agg(F.sum("cents").alias("spend"))
    )
    base = mo.groupBy("ck").agg(
        F.expr(f"sum(spend) DIV {T}").alias("mean_c"),
        F.count("*").alias("n_months"),
    )
    spine = base.select(
        "ck", "mean_c", "n_months", F.explode(F.sequence(F.lit(1), F.lit(T))).alias("t")
    )
    y = spine.join(mo, ["ck", "t"], "left").select(
        "ck",
        "t",
        "n_months",
        (F.coalesce("spend", F.lit(0)) - F.col("mean_c")).alias("y"),
    )
    w = Window.partitionBy("ck").orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    scanned = y.select(
        "ck", "t", "n_months", F.sum("y").over(w).alias("bigm")
    ).select(
        "ck",
        "t",
        "n_months",
        (F.col("bigm") - F.least(F.lit(0), F.min("bigm").over(w))).alias("s"),
    )
    return (
        scanned.groupBy("ck")
        .agg(
            F.max("s").cast("long").alias("max_cusum_cents"),
            F.max(F.when(F.col("t") == T, F.col("s"))).cast("long").alias(
                "final_cusum_cents"
            ),
            F.min("n_months").cast("long").alias("n_active_months"),
        )
        .select(
            F.col("ck").alias("custkey"),
            "max_cusum_cents",
            "final_cusum_cents",
            "n_active_months",
        )
        .orderBy(F.desc("max_cusum_cents"), "custkey")
        .limit(_CUSUM_TOP)
    )


# ---------------------------------------------------------------------------
# Classical seasonal decomposition (the moving-average method behind
# X-11 / statsmodels' seasonal_decompose, additive form) — the
# time-series companion to gapfill_locf / hypertable_rollup /
# rolling_correlation.
# ---------------------------------------------------------------------------


def _seasonal_oracle() -> str:
    return f"""
WITH mo AS (
  SELECT (year(o_orderdate) - 1995) * 12 + month(o_orderdate) AS t,
         month(o_orderdate) AS cal_month,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
  FROM orders
  GROUP BY (year(o_orderdate) - 1995) * 12 + month(o_orderdate),
           month(o_orderdate)
),
tr AS (
  SELECT t, cal_month, y,
         CASE WHEN count(*) OVER w = 12
              THEN round(CAST(sum(y) OVER w AS DOUBLE) / 12, 4) END AS trend
  FROM mo
  WINDOW w AS (ORDER BY t ROWS BETWEEN 5 PRECEDING AND 6 FOLLOWING)
),
se AS (
  SELECT cal_month,
         round(avg(y - trend), 4) AS seasonal
  FROM tr WHERE trend IS NOT NULL GROUP BY cal_month
)
SELECT tr.t, tr.cal_month, tr.y AS y_cents, tr.trend AS trend_cents,
       se.seasonal AS seasonal_cents,
       round(tr.y - tr.trend - se.seasonal, 4) AS remainder_cents
FROM tr JOIN se ON tr.cal_month = se.cal_month
ORDER BY tr.t
"""


@register("seasonal_decompose_report", oracle=_seasonal_oracle())
def seasonal_decompose_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition of monthly order revenue —
    trend (centered 12-month moving average), per-calendar-month
    seasonal index (mean of the detrended series by month-of-year),
    and remainder: y_t = trend_t + seasonal_m(t) + remainder_t. The
    classical moving-average method (X-11's first pass; statsmodels
    ``seasonal_decompose``) — the screen that separates "December is
    always like this" from "something actually changed", sitting
    naturally beside the CUSUM monitor (decompose explains, CUSUM
    alarms).

    Determinism: monthly sums are exact integer cents; every division
    after that is a double division of exact integers (identical
    IEEE result in both engines) rounded to 4 decimals. Integer DIV
    is deliberately NOT used past the sums — Spark's DIV truncates
    toward zero while DuckDB's // floors, and detrended values go
    NEGATIVE (the bug class the mkn discount guards documented,
    avoided here by staying in doubles).

    Scale shape: the series is CALENDAR-bounded (80 rows after one
    map-side-combined month aggregate), so the ordered window is a
    constant-size partition — the same bounded-window argument as
    quality_quantile_normalize's grid CDF; everything upstream of the
    80-row table is one scan + one groupBy at any corpus size."""
    o = _t(spark, sf_dir, "orders")
    mo = (
        o.select(
            ((F.year("o_orderdate") - 1995) * 12 + F.month("o_orderdate")).alias("t"),
            F.month("o_orderdate").alias("cal_month"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("t", "cal_month")
        .agg(F.sum("cents").alias("y"))
    )
    w = Window.orderBy("t").rowsBetween(-5, 6)
    tr = mo.select(
        "t",
        "cal_month",
        "y",
        F.when(
            F.count("*").over(w) == 12,
            F.round(F.sum("y").over(w).cast("double") / 12, 4),
        ).alias("trend"),
    )
    se = (
        tr.filter(F.col("trend").isNotNull())
        .groupBy("cal_month")
        .agg(F.round(F.avg(F.col("y") - F.col("trend")), 4).alias("seasonal"))
    )
    return (
        tr.join(se, "cal_month")
        .select(
            "t",
            "cal_month",
            F.col("y").alias("y_cents"),
            F.col("trend").alias("trend_cents"),
            F.col("seasonal").alias("seasonal_cents"),
            F.round(
                F.col("y") - F.col("trend") - F.col("seasonal"), 4
            ).alias("remainder_cents"),
        )
        .orderBy("t")
    )


# ---------------------------------------------------------------------------
# Table profiler (the Deequ / dbt-docs discovery pass) — one row per
# (table, column): nulls, distincts, typed min/max, string length.
# Discovery complements data_quality_report's assertions: expectations
# are written FROM a profile.
# ---------------------------------------------------------------------------

# (table, column, kind) — static schema shared by both engines.
_PROFILE_COLS = [
    ("orders", "o_orderkey", "num"),
    ("orders", "o_custkey", "num"),
    ("orders", "o_orderstatus", "str"),
    ("orders", "o_totalprice", "num"),
    ("orders", "o_orderdate", "ts"),
    ("orders", "o_orderpriority", "str"),
    ("events", "event_id", "num"),
    ("events", "ts", "ts"),
    ("events", "user_id", "num"),
    ("events", "event_type", "str"),
    ("events", "value", "num"),
    ("events", "props", "str"),
    ("documents", "doc_id", "num"),
    ("documents", "text", "str"),
    ("documents", "lang", "str"),
    ("documents", "source", "str"),
    ("documents", "n_chars", "num"),
]


def _profile_oracle() -> str:
    rows = []
    for tbl, col, kind in _PROFILE_COLS:
        base = f"""SELECT '{tbl}' AS tbl, '{col}' AS col,
       count(*) AS n_rows,
       CAST(sum(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       count(DISTINCT {col}) AS n_distinct"""
        if kind == "num":
            rows.append(base + f""",
       round(CAST(min({col}) AS DOUBLE), 4) AS min_num,
       round(CAST(max({col}) AS DOUBLE), 4) AS max_num,
       CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str,
       CAST(NULL AS DOUBLE) AS avg_len
FROM {tbl}""")
        elif kind == "ts":
            rows.append(base + f""",
       CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num,
       CAST(CAST(min({col}) AS DATE) AS VARCHAR) AS min_str,
       CAST(CAST(max({col}) AS DATE) AS VARCHAR) AS max_str,
       CAST(NULL AS DOUBLE) AS avg_len
FROM {tbl}""")
        else:
            rows.append(base + f""",
       CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num,
       min({col}) AS min_str, max({col}) AS max_str,
       round(avg(length({col})), 2) AS avg_len
FROM {tbl}""")
    return "\nUNION ALL\n".join(rows) + "\nORDER BY tbl, col"


@register("table_profile_report", oracle=_profile_oracle())
def table_profile_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level profile of the three operational tables (orders,
    events, documents): row/null/distinct counts plus typed min/max
    (numerics rounded, timestamps as dates — double- and timestamp-
    to-string renderings differ between engines, so the profile keeps
    each kind in its own typed column) and mean string length. This is
    the DISCOVERY pass of a data-quality workflow (Deequ's profiler,
    dbt docs): ``data_quality_report``'s expectations get WRITTEN from
    a profile like this one.

    Scale shape: one scan per table computing every column's
    aggregates... is what this deliberately does NOT do — each column
    row is its own aggregate so the projection pushed to parquet is
    exactly one column per pass (ReadSchema shows a single field), and
    the per-column passes parallelize as independent jobs under the
    noop write. For a 100 TB profile you'd fuse columns per scan
    (trading IO for one wide aggregate); at any scale the output is
    schema-bounded (one row per column). Exact distincts are by
    design — the HLL tier (distinct_users_approx) is the sampled
    alternative when exactness is not worth the shuffle."""
    from http_log_anonymizer_spark.sources.batch import load_table

    parts = []
    for tbl, col, kind in _PROFILE_COLS:
        d = load_table(spark, sf_dir, tbl).select(col)
        base = [
            F.lit(tbl).alias("tbl"),
            F.lit(col).alias("col"),
            F.count("*").alias("n_rows"),
            F.sum(F.when(F.col(col).isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_nulls"),
            F.countDistinct(col).alias("n_distinct"),
        ]
        if kind == "num":
            extra = [
                F.round(F.min(col).cast("double"), 4).alias("min_num"),
                F.round(F.max(col).cast("double"), 4).alias("max_num"),
                F.lit(None).cast("string").alias("min_str"),
                F.lit(None).cast("string").alias("max_str"),
                F.lit(None).cast("double").alias("avg_len"),
            ]
        elif kind == "ts":
            extra = [
                F.lit(None).cast("double").alias("min_num"),
                F.lit(None).cast("double").alias("max_num"),
                F.min(col).cast("date").cast("string").alias("min_str"),
                F.max(col).cast("date").cast("string").alias("max_str"),
                F.lit(None).cast("double").alias("avg_len"),
            ]
        else:
            extra = [
                F.lit(None).cast("double").alias("min_num"),
                F.lit(None).cast("double").alias("max_num"),
                F.min(col).alias("min_str"),
                F.max(col).alias("max_str"),
                F.round(F.avg(F.length(col)), 2).alias("avg_len"),
            ]
        parts.append(d.agg(*(base + extra)))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("tbl", "col")


# ---------------------------------------------------------------------------
# Robust outliers via MAD (Iglewicz & Hoaglin, 1993) — the
# median-based twin of user_zscore_outliers: mean/std are themselves
# dragged by the outliers they are meant to find; median/MAD are not.
# ---------------------------------------------------------------------------

_MAD_THRESH = 3.5  # the Iglewicz-Hoaglin modified-z cutoff
_MAD_TOP = 25


def _mad_oracle() -> str:
    return f"""
WITH x AS (
  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS v FROM events
),
med AS (
  SELECT user_id, quantile_cont(v, 0.5) AS med, count(*) AS n
  FROM x GROUP BY user_id
),
dev AS (
  SELECT x.user_id, x.v, m.med, m.n, abs(x.v - m.med) AS ad
  FROM x JOIN med m ON x.user_id = m.user_id
),
mad AS (
  SELECT user_id, quantile_cont(ad, 0.5) AS mad FROM dev GROUP BY user_id
),
rz AS (
  SELECT d.user_id, d.n, d.med, m.mad,
         0.6745 * (d.v - d.med) / m.mad AS z
  FROM dev d JOIN mad m ON d.user_id = m.user_id
  WHERE m.mad > 0
)
SELECT user_id,
       CAST(min(n) AS BIGINT) AS n_events,
       round(min(med) / 100, 4) AS median_value,
       round(min(mad) / 100, 4) AS mad_value,
       CAST(sum(CASE WHEN abs(z) > {_MAD_THRESH} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers,
       round(max(abs(z)), 4) AS max_abs_rz
FROM rz
GROUP BY user_id
HAVING sum(CASE WHEN abs(z) > {_MAD_THRESH} THEN 1 ELSE 0 END) > 0
ORDER BY max_abs_rz DESC, user_id
LIMIT {_MAD_TOP}
"""


@register("mad_outlier_report", oracle=_mad_oracle())
def mad_outlier_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_MAD_TOP} users by modified z-score outliers (Iglewicz-
    Hoaglin: 0.6745 * (x - median) / MAD, cutoff {_MAD_THRESH}) over
    their event values — the ROBUST twin of ``user_zscore_outliers``:
    mean/std break down exactly when outliers exist (masking), while
    the median/MAD pair has a 50% breakdown point. Users whose MAD is
    zero (constant values) are excluded — the standard degenerate
    case, identical in both engines.

    Determinism: values quantize to integer cents; both engines define
    the interpolated median identically (index p*(n-1), linear
    interpolation — Spark ``percentile`` = DuckDB ``quantile_cont``),
    and interpolating between exact integers is exact-double
    arithmetic, so the full median -> MAD -> z chain hash-verifies.

    Scale shape: two per-user aggregations (median, then MAD of
    deviations) + one join back — per-user groups are bounded by a
    user's event count, never corpus-wide; the exact median per group
    is a sort within the aggregation buffer (Spark's percentile
    aggregate), not a global sort."""
    x = load_table(spark, sf_dir, "events").select(
        "user_id", F.round(F.col("value") * 100).cast("long").alias("v")
    )
    med = x.groupBy("user_id").agg(
        F.expr("percentile(v, 0.5)").alias("med"), F.count("*").alias("n")
    )
    dev = x.join(med, "user_id").select(
        "user_id", "v", "med", "n", F.abs(F.col("v") - F.col("med")).alias("ad")
    )
    mad = dev.groupBy("user_id").agg(F.expr("percentile(ad, 0.5)").alias("mad"))
    rz = (
        dev.join(mad, "user_id")
        .filter(F.col("mad") > 0)
        .select(
            "user_id",
            "n",
            "med",
            "mad",
            (0.6745 * (F.col("v") - F.col("med")) / F.col("mad")).alias("z"),
        )
    )
    out = F.sum(F.when(F.abs(F.col("z")) > _MAD_THRESH, 1).otherwise(0))
    return (
        rz.groupBy("user_id")
        .agg(
            F.min("n").cast("long").alias("n_events"),
            F.round(F.min("med") / 100, 4).alias("median_value"),
            F.round(F.min("mad") / 100, 4).alias("mad_value"),
            out.cast("long").alias("n_outliers"),
            F.round(F.max(F.abs(F.col("z"))), 4).alias("max_abs_rz"),
        )
        .filter(F.col("n_outliers") > 0)
        .orderBy(F.desc("max_abs_rz"), "user_id")
        .limit(_MAD_TOP)
    )


# ---------------------------------------------------------------------------
# Pearson correlation matrix over the lineitem measures — the feature-
# screening pass before any modeling step (and the generalization of
# rolling_correlation's single pair to all pairs in ONE scan).
# ---------------------------------------------------------------------------

_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _corr_matrix_oracle() -> str:
    # Moments stay in INT128 (DuckDB's native BIGINT-sum promotion) /
    # DECIMAL(38) on the Spark side — sum(x^2) over 600M rows at the
    # 1e2 price scale exceeds int64. The EXACT integer combinations
    # n*p - s_i*s_j are formed first and only then converted to double
    # (both engines round the same exact integer to the same nearest
    # double), so the output still hash-verifies.
    cols = _CORR_COLS
    q = ", ".join(
        f"CAST(round({c} * 100) AS BIGINT) AS x{i}" for i, c in enumerate(cols)
    )
    sums = ", ".join(
        [f"count(*) AS n"]
        + [f"sum(x{i}) AS s{i}" for i in range(len(cols))]
        + [
            f"sum(CAST(x{i} AS HUGEINT) * x{j}) AS p{i}_{j}"
            for i in range(len(cols))
            for j in range(i, len(cols))
        ]
    )
    pairs = " UNION ALL ".join(
        f"""SELECT '{cols[i]}' AS col_a, '{cols[j]}' AS col_b,
       round(CAST(n * p{i}_{j} - s{i} * s{j} AS DOUBLE)
             / (sqrt(CAST(n * p{i}_{i} - s{i} * s{i} AS DOUBLE))
                * sqrt(CAST(n * p{j}_{j} - s{j} * s{j} AS DOUBLE))),
             6) AS pearson_r
FROM m"""
        for i in range(len(cols))
        for j in range(i + 1, len(cols))
    )
    return f"""
WITH x AS (SELECT {q} FROM lineitem),
m AS (SELECT {sums} FROM x)
{pairs}
ORDER BY col_a, col_b
"""


@register("correlation_matrix_report", oracle=_corr_matrix_oracle())
def correlation_matrix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation for every pair of lineitem measures
    ({", ".join(_CORR_COLS)}) from ONE scan: the classic one-pass
    moment trick — n, per-column sums, and the upper-triangle product
    sums all land in a single map-side-combined aggregate, and every
    pairwise r is pure arithmetic over that one row. The feature-
    screening table every modeling step starts from (and the all-pairs
    generalization of ``rolling_correlation``).

    Determinism: values quantize to 1e-2 integers, moments accumulate
    in DECIMAL(38) / HUGEINT (sum(x^2) over 600M rows exceeds int64 —
    the first draft overflowed DuckDB's INT64 cast at the gate, the
    bound the wordpiece trainer already documented), and the exact
    integer combinations n*p - s_i*s_j convert to double only at the
    edge — both engines round the same exact integer to the same
    nearest double, so r hash-verifies.

    Scale shape: one scan, one 1-row aggregate, six arithmetic rows.
    Nothing else."""
    cols = _CORR_COLS
    dec = "decimal(38,0)"
    li = _t(spark, sf_dir, "lineitem").select(
        *[
            F.round(F.col(c) * 100).cast("long").alias(f"x{i}")
            for i, c in enumerate(cols)
        ]
    )
    aggs = (
        [F.count("*").alias("n")]
        + [F.sum(F.col(f"x{i}").cast(dec)).alias(f"s{i}") for i in range(len(cols))]
        + [
            F.sum(F.col(f"x{i}").cast(dec) * F.col(f"x{j}")).alias(f"p{i}_{j}")
            for i in range(len(cols))
            for j in range(i, len(cols))
        ]
    )
    m = li.agg(*aggs)

    def _d(expr):
        return expr.cast("double")

    rows = []
    for i in range(len(cols)):
        for j in range(i + 1, len(cols)):
            nn = F.col("n").cast(dec)
            num = _d(nn * F.col(f"p{i}_{j}") - F.col(f"s{i}") * F.col(f"s{j}"))
            den_i = F.sqrt(
                _d(nn * F.col(f"p{i}_{i}") - F.col(f"s{i}") * F.col(f"s{i}"))
            )
            den_j = F.sqrt(
                _d(nn * F.col(f"p{j}_{j}") - F.col(f"s{j}") * F.col(f"s{j}"))
            )
            rows.append(
                m.select(
                    F.lit(cols[i]).alias("col_a"),
                    F.lit(cols[j]).alias("col_b"),
                    F.round(num / (den_i * den_j), 6).alias("pearson_r"),
                )
            )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("col_a", "col_b")


# ---------------------------------------------------------------------------
# Join-key skew profiler — the diagnosis table behind every salting /
# AQE-skew-join decision this repo makes (operators/salted.py, the
# bm25_query_table stopword keys, the line-dedup boilerplate note).
# ---------------------------------------------------------------------------

_SKEW_KEYS = [
    ("lineitem", "l_orderkey"),
    ("lineitem", "l_partkey"),
    ("orders", "o_custkey"),
    ("events", "user_id"),
]


def _skew_oracle() -> str:
    parts = []
    for tbl, col in _SKEW_KEYS:
        parts.append(f"""SELECT '{tbl}' AS tbl, '{col}' AS keycol, b AS freq_pow,
       count(*) AS n_keys, CAST(sum(f) AS BIGINT) AS n_rows,
       round(sum(f) * 1.0 / (SELECT count(*) FROM {tbl}), 4) AS row_share
FROM (
  SELECT CAST(ceil(log2(f)) AS BIGINT) AS b, f
  FROM (SELECT count(*) AS f FROM {tbl} GROUP BY {col})
) GROUP BY b""")
    return "\nUNION ALL\n".join(parts) + "\nORDER BY tbl, keycol, freq_pow"


@register("join_skew_report", oracle=_skew_oracle())
def join_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-frequency histogram (log2 buckets) for the engine's own
    join keys: a key in bucket b occurs ~2^b times, so the top
    populated bucket bounds the largest shuffle partition any
    equi-join on that key can produce — the number a salting /
    AQE-skew decision actually needs (a p99 percentile over the key
    table would funnel |keys| rows into one aggregation buffer; the
    histogram is a bounded groupBy instead). ``row_share`` says how
    much of the table lives at each frequency scale — uniform FKs
    (TPC-H orderkey) concentrate in one bucket; web-corpus keys smear
    across many, and the high buckets are the salt candidates.

    Scale shape, per key: one groupBy(key) with map-side combine (the
    frequency table), one <= 64-bucket histogram aggregate. Exact and
    integer throughout; the only double is the rounded share."""
    from http_log_anonymizer_spark.sources.batch import load_table

    parts = []
    for tbl, col in _SKEW_KEYS:
        d = load_table(spark, sf_dir, tbl).select(col)
        freqs = d.groupBy(col).agg(F.count("*").alias("f"))
        parts.append(
            freqs.select(F.ceil(F.log2("f")).cast("long").alias("b"), "f")
            .groupBy("b")
            .agg(F.count("*").alias("n_keys"), F.sum("f").alias("n_rows"))
            .select(
                F.lit(tbl).alias("tbl"),
                F.lit(col).alias("keycol"),
                F.col("b").alias("freq_pow"),
                "n_keys",
                "n_rows",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    # table totals fall out of the histogram itself (sum over the
    # <= 64 bucket rows per key) — no separate count() actions (the
    # data_quality_report fused-aggregate lesson)
    w = Window.partitionBy("tbl", "keycol")
    return (
        out.withColumn(
            "row_share", F.round(F.col("n_rows") * 1.0 / F.sum("n_rows").over(w), 4)
        )
        .orderBy("tbl", "keycol", "freq_pow")
    )


# ---------------------------------------------------------------------------
# Chi-squared independence tests — the categorical-association screen
# (the categorical twin of correlation_matrix_report's Pearson screen).
# ---------------------------------------------------------------------------

# Scaled-integer chi^2: per cell, the contribution (O - E)^2 / E with
# E = rt*ct/N rewrites as (O*N - rt*ct)^2 / (N*rt*ct) — numerator and
# denominator EXACT integers. Each term is floored onto a 1e-4 grid by
# integer division (DuckDB // floors, Spark `div` truncates: identical
# for the non-negative operands here), so the summed statistic is exact
# integer arithmetic end to end — no double-summation order anywhere.
_CHI2_SCALE = 10_000
_CHI2_ATTRS = ["hour_of_day", "day_of_week", "day_of_month"]


def _chi2_oracle() -> str:
    parts = []
    for attr in _CHI2_ATTRS:
        parts.append(f"""SELECT 'event_type' AS attr_a, '{attr}' AS attr_b,
       CAST(min(n) AS BIGINT) AS n,
       CAST((count(DISTINCT a) - 1) * (count(DISTINCT b) - 1) AS BIGINT) AS dof,
       round(sum((CAST(o AS HUGEINT) * n - rt * ct)
                 * (CAST(o AS HUGEINT) * n - rt * ct) * {_CHI2_SCALE}
                 // (CAST(n AS HUGEINT) * rt * ct)) / {_CHI2_SCALE}.0, 4)
         AS chi2,
       CASE WHEN least(count(DISTINCT a), count(DISTINCT b)) > 1 THEN
         round(sqrt((sum((CAST(o AS HUGEINT) * n - rt * ct)
                         * (CAST(o AS HUGEINT) * n - rt * ct) * {_CHI2_SCALE}
                         // (CAST(n AS HUGEINT) * rt * ct)) / {_CHI2_SCALE}.0)
                    / (min(n) * greatest(least(count(DISTINCT a),
                                               count(DISTINCT b)) - 1, 1))), 4)
       END AS cramers_v
FROM (
  WITH obs AS (
    SELECT a, b, CAST(count(*) AS BIGINT) AS o
    FROM (SELECT event_type AS a, {attr} AS b
          FROM (SELECT event_type,
                       extract(hour FROM ts) AS hour_of_day,
                       dayofweek(ts) + 1 AS day_of_week,
                       extract(day FROM ts) AS day_of_month
                FROM events
                WHERE event_type IS NOT NULL AND ts IS NOT NULL))
    GROUP BY a, b
  ),
  -- complete the contingency table: ZERO cells contribute E to chi^2
  -- and must not be dropped (present-cells-only understates the
  -- statistic; caught by the planted perfect-dependence test)
  full_t AS (
    SELECT da.a, db.b, COALESCE(obs.o, 0) AS o
    FROM (SELECT DISTINCT a FROM obs) da
    CROSS JOIN (SELECT DISTINCT b FROM obs) db
    LEFT JOIN obs ON obs.a = da.a AND obs.b = db.b
  )
  SELECT a, b, o,
         sum(o) OVER (PARTITION BY a) AS rt,
         sum(o) OVER (PARTITION BY b) AS ct,
         sum(o) OVER () AS n
  FROM full_t
)""")
    return "\nUNION ALL\n".join(parts) + "\nORDER BY attr_a, attr_b"


@register("chi_square_report", oracle=_chi2_oracle())
def chi_square_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-squared test of independence between event_type and
    each calendar attribute ({", ".join(_CHI2_ATTRS)}), with degrees of
    freedom and Cramér's V effect size — the categorical-association
    screen beside correlation_matrix_report's numeric one (is traffic
    mix time-of-day dependent, or can downstream sampling ignore the
    clock?). No p-value column on purpose: the chi-squared CDF needs
    the incomplete gamma function, whose libm implementations differ
    across engines; the (statistic, dof) pair is the portable result.

    Determinism: the per-cell contribution (O-E)^2/E rewrites as
    (O*N - rt*ct)^2 / (N*rt*ct) — exact integers (HUGEINT/DECIMAL(38);
    (O*N)^2 overflows int64 from ~56k rows) — and each term floors
    onto a 1e-4 grid by integer division before summing, so the
    statistic involves NO double summation at all; Cramér's V is one
    sqrt of the same exact quantity.

    Scale shape: ONE scan builds the (type, hour, dow, month) cube
    (bounded: |types| * 24 * 7 * 12 cells); each test re-aggregates
    that bounded table, and the marginal windows partition over <= 288
    cells. Map-side combine does the heavy lifting; nothing after the
    first aggregate touches corpus-sized data."""
    # complete-case contingency analysis: a NULL category matches
    # nothing in the null-unsafe grid-completion join, leaving zero
    # marginals that divide by zero in Spark and silently vanish in
    # DuckDB — rows missing either attribute are excluded identically
    # in both engines (the planted-NULL audit's crash).
    e = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull() & F.col("ts").isNotNull()
    ).select(
        F.col("event_type"),
        F.hour("ts").cast("long").alias("hour_of_day"),
        F.dayofweek("ts").cast("long").alias("day_of_week"),
        F.dayofmonth("ts").cast("long").alias("day_of_month"),
    )
    cube = e.groupBy("event_type", *_CHI2_ATTRS).agg(F.count("*").alias("o"))
    dec = "decimal(38,0)"
    parts = []
    for attr in _CHI2_ATTRS:
        obs = (
            cube.groupBy(F.col("event_type").alias("a"), F.col(attr).alias("b"))
            .agg(F.sum("o").cast("long").alias("o"))
        )
        # complete the contingency table: ZERO cells contribute E to
        # chi^2 and must not be dropped (present-cells-only understates
        # the statistic; caught by the planted perfect-dependence test).
        # The cross join is margins x margins — bounded, never corpus.
        full_t = (
            obs.select("a")
            .distinct()
            .crossJoin(obs.select("b").distinct())
            .join(obs, ["a", "b"], "left")
            .select("a", "b", F.coalesce(F.col("o"), F.lit(0)).alias("o"))
        )
        m = full_t.select(
            "a",
            "b",
            "o",
            F.sum("o").over(Window.partitionBy("a")).alias("rt"),
            F.sum("o").over(Window.partitionBy("b")).alias("ct"),
        ).crossJoin(obs.agg(F.sum("o").cast("long").alias("n")))
        term = F.expr(
            f"(CAST(o AS {dec}) * n - CAST(rt AS {dec}) * ct) "
            f"* (CAST(o AS {dec}) * n - CAST(rt AS {dec}) * ct) "
            f"* {_CHI2_SCALE} div (CAST(n AS {dec}) * rt * ct)"
        )
        chi2_scaled = F.sum(term)
        dof = (F.countDistinct("a") - 1) * (F.countDistinct("b") - 1)
        nmin = F.least(F.countDistinct("a"), F.countDistinct("b"))
        denom = F.min("n") * F.greatest(nmin - 1, F.lit(1))
        parts.append(
            m.agg(
                F.lit("event_type").alias("attr_a"),
                F.lit(attr).alias("attr_b"),
                F.min("n").cast("long").alias("n"),
                dof.cast("long").alias("dof"),
                F.round(chi2_scaled / float(_CHI2_SCALE), 4).alias("chi2"),
                F.when(
                    nmin > 1,
                    F.round(
                        F.sqrt((chi2_scaled / float(_CHI2_SCALE)) / denom), 4
                    ),
                ).alias("cramers_v"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("attr_a", "attr_b")


# ---------------------------------------------------------------------------
# Revenue concentration (Lorenz / Gini / top-p shares) — the inequality
# audit of the customer base, and the grid-bounded pattern for ANY
# "how concentrated is X" question at corpus scale.
# ---------------------------------------------------------------------------

_CONC_GRID = 10_000  # spend-bucket grid


def _conc_oracle() -> str:
    g = _CONC_GRID
    return f"""
WITH spend AS (
  SELECT o_custkey, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS s
  FROM orders GROUP BY o_custkey
),
seg AS (
  SELECT c.c_mktsegment AS cohort, sp.s
  FROM spend sp JOIN customer c ON c.c_custkey = sp.o_custkey
),
mx AS (SELECT max(s) AS smax FROM seg),
b0 AS (
  SELECT cohort, CAST(s * {g} // (smax + 1) AS BIGINT) AS bucket,
         count(*) AS n_b, CAST(sum(s) AS BIGINT) AS s_b
  FROM seg CROSS JOIN mx GROUP BY cohort, bucket
),
hist AS (
  SELECT * FROM b0
  UNION ALL
  SELECT 'ALL' AS cohort, bucket, CAST(sum(n_b) AS BIGINT),
         CAST(sum(s_b) AS BIGINT)
  FROM b0 GROUP BY bucket
),
c AS (
  SELECT cohort, bucket, n_b, s_b,
         COALESCE(sum(s_b) OVER (
           PARTITION BY cohort ORDER BY bucket
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev,
         sum(n_b) OVER (
           PARTITION BY cohort ORDER BY bucket DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc,
         sum(n_b) OVER (PARTITION BY cohort) AS nn,
         sum(s_b) OVER (PARTITION BY cohort) AS ss
  FROM hist
),
f AS (
  SELECT cohort, bucket, n_b, s_b, cum_prev, cc, nn, ss,
         (cc - n_b) < (nn + 99) // 100 AS need1,
         (cc - n_b) < (nn + 9) // 10 AS need10
  FROM c
)
SELECT cohort,
       CAST(min(nn) AS BIGINT) AS n_customers,
       round(min(ss) / 100.0, 2) AS total_revenue,
       round(1 - CAST(sum(CAST(n_b AS HUGEINT) * (2 * cum_prev + s_b)) AS DOUBLE)
               / CAST(min(nn) * CAST(min(ss) AS HUGEINT) AS DOUBLE), 4) AS gini,
       CAST(max(CASE WHEN need1 THEN cc END) AS BIGINT) AS n_top1,
       round(CAST(sum(CASE WHEN need1 THEN s_b ELSE 0 END) AS DOUBLE)
             / CAST(min(ss) AS DOUBLE), 4) AS top1_share,
       CAST(max(CASE WHEN need10 THEN cc END) AS BIGINT) AS n_top10,
       round(CAST(sum(CASE WHEN need10 THEN s_b ELSE 0 END) AS DOUBLE)
             / CAST(min(ss) AS DOUBLE), 4) AS top10_share
FROM f
GROUP BY cohort
ORDER BY cohort
"""


@register("revenue_concentration_report", oracle=_conc_oracle())
def revenue_concentration_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz-curve concentration of customer lifetime spend per market
    segment (plus pooled ALL): Gini coefficient, and the revenue share
    held by the top 1% / 10% of customers — the whale-accounting table
    behind every retention/priority decision. Definitions are
    bucket-granular and EXACT for the bucketed distribution: spend
    quantizes onto a {_CONC_GRID}-bucket grid (global max scaling),
    Gini is the trapezoid integral of the bucket-mean Lorenz curve
    rewritten as sum_b n_b*(2*cum_prev + s_b) — exact integers in
    DECIMAL(38)/HUGEINT (the product reaches ~1e20 past int64) with ONE
    double division at the edge — and top-p sets are the smallest
    bucket suffixes covering ceil(p*N) customers (reported n_top says
    how many that actually is).

    Scale shape: one groupBy(custkey) on orders (the corpus shuffle),
    one join to the customer dim, one global max, one
    groupBy(cohort, bucket) with map-side combine; every window
    partitions over <= {_CONC_GRID} bucket rows per cohort — never
    over customers (a percent_rank over raw customers is the
    single-task-per-cohort sort this repo forbids)."""
    g = _CONC_GRID
    dec = "decimal(38,0)"
    spend = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("s")
        )
    )
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_mktsegment").alias("cohort"),
    )
    # merge hint (r10 sweep): column pruning shrinks the customer build
    # side's ESTIMATE below the broadcast threshold long after the true
    # 15M-key HashedRelation stops fitting (the data_quality_report FK
    # class, measured at sf100). The spend side already hash-partitions
    # on o_custkey from its groupBy, so the join adds no exchange there;
    # shuffle_hash (r10-opt: was merge) keeps the no-static-broadcast
    # safety per partition and drops both sides' sorts.
    seg = spend.join(cust.hint("shuffle_hash"), "o_custkey").select("cohort", "s")
    mx = seg.agg(F.max("s").alias("smax"))
    b0 = (
        seg.crossJoin(mx)
        .select("cohort", F.expr(f"(s * {g}) div (smax + 1)").alias("bucket"), "s")
        .groupBy("cohort", "bucket")
        .agg(F.count("*").alias("n_b"), F.sum("s").cast("long").alias("s_b"))
    )
    all_rows = (
        b0.groupBy("bucket")
        .agg(
            F.sum("n_b").cast("long").alias("n_b"),
            F.sum("s_b").cast("long").alias("s_b"),
        )
        .select(F.lit("ALL").alias("cohort"), "bucket", "n_b", "s_b")
    )
    hist = b0.select("cohort", "bucket", "n_b", "s_b").unionByName(all_rows)
    w_prev = (
        Window.partitionBy("cohort")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_desc = (
        Window.partitionBy("cohort")
        .orderBy(F.desc("bucket"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("cohort")
    c = hist.select(
        "cohort",
        "bucket",
        "n_b",
        "s_b",
        F.coalesce(F.sum("s_b").over(w_prev), F.lit(0)).alias("cum_prev"),
        F.sum("n_b").over(w_desc).alias("cc"),
        F.sum("n_b").over(w_all).alias("nn"),
        F.sum("s_b").over(w_all).alias("ss"),
    )
    f = c.select(
        "*",
        (
            (F.col("cc") - F.col("n_b")) < F.expr("(nn + 99) div 100")
        ).alias("need1"),
        ((F.col("cc") - F.col("n_b")) < F.expr("(nn + 9) div 10")).alias(
            "need10"
        ),
    )
    term = F.col("n_b").cast(dec) * (2 * F.col("cum_prev") + F.col("s_b"))
    return (
        f.groupBy("cohort")
        .agg(
            F.min("nn").cast("long").alias("n_customers"),
            F.round(F.min("ss") / 100.0, 2).alias("total_revenue"),
            F.round(
                1
                - F.sum(term).cast("double")
                / (F.min("nn") * F.min("ss").cast(dec)).cast("double"),
                4,
            ).alias("gini"),
            F.max(F.when(F.col("need1"), F.col("cc"))).cast("long").alias("n_top1"),
            F.round(
                F.sum(F.when(F.col("need1"), F.col("s_b")).otherwise(0)).cast(
                    "double"
                )
                / F.min("ss").cast("double"),
                4,
            ).alias("top1_share"),
            F.max(F.when(F.col("need10"), F.col("cc")))
            .cast("long")
            .alias("n_top10"),
            F.round(
                F.sum(F.when(F.col("need10"), F.col("s_b")).otherwise(0)).cast(
                    "double"
                )
                / F.min("ss").cast("double"),
                4,
            ).alias("top10_share"),
        )
        .orderBy("cohort")
    )


# ---------------------------------------------------------------------------
# Sequential pattern mining (lite): most frequent session event paths —
# the order-3 generalization of event_transition_matrix's bigrams, over
# the same gap-based sessions sessionize_events defines.
# ---------------------------------------------------------------------------

_PATH_TOP = 20


@register(
    "event_path_trigrams",
    oracle=f"""
WITH deltas AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                OR lag(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts, event_id, event_type,
         sum(new_session) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS session_id
  FROM deltas
),
tri AS (
  SELECT user_id,
         event_type || '>' || lead(event_type, 1) OVER w
                    || '>' || lead(event_type, 2) OVER w AS path
  FROM sess
  WINDOW w AS (PARTITION BY user_id, session_id ORDER BY ts, event_id)
)
SELECT path, count(*) AS n_occurrences,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM tri WHERE path IS NOT NULL
GROUP BY path
ORDER BY n_occurrences DESC, path
LIMIT {_PATH_TOP}
""",
)
def event_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_PATH_TOP} most frequent 3-step event paths within
    sessions (30-minute gap rule, the sessionize_events definition) —
    sequential pattern mining at the order behavioral analyses actually
    read (entry->action->outcome). Trigrams come from lead() windows
    partitioned by (user, session) — sliding and overlapping, the
    standard n-gram count — so no per-session array is ever
    materialized; a path never crosses a session boundary because the
    window partition ends there.

    Scale shape: two window passes over the same (user, ts) sort (the
    sessionize shuffle, reused by Catalyst), partitions bounded by one
    user's events; one groupBy(path) with map-side combine over the
    |types|^3-bounded path vocabulary; TakeOrdered for the top-k (no
    global sort). Ties break on path for determinism."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    deltas = _t(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        # microsecond-exact gap (ADVICE r08): whole-second casts floor
        # the diff, so a 1800.8 s gap could floor to exactly 1800 and
        # split in DuckDB but not here. unix_micros / epoch_us on the
        # two sides compare the same integer.
        F.when(
            (
                F.unix_micros(F.col("ts"))
                - F.lag(F.unix_micros(F.col("ts"))).over(w)
                > 1_800_000_000
            )
            | F.lag(F.col("ts")).over(w).isNull(),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    sess = deltas.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.sum("new_session")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("session_id"),
    )
    ws = Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    tri = sess.select(
        "user_id",
        F.concat_ws(
            ">",
            F.col("event_type"),
            F.lead("event_type", 1).over(ws),
            F.lead("event_type", 2).over(ws),
        ).alias("path"),
        F.lead("event_type", 2).over(ws).alias("guard"),
    ).filter(F.col("guard").isNotNull())
    return (
        tri.groupBy("path")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
        .orderBy(F.desc("n_occurrences"), "path")
        .limit(_PATH_TOP)
    )


# ---------------------------------------------------------------------------
# Sequential pattern mining (GSP/PrefixSpan at order <= 3; Agrawal &
# Srikant ICDE'95, Pei et al. TKDE'04) — SUBSEQUENCE semantics with
# gaps, the step up from event_path_trigrams' contiguous windows:
# "signup ... then purchase ... then error" counts however many other
# events sit in between.
# ---------------------------------------------------------------------------

# A pattern is reported when at least this share of sessions contains
# it, in BASIS POINTS (exact integer predicate: 10000 * support >=
# bp * n_sessions). The synthetic corpus's 30-minute sessions are
# mostly single-event, so multi-step patterns live at basis-point
# support; 1 bp keeps all three pattern lengths in the verified
# artifact while still pruning the singleton noise floor.
_SEQ_MINSUP_BP = 1

_SEQ_SESS_SQL = """
seq_d AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                OR lag(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
seq_pos AS (
  SELECT user_id, event_type,
         sum(new_session) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS session_id,
         row_number() OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS p
  FROM seq_d
),
seq_occ AS (
  SELECT user_id, session_id, event_type,
         min(p) AS first_p, max(p) AS last_p
  FROM seq_pos GROUP BY user_id, session_id, event_type
),
seq_ns AS (
  SELECT count(*) AS ns FROM (
    SELECT DISTINCT user_id, session_id FROM seq_pos
  ) t
)
"""


@register(
    "sequential_patterns",
    oracle=f"""
WITH {_SEQ_SESS_SQL},
p1 AS (
  SELECT event_type AS e1, count(*) AS sup FROM seq_occ GROUP BY e1
),
p2 AS (
  SELECT a.event_type AS e1, b.event_type AS e2, count(*) AS sup
  FROM seq_occ a
  JOIN seq_occ b ON a.user_id = b.user_id AND a.session_id = b.session_id
  WHERE a.first_p < b.last_p
  GROUP BY e1, e2
),
-- greedy witness for 3-subsequences: earliest e1, then the earliest
-- e2 strictly after it (p2m); any e3 strictly after p2m completes it
p2m AS (
  SELECT a.user_id, a.session_id, a.event_type AS e1, b.event_type AS e2,
         min(b.p) AS p2
  FROM seq_occ a
  JOIN seq_pos b ON a.user_id = b.user_id AND a.session_id = b.session_id
  WHERE b.p > a.first_p
  GROUP BY a.user_id, a.session_id, e1, e2
),
p3 AS (
  SELECT t.e1, t.e2, c.event_type AS e3, count(*) AS sup
  FROM p2m t
  JOIN seq_occ c ON c.user_id = t.user_id AND c.session_id = t.session_id
  WHERE c.last_p > t.p2
  GROUP BY e1, e2, e3
),
pat AS (
  SELECT 1 AS pattern_len, e1, CAST(NULL AS VARCHAR) AS e2,
         CAST(NULL AS VARCHAR) AS e3, sup FROM p1
  UNION ALL
  SELECT 2, e1, e2, CAST(NULL AS VARCHAR), sup FROM p2
  UNION ALL
  SELECT 3, e1, e2, e3, sup FROM p3
)
SELECT pattern_len, e1, e2, e3,
       CAST(sup AS BIGINT) AS n_sessions,
       round(sup * 1.0 / ns, 6) AS support
FROM pat CROSS JOIN seq_ns
WHERE 10000 * sup >= {_SEQ_MINSUP_BP} * ns
ORDER BY pattern_len, e1, e2 NULLS FIRST, e3 NULLS FIRST
""",
)
def sequential_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent sequential patterns (length 1-3) over event sessions —
    GSP/PrefixSpan subsequence semantics: a session supports (a, b, c)
    when those types occur in that ORDER with any gaps, counted once
    per session. The greedy earliest-occurrence witness decides
    containment exactly (taking the earliest a, then the earliest b
    after it, maximizes room for c). Patterns below {_SEQ_MINSUP_BP} basis
    points of session support are pruned with an exact integer
    predicate.

    Scale shape: sessionization reuses the 30-minute-gap windows (one
    (user) shuffle, partitions bounded per user); everything after
    works on seq_occ — at most |types| rows per session — so the
    self-joins are per-session n_types^2 expansions keyed on (user,
    session), never cross-session; pattern rollups are map-side
    combined onto the |types|^3-bounded pattern vocabulary. NULL
    timestamps (un-orderable) and NULL types are excluded identically
    in both engines.

    Honest limitation (documented, standard in GSP at fixed order):
    patterns longer than 3 need iterative prefix growth — the
    bounded-alphabet cross joins here ARE the k<=3 specialization."""
    e = _t(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    deltas = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        # microsecond-exact gap (ADVICE r08): a whole-second cast
        # floors the diff, so a true gap of e.g. 1800.8 s could floor
        # to exactly 1800 and diverge from the oracle's full-precision
        # compare. unix_micros here, epoch_us in the oracle.
        F.when(
            (
                F.unix_micros(F.col("ts"))
                - F.lag(F.unix_micros(F.col("ts"))).over(w)
                > 1_800_000_000
            )
            | F.lag(F.col("ts")).over(w).isNull(),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    pos = deltas.select(
        "user_id",
        "event_type",
        F.sum("new_session")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("session_id"),
        F.row_number().over(w).alias("p"),
    )
    occ = pos.groupBy("user_id", "session_id", "event_type").agg(
        F.min("p").alias("first_p"), F.max("p").alias("last_p")
    )
    ns = (
        pos.select("user_id", "session_id")
        .distinct()
        .agg(F.count("*").alias("ns"))
    )
    sess_key = ["user_id", "session_id"]
    p1 = occ.groupBy(F.col("event_type").alias("e1")).agg(
        F.count("*").alias("sup")
    )
    b = occ.select(
        *sess_key,
        F.col("event_type").alias("e2"),
        F.col("last_p").alias("b_last"),
    )
    p2 = (
        occ.select(*sess_key, F.col("event_type").alias("e1"), "first_p")
        .join(b, sess_key)
        .filter(F.col("first_p") < F.col("b_last"))
        .groupBy("e1", "e2")
        .agg(F.count("*").alias("sup"))
    )
    p2m = (
        occ.select(*sess_key, F.col("event_type").alias("e1"), "first_p")
        .join(
            pos.select(*sess_key, F.col("event_type").alias("e2"), "p"),
            sess_key,
        )
        .filter(F.col("p") > F.col("first_p"))
        .groupBy(*sess_key, "e1", "e2")
        .agg(F.min("p").alias("p2"))
    )
    p3 = (
        p2m.join(
            occ.select(
                *sess_key,
                F.col("event_type").alias("e3"),
                F.col("last_p").alias("c_last"),
            ),
            sess_key,
        )
        .filter(F.col("c_last") > F.col("p2"))
        .groupBy("e1", "e2", "e3")
        .agg(F.count("*").alias("sup"))
    )
    null_s = F.lit(None).cast("string")
    pat = (
        p1.select(
            F.lit(1).alias("pattern_len"),
            "e1",
            null_s.alias("e2"),
            null_s.alias("e3"),
            "sup",
        )
        .unionByName(
            p2.select(
                F.lit(2).alias("pattern_len"),
                "e1",
                "e2",
                null_s.alias("e3"),
                "sup",
            )
        )
        .unionByName(
            p3.select(F.lit(3).alias("pattern_len"), "e1", "e2", "e3", "sup")
        )
    )
    return (
        pat.crossJoin(F.broadcast(ns))
        .filter(
            F.col("sup") * 10000 >= F.col("ns") * _SEQ_MINSUP_BP
        )
        .select(
            "pattern_len",
            "e1",
            "e2",
            "e3",
            F.col("sup").cast("long").alias("n_sessions"),
            F.round(F.col("sup") * 1.0 / F.col("ns"), 6).alias("support"),
        )
        .orderBy(
            "pattern_len",
            "e1",
            F.col("e2").asc_nulls_first(),
            F.col("e3").asc_nulls_first(),
        )
    )


# ---------------------------------------------------------------------------
# Population stability index — the model-monitoring drift statistic
# (does the live feature distribution still look like the one the
# model/threshold was calibrated on?).
# ---------------------------------------------------------------------------

_PSI_BUCKETS = 10
_PSI_SPLIT_DAY = 16  # ref = days 1-15 of the corpus month, cur = the rest
_PSI_ALERT = 0.2  # the conventional "significant shift" threshold


def _psi_oracle() -> str:
    b = _PSI_BUCKETS
    return f"""
WITH v AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c,
         CASE WHEN extract(day FROM ts) < {_PSI_SPLIT_DAY} THEN 1 ELSE 0 END AS is_ref
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
),
mm AS (SELECT min(c) AS lo, max(c) AS hi FROM v),
b0 AS (
  SELECT event_type AS cohort,
         CAST((c - lo) * {b} // (hi - lo + 1) AS BIGINT) AS bucket,
         CAST(sum(is_ref) AS BIGINT) AS n_ref,
         CAST(sum(1 - is_ref) AS BIGINT) AS n_cur
  FROM v CROSS JOIN mm GROUP BY cohort, bucket
),
h AS (
  SELECT * FROM b0
  UNION ALL
  SELECT 'ALL', bucket, CAST(sum(n_ref) AS BIGINT), CAST(sum(n_cur) AS BIGINT)
  FROM b0 GROUP BY bucket
),
-- complete to all {b} buckets: an empty bucket on one side is exactly
-- where drift shows up (the chi2 zero-cell lesson); +1 Laplace
-- smoothing keeps the log finite and deterministic
f AS (
  SELECT g.cohort, g.bucket,
         COALESCE(h.n_ref, 0) AS n_ref, COALESCE(h.n_cur, 0) AS n_cur
  FROM (SELECT cohort, u.bucket
        FROM (SELECT DISTINCT cohort FROM h)
        CROSS JOIN (SELECT unnest(generate_series(0, {b - 1})) AS bucket) u) g
  LEFT JOIN h ON h.cohort = g.cohort AND h.bucket = g.bucket
),
t AS (
  SELECT cohort, bucket, n_ref, n_cur,
         sum(n_ref) OVER (PARTITION BY cohort) AS tr,
         sum(n_cur) OVER (PARTITION BY cohort) AS tc
  FROM f
),
terms AS (
  SELECT cohort, tr, tc,
         ((n_ref + 1.0) / (tr + {b}) - (n_cur + 1.0) / (tc + {b}))
         * ln(((n_ref + 1.0) / (tr + {b})) / ((n_cur + 1.0) / (tc + {b})))
           AS term
  FROM t
)
SELECT cohort,
       CAST(min(tr) AS BIGINT) AS n_ref,
       CAST(min(tc) AS BIGINT) AS n_cur,
       round(sum(term), 4) AS psi,
       round(max(term), 4) AS max_bucket_contrib,
       sum(term) >= {_PSI_ALERT} AS drift_flag
FROM terms
GROUP BY cohort
ORDER BY cohort
"""


@register("psi_drift_report", oracle=_psi_oracle())
def psi_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index of the event-value distribution,
    reference window (days 1-{_PSI_SPLIT_DAY - 1} of the corpus month)
    vs current (the rest), per event type plus pooled ALL — THE
    model-monitoring drift statistic: a score/feature histogram that
    no longer matches its calibration window invalidates thresholds
    before accuracy metrics can notice (labels lag). PSI =
    sum_b (p_b - q_b) ln(p_b / q_b) over {_PSI_BUCKETS} equal-width
    buckets with +1 Laplace smoothing (an empty bucket on one side IS
    the drift signal, so buckets are zero-completed — the chi-squared
    zero-cell lesson — and smoothing keeps the log finite);
    drift_flag applies the conventional {_PSI_ALERT} threshold.

    Scale shape: one scan builds the (cohort, bucket) ref/cur counts
    (map-side combined, output bounded by cohorts x {_PSI_BUCKETS});
    bucket completion is a bounded cross join; windows partition over
    <= {_PSI_BUCKETS} rows. The smoothed p, q are ratios of exact
    integers, so both engines take ln of identical doubles; the
    {_PSI_BUCKETS}-term double sum rounds at 4 (the entropy
    precedent)."""
    b = _PSI_BUCKETS
    # a NULL measurement has no place on the value grid and an undated
    # row has no ref/current window (Spark's otherwise(0) would silently
    # file it as CURRENT); NULL support points would also sort at
    # opposite ends of the two engines' windows (Spark NULLS FIRST vs
    # DuckDB NULLS LAST) — excluded identically in both engines (the
    # planted-NULL audit; the streaming twins drop the same rows at
    # ingest).
    v = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & F.col("ts").isNotNull())
        .select(
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("c"),
            F.when(F.dayofmonth("ts") < _PSI_SPLIT_DAY, 1).otherwise(0).alias("is_ref"),
        )
    )
    mm = v.agg(F.min("c").alias("lo"), F.max("c").alias("hi"))
    # the bucket table is bounded (cohorts x buckets); pinned because b0
    # feeds the pooled-ALL union, the cohort grid AND the completion
    # join, and without a hard boundary each branch re-derived it from
    # the corpus (plan-audited r07: 8 FileScans -> 2; the remaining pair
    # is the inherent min/max pass for the data-derived edges plus the
    # bucketize pass)
    b0 = pin(
        v.crossJoin(mm)
        .select(
            F.col("event_type").alias("cohort"),
            F.expr(f"((c - lo) * {b}) div (hi - lo + 1)").alias("bucket"),
            "is_ref",
        )
        .groupBy("cohort", "bucket")
        .agg(
            F.sum("is_ref").cast("long").alias("n_ref"),
            F.sum(1 - F.col("is_ref")).cast("long").alias("n_cur"),
        )
    )
    h = b0.unionByName(
        b0.groupBy("bucket")
        .agg(
            F.sum("n_ref").cast("long").alias("n_ref"),
            F.sum("n_cur").cast("long").alias("n_cur"),
        )
        .select(F.lit("ALL").alias("cohort"), "bucket", "n_ref", "n_cur")
    )
    grid = (
        h.select("cohort")
        .distinct()
        .crossJoin(spark.range(b).select(F.col("id").alias("bucket")))
    )
    f = grid.join(h, ["cohort", "bucket"], "left").select(
        "cohort",
        "bucket",
        F.coalesce(F.col("n_ref"), F.lit(0)).alias("n_ref"),
        F.coalesce(F.col("n_cur"), F.lit(0)).alias("n_cur"),
    )
    w = Window.partitionBy("cohort")
    t = f.select(
        "cohort",
        "n_ref",
        "n_cur",
        F.sum("n_ref").over(w).alias("tr"),
        F.sum("n_cur").over(w).alias("tc"),
    )
    p = (F.col("n_ref") + 1.0) / (F.col("tr") + b)
    q = (F.col("n_cur") + 1.0) / (F.col("tc") + b)
    term = (p - q) * F.log(p / q)
    return (
        t.select("cohort", "tr", "tc", term.alias("term"))
        .groupBy("cohort")
        .agg(
            F.min("tr").cast("long").alias("n_ref"),
            F.min("tc").cast("long").alias("n_cur"),
            F.round(F.sum("term"), 4).alias("psi"),
            F.round(F.max("term"), 4).alias("max_bucket_contrib"),
            (F.sum("term") >= _PSI_ALERT).alias("drift_flag"),
        )
        .orderBy("cohort")
    )


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov + Wasserstein-1 drift — the ECDF twins
# of psi_drift_report (PSI needs a bucket count; KS/W1 are binning-free)
# ---------------------------------------------------------------------------

_KS_ALPHA_C = 1.358  # c(alpha) for alpha = 0.05 (Smirnov's asymptotic)


def _ks_oracle() -> str:
    return f"""
WITH v AS (
  SELECT event_type,
         CAST(round(value * 100) AS BIGINT) AS c,
         CASE WHEN date_part('day', ts) < {_PSI_SPLIT_DAY} THEN 1 ELSE 0 END AS is_ref
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
),
t0 AS (
  SELECT event_type AS cohort, c,
         CAST(sum(is_ref) AS BIGINT) AS r,
         CAST(sum(1 - is_ref) AS BIGINT) AS q
  FROM v GROUP BY event_type, c
),
t1 AS (
  SELECT * FROM t0
  UNION ALL
  SELECT 'ALL' AS cohort, c, CAST(sum(r) AS BIGINT), CAST(sum(q) AS BIGINT)
  FROM t0 GROUP BY c
),
-- re-group so (cohort, c) is UNIQUE even when a real cohort is named
-- 'ALL': with duplicate support points the ROWS cumulative frame is
-- peer-order-dependent (and Spark's RANGE frame diverges from it) —
-- the classifier_auc_report lesson applied to the ECDF
t AS (
  SELECT cohort, c, CAST(sum(r) AS BIGINT) AS r, CAST(sum(q) AS BIGINT) AS q
  FROM t1 GROUP BY cohort, c
),
e AS (
  SELECT cohort, c,
         sum(r) OVER w AS cum_r,
         sum(q) OVER w AS cum_q,
         lead(c) OVER w AS c_next,
         sum(r) OVER (PARTITION BY cohort) AS tr,
         sum(q) OVER (PARTITION BY cohort) AS tc
  FROM t
  WINDOW w AS (PARTITION BY cohort ORDER BY c
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
d AS (
  SELECT cohort, c, c_next, tr, tc,
         abs(CAST(cum_r AS HUGEINT) * tc - CAST(cum_q AS HUGEINT) * tr) AS absd
  FROM e
),
agg AS (
  SELECT cohort,
         CAST(min(tr) AS BIGINT) AS n_ref,
         CAST(min(tc) AS BIGINT) AS n_cur,
         max(struct_pack(a := absd, b := -c)) AS mx,
         sum(absd * (CASE WHEN c_next IS NULL THEN 0 ELSE c_next - c END)) AS w1n
  FROM d GROUP BY cohort
)
-- degenerate one-sided cohorts (n_ref = 0 or n_cur = 0): the
-- two-sample statistic is undefined, but one-sided presence IS
-- maximal drift -> NULL stats, reject_h0 = true (exact integer gate)
SELECT cohort, n_ref, n_cur,
       CASE WHEN n_ref > 0 AND n_cur > 0 THEN
         round(CAST(mx.a AS DOUBLE) / (CAST(n_ref AS DOUBLE) * n_cur), 6)
       END AS ks,
       CASE WHEN n_ref > 0 AND n_cur > 0 THEN CAST(-mx.b AS BIGINT) END AS ks_at,
       CASE WHEN n_ref > 0 AND n_cur > 0 THEN
         round(CAST(w1n AS DOUBLE) / (CAST(n_ref AS DOUBLE) * n_cur), 4)
       END AS w1_cents,
       CASE WHEN n_ref = 0 OR n_cur = 0 THEN true ELSE
         CAST(mx.a AS DOUBLE) / (CAST(n_ref AS DOUBLE) * n_cur)
           >= {_KS_ALPHA_C} * sqrt((n_ref + CAST(n_cur AS DOUBLE)) / (CAST(n_ref AS DOUBLE) * n_cur))
       END AS reject_h0
FROM agg
ORDER BY cohort
"""


@register("ks_drift_report", oracle=_ks_oracle())
def ks_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic AND Wasserstein-1
    (earth-mover) distance of the event-value distribution, reference
    window (days 1-{_PSI_SPLIT_DAY - 1}) vs current, per event type
    plus pooled ALL — the binning-free companions of
    ``psi_drift_report`` (PSI depends on a bucket count; KS is the
    sup-norm of the ECDF gap and W1 its integral, both evaluated
    exactly on the cent grid). ``ks_at`` is the value where the
    maximum gap occurs (smallest such value on ties — the threshold a
    monitor would alert on); ``reject_h0`` applies Smirnov's
    asymptotic 5% critical value {_KS_ALPHA_C}*sqrt((n+m)/(n*m)).

    Determinism: ECDF gaps cross-multiply to integers
    (|cum_ref*n_cur - cum_cur*n_ref|, exact in decimal/HUGEINT), so
    max, argmax and the W1 sum are integer-exact; division to a double
    happens once at the edge (the chi-square/PSI discipline). The
    tie-broken argmax is a lexicographic struct max, not max_by.

    Scale shape: one scan to the (cohort, value) TYPE table (map-side
    combined, bounded by cohorts x distinct cent values), cumulative
    windows partition per cohort over the type table, and the final
    aggregate is cohort-bounded. Nothing is row-proportional past the
    first aggregate. The cross-multiplied gaps stay exact through
    decimal(38,0)/HUGEINT up to n_ref*n_cur ~ 1e38 — beyond any corpus."""
    # a NULL measurement has no place on the value grid and an undated
    # row has no ref/current window (Spark's otherwise(0) would silently
    # file it as CURRENT); NULL support points would also sort at
    # opposite ends of the two engines' windows (Spark NULLS FIRST vs
    # DuckDB NULLS LAST) — excluded identically in both engines (the
    # planted-NULL audit; the streaming twins drop the same rows at
    # ingest).
    v = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & F.col("ts").isNotNull())
        .select(
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("c"),
            F.when(F.dayofmonth("ts") < _PSI_SPLIT_DAY, 1).otherwise(0).alias("is_ref"),
        )
    )
    # the type table is grid-bounded (cohorts x distinct cent values);
    # materialize it so the union's two branches (per-cohort + pooled
    # ALL) don't each re-scan the corpus — plan-audited: 2 FileScans
    # without this, 1 with (at 100 TB that is the whole cost)
    t0 = pin(
        v.groupBy(F.col("event_type").alias("cohort"), "c").agg(
            F.sum("is_ref").cast("long").alias("r"),
            F.sum(1 - F.col("is_ref")).cast("long").alias("q"),
        )
    )
    # (cohort, c) must be UNIQUE below: the cumulative window is
    # peer-order-dependent on duplicates (and the Spark RANGE frame
    # would diverge from the oracle's ROWS frame) — regroup after the
    # pooled-ALL union, exactly as the oracle does
    t = (
        t0.unionByName(
            t0.groupBy("c")
            .agg(
                F.sum("r").cast("long").alias("r"),
                F.sum("q").cast("long").alias("q"),
            )
            .select(F.lit("ALL").alias("cohort"), "c", "r", "q")
        )
        .groupBy("cohort", "c")
        .agg(
            F.sum("r").cast("long").alias("r"),
            F.sum("q").cast("long").alias("q"),
        )
    )
    w = Window.partitionBy("cohort").orderBy("c")
    wc = Window.partitionBy("cohort")
    e = t.select(
        "cohort",
        "c",
        F.sum("r").over(w).alias("cum_r"),
        F.sum("q").over(w).alias("cum_q"),
        F.lead("c").over(w).alias("c_next"),
        F.sum("r").over(wc).alias("tr"),
        F.sum("q").over(wc).alias("tc"),
    )
    dec = "decimal(38,0)"
    absd = F.abs(
        F.col("cum_r").cast(dec) * F.col("tc") - F.col("cum_q").cast(dec) * F.col("tr")
    )
    d = e.select(
        "cohort",
        "c",
        "tr",
        "tc",
        absd.alias("absd"),
        F.when(F.col("c_next").isNull(), F.lit(0).cast(dec))
        .otherwise(absd * (F.col("c_next") - F.col("c")))
        .alias("w1term"),
    )
    agg = d.groupBy("cohort").agg(
        F.min("tr").cast("long").alias("n_ref"),
        F.min("tc").cast("long").alias("n_cur"),
        F.max(F.struct(F.col("absd").alias("a"), (-F.col("c")).alias("b"))).alias(
            "mx"
        ),
        F.sum("w1term").alias("w1n"),
    )
    nm = F.col("n_ref").cast("double") * F.col("n_cur")
    ks = F.col("mx.a").cast("double") / nm
    crit = F.lit(_KS_ALPHA_C) * F.sqrt(
        (F.col("n_ref") + F.col("n_cur").cast("double")) / nm
    )
    # degenerate one-sided cohorts (zero rows on either side of the
    # split): the statistic is 0/0, but one-sided presence IS maximal
    # drift — NULL stats, reject_h0 = true. Exact integer gate shared
    # with the streaming monitor (ADVICE r07).
    degen = (F.col("n_ref") == 0) | (F.col("n_cur") == 0)
    return agg.select(
        "cohort",
        "n_ref",
        "n_cur",
        F.when(~degen, F.round(ks, 6)).alias("ks"),
        F.when(~degen, (-F.col("mx.b")).cast("long")).alias("ks_at"),
        F.when(~degen, F.round(F.col("w1n").cast("double") / nm, 4)).alias(
            "w1_cents"
        ),
        F.when(degen, F.lit(True)).otherwise(ks >= crit).alias("reject_h0"),
    ).orderBy("cohort")


# ---------------------------------------------------------------------------
# Benford first-digit conformity (Newcomb 1881; Benford 1938; Nigrini
# 2012) — the forensic data-quality screen for value columns: organic
# multiplicative amounts follow P(d) = log10(1 + 1/d); fabricated,
# capped, or generator-artifact values do not. The per-digit deviation
# table plus Nigrini's MAD conformity verdict.
# ---------------------------------------------------------------------------

# floor(log10(1 + 1/d) * 1e6): the expected-share grid, computed once
# in Python and inlined as IDENTICAL integer literals in both engines.
_BENFORD_EXP = {
    1: 301029, 2: 176091, 3: 124938, 4: 96910, 5: 79181,
    6: 66946, 7: 57991, 8: 51152, 9: 45757,
}
# Nigrini 2012 first-digit MAD thresholds on the same 1e-6 grid.
_BENFORD_MAD = (6000, 12000, 15000)


def _benford_oracle() -> str:
    exp_rows = ", ".join(f"({d}, {m})" for d, m in _BENFORD_EXP.items())
    lo, mid, hi = _BENFORD_MAD
    return f"""
WITH bf_v AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders
),
bf_d AS (
  SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit,
         count(*) AS n
  FROM bf_v WHERE cents > 0 GROUP BY digit
),
bf_n AS (SELECT COALESCE(CAST(sum(n) AS BIGINT), 0) AS nt FROM bf_d),
bf_e (digit, exp_micro) AS (VALUES {exp_rows}),
bf_m AS (
  SELECT e.digit, COALESCE(d.n, 0) AS n_obs,
         (COALESCE(d.n, 0) * 1000000) // greatest(t.nt, 1) AS obs_micro,
         e.exp_micro
  FROM bf_e e LEFT JOIN bf_d d ON d.digit = e.digit CROSS JOIN bf_n t
),
bf_all AS (
  SELECT CAST(0 AS BIGINT) AS digit, t.nt AS n_obs,
         CAST(NULL AS DOUBLE) AS obs_share, CAST(NULL AS DOUBLE) AS exp_share,
         round((SELECT sum(abs(obs_micro - exp_micro)) // 9 FROM bf_m)
               / 1000000.0, 6) AS abs_dev,
         CASE WHEN (SELECT sum(abs(obs_micro - exp_micro)) // 9 FROM bf_m)
                   <= {lo} THEN 'close'
              WHEN (SELECT sum(abs(obs_micro - exp_micro)) // 9 FROM bf_m)
                   <= {mid} THEN 'acceptable'
              WHEN (SELECT sum(abs(obs_micro - exp_micro)) // 9 FROM bf_m)
                   <= {hi} THEN 'marginal'
              ELSE 'nonconformity' END AS conformity
  FROM bf_n t
)
SELECT digit, n_obs, obs_share, exp_share, abs_dev, conformity FROM (
  SELECT CAST(digit AS BIGINT) AS digit, CAST(n_obs AS BIGINT) AS n_obs,
         round(obs_micro / 1000000.0, 6) AS obs_share,
         round(exp_micro / 1000000.0, 6) AS exp_share,
         round(abs(obs_micro - exp_micro) / 1000000.0, 6) AS abs_dev,
         CAST(NULL AS VARCHAR) AS conformity
  FROM bf_m
  UNION ALL
  SELECT * FROM bf_all
)
ORDER BY digit
"""


@register("benford_first_digit_report", oracle=_benford_oracle())
def benford_first_digit_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of order totals (integer
    cents) against Benford's law, with Nigrini's mean-absolute-
    deviation conformity verdict on the pooled row (digit = 0):
    'close' <= 0.006 < 'acceptable' <= 0.012 < 'marginal' <= 0.015 <
    'nonconformity'. The forensic screen a data platform runs on any
    organic value column — fabricated or generator-capped amounts
    break the log-law visibly (TPC-H's uniform price generator lands
    in 'nonconformity' by construction: an honest negative that IS the
    finding).

    Exactness: expected shares are floor(log10(1+1/d)*1e6) integer
    literals computed once and inlined IDENTICALLY in both engines;
    observed shares land on the same 1e-6 grid by truncating division;
    the MAD is an exact integer mean of 9 grid deviations. All nine
    digits always appear (a zero-count digit is a deviation, not an
    absent row). NULL/non-positive amounts are excluded identically.

    Scale shape: one scan collapsing map-side to <= 9 rows; everything
    after is constant-size arithmetic."""
    return bf_readout(bf_digit_counts(_t(spark, sf_dir, "orders")))


# Shared map/reduce halves — the streaming Benford monitor
# (streaming/benford.py) reuses these so its readout IS the batch
# report over arrived rows (the PII-monitor template).


def bf_digit_counts(rows: DataFrame, amount_col: str = "o_totalprice") -> DataFrame:
    """(digit, n) first-significant-digit counts over positive integer
    cents of ``amount_col`` — the map half; exact BIGINT counts, so
    states merge by addition."""
    cents = F.round(F.col(amount_col) * 100).cast("long")
    return (
        rows.select(cents.alias("cents"))
        .filter(F.col("cents") > 0)
        .select(
            F.substring(F.col("cents").cast("string"), 1, 1)
            .cast("long")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count("*").cast("long").alias("n"))
    )


def bf_merge_rollups(states: DataFrame) -> DataFrame:
    """Fold any union of digit-count states back to one row each."""
    return states.groupBy("digit").agg(F.sum("n").cast("long").alias("n"))


def bf_readout(d: DataFrame) -> DataFrame:
    """The Benford report rows from a (digit, n) state."""
    spark = d.sparkSession
    lo, mid, hi = _BENFORD_MAD
    e = spark.createDataFrame(
        [(k, v) for k, v in _BENFORD_EXP.items()], "digit long, exp_micro long"
    )
    nt = d.agg(F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("nt"))
    m = (
        e.join(d, "digit", "left")
        .crossJoin(F.broadcast(nt))
        .select(
            "digit",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_obs"),
            F.expr(
                "(COALESCE(n, 0) * 1000000) DIV greatest(nt, 1)"
            ).alias("obs_micro"),
            "exp_micro",
            "nt",
        )
    )
    digits = m.select(
        F.col("digit"),
        F.col("n_obs"),
        F.round(F.col("obs_micro") / 1000000.0, 6).alias("obs_share"),
        F.round(F.col("exp_micro") / 1000000.0, 6).alias("exp_share"),
        F.round(F.abs(F.col("obs_micro") - F.col("exp_micro")) / 1000000.0, 6)
        .alias("abs_dev"),
        F.lit(None).cast("string").alias("conformity"),
    )
    mad = m.agg(
        F.expr("sum(abs(obs_micro - exp_micro)) DIV 9").alias("mad_micro"),
        F.max("nt").alias("nt"),
    )
    pooled = mad.select(
        F.lit(0).cast("long").alias("digit"),
        F.col("nt").cast("long").alias("n_obs"),
        F.lit(None).cast("double").alias("obs_share"),
        F.lit(None).cast("double").alias("exp_share"),
        F.round(F.col("mad_micro") / 1000000.0, 6).alias("abs_dev"),
        F.when(F.col("mad_micro") <= lo, "close")
        .when(F.col("mad_micro") <= mid, "acceptable")
        .when(F.col("mad_micro") <= hi, "marginal")
        .otherwise("nonconformity")
        .alias("conformity"),
    )
    return digits.unionByName(pooled).orderBy("digit")


# ---------------------------------------------------------------------------
# Skyline / Pareto frontier (Borzsony, Kossmann & Stocker, "The Skyline
# Operator", ICDE 2001) — the multi-criteria "best tradeoffs" query:
# within each brand, the parts for which no other part is both at
# least as large and at least as cheap (strictly better on one axis).
# The naive formulation is the quadratic NOT EXISTS anti-join; the
# 2-D structure admits the sort-based linear algorithm (Chomicki et
# al., "Skyline with Presorting", ICDE 2003), re-expressed here as ONE
# map-side-combined aggregate plus a window over the tiny (brand,
# size) grid — the corpus itself is never shuffled at all.
# ---------------------------------------------------------------------------


def _skyline_oracle() -> str:
    return """
WITH p AS (
  SELECT p_partkey, p_brand, p_size,
         CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents
  FROM part
),
grid AS (
  SELECT p_brand, p_size, min(price_cents) AS minp
  FROM p GROUP BY p_brand, p_size
),
sky AS (
  SELECT p_brand, p_size, minp,
         min(minp) OVER (
           PARTITION BY p_brand ORDER BY p_size DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS best_larger
  FROM grid
)
SELECT pt.p_brand, pt.p_size, pt.price_cents, pt.p_partkey
FROM p pt JOIN sky s
  ON pt.p_brand = s.p_brand AND pt.p_size = s.p_size
WHERE pt.price_cents = s.minp
  AND (s.best_larger IS NULL OR pt.price_cents < s.best_larger)
ORDER BY pt.p_brand, pt.p_size DESC, pt.p_partkey
"""


@register("pareto_frontier_parts", oracle=_skyline_oracle())
def pareto_frontier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand Pareto frontier of parts over (size: maximize,
    retail price: minimize) — every part not dominated by a same-brand
    part that is at least as large AND at least as cheap (strictly
    better on one axis). Ties on both axes are mutually non-dominating
    and all stay on the frontier (the standard skyline convention).

    Scale shape — the 2-D skyline WITHOUT the quadratic anti-join and
    without sorting the corpus: (1) one groupBy collapses the corpus
    to the (brand, size) -> min-price grid, a map-side-combined
    aggregate whose output is bounded by the attribute domain
    (|brands| x |sizes|, ~1.2k rows here, domain-bounded at any corpus
    scale); (2) the running strictly-larger-size minimum is a ROWS
    window over that tiny grid (one row per (brand, size), so ROWS
    1-PRECEDING is exactly "all strictly larger sizes"); (3) the
    frontier test joins the decision grid BACK to the scan as a
    broadcast hash join — the fact table is filtered in place, never
    shuffled. A row survives iff it meets its cell's minimum and
    strictly beats every larger cell's. Exact integer cents end to
    end, so the driver hash-checks the full frontier."""
    p = _t(spark, sf_dir, "part").select(
        "p_partkey",
        "p_brand",
        "p_size",
        F.expr("CAST(round(p_retailprice * 100) AS BIGINT)").alias("price_cents"),
    )
    grid = p.groupBy("p_brand", "p_size").agg(F.min("price_cents").alias("minp"))
    w = (
        Window.partitionBy("p_brand")
        .orderBy(F.desc("p_size"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sky = grid.select(
        F.col("p_brand").alias("b"),
        F.col("p_size").alias("s"),
        "minp",
        F.min("minp").over(w).alias("best_larger"),
    )
    return (
        p.join(
            F.broadcast(sky),
            (p.p_brand == sky.b) & (p.p_size == sky.s),
        )
        .filter(
            (F.col("price_cents") == F.col("minp"))
            & (F.col("best_larger").isNull() | (F.col("price_cents") < F.col("best_larger")))
        )
        .select("p_brand", "p_size", "price_cents", "p_partkey")
        .orderBy("p_brand", F.desc("p_size"), "p_partkey")
    )


# ---------------------------------------------------------------------------
# Link prediction by resource-allocation index (Zhou, Lu & Zhang,
# "Predicting missing links via local information", Eur. Phys. J. B
# 2009) — the recommender primitive over the same support-thresholded
# part co-purchase graph as triangle_counts: for every NON-adjacent
# pair (u, v), score = sum over common neighbors z of 1/deg(z). RA is
# the strongest of the classic local indices precisely because hubs
# contribute almost nothing (1/deg), which also licenses the standard
# production rule applied here: wedge centers above a degree cap are
# excluded outright, bounding per-center fan-out at cap^2 while
# discarding only negligibly-weighted evidence.
# ---------------------------------------------------------------------------

_LP_TOP = 25
_LP_MAXDEG = 64  # hub cap for wedge centers (contract, both engines)
_LP_SCALE = 1_000_000_000  # score unit: parts-per-billion of 1/deg


def _link_pred_oracle() -> str:
    return f"""
WITH {_copurchase_und_sql()},
{_COPURCHASE_ARCS_SQL},
{_degrees_sql()},
centers AS (
  SELECT a.src AS z, a.dst AS x, d.d FROM arcs a JOIN deg d ON a.src = d.node
  WHERE d.d <= {_LP_MAXDEG}
),
wedge AS (
  SELECT a.x AS u, b.x AS v,
         CAST(sum({_LP_SCALE} // a.d) AS BIGINT) AS score_ppb,
         count(*) AS n_common
  FROM centers a JOIN centers b ON a.z = b.z AND a.x < b.x
  GROUP BY a.x, b.x
),
nonedge AS (
  SELECT w.* FROM wedge w
  WHERE NOT EXISTS (SELECT 1 FROM und e WHERE e.u = w.u AND e.v = w.v)
)
SELECT u, v, score_ppb, n_common
FROM nonedge
ORDER BY score_ppb DESC, u, v
LIMIT {_LP_TOP}
"""


@register("link_prediction_ra", oracle=_link_pred_oracle())
def link_prediction_ra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_LP_TOP} predicted missing links in the part co-purchase
    graph by resource-allocation index: for non-adjacent (u, v),
    score_ppb = sum over shared neighbors z of {_LP_SCALE} DIV deg(z)
    (exact integer parts-per-billion; identical truncation in both
    engines on positive operands).

    Scale shape, three rules. (1) SUPPORT THRESHOLDING first — the
    same >= {_COPURCHASE_MINSUP} co-purchase contract as triangle_counts cuts
    the weight-1 noise edges that dominate raw co-occurrence graphs.
    (2) HUB CAP on wedge centers: a center of degree D emits D^2
    wedges, so one celebrity part can dwarf the rest of the job; RA's
    own weighting says those wedges carry at most 1/D each, so centers
    with deg > {_LP_MAXDEG} are dropped by contract (the standard
    recsys rule), bounding per-center fan-out at {_LP_MAXDEG}^2 and
    total wedge work at sum of min(deg, cap)^2 — linear in edges for
    power-law graphs. (3) The existing-edge rejection is a LEFT ANTI
    equi-join on (u, v), never a filter over materialized pairs. All
    equi-joins on integer keys; the candidate never carries more than
    four ints; top-k is TakeOrderedAndProject. Deterministic integer
    scores, so the driver hash-checks the report."""
    und = pin(_copurchase_und(spark, sf_dir))
    arcs = _copurchase_arcs(und)
    deg = _degrees(und)
    centers = pin(
        arcs.join(deg, arcs.src == deg.node)
        .filter(F.col("d") <= _LP_MAXDEG)
        .select(F.col("src").alias("z"), F.col("dst").alias("x"), "d")
    )
    a = centers.select("z", F.col("x").alias("u"), "d")
    b = centers.select(F.col("z").alias("z2"), F.col("x").alias("v"))
    wedge = (
        a.join(b, (a.z == b.z2) & (F.col("u") < F.col("v")))
        .groupBy("u", "v")
        .agg(
            F.expr(f"CAST(sum({_LP_SCALE} DIV d) AS BIGINT)").alias("score_ppb"),
            F.count("*").alias("n_common"),
        )
    )
    nonedge = wedge.join(und, ["u", "v"], "left_anti")
    return nonedge.orderBy(F.desc("score_ppb"), "u", "v").limit(_LP_TOP)


# ---------------------------------------------------------------------------
# Changepoint detection by binary segmentation (Scott & Knott 1974;
# the CUSUM-class mean-shift test as used in PELT's single-split
# inner step, Killick et al., JASA 2012): over the daily order-revenue
# series, find the split date that maximizes the reduction in
# within-segment sum of squared error — equivalently the argmax of
# S_l^2/n_l + S_r^2/n_r. Everything is exact integer cents with one
# contract truncation (the 1e6-scaled per-side division), so both
# engines replay the argmax bit-identically; no floating-point SSE
# comparisons anywhere.
# ---------------------------------------------------------------------------

_CP_TOP = 5
_CP_SCALE = 1_000_000  # fixed-point scale for the per-side S^2/n terms


def _changepoint_oracle() -> str:
    return f"""
WITH daily AS (
  SELECT o_orderdate AS d,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DECIMAL(38,0)) AS s,
         CAST(count(*) AS DECIMAL(38,0)) AS n
  FROM orders GROUP BY o_orderdate
),
pre AS (
  SELECT d,
         sum(s) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sl,
         sum(n) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nl,
         sum(s) OVER () AS st,
         sum(n) OVER () AS nt,
         row_number() OVER (ORDER BY d) AS rn,
         count(*) OVER () AS ndays
  FROM daily
),
big AS (
  SELECT d, rn, ndays,
         CAST(sl AS HUGEINT) AS sl, CAST(nl AS HUGEINT) AS nl,
         CAST(st AS HUGEINT) AS st, CAST(nt AS HUGEINT) AS nt
  FROM pre
),
gain AS (
  SELECT d AS split_date,
         CAST(nl AS BIGINT) AS n_left,
         CAST(nt - nl AS BIGINT) AS n_right,
         CAST(sl // nl AS BIGINT) AS mean_left_cents,
         CAST((st - sl) // (nt - nl) AS BIGINT) AS mean_right_cents,
         CAST(greatest(
           (sl * sl * {_CP_SCALE}) // nl
           + ((st - sl) * (st - sl) * {_CP_SCALE}) // (nt - nl)
           - (st * st * {_CP_SCALE}) // nt,
           CAST(0 AS HUGEINT)
         ) // {_CP_SCALE} AS BIGINT) AS sse_gain_cents2
  FROM big WHERE rn < ndays
)
SELECT * FROM gain
ORDER BY sse_gain_cents2 DESC, split_date
LIMIT {_CP_TOP}
"""


def changepoint_daily_base(orders: DataFrame) -> DataFrame:
    """Map half of changepoint_revenue: the per-day (sum-of-cents,
    count) table as exact DECIMAL(38,0)s — one corpus scan, map-side
    combined, output bounded by the calendar. Shared with the
    streaming changepoint monitor, whose per-batch folds merge this
    base by day-keyed addition (sums and counts are both additive)."""
    return orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.expr(
            "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DECIMAL(38,0))"
        ).alias("s"),
        F.expr("CAST(count(*) AS DECIMAL(38,0))").alias("n"),
    )


def changepoint_scan(daily: DataFrame) -> DataFrame:
    """Reduce half of changepoint_revenue: the binary-segmentation gain
    scan over a (d, s, n) daily table (see the query docstring for the
    fixed-point/clamp contract). Runs on the calendar-bounded series
    only, so the streaming monitor can replay it per readout."""
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    pre = daily.select(
        "d",
        F.sum("s").over(w).alias("sl"),
        F.sum("n").over(w).alias("nl"),
        F.sum("s").over(wall).alias("st"),
        F.sum("n").over(wall).alias("nt"),
        F.row_number().over(Window.orderBy("d")).alias("rn"),
        F.count("*").over(wall).alias("ndays"),
    )
    # Exact decimal floor division: Spark's DIV operator returns BIGINT
    # and the 1e6-scaled S^2/n quotients (~5e20 at sf0.01 already)
    # overflow it. (a - a % b) / b keeps everything DECIMAL: the
    # numerator is exactly divisible, so the decimal division is an
    # exact integer and no rounding mode is ever exercised. Operands
    # are all positive, so this truncation == DuckDB's HUGEINT //.
    def fdiv(a: str, b: str) -> str:
        return f"CAST(((({a}) - (({a}) % ({b}))) / ({b})) AS DECIMAL(38,0))"

    sq_l = f"(sl * sl * {_CP_SCALE})"
    sq_r = f"((st - sl) * (st - sl) * {_CP_SCALE})"
    sq_t = f"(st * st * {_CP_SCALE})"
    # Clamp before the final descale: the true SSE reduction is >= 0
    # (Cauchy-Schwarz), but the per-term truncations can push the fixed-
    # point value a unit or two negative, and a negative numerator is
    # the ONE integer semantic the engines do not share (Spark DIV
    # truncates toward zero, DuckDB // floors) — the same load-bearing
    # clamp as harmonic_centrality_topk.
    gain_fp = (
        f"greatest({fdiv(sq_l, 'nl')} + {fdiv(sq_r, '(nt - nl)')}"
        f" - {fdiv(sq_t, 'nt')}, CAST(0 AS DECIMAL(38,0)))"
    )
    gain = pre.filter(F.col("rn") < F.col("ndays")).select(
        F.col("d").alias("split_date"),
        F.col("nl").cast("long").alias("n_left"),
        (F.col("nt") - F.col("nl")).cast("long").alias("n_right"),
        F.expr(f"CAST({fdiv('sl', 'nl')} AS BIGINT)").alias("mean_left_cents"),
        F.expr(f"CAST({fdiv('(st - sl)', '(nt - nl)')} AS BIGINT)").alias(
            "mean_right_cents"
        ),
        F.expr(
            f"CAST({fdiv(gain_fp, str(_CP_SCALE))} AS BIGINT)"
        ).alias("sse_gain_cents2"),
    )
    return gain.orderBy(F.desc("sse_gain_cents2"), "split_date").limit(_CP_TOP)


@register("changepoint_revenue", oracle=_changepoint_oracle())
def changepoint_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_CP_TOP} candidate mean-shift changepoints in the daily
    order-revenue series by binary segmentation: each split date is
    scored by the exact within-segment SSE reduction
    S_l^2/n_l + S_r^2/n_r - S^2/n (the constant term subtracted so the
    gain reads as an absolute improvement), computed in {_CP_SCALE}x
    fixed point with per-term truncating division as the cross-engine
    contract, clamped at 0 (truncation can dip a true-zero gain a unit
    negative, and negative integer division is the one semantic the
    engines do not share), and reported in whole cents^2 (BIGINT; the
    ranking runs on the descaled value in both engines, so the
    coarser tie-granularity is itself part of the contract).

    Scale shape: ONE corpus scan map-side-combines to the per-day
    (sum, count) table — output bounded by the calendar, not the
    corpus — and every remaining step (prefix sums, the gain scan, the
    top-{_CP_TOP}) runs on that day-sized series; the single-partition
    window is scale-exempt by construction, the same argument as
    storage_grid's literal grid. DECIMAL(38,0) end to end: S^2 at
    sf100 is ~4e26 and the 1e6 scaling keeps it inside 38 digits with
    headroom. At 1000 executors the plan is one exchange (the daily
    rollup) plus driver-trivial tail work."""
    return changepoint_scan(changepoint_daily_base(_t(spark, sf_dir, "orders")))


# ---------------------------------------------------------------------------
# Community modularity (Newman & Girvan, Phys. Rev. E 2004) — the
# quality score for the partition label_propagation_communities
# reports: Q = sum over communities of [ int_c/W - (deg_c/W)^2 ],
# where W is the total (bidirectional) edge weight, int_c the weight
# inside c, deg_c the weighted degree of c. Scored on the SAME rounds
# pipeline the community query runs, so "the communities we report"
# and "the communities we score" cannot drift apart.
# ---------------------------------------------------------------------------

_MOD_TOP = 25


def _modularity_oracle() -> str:
    return (
        _lpa_oracle_ctes()
        + f""",
lab AS (SELECT node, lbl FROM l{_LPA_ROUNDS}),
tot AS (SELECT CAST(sum(w) AS BIGINT) AS wt FROM edges),
internal AS (
  SELECT ls.lbl AS community, CAST(sum(e.w) AS BIGINT) AS internal_w
  FROM edges e
  JOIN lab ls ON ls.node = e.src
  JOIN lab ld ON ld.node = e.dst AND ld.lbl = ls.lbl
  GROUP BY ls.lbl
),
degree AS (
  SELECT l.lbl AS community,
         CAST(sum(e.w) AS BIGINT) AS degree_w,
         count(DISTINCT e.src) AS n_nodes
  FROM edges e JOIN lab l ON l.node = e.src
  GROUP BY l.lbl
),
per AS (
  SELECT d.community, d.n_nodes,
         coalesce(i.internal_w, 0) AS internal_w,
         d.degree_w, t.wt AS w_total,
         round(coalesce(i.internal_w, 0) * 1.0 / t.wt
               - (d.degree_w * 1.0 / t.wt) * (d.degree_w * 1.0 / t.wt),
               6) AS q_contrib
  FROM degree d LEFT JOIN internal i ON i.community = d.community
  CROSS JOIN tot t
),
pooled AS (
  SELECT CAST(-1 AS BIGINT) AS community,
         CAST(sum(n_nodes) AS BIGINT) AS n_nodes,
         CAST(sum(internal_w) AS BIGINT) AS internal_w,
         CAST(sum(degree_w) AS BIGINT) AS degree_w,
         CAST(max(w_total) AS BIGINT) AS w_total,
         round(sum(internal_w * 1.0 / w_total
                   - (degree_w * 1.0 / w_total) * (degree_w * 1.0 / w_total)),
               6) AS q_contrib
  FROM per
),
topc AS (
  SELECT * FROM per
  ORDER BY n_nodes DESC, community
  LIMIT {_MOD_TOP}
)
SELECT * FROM topc
UNION ALL
SELECT * FROM pooled
ORDER BY community
"""
    )


@register("community_modularity_report", oracle=_modularity_oracle())
def community_modularity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman-Girvan modularity of the label-propagation partition:
    per-community internal weight, weighted degree, and Q contribution
    for the {_MOD_TOP} largest communities, plus one pooled row
    (community = -1) whose q_contrib is the partition's total Q over
    ALL communities — the single number that says whether the LPA
    rounds found real structure (Q near 0 = no better than random
    wiring given the degree sequence).

    Scale shape: shares _lpa_pipeline with the community query (label
    state |V| rows; per-round work as documented there). Scoring adds
    two label joins onto the edge table (src then dst, both integer
    equi-joins), ONE groupBy per term keyed on community, and a 1-row
    total broadcast onto the bounded community table. Raw sums stay
    exact BIGINTs; only the final Q ratio is a double, rounded to 6 in
    both engines (the triangle_counts clustering-coefficient idiom).
    The pooled total folds the SAME per-community doubles the report
    shows, so the global Q is reproducible from the rows above it."""
    # Pinned pipeline: labels feeds two scoring joins and edges three —
    # the classic re-derivation trap (see _lpa_pipeline's docstring for
    # the sf10 numbers, 171.2/104.5 -> 61.4/86.6 s).
    edges, labels = _lpa_pipeline(spark, sf_dir, pin_labels=True)
    lab_src = labels.select(F.col("node").alias("src"), F.col("lbl").alias("cs"))
    lab_dst = labels.select(F.col("node").alias("dst"), F.col("lbl").alias("cd"))
    tot = edges.agg(F.sum("w").cast("long").alias("w_total"))
    internal = (
        edges.join(lab_src, "src")
        .join(lab_dst, "dst")
        .filter(F.col("cs") == F.col("cd"))
        .groupBy(F.col("cs").alias("community"))
        .agg(F.sum("w").cast("long").alias("internal_w"))
    )
    degree = (
        edges.join(lab_src, "src")
        .groupBy(F.col("cs").alias("community"))
        .agg(
            F.sum("w").cast("long").alias("degree_w"),
            F.countDistinct("src").alias("n_nodes"),
        )
    )
    per = (
        degree.join(internal, "community", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "community",
            "n_nodes",
            F.coalesce("internal_w", F.lit(0)).cast("long").alias("internal_w"),
            "degree_w",
            "w_total",
        )
        .withColumn(
            "q_contrib",
            F.round(
                F.col("internal_w") * 1.0 / F.col("w_total")
                - (F.col("degree_w") * 1.0 / F.col("w_total"))
                * (F.col("degree_w") * 1.0 / F.col("w_total")),
                6,
            ),
        )
    )
    topc = per.orderBy(F.desc("n_nodes"), "community").limit(_MOD_TOP)
    pooled = per.agg(
        F.lit(-1).cast("long").alias("community"),
        F.sum("n_nodes").cast("long").alias("n_nodes"),
        F.sum("internal_w").cast("long").alias("internal_w"),
        F.sum("degree_w").cast("long").alias("degree_w"),
        F.max("w_total").cast("long").alias("w_total"),
        F.round(
            F.sum(
                F.col("internal_w") * 1.0 / F.col("w_total")
                - (F.col("degree_w") * 1.0 / F.col("w_total"))
                * (F.col("degree_w") * 1.0 / F.col("w_total"))
            ),
            6,
        ).alias("q_contrib"),
    )
    return topc.unionByName(pooled).orderBy("community")


# ---------------------------------------------------------------------------
# Association rules (Agrawal & Srikant, VLDB 1994 — the Apriori
# support/confidence/lift contract, computed directly at pair depth):
# market-basket rules u => v over order baskets, the operator that
# turns the co-purchase counts every graph query here already builds
# into actionable "customers who bought u also bought v" statements.
# ---------------------------------------------------------------------------

_AR_TOP = 25
_AR_MINSUP = 3  # baskets containing BOTH items (absolute support)


def _assoc_rules_oracle() -> str:
    return f"""
WITH item AS (
  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem
),
n AS (SELECT count(DISTINCT basket) AS n_baskets FROM item),
supp1 AS (SELECT item, count(*) AS s FROM item GROUP BY item),
supp2 AS (
  SELECT a.item AS u, b.item AS v, count(*) AS s2
  FROM item a JOIN item b ON a.basket = b.basket AND a.item < b.item
  GROUP BY a.item, b.item
  HAVING count(*) >= {_AR_MINSUP}
),
rules AS (
  SELECT r.u AS antecedent, r.v AS consequent, r.s2 AS support_both,
         su.s AS support_ante, sv.s AS support_cons, n.n_baskets,
         round(r.s2 * 1.0 / su.s, 6) AS confidence,
         round(r.s2 * 1.0 * n.n_baskets / (su.s * 1.0 * sv.s), 6) AS lift
  FROM supp2 r
  JOIN supp1 su ON su.item = r.u
  JOIN supp1 sv ON sv.item = r.v
  CROSS JOIN n
  UNION ALL
  SELECT r.v, r.u, r.s2, sv.s, su.s, n.n_baskets,
         round(r.s2 * 1.0 / sv.s, 6),
         round(r.s2 * 1.0 * n.n_baskets / (su.s * 1.0 * sv.s), 6)
  FROM supp2 r
  JOIN supp1 su ON su.item = r.u
  JOIN supp1 sv ON sv.item = r.v
  CROSS JOIN n
)
SELECT antecedent, consequent, support_both, support_ante, support_cons,
       confidence, lift
FROM rules
ORDER BY lift DESC, antecedent, consequent
LIMIT {_AR_TOP}
"""


@register("association_rules_report", oracle=_assoc_rules_oracle())
def association_rules_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_AR_TOP} market-basket rules u => v by lift (support >=
    {_AR_MINSUP} baskets, both rule directions emitted with their own
    confidence, lift symmetric) — the Apriori depth-2 contract:
    support counts DISTINCT baskets (a part twice in one order is one
    basket), confidence = P(v|u), lift = P(u,v)/(P(u)P(v)).

    Scale shape: basket de-dup is one groupBy-distinct on (basket,
    item); pair support is the standard basket self-equi-join with
    u < v ordering, whose fan-out is sum over baskets of
    (basket size choose 2) — bounded by basket width, not corpus size
    (TPC-H baskets are <= 7 items; retail baskets are dozens), and the
    support HAVING prunes before the rule join. Rule stats join the
    pair table to the item-support table twice (integer equi-joins;
    the item table is dimension-sized and broadcastable) and to the
    1-row basket count. Supports stay exact BIGINTs; confidence/lift
    are 6-rounded doubles (the established cross-engine idiom). Top-k
    is TakeOrderedAndProject."""
    # r10 optimization (guide §2.4, measured at sf1): the original
    # distinct + basket self-equi-join recomputed the distinct item
    # table under four consumers and shuffled both join sides by
    # basket (30.5 s at sf1). One collect_set groupBy now distincts
    # AND groups in a single exchange, pairs are generated in-task
    # from the sorted basket array (identical (u, v), u < v multiset —
    # the array is sorted and set-valued), and the two rule directions
    # explode from one struct array instead of a unionByName that
    # duplicated the whole pipeline (26 -> ~8 Exchanges, 24.2 s at
    # sf1; top-25 output verified row-identical and oracle-green at
    # both gate SFs).
    # The basket table is pinned ONCE: it has
    # three consumers (basket count, item supports, pair generation)
    # and without a pin each re-ran the lineitem scan + collect_set
    # shuffle (r10 measurement at sf1: 24.5 -> 21.8 s warm; the item
    # support table is likewise pinned — its explode+groupBy fed both
    # rule-direction joins).
    baskets = pin(
        _t(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_orderkey").alias("basket"))
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("items"))
    )
    n = baskets.agg(F.count("*").alias("n_baskets"))
    supp1 = pin(
        baskets.select(F.explode("items").alias("item"))
        .groupBy("item")
        .agg(F.count("*").alias("s"))
    )
    # sequence(1, size-1) DESCENDS when size = 1 (Spark semantics), so
    # single-item baskets — which contribute no pairs — must be
    # filtered before the index walk.
    pairs = (
        baskets.filter(F.size("items") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(sequence(1, size(items) - 1),"
                    " i -> transform(sequence(i + 1, size(items)),"
                    " j -> struct(items[i - 1] AS u, items[j - 1] AS v))))"
                )
            ).alias("p")
        )
        .select("p.u", "p.v")
    )
    supp2 = (
        pairs.groupBy("u", "v")
        .agg(F.count("*").alias("s2"))
        .filter(F.col("s2") >= _AR_MINSUP)
    )
    su = supp1.select(F.col("item").alias("u"), F.col("s").alias("su"))
    sv = supp1.select(F.col("item").alias("v"), F.col("s").alias("sv"))
    joined = supp2.join(su, "u").join(sv, "v").crossJoin(F.broadcast(n))
    lift = F.round(
        F.col("s2") * 1.0 * F.col("n_baskets") / (F.col("su") * 1.0 * F.col("sv")), 6
    )

    def _dir_struct(ante, cons, s_ante, s_cons):
        return F.struct(
            F.col(ante).alias("antecedent"),
            F.col(cons).alias("consequent"),
            F.col("s2").alias("support_both"),
            F.col(s_ante).alias("support_ante"),
            F.col(s_cons).alias("support_cons"),
            F.round(F.col("s2") * 1.0 / F.col(s_ante), 6).alias("confidence"),
            lift.alias("lift"),
        )

    rules = joined.select(
        F.explode(
            F.array(
                _dir_struct("u", "v", "su", "sv"), _dir_struct("v", "u", "sv", "su")
            )
        ).alias("r")
    ).select("r.*")
    return rules.orderBy(F.desc("lift"), "antecedent", "consequent").limit(_AR_TOP)


# ---------------------------------------------------------------------------
# Multi-touch revenue attribution (the standard marketing-analytics
# trio — first-touch / last-touch / linear; see e.g. Shao & Li,
# "Data-driven multi-touch attribution models", KDD 2011 for the
# taxonomy): credit each purchase's value to the touchpoints that
# preceded it. Journeys reset at each conversion (the touch set of a
# purchase is the user's events after the PREVIOUS purchase), the
# universal path-reset convention. Everything is exact integer cents /
# milli-cents so the whole report hash-verifies.
# ---------------------------------------------------------------------------


def _attribution_oracle() -> str:
    return """
WITH ev AS (
  SELECT user_id, event_id, ts, event_type,
         CAST(round(value * 100) AS BIGINT) AS cents,
         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) OVER (
           PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS grp
  FROM events
),
conv AS (
  SELECT user_id, coalesce(grp, 0) AS grp, cents
  FROM ev WHERE event_type = 'purchase'
),
touch AS (
  SELECT user_id, coalesce(grp, 0) AS grp, event_type AS channel, ts, event_id
  FROM ev WHERE event_type <> 'purchase'
),
jt AS (
  SELECT t.user_id, t.grp, t.channel, t.ts, t.event_id, c.cents,
         count(*) OVER (PARTITION BY t.user_id, t.grp) AS n_touches,
         row_number() OVER (
           PARTITION BY t.user_id, t.grp ORDER BY t.ts NULLS FIRST, t.event_id
         ) AS pos
  FROM touch t JOIN conv c ON c.user_id = t.user_id AND c.grp = t.grp
),
attributed AS (
  SELECT channel,
         count(*) AS n_touches,
         CAST(sum(CASE WHEN pos = 1 THEN cents ELSE 0 END) AS BIGINT)
           AS first_touch_cents,
         CAST(sum(CASE WHEN pos = n_touches THEN cents ELSE 0 END) AS BIGINT)
           AS last_touch_cents,
         CAST(sum(cents * 1000 // n_touches) AS BIGINT) AS linear_milli
  FROM jt GROUP BY channel
),
direct AS (
  SELECT '(direct)' AS channel,
         count(*) AS n_touches,
         CAST(sum(c.cents) AS BIGINT) AS first_touch_cents,
         CAST(sum(c.cents) AS BIGINT) AS last_touch_cents,
         CAST(sum(c.cents) * 1000 AS BIGINT) AS linear_milli
  FROM conv c
  WHERE NOT EXISTS (
    SELECT 1 FROM touch t WHERE t.user_id = c.user_id AND t.grp = c.grp
  )
)
SELECT * FROM attributed
UNION ALL
SELECT * FROM direct WHERE n_touches > 0
ORDER BY channel
"""


@register("attribution_report", oracle=_attribution_oracle())
def attribution_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-channel multi-touch revenue attribution over the events
    stream: each purchase's cents credited to the user's touchpoints
    since their previous purchase — full credit to the first touch,
    full credit to the last touch, and value*1000 DIV n_touches
    milli-cents per touch for the linear model (per-touch truncation
    is the contract; the sub-milli dust a conversion sheds is bounded
    by its touch count). Conversions with no preceding touches land in
    the '(direct)' bucket with full credit under every model.

    Scale shape: journey assignment is ONE window over (user_id, ts,
    event_id) — the sessionize_events partitioning, bounded per user,
    never corpus-global — counting prior purchases so each event
    carries its conversion-group id; touches join conversions on the
    composite integer key (user, group), an equi-join both sides
    already hash-partitioned by user from the window stage; per-journey
    position/count is a second user-keyed window. Channel rollups are
    map-side-combined sums of exact integers. The direct bucket is a
    LEFT ANTI join, never a filter over materialized pairs."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    wprev = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ev = ev.withColumn(
        "grp",
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).over(
                wprev
            ),
            F.lit(0),
        ),
    )
    # ONE pass (r10, guide §2.4): the touch ⋈ conv self-join re-derived
    # the scan + grp window on BOTH sides (and the direct bucket's
    # LEFT ANTI join a third and fourth time). Instead, a second
    # window over (user_id, grp) — a SORT ONLY: hashpartitioning on
    # user_id already satisfies the (user_id, grp) clustering, so no
    # new exchange — attaches each group's purchase cents, size, and
    # touch position in place. Correct because within a (user, grp)
    # group ordered by (ts, event_id) the closing purchase is always
    # the LAST row (any event after it counts one more prior
    # purchase), so touches get row_number 1..n and the group's
    # purchase cents is the window max of the purchase-only case.
    # Groups without a purchase (trailing touches) get NULL cents and
    # drop; a purchase alone in its group (cnt = 1) is the '(direct)'
    # bucket with full credit — both folded into the SAME single
    # aggregation via a computed channel column.
    wg = Window.partitionBy("user_id", "grp")
    wgo = wg.orderBy("ts", "event_id")
    is_p = F.col("event_type") == "purchase"
    rows = ev.select(
        "event_type",
        F.max(F.when(is_p, F.col("cents"))).over(wg).alias("gcents"),
        F.count("*").over(wg).alias("cnt_all"),
        F.row_number().over(wgo).alias("rn"),
        is_p.alias("is_p"),
    ).select(
        F.when(F.col("is_p") & (F.col("cnt_all") == 1), F.lit("(direct)"))
        .when(~F.col("is_p") & F.col("gcents").isNotNull(), F.col("event_type"))
        .alias("channel"),
        F.col("gcents").alias("cents"),
        F.when(F.col("is_p"), F.lit(1)).otherwise(F.col("rn")).alias("pos"),
        F.when(F.col("is_p"), F.lit(1))
        .otherwise(F.col("cnt_all") - 1)
        .alias("ngrp"),
    ).filter(F.col("channel").isNotNull())
    return (
        rows.groupBy("channel")
        .agg(
            F.count("*").alias("n_touches"),
            F.sum(F.when(F.col("pos") == 1, F.col("cents")).otherwise(0))
            .cast("long")
            .alias("first_touch_cents"),
            F.sum(F.when(F.col("pos") == F.col("ngrp"), F.col("cents")).otherwise(0))
            .cast("long")
            .alias("last_touch_cents"),
            F.expr("CAST(sum(cents * 1000 DIV ngrp) AS BIGINT)").alias(
                "linear_milli"
            ),
        )
        .orderBy("channel")
    )


# ---------------------------------------------------------------------------
# Degree assortativity (Newman, "Assortative mixing in networks",
# Phys. Rev. Lett. 2002) — the single number that says whether hubs
# attach to hubs (r > 0, social-network-like) or to leaves (r < 0,
# technological/biological-like) in the co-purchase graph. With
# integer edge sums S1 = sum(d_u * d_v), S2 = sum(d_u + d_v),
# S3 = sum(d_u^2 + d_v^2) over the M undirected edges, Newman's
# Pearson coefficient reduces to exactly (4*M*S1 - S2^2) /
# (2*M*S3 - S2^2) — one ratio of two exact integers, so only the
# final division is floating point.
# ---------------------------------------------------------------------------


def _assortativity_oracle() -> str:
    return f"""
WITH {_copurchase_und_sql()},
{_degrees_sql()},
sums AS (
  SELECT CAST(count(*) AS HUGEINT) AS m,
         CAST(sum(du.d * dv.d) AS HUGEINT) AS s1,
         CAST(sum(du.d + dv.d) AS HUGEINT) AS s2,
         CAST(sum(du.d * du.d + dv.d * dv.d) AS HUGEINT) AS s3
  FROM und e JOIN deg du ON e.u = du.node JOIN deg dv ON e.v = dv.node
)
SELECT CAST(m AS BIGINT) AS n_edges,
       (SELECT count(*) FROM deg) AS n_nodes,
       CAST(s1 AS BIGINT) AS s1,
       CAST(s2 AS BIGINT) AS s2,
       CAST(s3 AS BIGINT) AS s3,
       CASE WHEN 2 * m * s3 - s2 * s2 = 0 THEN NULL
            ELSE round(CAST(4 * m * s1 - s2 * s2 AS DOUBLE)
                       / CAST(2 * m * s3 - s2 * s2 AS DOUBLE), 6)
       END AS assortativity
FROM sums
"""


@register("graph_assortativity_report", oracle=_assortativity_oracle())
def graph_assortativity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman degree assortativity of the support-thresholded
    co-purchase graph (same >= {_COPURCHASE_MINSUP} edge contract as
    triangle_counts / link_prediction_ra): one row with the exact
    integer edge sums S1/S2/S3 and the Pearson coefficient
    (4*M*S1 - S2^2) / (2*M*S3 - S2^2) as the only floating-point
    value, 6-rounded in both engines.

    Scale shape: the edge build is the shared co-purchase self-join
    (the dominant cost, measured in SCALE.md); degrees are one
    map-side-combined groupBy; the sums are TWO integer equi-joins of
    the node-sized degree table onto the edges folded into a single
    1-row aggregate — no window, no driver state, nothing wider than
    five numbers ever leaves the executors. Products run in
    DECIMAL(38,0)/HUGEINT so a billion-edge graph with 1e3-degree
    hubs cannot overflow the intermediate."""
    und = pin(_copurchase_und(spark, sf_dir))
    deg = pin(_degrees(und))
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    sums = (
        und.join(du, "u")
        .join(dv, "v")
        .agg(
            F.expr("CAST(count(*) AS DECIMAL(38,0))").alias("m"),
            F.expr("CAST(sum(du * dv) AS DECIMAL(38,0))").alias("s1"),
            F.expr("CAST(sum(du + dv) AS DECIMAL(38,0))").alias("s2"),
            F.expr("CAST(sum(du * du + dv * dv) AS DECIMAL(38,0))").alias("s3"),
        )
    )
    nn = deg.agg(F.count("*").alias("n_nodes"))
    return sums.crossJoin(F.broadcast(nn)).select(
        F.col("m").cast("long").alias("n_edges"),
        F.col("n_nodes").cast("long").alias("n_nodes"),
        F.col("s1").cast("long").alias("s1"),
        F.col("s2").cast("long").alias("s2"),
        F.col("s3").cast("long").alias("s3"),
        # a degree-regular graph has zero degree variance: denominator
        # 0 -> NULL by contract in BOTH engines (Spark 4 ANSI throws
        # even on double division by zero, so the guard is load-bearing)
        F.when(
            (2 * F.col("m") * F.col("s3") - F.col("s2") * F.col("s2")) != 0,
            F.round(
                (4 * F.col("m") * F.col("s1") - F.col("s2") * F.col("s2")).cast(
                    "double"
                )
                / (2 * F.col("m") * F.col("s3") - F.col("s2") * F.col("s2")).cast(
                    "double"
                ),
                6,
            ),
        ).alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# Cohort LTV curves — the revenue companion to retention_cohorts
# (which counts ACTIVE users; this accumulates VALUE): users grouped
# by first-seen month, purchase revenue bucketed by whole-month age
# since each user's own first event, accumulated into the cumulative
# lifetime-value-per-user curve every growth/finance team projects
# payback from. Exact integer cents / milli-cents end to end.
# ---------------------------------------------------------------------------


def _cohort_ltv_oracle() -> str:
    return """
WITH first_seen AS (
  SELECT user_id, CAST(date_trunc('month', min(ts)) AS DATE) AS cohort_month,
         min(ts) AS first_ts
  FROM events GROUP BY user_id
),
csize AS (
  SELECT cohort_month, count(*) AS cohort_size
  FROM first_seen GROUP BY cohort_month
),
purch AS (
  SELECT f.cohort_month,
         CAST((date_part('year', e.ts) * 12 + date_part('month', e.ts))
              - (date_part('year', f.first_ts) * 12 + date_part('month', f.first_ts))
           AS BIGINT) AS age_months,
         CAST(round(e.value * 100) AS BIGINT) AS cents
  FROM events e JOIN first_seen f ON f.user_id = e.user_id
  WHERE e.event_type = 'purchase'
),
by_age AS (
  SELECT cohort_month, age_months,
         CAST(sum(cents) AS BIGINT) AS revenue_cents
  FROM purch GROUP BY cohort_month, age_months
),
cum AS (
  SELECT cohort_month, age_months, revenue_cents,
         CAST(sum(revenue_cents) OVER (
           PARTITION BY cohort_month ORDER BY age_months
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS cum_revenue_cents
  FROM by_age
)
SELECT CAST(c.cohort_month AS VARCHAR) AS cohort_month,
       s.cohort_size, c.age_months, c.revenue_cents,
       c.cum_revenue_cents,
       CAST(c.cum_revenue_cents * 1000 // s.cohort_size AS BIGINT)
         AS ltv_per_user_milli
FROM cum c JOIN csize s ON s.cohort_month = c.cohort_month
ORDER BY c.cohort_month, c.age_months
"""


@register("cohort_ltv_report", oracle=_cohort_ltv_oracle())
def cohort_ltv_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative lifetime value per monthly first-seen cohort: revenue
    cents per whole-month age since each user's OWN first event
    (calendar-month arithmetic, exact integers), accumulated within
    the cohort and normalized to milli-cents per cohort member with
    truncating division as the contract. Months in which a cohort
    booked no revenue are absent by contract (the cumulative value at
    any present age is still exact).

    Scale shape: the cohort assignment is one min-per-user groupBy;
    purchases join that node-sized table on user_id (both sides
    hash-partition on the key); the (cohort, age) rollup is map-side
    combined and CALENDAR-BOUNDED — months x months rows no matter the
    corpus — so the cumulative window runs on a tiny grid partitioned
    by cohort. Nothing floating anywhere; the driver hash-checks the
    whole curve."""
    ev = _t(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("month", F.min("ts")).cast("date").alias("cohort_month"),
        F.min("ts").alias("first_ts"),
    )
    csize = first_seen.groupBy("cohort_month").agg(
        F.count("*").alias("cohort_size")
    )
    months = lambda c: F.year(c) * 12 + F.month(c)  # noqa: E731
    purch = (
        ev.filter(F.col("event_type") == "purchase")
        .join(first_seen, "user_id")
        .select(
            "cohort_month",
            (months(F.col("ts")) - months(F.col("first_ts")))
            .cast("long")
            .alias("age_months"),
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        )
    )
    by_age = purch.groupBy("cohort_month", "age_months").agg(
        F.sum("cents").cast("long").alias("revenue_cents")
    )
    # NULL ages (a purchase with no timestamp) sort LAST so undated
    # revenue cannot pollute every dated age's cumulative value —
    # asc_nulls_last matches DuckDB's ASC default; Spark's default
    # NULLS FIRST silently included the NULL-age row in every cum
    # (the planted-NULL audit's divergence class).
    wcum = (
        Window.partitionBy("cohort_month")
        .orderBy(F.asc_nulls_last("age_months"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = by_age.withColumn(
        "cum_revenue_cents", F.sum("revenue_cents").over(wcum).cast("long")
    )
    return (
        cum.join(F.broadcast(csize), "cohort_month")
        .select(
            F.col("cohort_month").cast("string").alias("cohort_month"),
            "cohort_size",
            "age_months",
            "revenue_cents",
            "cum_revenue_cents",
            F.expr(
                "CAST(cum_revenue_cents * 1000 DIV cohort_size AS BIGINT)"
            ).alias("ltv_per_user_milli"),
        )
        .orderBy("cohort_month", "age_months")
    )


# ---------------------------------------------------------------------------
# Hierarchical binary segmentation (depth 2 — Scott & Knott's recursion
# applied twice): changepoint_revenue finds the best single split;
# this query recurses once into each side and reports the resulting
# segmentation — up to 4 segments with exact boundaries and means,
# the piecewise-constant fit a monitoring dashboard actually draws.
# Same fixed-point/clamp gain contract as the parent query; a side
# with a single day is not split (fewer segments come out).
# ---------------------------------------------------------------------------


def _cp_gain_sql(scale: int) -> str:
    """The clamped fixed-point gain over (sl, nl, st, nt) HUGEINTs —
    shared text between the two changepoint oracles."""
    return f"""greatest(
           (sl * sl * {scale}) // nl
           + ((st - sl) * (st - sl) * {scale}) // (nt - nl)
           - (st * st * {scale}) // nt,
           CAST(0 AS HUGEINT)
         ) // {scale}"""


def _changepoint_segments_oracle() -> str:
    return f"""
WITH daily AS (
  SELECT o_orderdate AS d,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DECIMAL(38,0)) AS s,
         CAST(count(*) AS DECIMAL(38,0)) AS n
  FROM orders GROUP BY o_orderdate
),
pre0 AS (
  SELECT d,
         CAST(sum(s) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT) AS sl,
         CAST(sum(n) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT) AS nl,
         CAST(sum(s) OVER () AS HUGEINT) AS st,
         CAST(sum(n) OVER () AS HUGEINT) AS nt,
         row_number() OVER (ORDER BY d) AS rn,
         count(*) OVER () AS ndays
  FROM daily
),
g0 AS (
  SELECT d, CAST({_cp_gain_sql(_CP_SCALE)} AS BIGINT) AS g
  FROM pre0 WHERE rn < ndays
),
r0 AS (SELECT d AS t0 FROM g0 ORDER BY g DESC, d LIMIT 1),
sided AS (
  SELECT daily.d, daily.s, daily.n,
         CASE WHEN daily.d <= r0.t0 THEN 'L' ELSE 'R' END AS side
  FROM daily CROSS JOIN r0
),
pre1 AS (
  SELECT d, side,
         CAST(sum(s) OVER (PARTITION BY side ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT) AS sl,
         CAST(sum(n) OVER (PARTITION BY side ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT) AS nl,
         CAST(sum(s) OVER (PARTITION BY side) AS HUGEINT) AS st,
         CAST(sum(n) OVER (PARTITION BY side) AS HUGEINT) AS nt,
         row_number() OVER (PARTITION BY side ORDER BY d) AS rn,
         count(*) OVER (PARTITION BY side) AS ndays
  FROM sided
),
g1 AS (
  SELECT d, side, CAST({_cp_gain_sql(_CP_SCALE)} AS BIGINT) AS g
  FROM pre1 WHERE rn < ndays
),
r1 AS (
  SELECT d AS t FROM (
    SELECT d, row_number() OVER (PARTITION BY side ORDER BY g DESC, d) AS pick
    FROM g1
  ) WHERE pick = 1
),
splits AS (SELECT t0 AS t FROM r0 UNION ALL SELECT t FROM r1),
seg AS (
  SELECT daily.d, daily.s, daily.n,
         1 + (SELECT count(*) FROM splits WHERE splits.t < daily.d) AS segment_id
  FROM daily
)
SELECT CAST(segment_id AS BIGINT) AS segment_id,
       CAST(min(d) AS VARCHAR) AS start_date,
       CAST(max(d) AS VARCHAR) AS end_date,
       CAST(sum(n) AS BIGINT) AS n_orders,
       CAST(CAST(sum(s) AS HUGEINT) // CAST(sum(n) AS HUGEINT) AS BIGINT)
         AS mean_cents
FROM seg
GROUP BY segment_id
ORDER BY segment_id
"""


@register("changepoint_segments", oracle=_changepoint_segments_oracle())
def changepoint_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-2 binary segmentation of the daily revenue series: the
    best root split, then the best split within each side (same
    fixed-point/clamped gain contract as changepoint_revenue; ties to
    the earliest date; a one-day side is not split), reported as the
    resulting piecewise-constant segmentation — segment boundaries,
    order counts, exact truncated mean cents.

    Scale shape: the recursion never touches the corpus again — both
    levels run windows over the SAME calendar-bounded daily table the
    one corpus scan produced (level 1 just partitions the windows by
    side), the split set is <= 3 rows broadcast onto the day table,
    and segment rollup is a groupBy over <= 4 keys. Depth is fixed at
    2 by contract; deeper trees repeat the side-partitioned window
    with a segment column, never a driver loop per split."""
    daily = changepoint_daily_base(_t(spark, sf_dir, "orders"))

    def fdiv(a: str, b: str) -> str:
        return f"CAST(((({a}) - (({a}) % ({b}))) / ({b})) AS DECIMAL(38,0))"

    def gain_expr() -> str:
        sq_l = f"(sl * sl * {_CP_SCALE})"
        sq_r = f"((st - sl) * (st - sl) * {_CP_SCALE})"
        sq_t = f"(st * st * {_CP_SCALE})"
        fp = (
            f"greatest({fdiv(sq_l, 'nl')} + {fdiv(sq_r, '(nt - nl)')}"
            f" - {fdiv(sq_t, 'nt')}, CAST(0 AS DECIMAL(38,0)))"
        )
        return f"CAST({fdiv(fp, str(_CP_SCALE))} AS BIGINT)"

    def prefixed(df: DataFrame, by_side: bool) -> DataFrame:
        part = ["side"] if by_side else []
        wcum = (
            Window.partitionBy(*part)
            .orderBy("d")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        wall = (
            Window.partitionBy(*part)
            .orderBy("d")
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        )
        return df.select(
            "d",
            *part,
            F.sum("s").over(wcum).alias("sl"),
            F.sum("n").over(wcum).alias("nl"),
            F.sum("s").over(wall).alias("st"),
            F.sum("n").over(wall).alias("nt"),
            F.row_number().over(Window.partitionBy(*part).orderBy("d")).alias("rn"),
            F.count("*").over(wall).alias("ndays"),
        )

    g0 = (
        prefixed(daily, by_side=False)
        .filter(F.col("rn") < F.col("ndays"))
        .select("d", F.expr(gain_expr()).alias("g"))
    )
    r0 = g0.orderBy(F.desc("g"), "d").limit(1).select(F.col("d").alias("t0"))
    sided = daily.crossJoin(F.broadcast(r0)).select(
        "d",
        "s",
        "n",
        F.when(F.col("d") <= F.col("t0"), F.lit("L")).otherwise("R").alias("side"),
    )
    g1 = (
        prefixed(sided, by_side=True)
        .filter(F.col("rn") < F.col("ndays"))
        .select("d", "side", F.expr(gain_expr()).alias("g"))
    )
    r1 = (
        g1.withColumn(
            "pick",
            F.row_number().over(Window.partitionBy("side").orderBy(F.desc("g"), "d")),
        )
        .filter(F.col("pick") == 1)
        .select(F.col("d").alias("t"))
    )
    splits = r0.select(F.col("t0").alias("t")).unionByName(r1)
    scount = (
        daily.join(F.broadcast(splits), F.col("t") < F.col("d"), "left")
        .groupBy("d", "s", "n")
        .agg((1 + F.count("t")).alias("segment_id"))
    )
    return (
        scount.groupBy("segment_id")
        .agg(
            F.min("d").cast("string").alias("start_date"),
            F.max("d").cast("string").alias("end_date"),
            F.sum("n").cast("long").alias("n_orders"),
            F.expr(
                "CAST(((sum(s) - (sum(s) % sum(n))) / sum(n)) AS BIGINT)"
            ).alias("mean_cents"),
        )
        .select(
            F.col("segment_id").cast("long").alias("segment_id"),
            "start_date",
            "end_date",
            "n_orders",
            "mean_cents",
        )
        .orderBy("segment_id")
    )


# ---------------------------------------------------------------------------
# Theil-Sen robust trend (Theil 1950; Sen, JASA 1968) — the median of
# all pairwise slopes of the daily-revenue series: a single outlier
# day (flash sale, outage) that would drag an OLS fit moves the
# Theil-Sen estimate not at all (29.3% breakdown point). Pairwise over
# DAYS, so the O(n^2) pair set is calendar-bounded — never
# corpus-bounded — and slopes are exact scaled integers (milli-cents
# per day, truncating division contract), so the median is an order
# statistic on integers and the whole report hash-verifies. OLS slope
# is reported beside it from the same exact integer sums for the
# robustness comparison.
# ---------------------------------------------------------------------------


def _theilsen_oracle() -> str:
    return """
WITH daily AS (
  SELECT o_orderdate AS d,
         CAST(datediff('day', DATE '1992-01-01', o_orderdate) AS BIGINT) AS x,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
  FROM orders GROUP BY o_orderdate
),
slopes AS (
  -- truncation-toward-zero written in floor primitives (// floors,
  -- Spark DIV truncates; sign/abs makes them identical)
  SELECT CAST(CASE WHEN b.y >= a.y THEN (b.y - a.y) * 1000 // (b.x - a.x)
              ELSE -((a.y - b.y) * 1000 // (b.x - a.x)) END AS BIGINT) AS m
  FROM daily a JOIN daily b ON b.x > a.x
),
med AS (
  -- LOWER median (quantile_disc), matching the Spark order statistic
  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(quantile_disc(m, 0.5) AS BIGINT) AS theil_sen_milli
  FROM slopes
),
ols AS (
  SELECT CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(x) AS HUGEINT) AS sx,
         CAST(sum(y) AS HUGEINT) AS sy,
         CAST(sum(x * x) AS HUGEINT) AS sxx,
         CAST(sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS HUGEINT) AS sxy
  FROM daily
)
SELECT m.n_pairs, m.theil_sen_milli,
       CAST((o.n * o.sxy - o.sx * o.sy) * 1000
            // (o.n * o.sxx - o.sx * o.sx) AS BIGINT) AS ols_milli
FROM med m CROSS JOIN ols o
"""


def theilsen_scan(daily_xy: DataFrame) -> DataFrame:
    """Reduce half of theilsen_trend_report over an (x, y) daily table
    (day index, cents) — factored so the streaming monitor can replay
    it on its folded state. See the query docstring for contracts."""
    daily = pin(daily_xy)
    a = daily.select(F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = daily.select(F.col("x").alias("xb"), F.col("y").alias("yb"))
    slopes = a.join(b, F.col("xb") > F.col("xa")).select(
        F.expr(
            "CAST(CASE WHEN yb >= ya THEN (yb - ya) * 1000 DIV (xb - xa) "
            "ELSE -((ya - yb) * 1000 DIV (xb - xa)) END AS BIGINT)"
        ).alias("m")
    )
    med = slopes.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.expr(
            "CAST(element_at(sort_array(collect_list(m)),"
            " CAST((count(*) - 1) DIV 2 AS INT) + 1) AS BIGINT)"
        ).alias("theil_sen_milli"),
    )
    ols = daily.agg(
        F.expr("CAST(count(*) AS DECIMAL(38,0))").alias("n"),
        F.expr("CAST(sum(x) AS DECIMAL(38,0))").alias("sx"),
        F.expr("CAST(sum(y) AS DECIMAL(38,0))").alias("sy"),
        F.expr("CAST(sum(x * x) AS DECIMAL(38,0))").alias("sxx"),
        F.expr(
            "CAST(sum(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))"
            " AS DECIMAL(38,0))"
        ).alias("sxy"),
    )
    num = "(n * sxy - sx * sy) * 1000"
    den = "(n * sxx - sx * sx)"
    ols_milli = (
        f"CAST(CASE WHEN {num} >= 0 THEN CAST((({num}) - (({num}) % ({den})))"
        f" / ({den}) AS DECIMAL(38,0)) "
        f"ELSE -CAST(((-({num})) - ((-({num})) % ({den}))) / ({den})"
        f" AS DECIMAL(38,0)) END AS BIGINT)"
    )
    return med.crossJoin(F.broadcast(ols)).select(
        "n_pairs", "theil_sen_milli", F.expr(ols_milli).alias("ols_milli")
    )


@register("theilsen_trend_report", oracle=_theilsen_oracle())
def theilsen_trend_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row robust trend report for daily revenue: the Theil-Sen
    slope (exact median of all pairwise day-slopes in milli-cents/day;
    even pair counts take the LOWER median so the statistic stays an
    actual observed slope and an exact integer in both engines) next
    to the OLS slope from the same exact sums — a gap between them IS
    the outlier diagnostic.

    Scale shape: one corpus scan map-side-combines to the
    calendar-bounded daily table; the pairwise self-join is over DAYS
    (n*(n-1)/2 pairs for ~2.4k days = ~2.9M integer rows at any corpus
    size — bounded work, the same scale-exempt argument as the
    storage grid); the median is one aggregate over those integer
    slopes. OLS sums run in DECIMAL(38,0)/HUGEINT: day-index times
    cents products at sf100 reach ~1e17 per row and ~1e21 summed,
    past BIGINT but comfortably inside 38 digits. Truncating division
    everywhere, operands arranged non-negative or exact."""
    daily = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").alias("d"))
        .agg(
            F.expr(
                "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)"
            ).alias("y")
        )
        .select(
            F.expr("CAST(datediff(d, DATE '1992-01-01') AS BIGINT)").alias("x"),
            "y",
        )
    )
    return theilsen_scan(daily)


# ---------------------------------------------------------------------------
# k-truss peeling (Cohen, "Trusses: cohesive subgraphs for social
# network analysis", NSA TR 2008) — the EDGE-cohesion companion to
# kcore_peeling_report: each round keeps only edges participating in
# at least (k - 2) triangles among CURRENT survivors. Stricter than
# k-core (every k-truss is inside a (k-1)-core) and the standard
# community-scaffold extractor. Synchronous rounds of deterministic
# integer logic, so the oracle unrolls them as CTEs like k-core.
# ---------------------------------------------------------------------------

_KTRUSS_K = 4  # each surviving edge needs >= 2 triangles
_KTRUSS_ROUNDS = 3


def _ktruss_round_ctes(t: int) -> str:
    """CTEs computing und{t+1} (surviving edges) from und{t}:
    degree-ordered triangle listing, per-edge triangle support,
    threshold. AS MATERIALIZED is load-bearing here: each round reads
    its predecessor ~5 times, so 3 inlined rounds would expand the
    lineitem self-join 100+ times and exhaust the process fd limit
    before planning finishes."""
    return f"""{_degrees_sql(t)},
{_triangles_sql(t)},
supp{t} AS MATERIALIZED (
  SELECT u, v, count(*) AS ntri FROM (
    SELECT least(x, y) AS u, greatest(x, y) AS v FROM tri{t}
    UNION ALL
    SELECT least(x, z) AS u, greatest(x, z) AS v FROM tri{t}
    UNION ALL
    SELECT least(y, z) AS u, greatest(y, z) AS v FROM tri{t}
  ) GROUP BY u, v
),
und{t + 1} AS MATERIALIZED (
  SELECT e.u, e.v FROM und{t} e
  JOIN supp{t} s ON s.u = e.u AND s.v = e.v
  WHERE s.ntri >= {_KTRUSS_K - 2}
)"""


def _ktruss_oracle() -> str:
    parts = [_copurchase_und_sql(0)]
    for t in range(_KTRUSS_ROUNDS):
        parts.append(_ktruss_round_ctes(t))
    rounds_sql = "\nUNION ALL\n".join(
        f"""SELECT {t} AS round,
       (SELECT count(*) FROM und{t}) AS n_edges,
       (SELECT count(*) FROM (SELECT u AS n FROM und{t} UNION SELECT v FROM und{t})) AS n_nodes"""
        for t in range(_KTRUSS_ROUNDS + 1)
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT CAST(round AS BIGINT) AS round,
       CAST(n_edges AS BIGINT) AS n_edges,
       CAST(n_nodes AS BIGINT) AS n_nodes
FROM ({rounds_sql})
ORDER BY round
"""
    )


@register("ktruss_peeling_report", oracle=_ktruss_oracle())
def ktruss_peeling_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-round survivor counts of synchronous {_KTRUSS_K}-truss
    peeling over the support-thresholded co-purchase graph: each round
    recounts per-edge triangle support among current survivors and
    keeps edges in >= {_KTRUSS_K - 2} triangles. Like k-core, the
    registered contract is a FIXED {_KTRUSS_ROUNDS} rounds — an
    exactly replayable upper bound on the true truss, the per-round
    deltas showing convergence.

    Scale shape: every round is the triangle_counts machinery
    (_triangles) — the degree-ordered orientation bounds wedge
    generation at each triangle's lowest-degree vertex
    (Suri-Vassilvitskii), the triangle triple explodes to exactly three integer edge rows, support is a
    map-side-combined groupBy on (u, v), and the threshold join prunes
    the edge set before the next round ever builds a wedge. Edge state
    shrinks monotonically; each round's output is pinned so
    round t+1 starts from materialized survivors instead of replaying
    rounds 0..t (the loop-carried-state rule — contrast the modularity
    negative result, where the fan-out was WITHIN one job)."""
    edges = pin(_copurchase_und(spark, sf_dir))

    def survivors(e: DataFrame) -> DataFrame:
        tri = _triangles(e, _degrees(e))
        supp = (
            tri.select(F.least("x", "y").alias("u"), F.greatest("x", "y").alias("v"))
            .unionByName(
                tri.select(
                    F.least("x", "z").alias("u"), F.greatest("x", "z").alias("v")
                )
            )
            .unionByName(
                tri.select(
                    F.least("y", "z").alias("u"), F.greatest("y", "z").alias("v")
                )
            )
            .groupBy("u", "v")
            .agg(F.count("*").alias("ntri"))
            .filter(F.col("ntri") >= _KTRUSS_K - 2)
            .select("u", "v")
        )
        return pin(e.join(supp, ["u", "v"]))

    rounds = [edges]
    for _ in range(_KTRUSS_ROUNDS):
        rounds.append(survivors(rounds[-1]))

    def counts(t: int, e: DataFrame) -> DataFrame:
        nodes = e.select(F.col("u").alias("n")).union(
            e.select(F.col("v").alias("n"))
        ).distinct()
        return e.agg(F.count("*").cast("long").alias("n_edges")).crossJoin(
            nodes.agg(F.count("*").cast("long").alias("n_nodes"))
        ).select(F.lit(t).cast("long").alias("round"), "n_edges", "n_nodes")

    out = counts(0, rounds[0])
    for t in range(1, _KTRUSS_ROUNDS + 1):
        out = out.unionByName(counts(t, rounds[t]))
    return out.orderBy("round")
