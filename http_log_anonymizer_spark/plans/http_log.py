"""Reference-parity queries (SURVEY.md §2.2/§2.4: T1-T6, A1-A4, F9).

The driver's tables have no raw http_log parquet, so these queries first
derive a deterministic ``http_log`` view from the ``events`` table
(FIXTURES.md §1: events is the streaming-shaped stand-in). The derivation
uses only integer arithmetic + CASE so the Spark and DuckDB versions are
bit-identical. Schema mirrors anonymizer/src/http_log.rs:17-29.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from http_log_anonymizer_spark.functions import anonymize_ip_fast
from http_log_anonymizer_spark.operators.materialize import pin
from http_log_anonymizer_spark.plans.registry import register
from http_log_anonymizer_spark.sources.batch import load_table

# ---------------------------------------------------------------------------
# Derived http_log view (identical logic in Spark and SQL)
# ---------------------------------------------------------------------------

# DuckDB CTE — keep in lockstep with http_log_view() below.
HTTP_LOG_SQL = """
http_log AS (
  SELECT
    ts AS timestamp,
    user_id % 50 AS resource_id,
    CAST(floor(value * 1000) AS BIGINT) AS bytes_sent,
    event_id % 1000 AS request_time_milli,
    CASE event_type WHEN 'error' THEN 500 WHEN 'signup' THEN 201 ELSE 200 END
      AS response_status,
    CASE event_id % 3 WHEN 0 THEN 'HIT' WHEN 1 THEN 'MISS' ELSE 'EXPIRED' END
      AS cache_status,
    CASE event_type WHEN 'purchase' THEN 'POST' WHEN 'signup' THEN 'PUT' ELSE 'GET' END
      AS method,
    '198.51.' || CAST(user_id % 100 AS VARCHAR) || '.' || CAST(event_id % 256 AS VARCHAR)
      AS remote_addr,
    '/r/' || CAST(user_id % 50 AS VARCHAR) AS url
  FROM events
)
"""


def http_log_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events -> http_log projection (T1 analog); see HTTP_LOG_SQL."""
    e = load_table(spark, sf_dir, "events")
    return e.select(
        F.col("ts").alias("timestamp"),
        (F.col("user_id") % 50).alias("resource_id"),
        F.floor(F.col("value") * 1000).alias("bytes_sent"),
        (F.col("event_id") % 1000).alias("request_time_milli"),
        F.when(F.col("event_type") == "error", 500)
        .when(F.col("event_type") == "signup", 201)
        .otherwise(200)
        .alias("response_status"),
        F.when(F.col("event_id") % 3 == 0, "HIT")
        .when(F.col("event_id") % 3 == 1, "MISS")
        .otherwise("EXPIRED")
        .alias("cache_status"),
        F.when(F.col("event_type") == "purchase", "POST")
        .when(F.col("event_type") == "signup", "PUT")
        .otherwise("GET")
        .alias("method"),
        F.concat(
            F.lit("198.51."),
            (F.col("user_id") % 100).cast("string"),
            F.lit("."),
            (F.col("event_id") % 256).cast("string"),
        ).alias("remote_addr"),
        F.concat(F.lit("/r/"), (F.col("user_id") % 50).cast("string")).alias("url"),
    )


# ---------------------------------------------------------------------------
# A1+A2+A3 — the canonical delegated query (anonymizer/src/lib.rs:119-125)
# ---------------------------------------------------------------------------


@register(
    "http_totals",
    oracle=f"""
WITH {HTTP_LOG_SQL}
SELECT
  regexp_replace(remote_addr, '[0-9]+$', 'x') AS remote_addr,
  response_status,
  count(*) AS cnt,
  CAST(sum(bytes_sent) AS BIGINT) AS traffic
FROM http_log
GROUP BY 1, 2
ORDER BY remote_addr, cnt DESC
""",
    bench=True,
)
def http_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical grouped-totals query (lib.rs:119-125, README.md:59-63):
    anonymize remote_addr (T4/T5), group, count + traffic, ordered.
    Scale: single shuffle on the group key; anonymization stays in
    whole-stage codegen (anonymize_ip_fast, no Python)."""
    log = http_log_view(spark, sf_dir)
    return (
        log.withColumn("remote_addr", anonymize_ip_fast("remote_addr"))
        .groupBy("remote_addr", "response_status")
        .agg(F.count("*").alias("cnt"), F.sum("bytes_sent").alias("traffic"))
        .orderBy("remote_addr", F.desc("cnt"))
    )


@register(
    "http_totals_cube",
    oracle=f"""
WITH {HTTP_LOG_SQL}
SELECT
  resource_id, response_status, cache_status,
  count(*) AS cnt,
  CAST(sum(bytes_sent) AS BIGINT) AS traffic
FROM http_log
GROUP BY CUBE (resource_id, response_status, cache_status)
""",
)
def http_totals_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 'any combination of dimensions' (README.md:59-63) as grouping
    sets: one pass computes totals for every subset of the dims instead
    of 8 separate scans. Map-side partial aggregation keeps the shuffle
    proportional to group cardinality, not input rows."""
    log = http_log_view(spark, sf_dir)
    return log.cube("resource_id", "response_status", "cache_status").agg(
        F.count("*").alias("cnt"), F.sum("bytes_sent").alias("traffic")
    )


@register(
    "http_dedup_final",
    oracle=f"""
WITH {HTTP_LOG_SQL},
dup_stream AS (
  SELECT * FROM http_log
  UNION ALL
  SELECT * FROM http_log WHERE request_time_milli % 10 = 0
),
final AS (SELECT DISTINCT * FROM dup_stream)
SELECT response_status, count(*) AS cnt, CAST(sum(bytes_sent) AS BIGINT) AS traffic
FROM final
GROUP BY response_status
ORDER BY response_status
""",
)
def http_dedup_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9/A2 — ReplacingMergeTree FINAL semantics (http_log.rs:105-107,
    lib.rs:99-125): at-least-once delivery produces duplicates (simulated
    by re-appending 10% of rows); dedup collapses them before totals, so
    results equal exactly-once processing. Key-based streaming dedup
    lives in streaming/pipeline.py; here full-row distinct suffices since
    replayed rows are bit-identical."""
    log = http_log_view(spark, sf_dir)
    dup = log.unionAll(log.filter(F.col("request_time_milli") % 10 == 0))
    return (
        dup.dropDuplicates()
        .groupBy("response_status")
        .agg(F.count("*").alias("cnt"), F.sum("bytes_sent").alias("traffic"))
        .orderBy("response_status")
    )


@register(
    "http_monthly",
    oracle=f"""
WITH {HTTP_LOG_SQL}
SELECT
  strftime(timestamp, '%Y%m') AS month,
  count(*) AS cnt,
  CAST(sum(bytes_sent) AS BIGINT) AS traffic
FROM http_log
GROUP BY 1
ORDER BY month
""",
)
def http_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 — monthly bucketing, the toYYYYMM(timestamp) partition analog
    (http_log.rs:106). On write this column becomes partitionBy('month')
    so reads get partition pruning."""
    log = http_log_view(spark, sf_dir)
    return (
        log.groupBy(F.date_format("timestamp", "yyyyMM").alias("month"))
        .agg(F.count("*").alias("cnt"), F.sum("bytes_sent").alias("traffic"))
        .orderBy("month")
    )


@register(
    "http_anonymize_rows",
    oracle=f"""
WITH {HTTP_LOG_SQL}
SELECT
  request_time_milli,
  remote_addr,
  regexp_replace(remote_addr, '[0-9]+$', 'x') AS remote_addr_anon,
  url
FROM http_log
""",
)
def http_anonymize_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4/T5 row-level transform: per-row anonymization output (the
    pipeline's hot path, source.rs:125-126), no aggregation — verifies
    the scalar function over every row in the table."""
    log = http_log_view(spark, sf_dir)
    return log.select(
        "request_time_milli",
        "remote_addr",
        anonymize_ip_fast("remote_addr").alias("remote_addr_anon"),
        "url",
    )


@register(
    "http_top_ips",
    oracle=f"""
WITH {HTTP_LOG_SQL},
by_ip AS (
  SELECT
    regexp_replace(remote_addr, '[0-9]+$', 'x') AS remote_addr,
    count(*) AS cnt,
    CAST(sum(bytes_sent) AS BIGINT) AS traffic
  FROM http_log GROUP BY 1
)
SELECT * FROM by_ip
ORDER BY traffic DESC, remote_addr
LIMIT 100
""",
    bench=True,
)
def http_top_ips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 — ordered top-k over the totals (ORDER BY + LIMIT). Spark
    executes as TakeOrderedAndProject: per-partition top-100 then a
    single driver merge — no global sort shuffle."""
    log = http_log_view(spark, sf_dir)
    return (
        log.groupBy(anonymize_ip_fast("remote_addr").alias("remote_addr"))
        .agg(F.count("*").alias("cnt"), F.sum("bytes_sent").alias("traffic"))
        .orderBy(F.desc("traffic"), "remote_addr")
        .limit(100)
    )


@register(
    "latency_percentiles",
    oracle=f"""
WITH {HTTP_LOG_SQL}
SELECT
  method,
  round(avg(request_time_milli), 4) AS avg_ms,
  round(quantile_cont(request_time_milli, 0.75), 4) AS p75_ms,
  round(quantile_cont(request_time_milli, 0.99), 4) AS p99_ms,
  count(*) AS n
FROM http_log
GROUP BY method
ORDER BY method
""",
)
def latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's Grafana 'Message Processing Latency' panel
    (avg/p75/p99 over request durations; telemetry.rs:26-35 histograms,
    grafana_dashboard_anonymizer_performance.json) as an engine query —
    exact interpolated percentiles per method."""
    log = http_log_view(spark, sf_dir)
    return (
        log.groupBy("method")
        .agg(
            F.round(F.avg("request_time_milli"), 4).alias("avg_ms"),
            F.round(F.expr("percentile(request_time_milli, 0.75)"), 4).alias("p75_ms"),
            F.round(F.expr("percentile(request_time_milli, 0.99)"), 4).alias("p99_ms"),
            F.count("*").alias("n"),
        )
        .orderBy("method")
    )


@register(
    "http_cache_efficiency",
    oracle=f"""
WITH {HTTP_LOG_SQL}
SELECT resource_id,
       count(*) AS n_requests,
       CAST(sum(CASE WHEN cache_status = 'HIT' THEN 1 ELSE 0 END) AS BIGINT) AS hits,
       round(sum(CASE WHEN cache_status = 'HIT' THEN 1 ELSE 0 END) * 1.0
             / count(*), 4) AS hit_ratio,
       CAST(sum(CASE WHEN cache_status <> 'HIT' THEN bytes_sent ELSE 0 END) AS BIGINT)
         AS origin_bytes
FROM http_log
GROUP BY resource_id
HAVING count(*) >= 20
ORDER BY hit_ratio ASC, resource_id
LIMIT 10
""",
)
def http_cache_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cache efficiency per resource — the operational question the
    reference's cache_status column exists to answer: hit ratio and the
    bytes that had to come from origin (misses + expirations), worst
    offenders first. Conditional aggregation in one pass over the
    resource groups; the HAVING floor keeps low-traffic noise out. At
    100 TB this is the canonical 'which resources to tune caching for'
    scan-bound rollup."""
    log = http_log_view(spark, sf_dir)
    is_hit = F.when(F.col("cache_status") == "HIT", 1).otherwise(0)
    return (
        log.groupBy("resource_id")
        .agg(
            F.count("*").alias("n_requests"),
            F.sum(is_hit).alias("hits"),
            F.round(F.sum(is_hit) * 1.0 / F.count("*"), 4).alias("hit_ratio"),
            F.sum(
                F.when(F.col("cache_status") != "HIT", F.col("bytes_sent")).otherwise(0)
            ).alias("origin_bytes"),
        )
        .filter(F.col("n_requests") >= 20)
        .orderBy(F.asc("hit_ratio"), "resource_id")
        .limit(10)
    )


@register(
    "http_error_bursts",
    oracle=f"""
WITH {HTTP_LOG_SQL},
m AS (
  SELECT date_trunc('hour', timestamp) AS hour, count(*) AS n,
         CAST(sum(CASE WHEN response_status >= 500 THEN 1 ELSE 0 END) AS BIGINT) AS errs
  FROM http_log WHERE timestamp IS NOT NULL GROUP BY 1
),
r AS (
  SELECT hour, n, errs, round(errs * 1.0 / n, 4) AS err_rate,
         round(lag(errs * 1.0 / n) OVER (ORDER BY hour), 4) AS prev_rate
  FROM m
)
SELECT hour, n, errs, err_rate, prev_rate
FROM r
WHERE err_rate >= 0.3 AND (prev_rate IS NULL OR err_rate - prev_rate >= 0.1)
ORDER BY hour
""",
)
def http_error_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-burst detection — the alerting rule behind the reference's
    latency/error telemetry (anonymizer/src/telemetry.rs:21-54): hours
    whose 5xx rate is both absolutely high (>= 30%) AND a sharp jump
    over the previous hour (>= 10 points, via lag over the hourly
    series). Rates round to 4 decimals BEFORE the threshold compare so
    both engines gate identical hours. One scan, one tiny per-hour
    series, one window — the shape of every streaming alert evaluated
    in batch."""
    # undated rows have no hour, and a NULL hour group would sit at
    # opposite ends of the lag chain in the two engines (Spark NULLS
    # FIRST vs DuckDB NULLS LAST) — excluded identically (the
    # planted-NULL audit's divergence).
    log = http_log_view(spark, sf_dir).filter(F.col("timestamp").isNotNull())
    from pyspark.sql import Window

    m = log.groupBy(F.date_trunc("hour", "timestamp").alias("hour")).agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("response_status") >= 500, 1).otherwise(0)).alias("errs"),
    )
    rate = F.round(F.col("errs") * 1.0 / F.col("n"), 4)
    w = Window.orderBy("hour")
    r = m.select(
        "hour", "n", "errs", rate.alias("err_rate"),
        F.round(F.lag(F.col("errs") * 1.0 / F.col("n")).over(w), 4).alias("prev_rate"),
    )
    return (
        r.filter(
            (F.col("err_rate") >= 0.3)
            & (F.col("prev_rate").isNull() | (F.col("err_rate") - F.col("prev_rate") >= 0.1))
        )
        .orderBy("hour")
    )


# ---------------------------------------------------------------------------
# k-anonymity audit — the measurement that justifies the reference's
# whole existence: does dropping the last IP octet (lib.rs:278-284)
# actually make users indistinguishable? Sweeney's k-anonymity
# (IJUFKS 2002): a release is k-anonymous when every quasi-identifier
# combination is shared by >= k rows. This query audits BOTH stages
# (raw vs anonymized) over the QI set (remote_addr, url, method), so
# the anonymization LIFT is part of the hashed contract.
# ---------------------------------------------------------------------------

_KANON_CAP = 10  # histogram cap: class sizes >= cap share one bucket


@register(
    "k_anonymity_report",
    oracle=f"""
WITH {HTTP_LOG_SQL.strip()},
staged AS (
  SELECT 'raw' AS stage, remote_addr, url, method FROM http_log
  UNION ALL
  SELECT 'anon' AS stage,
         regexp_replace(remote_addr, '[0-9]+$', 'x') AS remote_addr,
         url, method
  FROM http_log
),
classes AS (
  SELECT stage, remote_addr, url, method, count(*) AS sz
  FROM staged GROUP BY stage, remote_addr, url, method
),
tot AS (SELECT stage, CAST(sum(sz) AS BIGINT) AS n FROM classes GROUP BY stage),
hist AS (
  SELECT stage, least(sz, {_KANON_CAP}) AS class_size_bucket,
         count(*) AS n_classes, CAST(sum(sz) AS BIGINT) AS n_rows
  FROM classes GROUP BY stage, least(sz, {_KANON_CAP})
)
SELECT h.stage, h.class_size_bucket, h.n_classes, h.n_rows,
       round(h.n_rows * 1.0 / t.n, 4) AS pct_rows
FROM hist h JOIN tot t ON h.stage = t.stage
ORDER BY h.stage, h.class_size_bucket
""",
)
def k_anonymity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-size histogram of the quasi-identifier tuple
    (remote_addr, url, method) BEFORE and AFTER IP anonymization —
    the k-anonymity audit for the pipeline's core transform. A row in
    bucket b means its QI class has b (capped at {_KANON_CAP}) rows;
    the smallest populated bucket IS the release's k. Comparing the
    'raw' and 'anon' stages shows the anonymization lift (mass moves
    from bucket-1 singleton classes into large classes).

    Scale shape: one groupBy over the QI key per stage (map-side
    combine; the union of the two stages is a projection, not a second
    scan cost — Spark scans events once per branch of the union but
    each branch is a pure map), then a {_KANON_CAP}-row histogram
    aggregate. Nothing driver-side; all integer arithmetic + one
    rounded ratio. The audit-over-release pattern is what a privacy
    team runs on every drop of an anonymized dataset."""
    log = http_log_view(spark, sf_dir).select("remote_addr", "url", "method")
    staged = log.select(F.lit("raw").alias("stage"), "remote_addr", "url", "method").unionByName(
        log.select(
            F.lit("anon").alias("stage"),
            anonymize_ip_fast("remote_addr").alias("remote_addr"),
            "url",
            "method",
        )
    )
    classes = staged.groupBy("stage", "remote_addr", "url", "method").agg(
        F.count("*").alias("sz")
    )
    tot = classes.groupBy("stage").agg(F.sum("sz").alias("n"))
    hist = classes.groupBy(
        "stage", F.least("sz", F.lit(_KANON_CAP)).alias("class_size_bucket")
    ).agg(F.count("*").alias("n_classes"), F.sum("sz").alias("n_rows"))
    return (
        hist.join(tot, "stage")
        .select(
            "stage",
            "class_size_bucket",
            "n_classes",
            "n_rows",
            F.round(F.col("n_rows") * 1.0 / F.col("n"), 4).alias("pct_rows"),
        )
        .orderBy("stage", "class_size_bucket")
    )


# ---------------------------------------------------------------------------
# l-diversity (Machanavajjhala et al., ICDE 2006) — the companion audit
# k-anonymity alone cannot provide: a class of k identical QI rows that
# all share ONE sensitive value still leaks it (the homogeneity
# attack). l = distinct sensitive values per QI class.
# ---------------------------------------------------------------------------

_LDIV_CAP = 10


@register(
    "l_diversity_report",
    oracle=f"""
WITH {HTTP_LOG_SQL.strip()},
staged AS (
  SELECT 'raw' AS stage, remote_addr, cache_status, response_status FROM http_log
  UNION ALL
  SELECT 'anon' AS stage,
         regexp_replace(remote_addr, '[0-9]+$', 'x') AS remote_addr,
         cache_status, response_status
  FROM http_log
),
classes AS (
  SELECT stage, remote_addr, cache_status,
         count(*) AS sz,
         count(DISTINCT response_status) AS l
  FROM staged GROUP BY stage, remote_addr, cache_status
),
tot AS (SELECT stage, CAST(sum(sz) AS BIGINT) AS n FROM classes GROUP BY stage),
hist AS (
  SELECT stage, least(l, {_LDIV_CAP}) AS l_bucket,
         count(*) AS n_classes, CAST(sum(sz) AS BIGINT) AS n_rows
  FROM classes GROUP BY stage, least(l, {_LDIV_CAP})
)
SELECT h.stage, h.l_bucket, h.n_classes, h.n_rows,
       round(h.n_rows * 1.0 / t.n, 4) AS pct_rows
FROM hist h JOIN tot t ON h.stage = t.stage
ORDER BY h.stage, h.l_bucket
""",
)
def l_diversity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-sensitive-value (l-diversity) histogram over the QI
    classes (remote_addr, cache_status), sensitive attribute =
    response_status, BEFORE and AFTER IP anonymization — the
    homogeneity-attack audit that complements k_anonymity_report: k
    rows per class mean nothing if all k share one sensitive value
    (l = 1 leaks it even though k is large). A class in bucket b has
    b (capped at {_LDIV_CAP}) distinct statuses; the smallest
    populated bucket IS the release's l. The anonymization lift shows
    as mass moving out of the l = 1 bucket as coarser IPs merge
    differently-behaved users. (url cannot serve as the sensitive
    attribute on THIS mapping — it is a deterministic function of the
    IP's kept octets, so its l is structurally 1; the audit catching
    that is exactly what the l = 1 row of a real release review
    means.)

    Scale shape: one groupBy over (stage, QI) with a distinct
    aggregate (Spark plans count(DISTINCT) as a two-phase expand +
    partial aggregate — map-side combine on (QI, url) first, so the
    hot QI classes never funnel raw rows to one task), then the
    {_LDIV_CAP}-row histogram. Same audit-over-release pattern as the
    k report, sharing its staged projection."""
    log = http_log_view(spark, sf_dir).select(
        "remote_addr", "cache_status", "response_status"
    )
    staged = log.select(
        F.lit("raw").alias("stage"), "remote_addr", "cache_status", "response_status"
    ).unionByName(
        log.select(
            F.lit("anon").alias("stage"),
            anonymize_ip_fast("remote_addr").alias("remote_addr"),
            "cache_status",
            "response_status",
        )
    )
    classes = staged.groupBy("stage", "remote_addr", "cache_status").agg(
        F.count("*").alias("sz"), F.countDistinct("response_status").alias("l")
    )
    tot = classes.groupBy("stage").agg(F.sum("sz").alias("n"))
    hist = classes.groupBy(
        "stage", F.least("l", F.lit(_LDIV_CAP)).alias("l_bucket")
    ).agg(F.count("*").alias("n_classes"), F.sum("sz").alias("n_rows"))
    return (
        hist.join(tot, "stage")
        .select(
            "stage",
            "l_bucket",
            "n_classes",
            "n_rows",
            F.round(F.col("n_rows") * 1.0 / F.col("n"), 4).alias("pct_rows"),
        )
        .orderBy("stage", "l_bucket")
    )


# ---------------------------------------------------------------------------
# t-closeness (Li, Li, Venkatasubramanian, ICDE 2007) — the third audit
# of the privacy trio: l distinct values per class still leak if the
# class's sensitive DISTRIBUTION diverges from the table's (skewness
# attack: a class that is 90% error-status in a 10%-error corpus tells
# an attacker plenty). t = max over QI classes of the distance between
# the class's sensitive distribution and the global one; for a
# categorical attribute the canonical distance is total variation
# (equal-ground-distance EMD).
# ---------------------------------------------------------------------------


@register(
    "t_closeness_report",
    oracle=f"""
WITH {HTTP_LOG_SQL.strip()},
staged AS (
  SELECT 'raw' AS stage, remote_addr, cache_status, response_status FROM http_log
  UNION ALL
  SELECT 'anon' AS stage,
         regexp_replace(remote_addr, '[0-9]+$', 'x') AS remote_addr,
         cache_status, response_status
  FROM http_log
),
cs AS (
  SELECT stage, remote_addr, cache_status, response_status,
         CAST(count(*) AS BIGINT) AS c
  FROM staged GROUP BY ALL
),
cls AS (
  SELECT stage, remote_addr, cache_status, CAST(sum(c) AS BIGINT) AS sz
  FROM cs GROUP BY ALL
),
g AS (
  SELECT stage, response_status, CAST(count(*) AS BIGINT) AS gc
  FROM staged GROUP BY ALL
),
tot AS (SELECT stage, CAST(count(*) AS BIGINT) AS n FROM staged GROUP BY stage),
num AS (
  SELECT cs.stage, cs.remote_addr, cs.cache_status,
         min(cls.sz) AS sz, min(t.n) AS n,
         sum(abs(CAST(cs.c AS HUGEINT) * t.n - CAST(g.gc AS HUGEINT) * cls.sz))
           AS num_present,
         CAST(sum(g.gc) AS BIGINT) AS g_cov
  FROM cs
  JOIN cls ON cls.stage = cs.stage AND cls.remote_addr = cs.remote_addr
          AND cls.cache_status = cs.cache_status
  JOIN g ON g.stage = cs.stage AND g.response_status = cs.response_status
  JOIN tot t ON t.stage = cs.stage
  GROUP BY cs.stage, cs.remote_addr, cs.cache_status
),
tvd AS (
  SELECT stage, sz, n,
         num_present + CAST(sz AS HUGEINT) * (n - g_cov) AS num
  FROM num
),
hist AS (
  SELECT stage,
         least(CAST((num * 10) // (2 * CAST(sz AS HUGEINT) * n) AS BIGINT), 9)
           AS tvd_bucket,
         CAST(count(*) AS BIGINT) AS n_classes,
         CAST(sum(sz) AS BIGINT) AS n_rows,
         round(max(CAST(num AS DOUBLE) / (2.0 * sz * n)), 4) AS max_tvd_in_bucket
  FROM tvd GROUP BY ALL
)
SELECT h.stage, h.tvd_bucket, h.n_classes, h.n_rows,
       round(h.n_rows * 1.0 / t.n, 4) AS pct_rows,
       h.max_tvd_in_bucket
FROM hist h JOIN tot t ON h.stage = t.stage
ORDER BY h.stage, h.tvd_bucket
""",
)
def t_closeness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness histogram over the QI classes (remote_addr,
    cache_status), sensitive attribute = response_status, BEFORE and
    AFTER IP anonymization — the skewness-attack audit that completes
    the k-anonymity / l-diversity trio: a class can have large k and
    l >= 2 and still reveal that its members error at 9x the base
    rate. Per class, total variation distance (the categorical EMD of
    the t-closeness paper) between the class's status distribution and
    the stage's global one; classes land in 0.1-wide TVD buckets, and
    the highest populated bucket's ``max_tvd_in_bucket`` IS the
    release's t. Anonymization lift shows as mass moving toward bucket
    0 (coarser IPs blend toward the global mixture).

    Determinism: TVD cross-multiplies to integers — per class
    sum_s |c_s*n - g_s*sz| over PRESENT statuses, plus the absent-
    status mass in closed form sz*(n - sum of present g_s) (the
    source_divergence_report covered-mass trick, so there is never a
    class x status grid), all exact in decimal(38)/HUGEINT with one
    division at the edge; the bucket index is a floor division of
    positive integers — identical in Spark DIV and DuckDB //.

    Scale shape: one scan to the (stage, QI, status) type table
    (map-side combined, bounded by classes x statuses), a broadcast
    join against the statuses-per-stage table (|statuses| rows), one
    groupBy back to classes, and a bounded histogram. Nothing
    row-proportional past the first aggregate."""
    log = http_log_view(spark, sf_dir).select(
        "remote_addr", "cache_status", "response_status"
    )
    staged = log.select(
        F.lit("raw").alias("stage"), "remote_addr", "cache_status", "response_status"
    ).unionByName(
        log.select(
            F.lit("anon").alias("stage"),
            anonymize_ip_fast("remote_addr").alias("remote_addr"),
            "cache_status",
            "response_status",
        )
    )
    cs = staged.groupBy(
        "stage", "remote_addr", "cache_status", "response_status"
    ).agg(F.count("*").alias("c"))
    # the (stage, QI, status) type table feeds three derivations below;
    # it is class-bounded, so pin it to one corpus scan (the
    # psi/ks_drift_report plan-audit lesson)
    cs = pin(cs)
    cls = cs.groupBy("stage", "remote_addr", "cache_status").agg(
        F.sum("c").alias("sz")
    )
    g = cs.groupBy("stage", "response_status").agg(F.sum("c").alias("gc"))
    tot = cs.groupBy("stage").agg(F.sum("c").alias("n"))
    dec = "decimal(38,0)"
    num = (
        cs.join(cls, ["stage", "remote_addr", "cache_status"])
        .join(F.broadcast(g), ["stage", "response_status"])
        .join(F.broadcast(tot), "stage")
        .groupBy("stage", "remote_addr", "cache_status")
        .agg(
            F.min("sz").alias("sz"),
            F.min("n").alias("n"),
            F.sum(
                F.abs(
                    F.col("c").cast(dec) * F.col("n")
                    - F.col("gc").cast(dec) * F.col("sz")
                )
            ).alias("num_present"),
            F.sum("gc").alias("g_cov"),
        )
    )
    tvd = num.select(
        "stage",
        "sz",
        "n",
        (
            F.col("num_present")
            + F.col("sz").cast(dec) * (F.col("n") - F.col("g_cov"))
        ).alias("num"),
        (F.lit(2).cast(dec) * F.col("sz").cast(dec) * F.col("n")).alias("den"),
    )
    # integer floor-division for the bucket index (decimal `/` would
    # ROUND the quotient before a long cast — a boundary class could
    # land one bucket off vs DuckDB's exact `//`)
    hist = tvd.groupBy(
        "stage",
        F.least(
            F.expr("CAST((num * 10) DIV den AS BIGINT)"), F.lit(9)
        ).alias("tvd_bucket"),
    ).agg(
        F.count("*").alias("n_classes"),
        F.sum("sz").alias("n_rows"),
        F.round(
            F.max(
                F.col("num").cast("double")
                / (F.lit(2.0) * F.col("sz") * F.col("n"))
            ),
            4,
        ).alias("max_tvd_in_bucket"),
    )
    return (
        hist.join(tot, "stage")
        .select(
            "stage",
            "tvd_bucket",
            "n_classes",
            F.col("n_rows").cast("long").alias("n_rows"),
            F.round(F.col("n_rows") * 1.0 / F.col("n"), 4).alias("pct_rows"),
            "max_tvd_in_bucket",
        )
        .orderBy("stage", "tvd_bucket")
    )


# ---------------------------------------------------------------------------
# Differential privacy (Dwork et al., TCC 2006) — the release mechanism
# the k-anonymity / l-diversity / t-closeness trio audits cannot
# provide: those measure how identifiable the released ROWS are; a DP
# histogram releases no rows at all, only counts perturbed with
# two-sided geometric noise (Ghosh/Roughgarden/Sundararajan, STOC 2009
# — the discrete analogue of Laplace, and the optimal eps-DP count
# mechanism). The reference pipeline's whole purpose is a
# privacy-preserving release (anonymizer/src/lib.rs anonymize); this is
# the stronger, provable endpoint of that ladder.
# ---------------------------------------------------------------------------

_DP_EPS = 1.0  # per-release budget; sensitivity of a count histogram is 1
_DP_B = 32  # noise truncation: residual mass 2*alpha^33/(1+alpha) ~ 3e-15


def _dp_bounds() -> list[int]:
    """Cumulative-probability boundaries of the truncated two-sided
    geometric noise distribution P(k) ~ alpha^|k|, k in [-B, B], mapped
    onto the 60-bit hash64 grid. Computed ONCE in plain Python and
    inlined as integer literals in BOTH engines, so cross-engine
    equality never depends on either engine's exp/log — the zipf r2
    lesson (VERDICT r07 item 1) applied preemptively: floats may pick
    the constants, but only integer comparisons run per row."""
    import math

    alpha = math.exp(-_DP_EPS)
    w = [alpha ** abs(k) for k in range(-_DP_B, _DP_B + 1)]
    tot = sum(w)
    bounds: list[int] = []
    acc = 0.0
    for x in w[:-1]:
        acc += x
        bounds.append(round(acc / tot * (1 << 60)))
    assert all(b2 > b1 for b1, b2 in zip(bounds, bounds[1:]))
    return bounds


_DP_BOUNDS = _dp_bounds()


def dp_noise_col(u, bounds: list[int] | None = None):
    """Noise column: inverse-CDF lookup of a 60-bit uniform ``u`` via
    integer boundary comparisons (shared by the batch report and the
    streaming monitor readout — one formula, two callers)."""
    import functools
    import operator

    bounds = _DP_BOUNDS if bounds is None else bounds
    ind = [(u >= F.lit(c)).cast("long") for c in bounds]
    return functools.reduce(operator.add, ind) - F.lit(_DP_B)


def _dp_noise_sql(u_expr: str) -> str:
    terms = " + ".join(f"CAST({u_expr} >= {c} AS BIGINT)" for c in _DP_BOUNDS)
    return f"({terms}) - {_DP_B}"


def _dp_oracle() -> str:
    from http_log_anonymizer_spark.functions.text import hash64_sql

    u = hash64_sql("url || '|' || method", "dp")
    return f"""
WITH {HTTP_LOG_SQL.strip()},
counts AS (
  SELECT url, method, CAST(count(*) AS BIGINT) AS n,
         {u} AS u
  FROM http_log GROUP BY url, method
)
SELECT url, method,
       greatest(CAST(0 AS BIGINT), n + ({_dp_noise_sql("u")})) AS noisy_n,
       CAST({_DP_EPS} AS DOUBLE) AS epsilon
FROM counts
ORDER BY url, method
"""


@register("dp_histogram_report", oracle=_dp_oracle())
def dp_histogram_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """eps-differentially-private release of the per-(url, method)
    traffic histogram: true counts plus truncated two-sided geometric
    noise (the discrete Laplace mechanism, optimal for eps-DP counting
    queries per Ghosh et al. 2009), clamped at 0 (post-processing,
    DP-safe). True counts never leave the query.

    Mechanism honesty: truncating the noise at +/-{_DP_B} makes this
    (eps, delta)-DP with delta = 2*alpha^(B+1)/(1+alpha) ~ 3e-15 —
    negligible but stated. The per-cohort hash64 seed makes the release
    REPRODUCIBLE for the oracle gate; a production release replaces the
    'dp' seed string with a fresh secret nonce per release (same plan,
    one literal). Cohort KEYS are released as observed, which is safe
    here because url/method domains are public by construction; for
    private key domains the release would need a stability-based key
    filter (noisy_n above a threshold) — documented, not needed for
    this schema.

    Scale shape: one groupBy over the release key (map-side combined,
    bounded by the key domain), then {2 * _DP_B} integer comparisons
    per COHORT (not per row) against Python-computed CDF boundaries
    inlined as literals — pure codegen, no Python at runtime, no
    second shuffle. At 100 TB the cost is the one counting aggregate
    every release already pays; the mechanism is free."""
    from http_log_anonymizer_spark.functions.text import hash64

    log = http_log_view(spark, sf_dir).select("url", "method")
    counts = log.groupBy("url", "method").agg(F.count("*").alias("n"))
    u = hash64(F.concat_ws("|", F.col("url"), F.col("method")), "dp")
    noisy = F.greatest(
        F.lit(0).cast("long"), (F.col("n") + dp_noise_col(u)).cast("long")
    )
    return counts.select(
        "url",
        "method",
        noisy.alias("noisy_n"),
        F.lit(float(_DP_EPS)).alias("epsilon"),
    ).orderBy("url", "method")


# ---------------------------------------------------------------------------
# Capacity planning (reference requirement README.md:64-66: "Provide an
# estimate of disk space required given (1) average incoming message
# rate (2) retention of the aggregated data").
# ---------------------------------------------------------------------------

# Compressed-to-logical permille of the stored http_log row, measured
# on the SORT_KEY-ordered columnar layout (the MergeTree analog: sort
# by (resource_id, response_status, remote_addr, timestamp) puts long
# runs under RLE/dictionary exactly like ClickHouse's ORDER BY does).
# Measured via parquet footers on this corpus family: 360‰ at 10k
# rows, 304‰ at 100k, then 10‰ at 10M (sf10) and 6‰ at 100M (sf100) —
# the r10 at-scale measurement (SCALE.md). The collapse at scale is a
# CLOSED-DOMAIN property, not dictionary amortization alone: this
# view's value domains are fixed (50 urls, ~25.6k anonymized
# addresses, 3 methods), so per-row information content decays toward
# zero as n grows and sorting makes runs arbitrarily long; a real log
# corpus has growing domains and lands in the 100-300‰ band typical
# of production ClickHouse tables. 300‰ therefore stays pinned as the
# CONSERVATIVE planning envelope (capacity planning must not
# under-provision on the back of a synthetic corpus's repetitiveness);
# tests/test_storage_estimate.py asserts the small-corpus band AND,
# when a big series is on disk, that the at-scale measurement stays
# on the conservative side of the pin.
_STORAGE_COMP_PERMILLE = 300
# Planning grid: the two knobs the reference names. Rates in msg/s,
# retention in days of the aggregated (anonymized, deduplicated) table.
_STORAGE_RATES = (1_000, 10_000, 100_000)
_STORAGE_RETENTION_DAYS = (30, 90, 365)
# Logical bytes of the fixed-width ClickHouse columns of one stored row
# (http_log.rs:91-111): DateTime 4 + UInt64*3 = 24 + UInt16 2 + two
# LowCardinality dictionary codes 1+1, plus one 1-byte varint length
# prefix for each of the two String columns 1+1 = 34; the strings' own
# octets are summed from data. (Was 36 through r09 — off by 2 from its
# own enumeration; ADVICE r09 caught the arithmetic. Plan + oracle +
# streaming monitor all share this constant, so the fix shifts every
# engine identically.)
_STORAGE_FIXED_BYTES = 34

_STORAGE_GRID_SQL = ", ".join(
    f"({r}, {d})" for r in _STORAGE_RATES for d in _STORAGE_RETENTION_DAYS
)


def storage_row_bytes() -> "F.Column":
    """Logical stored-row byte width as a Column over (remote_addr,
    url) rows — the map half shared by the batch report and the
    streaming storage monitor. The anonymizing regexp is idempotent
    (a trailing '0' replaces itself), so pre-anonymized streaming rows
    and raw batch rows price identically."""
    return (
        F.lit(_STORAGE_FIXED_BYTES)
        + F.octet_length(F.regexp_replace("remote_addr", "[0-9]+$", "0"))
        + F.octet_length("url")
    )


def storage_base(df: DataFrame) -> DataFrame:
    """One mergeable (logical_bytes, n_rows) summary row — addition-
    mergeable, so the streaming monitor folds it across batches."""
    return df.select(storage_row_bytes().alias("b")).agg(
        F.sum("b").cast("long").alias("logical_bytes"),
        F.count("*").alias("n_rows"),
    )


def storage_grid(spark: SparkSession, base: DataFrame) -> DataFrame:
    """The rate x retention planning grid over a (logical_bytes,
    n_rows) base row — the reduce half shared by
    storage_estimate_report and the streaming monitor's report()."""
    grid = spark.createDataFrame(
        [(r, d) for r in _STORAGE_RATES for d in _STORAGE_RETENTION_DAYS],
        "rate_per_s long, retention_days long",
    )
    disk = (
        f"cast(stored_rows as decimal(38,0)) * bytes_per_row_milli"
        f" * {_STORAGE_COMP_PERMILLE} div 1000000"
    )
    return (
        grid.crossJoin(F.broadcast(base))
        .select(
            "rate_per_s",
            "retention_days",
            F.expr("(retention_days + 29) div 30").alias("months_retained"),
            F.expr("rate_per_s * 86400 * retention_days").alias("stored_rows"),
            F.expr("(1000 * logical_bytes) div n_rows").alias(
                "bytes_per_row_milli"
            ),
        )
        .select(
            "*",
            F.expr(
                "cast(cast(stored_rows as decimal(38,0))"
                " * bytes_per_row_milli div 1000 as bigint)"
            ).alias("est_logical_bytes"),
            F.expr(f"cast({disk} as bigint)").alias("est_disk_bytes"),
            F.expr(f"cast({disk} div 1048576 as bigint)").alias("est_disk_mib"),
        )
        .orderBy("rate_per_s", "retention_days")
    )


@register(
    "storage_estimate_report",
    oracle=f"""
WITH {HTTP_LOG_SQL.strip()},
base AS (
  SELECT CAST(sum({_STORAGE_FIXED_BYTES}
               + strlen(regexp_replace(remote_addr, '[0-9]+$', '0'))
               + strlen(url)) AS BIGINT) AS logical_bytes,
         count(*) AS n_rows
  FROM http_log
),
grid (rate_per_s, retention_days) AS (VALUES {_STORAGE_GRID_SQL}),
est AS (
  SELECT CAST(rate_per_s AS BIGINT) AS rate_per_s,
         CAST(retention_days AS BIGINT) AS retention_days,
         CAST((retention_days + 29) // 30 AS BIGINT) AS months_retained,
         CAST(rate_per_s AS BIGINT) * 86400 * retention_days AS stored_rows,
         (1000 * logical_bytes) // n_rows AS bytes_per_row_milli
  FROM grid CROSS JOIN base
)
SELECT rate_per_s, retention_days, months_retained, stored_rows,
       bytes_per_row_milli,
       CAST(CAST(stored_rows AS HUGEINT) * bytes_per_row_milli
            // 1000 AS BIGINT) AS est_logical_bytes,
       CAST(CAST(stored_rows AS HUGEINT) * bytes_per_row_milli
            * {_STORAGE_COMP_PERMILLE} // 1000000 AS BIGINT) AS est_disk_bytes,
       CAST(CAST(stored_rows AS HUGEINT) * bytes_per_row_milli
            * {_STORAGE_COMP_PERMILLE} // 1000000 // 1048576 AS BIGINT)
         AS est_disk_mib
FROM est
ORDER BY rate_per_s, retention_days
""",
)
def storage_estimate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disk-space estimate for the stored (anonymized) http_log table —
    the reference's own capacity-planning requirement (README.md:64-66:
    estimate disk given (1) average incoming message rate and (2)
    retention), answered as a rate x retention planning grid.

    Model: bytes/row is measured from the DATA (the fixed-width
    ClickHouse column widths of http_log.rs:91-111 plus the observed
    octet lengths of the two String columns, remote_addr taken
    POST-anonymization since that is what's stored), carried at
    milli-byte precision as an exact integer; on-disk bytes apply the
    {_STORAGE_COMP_PERMILLE}‰ compression factor measured on the
    SORT_KEY-ordered columnar layout (the MergeTree ORDER BY analog —
    see SCALE.md; the pinning test re-measures it). stored_rows =
    rate x 86400 x retention_days assumes the rate is the unique-
    message rate (ReplacingMergeTree collapses at-least-once
    replays). Products run in DECIMAL(38,0)/HUGEINT (rate 1e5 x 365 d
    x ~50 B/row overflows BIGINT), divisions are floor-exact in both
    engines, and no float exists anywhere in the table.

    Scale shape: ONE aggregate over the corpus (map-side combined to a
    single 2-number row) broadcast onto a 9-row literal grid — the
    measurement cost is a single scan no matter the corpus size, and
    the per-SF bytes/row it reports is the number SCALE.md's
    bytes-per-row discipline tracks."""
    return storage_grid(spark, storage_base(http_log_view(spark, sf_dir)))


def observed_base(df: DataFrame) -> DataFrame:
    """One mergeable (logical_bytes, n_rows, min_us, max_us) summary row
    over (timestamp, remote_addr, url, ...) rows — the map half shared
    by capacity_observed_report and the streaming storage monitor
    (streaming/storage.py uses it per micro-batch; min/max/sum are
    addition/min/max-mergeable so the fold is batch-boundary
    invariant)."""
    return df.select(
        storage_row_bytes().alias("b"),
        F.unix_micros(F.col("timestamp")).alias("us"),
    ).agg(
        F.sum("b").cast("long").alias("logical_bytes"),
        F.count("*").alias("n_rows"),
        F.min("us").alias("min_us"),
        F.max("us").alias("max_us"),
    )


# The observed-rate projection chain, kept textually identical between
# the batch report below and StreamingStorageMonitor.observed(): rate
# in milli-rows/s is exact integer division over the event-time span
# and MUST be re-widened to DECIMAL(38,0) before the product (Spark's
# ``div`` returns BIGINT; the all-bigint chain wraps at ~20 rows/s x
# 365 d x 50 B rows — the ADVICE r09 overflow this query exists to
# keep driver-hash-checked).
_OBSERVED_RATE = "(cast(n_rows as decimal(38,0)) * 1000000000) div (max_us - min_us)"
_OBSERVED_DISK = (
    f"(cast(({_OBSERVED_RATE}) as decimal(38,0)) * 86400 * retention_days"
    f" * ((1000 * logical_bytes) div n_rows)"
    f" * {_STORAGE_COMP_PERMILLE}) div 1000000000"
)
_OBSERVED_ROWS = (
    f"(cast(({_OBSERVED_RATE}) as decimal(38,0)) * 86400 * retention_days)"
    f" div 1000"
)


@register(
    "capacity_observed_report",
    oracle=f"""
WITH {HTTP_LOG_SQL.strip()},
base AS (
  SELECT CAST(sum({_STORAGE_FIXED_BYTES}
               + strlen(regexp_replace(remote_addr, '[0-9]+$', '0'))
               + strlen(url)) AS BIGINT) AS logical_bytes,
         count(*) AS n_rows,
         min(epoch_us(timestamp)) AS min_us,
         max(epoch_us(timestamp)) AS max_us
  FROM http_log
),
grid (retention_days) AS (VALUES {", ".join(f"({d})" for d in _STORAGE_RETENTION_DAYS)}),
est AS (
  SELECT CAST(retention_days AS BIGINT) AS retention_days,
         n_rows,
         (1000 * logical_bytes) // n_rows AS bytes_per_row_milli,
         CASE WHEN max_us > min_us THEN CAST(
           (CAST(n_rows AS HUGEINT) * 1000000000) // (max_us - min_us)
           AS BIGINT) END AS observed_rate_milli_per_s,
         min_us, max_us, logical_bytes
  FROM grid CROSS JOIN base
)
SELECT retention_days, n_rows, bytes_per_row_milli, observed_rate_milli_per_s,
       CASE WHEN max_us > min_us THEN CAST(
         (CAST(observed_rate_milli_per_s AS HUGEINT) * 86400 * retention_days)
         // 1000 AS BIGINT) END AS projected_rows,
       CASE WHEN max_us > min_us THEN CAST(
         (CAST(observed_rate_milli_per_s AS HUGEINT) * 86400 * retention_days
          * bytes_per_row_milli * {_STORAGE_COMP_PERMILLE})
         // 1000000000 AS BIGINT) END AS projected_disk_bytes
FROM est
ORDER BY retention_days
""",
)
def capacity_observed_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capacity projection at the OBSERVED ingest rate — the batch twin
    of StreamingStorageMonitor.observed() (streaming/storage.py) and
    the second half of the reference's capacity requirement
    (README.md:64-66): where storage_estimate_report prices a
    hypothetical rate x retention grid, this measures the corpus's OWN
    rate (exact integer milli-rows/s over the event-time span) and
    bytes/row, then projects stored rows and on-disk bytes for each
    retention tier.

    Every number is an exact integer: the rate is floor-exact integer
    division, and the projection products run in DECIMAL(38,0)/HUGEINT
    end to end — the all-bigint chain provably wraps at ~20 rows/s x
    365 d x 50 B rows (ADVICE r09 found exactly that overflow in the
    streaming monitor), so this query keeps the widened arithmetic
    under a driver hash-check against DuckDB's HUGEINT replay. The
    single-instant edge (max_us == min_us) yields NULL rate/projection
    rows rather than a division error, mirrored in both engines.

    Scale shape: ONE corpus scan map-side-combined to a 4-number row
    (shared with the streaming monitor via observed_base), broadcast
    onto a 3-row literal retention grid — measurement cost is a single
    scan no matter the corpus size."""
    base = observed_base(http_log_view(spark, sf_dir))
    grid = spark.createDataFrame(
        [(d,) for d in _STORAGE_RETENTION_DAYS], "retention_days long"
    )
    return (
        grid.crossJoin(F.broadcast(base))
        .select(
            "retention_days",
            "n_rows",
            F.expr("(1000 * logical_bytes) div n_rows").alias(
                "bytes_per_row_milli"
            ),
            F.expr(
                f"case when max_us > min_us then cast({_OBSERVED_RATE} as bigint) end"
            ).alias("observed_rate_milli_per_s"),
            F.expr(
                f"case when max_us > min_us then cast({_OBSERVED_ROWS} as bigint) end"
            ).alias("projected_rows"),
            F.expr(
                f"case when max_us > min_us then cast({_OBSERVED_DISK} as bigint) end"
            ).alias("projected_disk_bytes"),
        )
        .orderBy("retention_days")
    )
